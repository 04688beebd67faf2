package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus a listener that
  * attributes Spark jobs and task metrics to them.
  *
  * A traced span sets a job group and the `graftbench.span` local property
  * for its duration, so every job the engine issues from the calling thread
  * (or a thread it starts inside the span) carries the span id. Spans and
  * job records stay in memory and are summarized at the end of the run. The
  * listener itself is always registered: the untraced run reads whole-run
  * task totals from it, and it only counts. */
final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private var nextId = 0L

  private val traced = mutable.ArrayBuffer.empty[(Long, Long)]
  private var enabled = false
  private var since = 0L

  /** Records spans from now until [[stop]]; the traced run toggles this
    * per pass. Per-layer metrics cover only jobs started while recording. */
  def start(): Unit = { enabled = true; since = System.currentTimeMillis() }
  def stop(): Unit = if (enabled) {
    enabled = false
    traced += ((since, System.currentTimeMillis()))
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val j = Job(e.jobId, sp, e.time, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val m = e.taskMetrics
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  })

  /** Runs `body` inside a span of `layer` when tracing is enabled. */
  def span[T](layer: String, request: Long)(body: Span => T): T = {
    if (!enabled) return body(Span(-1, layer, -1, request, 0L))
    nextId += 1
    val sp = Span(nextId, layer, stack.headOption.map(_.id).getOrElse(-1L), request,
      System.currentTimeMillis())
    val saved = Seq(SpanProp, GroupProp, DescProp, InterruptProp).map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s"graftbench-${sp.id}", s"$layer#${sp.id}", interruptOnCancel = false)
    sc.setLocalProperty(SpanProp, sp.id.toString)
    stack.push(sp)
    val t0 = System.nanoTime()
    try body(sp)
    finally {
      sp.wallNs = System.nanoTime() - t0
      sp.endMs = System.currentTimeMillis()
      stack.pop()
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spans += sp
    }
  }

  /** Writes every recorded span, one JSON object per line, with the ids of
    * the jobs attributed to it. */
  def write(file: java.nio.file.Path): Unit = jobs.synchronized {
    val bySpan = jobs.values.groupBy(_.span)
    java.nio.file.Files.writeString(file, spans.map { s =>
      val js = bySpan.getOrElse(s.id, Nil).map(_.id).mkString("[", ",", "]")
      s"""{"id": ${s.id}, "layer": "${s.layer}", "parent": ${s.parent}, "request": ${s.request}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_ns": ${s.wallNs}, """ +
        s""""construct_ns": ${s.constructNs}, "plan_ns": ${s.planNs}, "exec_ns": ${s.execNs}, """ +
        s""""result_rows": ${s.resultRows}, "jobs": $js}""" + "\n"
    }.mkString)
  }

  /** Delivers pending listener events; call before [[summary]]. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)

  /** Task totals over jobs that started at or after `sinceMs`. */
  def totals(sinceMs: Long): Job = jobs.synchronized {
    val t = Job(-1, -1, 0, 0)
    jobs.values.filter(_.start >= sinceMs).foreach(t.add)
    t
  }

  /** Per-layer metrics over the recorded spans, each divided by `units`
    * (traced passes) except the ratios. */
  def summary(layers: Seq[String], units: Int, cores: Int): Map[String, Double] =
    jobs.synchronized {
      val window = jobs.values.filter(j => traced.exists { case (a, b) => j.start >= a && j.start <= b })
        .toSeq
      val merged = union(window.map(j => (j.start, j.end)))
      val bySpan = window.groupBy(_.span)
      val u = math.max(units, 1).toDouble
      val out = mutable.LinkedHashMap.empty[String, Double]
      layers.foreach { l =>
        val ss = spans.filter(_.layer == l).toSeq
        val js = ss.flatMap(s => bySpan.getOrElse(s.id, Nil))
        val t = Job(-1, -1, 0, 0); js.foreach(t.add)
        val inJobsMs = length(union(js.map(j => (j.start, j.end))))
        val outside = ss.map(s => (s.endMs - s.startMs) - length(clip(merged, s.startMs, s.endMs))).sum
        out ++= Seq(
          s"$l.wall_s" -> ss.map(_.wallNs).sum / 1e9 / u,
          s"$l.construct_s" -> ss.map(_.constructNs).sum / 1e9 / u,
          s"$l.plan_s" -> ss.map(_.planNs).sum / 1e9 / u,
          s"$l.exec_s" -> ss.map(_.execNs).sum / 1e9 / u,
          s"$l.outside_jobs_s" -> outside / 1e3 / u,
          s"$l.jobs" -> js.size / u,
          s"$l.tasks" -> t.tasks / u,
          s"$l.task_cpu_s" -> t.cpuNs / 1e9 / u,
          s"$l.task_gc_s" -> t.gcMs / 1e3 / u,
          s"$l.core_busy_frac" -> (if (inJobsMs > 0) t.runMs.toDouble / (inJobsMs * cores) else 0.0),
          s"$l.shuffle_write_bytes" -> t.shuffleWrite / u,
          s"$l.spill_bytes" -> t.spill / u,
          s"$l.input_bytes" -> t.inputBytes / u,
          s"$l.output_bytes" -> t.outputBytes / u,
          s"$l.failed_tasks" -> t.failedTasks / u)
        if (l == "sources.vector" || l == "sources.text") {
          val results = ss.map(_.resultRows).sum
          out(s"$l.rows_read_per_result") =
            if (results > 0) t.inputRecords.toDouble / results else 0.0
        }
      }
      // Self time of the pass spans: harness time between layer calls.
      val passes = spans.filter(_.layer == PassLayer)
      out("pass.self_s") = passes.map(p => p.wallNs -
        spans.filter(_.parent == p.id).map(_.wallNs).sum).sum / 1e9 / u
      // A job counts as covered only inside a layer span; one the pass span
      // caused outside every layer is background.
      val layerSpans = spans.iterator.filter(_.layer != PassLayer).map(_.id).toSet
      val background = window.filterNot(j => layerSpans(j.span))
      val jobMs = window.map(j => j.end - j.start).sum
      out("background.jobs") = background.size / u
      out("trace.job_coverage_frac") =
        if (jobMs > 0) 1.0 - background.map(j => j.end - j.start).sum.toDouble / jobMs else 1.0
      out.toMap
    }
}

object Trace {
  val SpanProp = "graftbench.span"
  /** The layer name of the span around one whole traced pass. */
  val PassLayer = "pass"
  private val GroupProp = "spark.jobGroup.id"
  private val DescProp = "spark.job.description"
  private val InterruptProp = "spark.job.interruptOnCancel"

  /** One call into an engine layer. Phase times are set by the caller. */
  final case class Span(id: Long, layer: String, parent: Long, request: Long, startMs: Long) {
    var endMs = 0L
    var wallNs, constructNs, planNs, execNs, resultRows = 0L
  }

  /** One Spark job and the task metrics of its stages. */
  final case class Job(id: Int, span: Long, start: Long, var end: Long) {
    var tasks, failedTasks, cpuNs, runMs, gcMs, shuffleWrite, spill = 0L
    var inputBytes, inputRecords, outputBytes = 0L
    def add(o: Job): Unit = {
      tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
      inputBytes += o.inputBytes; inputRecords += o.inputRecords; outputBytes += o.outputBytes
    }
  }

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)

  private def length(iv: Seq[(Long, Long)]): Long = iv.map(x => x._2 - x._1).sum
}
