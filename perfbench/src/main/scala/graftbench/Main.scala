package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Sessions

/** Benchmark entry point; `perfbench/run.py` builds the harness and starts it.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --home DIR --cores C [--scale small|tiny]
  *     [--record] [--corrupt KEY]
  *
  * Set-up is session start, the workload's staging (input generation,
  * fixtures, index builds) and one cold pass; `setup_s` is JVM start to
  * the first timed pass. The timed loop then runs a fixed number of warm
  * passes, about `--seconds` long. With `--trace 1` passes alternate
  * between traced and untraced, and the per-layer metrics come from the
  * traced ones. The last stdout line is the result object. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.contains("list")) { listModules(args("list")); return }
    if (args.contains("gen")) { // the inputs alone, e.g. for scripts/check_oracle.py
      val spark = Sessions.local(args.getOrElse("cores", "4"), appName = "perfbench-gen")
      Gen.write(spark, args("gen"), Gen.scales(args.getOrElse("scale", "small")))
      spark.stop()
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val record = args.contains("record")
    val work = Paths.get(args("work")).toAbsolutePath
    val home = Paths.get(args("home")).toAbsolutePath
    val cores = args.getOrElse("cores", "4").toInt
    val scale = Gen.scales(args.getOrElse("scale", "small"))

    val spark = Sessions.local(cores.toString, appName = "perfbench", extraConfs = Map(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("spark-local").toString))
    Sessions.quietBoundedGlobalWindowWarnings()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val trace = new Trace(spark.sparkContext)
    val w = Workload(workload, seed, scale, home)
    val checker = new Checker(w.expected.map(f => home.resolve(s"expected/${scale.name}/$f.tsv")),
      record, args.get("corrupt"))
    val h = new Harness(spark, trace, checker, work)

    if (record) {
      // Stage once; run every operation with a checked digest twice, so an
      // unstable digest shows up before it is committed.
      w.stage(h, 0)
      w.recordAll(h); w.recordAll(h)
      checker.save()
      println(s"[perfbench] recorded ${h.attempted} operations, ${h.failed} unstable")
      finish(spark, h, Map.empty)
      return
    }

    val (stageS, _) = time(w.stage(h, 0))
    val (coldS, _) = time(w.pass(h, 0))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Timed loop: a fixed number of warm passes. A traced run alternates
    // traced (T) and untraced (U) passes in TUUT blocks, at least one, so
    // neither kind is always the earlier one.
    val sinceMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passTimes = mutable.Map(true -> mutable.ArrayBuffer.empty[Double],
      false -> mutable.ArrayBuffer.empty[Double])
    val ops = mutable.ArrayBuffer.empty[Op]
    val wanted = math.max(1, math.ceil(seconds / w.passSeconds - 1e-9).toInt)
    val passes = if (traced) 4 * ((wanted + 3) / 4) else wanted
    for (i <- 1 to passes) {
      val on = traced && i % 4 <= 1
      if (on) trace.start()
      val (s, passOps) = time(trace.span(Trace.PassLayer, i)(_ => w.pass(h, i)))
      trace.stop()
      passTimes(on) += s
      if (!traced || on) ops ++= passOps
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    trace.drain()
    val totals = trace.totals(sinceMs)

    val lat = ops.map(_.ms).sorted.toIndexedSeq
    ops.groupBy(_.key).map { case (k, os) => (median(os.map(_.ms).toSeq), k) }.toSeq
      .sortBy(-_._1).take(15).foreach { case (ms, k) =>
        System.err.println(f"[perfbench] slowest: $k $ms%.1f ms") }
    val summary = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (median(passTimes(traced).toSeq), "s"),
      "serve_p50_ms" -> (hdQuantile(lat, 0.5), "ms"),
      "serve_tail_ms" -> (pct(lat, w.tailPct), "ms"),
      "serve_qps" -> (ops.size / passTimes(traced).sum, "1/s"),
      "fail_ratio" -> (h.failed.toDouble / h.attempted, "ratio"),
      "heap_retained_mb" -> (retainedHeapMb(), "MB"),
      "write_amp" -> (if (totals.inputBytes > 0) totals.outputBytes.toDouble / totals.inputBytes
        else 0.0, "ratio"))
    val beyond = lat.count(_ > pct(lat, w.tailPct))
    println(f"[perfbench] $workload seed=$seed passes=$passes wall=$wallS%.2fs " +
      f"session=$sessionS%.2fs stage=$stageS%.2fs cold=$coldS%.2fs " +
      f"tail=p${w.tailPct}%.0f of ${lat.size} samples ($beyond beyond) " +
      summary.map { case (k, (v, u)) => f"$k=$v%.4f$u" }.mkString(" "))

    val metrics: Map[String, (Double, String)] =
      if (!traced) summary.filter(kv => EndToEnd.contains(kv._1)).toMap
      else {
        val units = passTimes(true).size
        val layers = trace.summary(AllLayers, units, cores)
          .map { case (k, v) => k -> (v, unitOf(k)) }
        trace.write(work.getParent.resolve(s"trace-$workload-seed$seed.jsonl"))
        layers ++ Map(
          "setup.construct_s" -> (stageS, "s"),
          "trace.overhead_frac" -> (median(passTimes(true).toSeq) /
            median(passTimes(false).toSeq) - 1, "ratio")
        ) ++ summary.filterNot(kv => EndToEnd.contains(kv._1))
      }
    finish(spark, h, metrics)
  }

  /** `--key value` pairs; a key followed by another key is a flag. */
  private def parse(argv: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var j = 0
    while (j < argv.length) {
      val k = argv(j).stripPrefix("--")
      if (j + 1 < argv.length && !argv(j + 1).startsWith("--")) { out(k) = argv(j + 1); j += 2 }
      else { out(k) = "1"; j += 1 }
    }
    out.toMap
  }

  /** Prints the declared queries of the `graft.queries` or `graft.llm`
    * modules, for refreshing a pinned list under `queries/`. */
  private def listModules(pkg: String): Unit = {
    val mods: Seq[graft.queries.QueryModule] = pkg match {
      case "queries" => Seq(graft.queries.Core, graft.queries.Joins, graft.queries.Aggs,
        graft.queries.SetsScalars, graft.queries.TimeSeries, graft.queries.Features,
        graft.queries.Graph, graft.queries.Analytics, graft.queries.TypedOps)
      case "llm" => Seq(graft.llm.Dedup, graft.llm.Text, graft.llm.Similarity,
        graft.llm.Clustering, graft.llm.Sampling, graft.llm.Corpus, graft.llm.Packing,
        graft.llm.Multimodal)
    }
    mods.flatMap(_.queries.keys).sorted.foreach(println)
  }

  /** Printed by an untraced run; every other summary metric (the tail,
    * `fail_ratio`, `write_amp`) is printed with the per-layer ones. */
  val EndToEnd = Seq("setup_s", "pass_s", "serve_p50_ms", "serve_qps", "heap_retained_mb")
  val AllLayers = Seq("etl", "sources.commit", "queries", "llm", "sources.vector",
    "sources.text", "plans.sql")

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_frac")) "ratio"
    else if (k.endsWith("rows_read_per_result")) "rows/row"
    else "count"

  private def finish(spark: org.apache.spark.sql.SparkSession, h: Harness,
      metrics: Map[String, (Double, String)]): Unit = {
    spark.stop()
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
      s""""failed": ${h.failed}, "metrics": $m}""")
    System.out.flush()
  }

  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile of sorted samples. */
  private def pct(s: IndexedSeq[Double], p: Double): Double =
    if (s.isEmpty) 0.0
    else {
      val x = p / 100 * (s.size - 1)
      val lo = x.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }

  /** Harrell-Davis estimate of the `p` quantile of sorted samples: a mean of
    * all of them, weighted by a beta density centred on rank `p * n`. A run
    * times only 6-9 operations of different kinds, and their plain median
    * jumps from one kind to the next whenever two of them swap order; this
    * estimate moves only as the samples themselves do. */
  private def hdQuantile(s: IndexedSeq[Double], p: Double): Double =
    if (s.isEmpty) 0.0
    else {
      val n = s.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val steps = 64 * n // midpoint rule over [0, 1]; sample i owns [i/n, (i+1)/n)
      val w = new Array[Double](n)
      for (k <- 0 until steps) {
        val x = (k + 0.5) / steps
        w((x * n).toInt) += math.pow(x, a - 1) * math.pow(1 - x, b - 1)
      }
      s.indices.map(i => s(i) * w(i)).sum / w.sum
    }

  /** Driver heap still in use after a full collection, in MB: the heap
    * pools' usage right after the collection, not after whatever other
    * threads allocate next. Spark's ContextCleaner frees unpersisted
    * broadcasts and shuffles only after a collection has cleared their
    * references, so this collects three times with a pause between and
    * keeps the smallest reading. */
  private def retainedHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
    }.min
  }
}
