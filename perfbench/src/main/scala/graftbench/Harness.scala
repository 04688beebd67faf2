package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed operation hands back for checking: a DataFrame to digest
  * (its planning and execution are timed as separate phases), or a digest
  * the operation computed itself. */
sealed trait Out
final case class Frame(df: DataFrame) extends Out
final case class Text(digest: String) extends Out

/** One timed operation: its digest key, latency and outcome. */
final case class Op(key: String, ms: Double, ok: Boolean)

/** Expected digests, keyed by operation, from one or more files. In record
  * mode (one file) every digest is accepted and collected for [[save]];
  * `corrupt` names a key whose expected digest is deliberately altered (the
  * self-test's check that a mismatch is counted as a failure). */
final class Checker(files: Seq[Path], record: Boolean, corrupt: Option[String]) {
  require(!record || files.size == 1, "recording writes one expected file")
  private val expected: Map[String, String] =
    if (record) Map.empty
    else files.filter(Files.exists(_)).flatMap(Files.readAllLines(_).asScala)
      .filter(_.contains('\t')).map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap
  private val seen = mutable.LinkedHashMap.empty[String, String]

  def apply(key: String, digest: String): Boolean = {
    val first = seen.getOrElseUpdate(key, digest)
    if (record) {
      if (first != digest) System.err.println(s"[perfbench] $key: unstable digest $first vs $digest")
      first == digest
    } else {
      val want = expected.get(key).map(w => if (corrupt.contains(key)) w + "x" else w)
      val ok = want.contains(digest)
      if (!ok) System.err.println(s"[perfbench] $key: digest $digest, expected ${want.getOrElse("none")}")
      ok
    }
  }

  def save(): Unit = {
    val file = files.head
    Files.createDirectories(file.getParent)
    Files.writeString(file, seen.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString)
  }
}

/** Runs operations: times construction, planning and the digest action,
  * wraps each in a trace span, and checks the digest. */
final class Harness(val spark: SparkSession, val trace: Trace, val checker: Checker,
    val work: Path) {
  var attempted = 0L
  var failed = 0L
  private var request = 0L

  def op(layer: String, key: String)(build: => Out): Op = {
    request += 1
    attempted += 1
    trace.span(layer, request) { sp =>
      val t0 = System.nanoTime()
      val (ok, t3) =
        try {
          val out = build
          val t1 = System.nanoTime()
          val (digest, t2) = out match {
            case Frame(df) =>
              df.queryExecution.executedPlan
              val t2 = System.nanoTime()
              val d = Digest.of(df)
              sp.resultRows = d.rows
              (d.toString, t2)
            case Text(d) => (d, t1)
          }
          val t3 = System.nanoTime()
          sp.constructNs = t1 - t0; sp.planNs = t2 - t1; sp.execNs = t3 - t2
          (checker(key, digest), t3)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $key FAILED: $e")
            (false, System.nanoTime())
        }
      if (!ok) failed += 1
      Op(key, (t3 - t0) / 1e6, ok)
    }
  }

  /** Runs one step of staging and reports its time on stderr. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] stage $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** A fresh directory under the run's work directory. */
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A benchmark workload. `stage` is the repeatable part of set-up (input
  * generation, fixture staging, index builds); `pass` is one unit of timed
  * work; `recordAll` runs every operation whose digest the expected file
  * must hold. */
trait Workload {
  /** Tail percentile reported as `serve_tail_ms`; the summary line gives
    * how many samples lie beyond it. */
  def tailPct: Double
  /** About how long one warm pass takes on 4 cores. The timed loop runs a
    * fixed number of passes, `ceil(seconds / passSeconds)`, rather than
    * stopping at a deadline, so jitter cannot change how many it times. */
  def passSeconds: Double
  /** The `expected/<scale>/<name>.tsv` files holding this workload's
    * digests; `--record` writes the only one. */
  def expected: Seq[String]
  def stage(h: Harness, rep: Int): Unit
  def pass(h: Harness, i: Int): Seq[Op]
  def recordAll(h: Harness): Unit = { pass(h, 0); () }
}

object Workload {
  def apply(name: String, seed: Long, scale: Gen.Scale, home: Path): Workload = name match {
    case "medallion" => new Medallion(seed, scale)
    case "star_analytics" =>
      new QuerySweep(Seq(QuerySweep.Part(name, "queries")), seed, scale, home, 54.0)
    case "corpus_batch" =>
      new QuerySweep(Seq(QuerySweep.Part(name, "llm")), seed, scale, home, 51.0)
    case "query_sample" => new QuerySweep(Seq(QuerySweep.Part("star_analytics", "queries", 4),
      QuerySweep.Part("corpus_batch", "llm", 3)), seed, scale, home, 6.0)
    case "index_serve" => new IndexServe(seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Writes the generated tables under a fresh directory; returns it. */
  def tables(h: Harness, rep: Int, scale: Gen.Scale): String = {
    val d = h.dir(s"data$rep").toString
    Gen.write(h.spark, d, scale)
    d
  }
}
