package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's testdata tables (see TESTDATA.md / FIXTURES.md).
  *
  * Tables are plain parquet files `<dir>/<name>.parquet`. At cluster scale the
  * same loader works over a partitioned directory or object-store prefix —
  * Spark's FileSourceScan handles both; filters and projections declared on the
  * returned DataFrame are pushed down into the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped in two physical flavors across driver testdata
    * generations: TIMESTAMP(NANOS) (read as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, then floor-truncated to
    * micros here) and plain micros TIMESTAMP (current — arrives as
    * TimestampType under the session's UTC zone with
    * `inferTimestampNTZ.enabled=false`, or TIMESTAMP_NTZ without it). The
    * loader branches on the ACTUAL column type so every flavor lands as
    * microsecond TimestampType — the reference's semantics and DuckDB's
    * read of the same file. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    // MEMOIZED per (session, dir, table) (r16, guide §6 "file listing"):
    // `spark.read.parquet` re-lists the path and re-infers the schema on
    // EVERY call, and parquet footer inference launches a (small) Spark
    // job — a fixed tax paid 2-5× per query invocation across the whole
    // suite. The memo reuses the LAZY plan only: every action still scans
    // the parquet from disk (nothing is persisted or cached — this is
    // metadata reuse, the same class as Spark's own
    // filesourcePartitionFileCacheSize listing cache). Testdata tables
    // are immutable fixture inputs; keying by the session OBJECT (r17 —
    // reference equality, not identityHashCode, which can collide across
    // live sessions) keeps temp-view registration and session configs
    // correct across suites.
    cache.computeIfAbsent((spark, s"$dir|$name"),
      _ => load(spark, dir, name))

  /** Memoized LAZY parquet read of an index/sidecar directory (r17 —
    * the [[apply]] memo's class applied to the text/vector index
    * sidecars: every `spark.read.parquet` of a posts/stats/cents/codes
    * dir paid a footer schema-inference job PER QUERY INVOCATION). The
    * entry carries the directory's [[contentToken]], so an in-place
    * rewrite of a sidecar re-reads instead of serving a stale plan, and
    * REPLACES the superseded entry (one entry per (session, path)). Lazy
    * plan only — every action still scans the files. */
  def sidecar(spark: SparkSession, path: String): DataFrame = {
    val token = contentToken(path).getOrElse("")
    sidecars.compute((spark, path), (_, old) =>
      if (old != null && old._1 == token) old
      else (token, spark.read.parquet(path)))._2
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private val sidecars = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, DataFrame)]()

  /** Drops every [[sidecar]] entry under `dir` — an index directory a
    * REFRESH just superseded — so the memo holds the live indexes, not
    * every index the JVM ever refreshed. */
  def forgetSidecars(dir: String): Unit = {
    val prefix = java.nio.file.Paths.get(dir).toString + "/"
    sidecars.keySet.removeIf(_._2.startsWith(prefix))
  }

  private[graft] def sidecarMemoSize: Int = sidecars.size

  /** The content token of files or directory trees: a 128-bit digest of
    * every file's (path, length, mtime), walking directories in name
    * order. It is driver-side listing only (no Spark job), so memos key
    * on it to re-read or re-stage when data is rewritten in place. The
    * contract is (path, length, mtime), not bytes: on a filesystem with
    * coarse mtime granularity a same-length rewrite within one tick
    * tokens identically. None when any path does not exist or cannot be
    * listed (a remote URI, a vanished dir) — each caller chooses its own
    * fallback. */
  def contentToken(paths: String*): Option[String] = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.BasicFileAttributes
    val md = java.security.MessageDigest.getInstance("MD5")
    def visit(p: java.nio.file.Path): Boolean =
      scala.util.Try(Files.readAttributes(p, classOf[BasicFileAttributes]))
        .toOption.exists { a =>
          if (a.isDirectory)
            Option(p.toFile.list()).exists(_.sorted.forall(k => visit(p.resolve(k))))
          else {
            md.update(s"$p:${a.size}:${a.lastModifiedTime.toMillis}\n"
              .getBytes("UTF-8"))
            true
          }
        }
    if (paths.forall(p => visit(Paths.get(p))))
      Some(md.digest().map("%02x".format(_)).mkString)
    else None
  }

  /** Row count of a testdata table from PARQUET FOOTER METADATA — no
    * Spark job (r17, guide §6; VERDICT r16 #5: the clustering/graph
    * queries each paid a full `df.count()` action per invocation just to
    * size k / the IVF list count — at 100 TB that is a table scan to
    * compute one scalar the footers already hold). Exact by the parquet
    * spec (every footer records its file's row count). Memoized per
    * (path, [[contentToken]]). */
  def rowCount(dir: String, name: String): Long = {
    val root = new java.io.File(s"$dir/$name.parquet")
    val token = contentToken(root.getPath).getOrElse("")
    countCache.computeIfAbsent(s"${root.getPath}|$token", _ => {
      val files =
        if (root.isDirectory)
          root.listFiles().filter(f => f.getName.endsWith(".parquet")).toSeq
        else Seq(root)
      val conf = new org.apache.hadoop.conf.Configuration()
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })
  }

  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", nanosToMicrosFloor("ts"))
        case TimestampNTZType =>
          // value-preserving under the engine's UTC session zone
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The ns→µs FLOOR conversion described above, shared by the batch loader
    * and [[graft.stream.Streaming.readEvents]] so batch ≡ stream holds for
    * pre-epoch timestamps too (plain `div` rounds toward zero). */
  def nanosToMicrosFloor(colName: String): Column =
    timestamp_micros(expr(s"($colName - pmod($colName, 1000)) div 1000"))

  /** Register a subset of testdata tables as temp views so `spark.sql`
    * queries (CTE / SQL-surface operators) can address them by bare name,
    * matching the DuckDB oracle's table names. Register only what the query
    * reads — at scale, schema inference of unrelated multi-TB prefixes is
    * pure waste. */
  def register(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Register every testdata table (harness/diagnostic use only). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names: _*)
}
