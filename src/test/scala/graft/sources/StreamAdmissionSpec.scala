package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Streaming admission control on manifest sources: `maxFilesPerTrigger`
  * / `maxRowsPerTrigger` bound each micro-batch (whole commits — a
  * transaction never splits), and `startingVersion` starts a fresh
  * checkpoint mid-trail instead of replaying all history. The backfill
  * contract at 100 TB: a new consumer of a million-file table drains in
  * bounded batches, not one giant plan. */
class StreamAdmissionSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rootDir = {
    val d = Files.createTempDirectory("graft_adm_").toString
    spark.conf.set("spark.sql.catalog.graftadm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftadm.root", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftadm.q")
    d
  }

  /** Drain dir's stream with AvailableNow and the given options; returns
    * (rows, number of non-empty micro-batches). */
  private def drain(dir: String, opts: Map[String, String],
      cdf: Boolean = false): (Long, Int) = {
    val sink = s"adm_${java.util.UUID.randomUUID().toString.take(8)}"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    var reader = spark.readStream.format("graft.sources.GraftManifestSink")
      .option("path", dir)
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    if (cdf) reader = reader.option("changeFeed", "true")
    val q = reader.load().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batches.incrementAndGet()
        df.sparkSession.sql(
          s"SELECT $n") // materialize; rows tracked via table below
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("graft_adm_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = q.recentProgress.map(p => p.numInputRows).sum
    (rows, batches.get())
  }

  test("maxFilesPerTrigger bounds each micro-batch to whole commits") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.t (id BIGINT)")
    val dir = Paths.get(rootDir, "q", "t").toString
    // 6 commits, one file each
    (1 to 6).foreach { c =>
      Seq.tabulate(5)(i => c * 100L + i).toDF("id").coalesce(1)
        .writeTo("graftadm.q.t").append()
    }
    val (rowsAll, batchesAll) = drain(dir, Map.empty)
    assert(rowsAll == 30)
    assert(batchesAll == 1, s"unlimited drain should be one batch, got $batchesAll")
    val (rows2, batches2) = drain(dir, Map("maxFilesPerTrigger" -> "2"))
    assert(rows2 == 30, "admission must not lose rows")
    assert(batches2 == 3, s"6 one-file commits / 2 per trigger = 3 batches, got $batches2")
    // an oversized single commit still progresses (budget 1 < files 2)
    spark.sql("DROP TABLE IF EXISTS graftadm.q.big")
    spark.sql("CREATE TABLE graftadm.q.big (id BIGINT)")
    (1L to 20L).toDF("id").repartition(2).writeTo("graftadm.q.big").append()
    val (rowsBig, batchesBig) =
      drain(Paths.get(rootDir, "q", "big").toString, Map("maxFilesPerTrigger" -> "1"))
    assert(rowsBig == 20 && batchesBig == 1)
  }

  test("maxRowsPerTrigger bounds by manifest row counts") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.r (id BIGINT)")
    val dir = Paths.get(rootDir, "q", "r").toString
    (1 to 4).foreach { c =>
      Seq.tabulate(10)(i => c * 100L + i).toDF("id").coalesce(1)
        .writeTo("graftadm.q.r").append()
    }
    val (rows, batches) = drain(dir, Map("maxRowsPerTrigger" -> "20"))
    assert(rows == 40)
    assert(batches == 2, s"4x10 rows at 20/trigger = 2 batches, got $batches")
    // the change-feed stream admits by the same rule
    val (cdfRows, cdfBatches) = drain(dir, Map("maxRowsPerTrigger" -> "20"), cdf = true)
    assert(cdfRows == 40)
    assert(cdfBatches == 2, s"change feed: 2 batches, got $cdfBatches")
  }

  test("layout commits deliver nothing to the data stream — no duplicate " +
    "rows after OPTIMIZE") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.oc (id BIGINT)")
    val dir = Paths.get(rootDir, "q", "oc").toString
    (1 to 3).foreach { c =>
      Seq.tabulate(5)(i => c * 100L + i).toDF("id").coalesce(1)
        .writeTo("graftadm.q.oc").append()
    }
    // persistent checkpoint: drain into a manifest sink (memory sinks
    // refuse checkpoint recovery), compact, append, drain again
    val outDir = Files.createTempDirectory("graft_adm_oc_out_").toString
    val ckpt = Files.createTempDirectory("graft_adm_oc_").toString
    def drainTo(): Long = {
      val q = spark.readStream.format("graft.sources.GraftManifestSink")
        .option("path", dir).load()
        .writeStream.format("graft.sources.GraftManifestSink")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", outDir).load().count()
    }
    assert(drainTo() == 15)
    spark.sql("OPTIMIZE graftadm.q.oc") // 3 files -> 1, pure layout
    Seq(999L).toDF("id").coalesce(1).writeTo("graftadm.q.oc").append()
    assert(drainTo() == 16,
      "the resumed drain must deliver ONLY the new append — compacted " +
        "outputs carry rows the consumer already has")
    // a FRESH checkpoint over the whole trail (append+optimize+append)
    // also delivers each row exactly once
    val sink2 = s"adm_oc2_${java.util.UUID.randomUUID().toString.take(8)}"
    val q2 = spark.readStream.format("graft.sources.GraftManifestSink")
      .option("path", dir).load()
      .writeStream.format("memory").queryName(sink2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_adm_oc2_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.table(sink2).count() == 16)
    assert(spark.table(sink2).select("id").distinct().count() == 16)
  }

  test("DML commits refuse by default; skipChangeCommits and " +
    "ignoreChanges opt out explicitly") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.dml (id BIGINT)")
    val dir = Paths.get(rootDir, "q", "dml").toString
    (1L to 10L).toDF("id").coalesce(1).writeTo("graftadm.q.dml").append()
    spark.sql("DELETE FROM graftadm.q.dml WHERE id IN (3, 7)")
    (11L to 12L).toDF("id").coalesce(1).writeTo("graftadm.q.dml").append()
    // default: the rewrite commit fails the stream loudly
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft.sources.GraftManifestSink")
        .option("path", dir).load()
        .writeStream.format("memory")
        .queryName(s"dml_${java.util.UUID.randomUUID().toString.take(8)}")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_adm_dml_").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    def msg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("skipChangeCommits")) || msg(t.getCause))
    assert(msg(e), s"expected the skipChangeCommits guidance, got $e")
    // skipChangeCommits: the DELETE commit skips whole; appends deliver
    val (skipRows, _) = drain(dir, Map("skipChangeCommits" -> "true"))
    assert(skipRows == 12, s"10 initial + 2 appended, got $skipRows")
    // ignoreChanges: the rewrite's files deliver (carried rows and all)
    val (ignRows, _) = drain(dir, Map("ignoreChanges" -> "true"))
    assert(ignRows == 20, s"10 initial + 8 surviving + 2 appended, got $ignRows")
  }

  test("startingVersion skips history for data and CDF streams") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.sv (id BIGINT) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "sv")
    (1 to 3).foreach { c =>
      Seq.tabulate(4)(i => c * 10L + i).toDF("id").coalesce(1)
        .writeTo("graftadm.q.sv").append()
    }
    val versions = Manifest.snapshotVersions(dir)
    val lastV = versions.last
    // only the LAST commit's rows arrive
    val (rows, _) = drain(dir.toString, Map("startingVersion" -> lastV.toString))
    assert(rows == 4, s"startingVersion must deliver only v$lastV's rows, got $rows")
    val (cdfRows, _) = drain(dir.toString,
      Map("startingVersion" -> lastV.toString), cdf = true)
    assert(cdfRows == 4)
    // startingTimestamp: everything already committed is BEFORE a future
    // instant (nothing delivers); a pre-creation instant delivers all
    val (futRows, _) = drain(dir.toString,
      Map("startingTimestamp" -> "2099-01-01 00:00:00"))
    assert(futRows == 0, s"a future start must deliver nothing, got $futRows")
    val (pastRows, _) = drain(dir.toString,
      Map("startingTimestamp" -> "1999-01-01 00:00:00"))
    assert(pastRows == 12, s"a pre-creation start must deliver all, got $pastRows")
  }

  test("a layout commit is charged nothing: no empty micro-batch for OPTIMIZE") {
    rootDir
    spark.sql("CREATE TABLE graftadm.q.lc (id BIGINT)")
    val dir = Paths.get(rootDir, "q", "lc").toString
    (1 to 2).foreach { c =>
      Seq.tabulate(5)(i => c * 100L + i).toDF("id").coalesce(1)
        .writeTo("graftadm.q.lc").append()
    }
    spark.sql("OPTIMIZE graftadm.q.lc") // 2 files -> 1, pure layout
    Seq(999L).toDF("id").coalesce(1).writeTo("graftadm.q.lc").append()
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft.sources.GraftManifestSink")
      .option("path", dir).option("maxFilesPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()); ()
      }
      .option("checkpointLocation", Files.createTempDirectory("graft_adm_lc_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    import scala.jdk.CollectionConverters._
    assert(sizes.asScala.toSeq == Seq(5L, 5L, 1L),
      s"one file per micro-batch, none empty, got ${sizes.asScala.toSeq}")
  }
}
