package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Row-level CDF with pre/post images (ManifestTable.changes): appends
  * surface as inserts, deletes as delete pre-images (file-drop and
  * deletion-vector shapes alike), and copy-on-write rewrites as exact
  * update_preimage/update_postimage pairs — carried rows cancel. */
class ChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rootDir = {
    val d = Files.createTempDirectory("graft_cdf_").toString
    spark.conf.set("spark.sql.catalog.graftcdf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcdf.root", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcdf.q")
    d
  }

  private def changes(dir: java.nio.file.Path, from: Int, to: Int) =
    ManifestTable.changes(spark, dir, from, to)
      .select("id", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
      .toSet

  test("insert, update (COW), and delete commits yield exact images") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.t (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "t")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.t").append()
    val v1 = Manifest.snapshotVersions(dir).last
    (11L to 12L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.t").append()
    val v2 = Manifest.snapshotVersions(dir).last
    spark.sql("UPDATE graftcdf.q.t SET v = v + 100 WHERE id IN (3, 11)")
    val v3 = Manifest.snapshotVersions(dir).last
    spark.sql("DELETE FROM graftcdf.q.t WHERE id = 7")
    val v4 = Manifest.snapshotVersions(dir).last

    // append window: plain inserts
    assert(changes(dir, v1, v2) ==
      Set((11L, 11.0, "insert", v2), (12L, 12.0, "insert", v2)))
    // update window: ONLY the two changed rows, both images; the other
    // rows of the rewritten files cancelled
    assert(changes(dir, v2, v3) == Set(
      (3L, 3.0, "update_preimage", v3), (3L, 103.0, "update_postimage", v3),
      (11L, 11.0, "update_preimage", v3), (11L, 111.0, "update_postimage", v3)))
    // delete window: the removed row as a delete pre-image
    assert(changes(dir, v3, v4) == Set((7L, 7.0, "delete", v4)))
    // the whole window composes all three commit shapes
    val all = changes(dir, v1, v4)
    assert(all.count(_._3 == "insert") == 2)
    assert(all.count(_._3 == "update_preimage") == 2)
    assert(all.count(_._3 == "update_postimage") == 2)
    assert(all.count(_._3 == "delete") == 1)
    assert(all.size == 7)
  }

  test("changeFeed tables record exact CDC: mixed MERGE attributes " +
    "insert vs update") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.cf (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "cf")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.cf").append()
    val v1 = Manifest.snapshotVersions(dir).last
    // ONE commit mixing updates (id 3) and inserts (id 30) — the diff
    // fallback cannot attribute these; the recorded CDC must
    Seq((3L, 300.0), (30L, 30.0)).toDF("id", "v")
      .createOrReplaceTempView("cf_src")
    spark.sql(
      """MERGE INTO graftcdf.q.cf t USING cf_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val v2 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v1, v2) == Set(
      (3L, 3.0, "update_preimage", v2), (3L, 300.0, "update_postimage", v2),
      (30L, 30.0, "insert", v2)))
    // a MERGE delete clause records delete pre-images
    Seq((5L, 0.0)).toDF("id", "v").createOrReplaceTempView("cf_src2")
    spark.sql(
      """MERGE INTO graftcdf.q.cf t USING cf_src2 s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val v3 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v2, v3) == Set((5L, 5.0, "delete", v3)))
    // table state agrees with the recorded feed
    assert(spark.table("graftcdf.q.cf").count() == 10)
  }

  test("changeFeed CDC for UPDATE/DELETE matches the diff exactly; " +
    "appends stay derived") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.cf2 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "cf2")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.cf2").append()
    val v1 = Manifest.snapshotVersions(dir).last
    // the APPEND commit inherited no cdc claim: window (0, v1] = inserts
    assert(changes(dir, 0, v1).count(_._3 == "insert") == 10)
    spark.sql("UPDATE graftcdf.q.cf2 SET v = v * 2 WHERE id <= 2")
    val v2 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v1, v2) == Set(
      (1L, 1.0, "update_preimage", v2), (1L, 2.0, "update_postimage", v2),
      (2L, 2.0, "update_preimage", v2), (2L, 4.0, "update_postimage", v2)))
    spark.sql("DELETE FROM graftcdf.q.cf2 WHERE id = 9")
    val v3 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v2, v3) == Set((9L, 9.0, "delete", v3)))
    // a later append INHERITS the cdcDir prop and must NOT re-claim it
    (11L to 12L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.cf2").append()
    val v4 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v3, v4) ==
      Set((11L, 11.0, "insert", v4), (12L, 12.0, "insert", v4)))
  }

  test("VACUUM reaps orphan CDC dirs, keeps referenced ones") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.cf3 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "cf3")
    (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.cf3").append()
    spark.sql("DELETE FROM graftcdf.q.cf3 WHERE id = 2")
    val orphan = dir.resolve("_cdc_orphan")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk"), "x")
    val reaped = spark.sql(
      s"VACUUM MANIFEST '$dir' OLDER THAN 0 MINUTES").collect()
      .map(_.getString(0)).toSet
    assert(reaped.contains("_cdc_orphan"))
    assert(!Files.exists(orphan))
    // the referenced CDC dir survives and still replays
    val vs = Manifest.snapshotVersions(dir)
    assert(changes(dir, vs.init.last, vs.last) ==
      Set((2L, 2.0, "delete", vs.last)))
  }

  test("deletion-vector deletes surface as delete pre-images too") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.dv (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('delete.dv' = 'true')")
    val dir = Paths.get(rootDir, "q", "dv")
    (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.dv").append()
    val v1 = Manifest.snapshotVersions(dir).last
    spark.sql("DELETE FROM graftcdf.q.dv WHERE id IN (4, 9)")
    val v2 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v1, v2) ==
      Set((4L, 4.0, "delete", v2), (9L, 9.0, "delete", v2)))
  }

  /** Drain the STREAMING change feed of `dir` into a memory sink (fresh
    * checkpoint → full trail) and return (id, v, type, version) rows. */
  private def streamFeed(dir: java.nio.file.Path): Set[(Long, Double, String, Int)] = {
    val sink = s"cdfstream_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft.sources.GraftManifestSink")
      .option("path", dir.toString).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cdfstr_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table(sink)
      .select("id", "v", "_change_type", "_commit_version")
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3))).toSet
  }

  test("layout commits (OPTIMIZE / REORG PURGE) emit nothing and do not " +
    "wedge the streaming feed") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.lay (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true', 'delete.dv' = 'true')")
    val dir = Paths.get(rootDir, "q", "lay")
    // two small files → OPTIMIZE has something to compact
    (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.lay").append()
    (6L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.lay").append()
    spark.sql("DELETE FROM graftcdf.q.lay WHERE id = 3") // DV + recorded CDC
    val vDel = Manifest.snapshotVersions(dir).last
    spark.sql("REORG TABLE graftcdf.q.lay APPLY (PURGE)")
    val vReorg = Manifest.snapshotVersions(dir).last
    spark.sql("OPTIMIZE graftcdf.q.lay")
    val vOpt = Manifest.snapshotVersions(dir).last
    (11L to 12L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.lay").append()
    val vApp = Manifest.snapshotVersions(dir).last
    // batch: the layout commits contribute NOTHING (no exceptAll probes
    // needed — the dataChange stamp short-circuits them)
    assert(changes(dir, vDel, vReorg).isEmpty)
    assert(changes(dir, vReorg, vOpt).isEmpty)
    assert(changes(dir, vOpt, vApp) ==
      Set((11L, 11.0, "insert", vApp), (12L, 12.0, "insert", vApp)))
    // streaming: the full trail drains without the rewrite-without-CDC
    // refusal (this used to permanently wedge the stream after OPTIMIZE)
    val rows = streamFeed(dir)
    assert(rows.count(_._3 == "insert") == 12)
    assert(rows.filter(_._3 == "delete") == Set((3L, 3.0, "delete", vDel)))
    assert(!rows.exists(r => r._4 == vReorg || r._4 == vOpt),
      "layout commits must emit no change rows")
  }

  test("MERGE with NOT MATCHED BY SOURCE records commit-time CDC on " +
    "changeFeed tables (whole-table path)") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.nmbs (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "nmbs")
    (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.nmbs").append()
    val v1 = Manifest.snapshotVersions(dir).last
    // one commit: update id 2 (matched), insert id 20, delete every
    // unmatched target row with id > 4 (NMBS) — only recorded CDC can
    // attribute all three
    Seq((2L, 200.0), (20L, 20.0)).toDF("id", "v")
      .createOrReplaceTempView("nmbs_src")
    spark.sql(
      """MERGE INTO graftcdf.q.nmbs t USING nmbs_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |WHEN NOT MATCHED BY SOURCE AND t.id > 4 THEN DELETE""".stripMargin)
    val v2 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v1, v2) == Set(
      (2L, 2.0, "update_preimage", v2), (2L, 200.0, "update_postimage", v2),
      (20L, 20.0, "insert", v2),
      (5L, 5.0, "delete", v2), (6L, 6.0, "delete", v2)))
    // table state agrees: 1..4 (2 updated), plus 20
    assert(spark.table("graftcdf.q.nmbs").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 200.0), (3L, 3.0), (4L, 4.0), (20L, 20.0)))
  }

  test("a declared row key makes mixed-commit attribution exact without " +
    "recorded CDC — updates, inserts AND deletes in one commit") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.keyed (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('key' = 'id')")
    val dir = Paths.get(rootDir, "q", "keyed")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.keyed").append()
    val v1 = Manifest.snapshotVersions(dir).last
    // ONE commit mixing all three shapes via MERGE: update id 3, insert
    // id 30, delete id 7 — no change feed, only the key prop
    Seq((3L, 300.0, "U"), (30L, 30.0, "I"), (7L, 0.0, "D"))
      .toDF("id", "v", "op").createOrReplaceTempView("keyed_src")
    spark.sql(
      """MERGE INTO graftcdf.q.keyed t USING keyed_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val v2 = Manifest.snapshotVersions(dir).last
    assert(changes(dir, v1, v2) == Set(
      (3L, 3.0, "update_preimage", v2), (3L, 300.0, "update_postimage", v2),
      (30L, 30.0, "insert", v2),
      (7L, 7.0, "delete", v2)))
  }

  test("autoMerge schema evolution is deferred past clause validation — " +
    "a failing merge adds no columns") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.am (id BIGINT, v DOUBLE)")
    (1L to 3L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.am").append()
    Seq((1L, 9.0, 0.5)).toDF("id", "v", "score")
      .createOrReplaceTempView("am_src")
    spark.conf.set("spark.graft.schema.autoMerge", "true")
    try {
      intercept[IllegalArgumentException] {
        spark.sql(
          """MERGE INTO graftcdf.q.am t USING am_src s ON t.no_such_key = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(spark.table("graftcdf.q.am").columns.toSeq == Seq("id", "v"),
        "a merge failing validation must not commit its schema evolution")
    } finally spark.conf.set("spark.graft.schema.autoMerge", "false")
  }

  // --- the layout-commit stamp is predecessor-relative: it must NOT be
  // --- inherited across table-lineage boundaries (clone / restore / FF)

  test("CDF of a SHALLOW CLONE of an optimized table emits the clone's rows") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.st (id BIGINT, v DOUBLE)")
    val srcDir = Paths.get(rootDir, "q", "st")
    (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(3)
      .writeTo("graftcdf.q.st").append()
    // OPTIMIZE stamps the source's manifest as a layout commit
    spark.sql("OPTIMIZE graftcdf.q.st")
    assert(Manifest.read(srcDir).get.props.contains(Manifest.DataChangeStampProp))
    spark.sql("CREATE TABLE graftcdf.q.stc SHALLOW CLONE graftcdf.q.st")
    val cloneDir = Paths.get(rootDir, "q", "stc")
    // the clone must NOT inherit the stamp: its first commit vs the empty
    // predecessor is a genuine data change, so CDF from v0 sees every row
    assert(!Manifest.read(cloneDir).get.props.contains(Manifest.DataChangeStampProp))
    val v = Manifest.snapshotVersions(cloneDir).last
    assert(changes(cloneDir, 0, v).count(_._3 == "insert") == 6,
      "clone-of-optimized-table CDF from v0 must emit the rows as inserts")
  }

  test("RESTORE after OPTIMIZE is visible to the change feed") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.rs (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "rs")
    (1L to 6L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(3)
      .writeTo("graftcdf.q.rs").append()
    val preDelete = Manifest.snapshotVersions(dir).last
    spark.sql("DELETE FROM graftcdf.q.rs WHERE id = 4")
    spark.sql("OPTIMIZE graftcdf.q.rs") // fresh layout stamp at head
    val preRestore = Manifest.snapshotVersions(dir).last
    spark.sql(s"RESTORE TABLE graftcdf.q.rs TO VERSION AS OF $preDelete")
    val postRestore = Manifest.snapshotVersions(dir).last
    // the restore brings id=4 back: a data change — the stamp must carry
    // the pre-restore head's value so the diff branch runs, not the
    // layout-commit skip
    val cs = changes(dir, preRestore, postRestore)
    assert(cs.exists(c => c._1 == 4L && c._3 == "insert"),
      s"RESTORE across an OPTIMIZE must surface in CDF, got $cs")
  }

  test("FAST FORWARD of a branch that optimized is still a data change on main") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.ff (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "ff")
    (1L to 4L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(2)
      .writeTo("graftcdf.q.ff").append()
    spark.sql("OPTIMIZE graftcdf.q.ff") // main carries stamp S0
    val mainStamp = Manifest.read(dir).get.props(Manifest.DataChangeStampProp)
    val preFF = Manifest.snapshotVersions(dir).last
    spark.sql("ALTER TABLE graftcdf.q.ff CREATE BRANCH wip")
    Seq((10L, 10.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.`ff@wip`").append()
    // a branch-side OPTIMIZE must not leak its stamp into the publish
    spark.sql("OPTIMIZE graftcdf.q.`ff@wip`")
    spark.sql("ALTER TABLE graftcdf.q.ff FAST FORWARD BRANCH wip")
    val postFF = Manifest.snapshotVersions(dir).last
    assert(Manifest.read(dir).get.props(Manifest.DataChangeStampProp) == mainStamp,
      "the published manifest must carry MAIN's stamp, not the branch's")
    val cs = changes(dir, preFF, postFF)
    assert(cs.exists(c => c._1 == 10L && c._3 == "insert"),
      s"the fast-forwarded insert must surface in main's CDF, got $cs")
  }

  // --- the streaming epoch watermarks survive a republish: RESTORE and
  // --- FAST FORWARD keep the higher epoch per `lastEpoch.<queryId>` key

  /** Commit `props` on top of dir's current manifest (one snapshot). */
  private def commitProps(dir: java.nio.file.Path, props: (String, String)*): Unit = {
    val m = Manifest.read(dir).get
    Manifest.write(dir, m.copy(props = m.props ++ props))
  }

  test("RESTORE keeps each streaming query's epoch watermark") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.rw (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "rw")
    (1L to 3L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.rw").append()
    commitProps(dir, "lastEpoch.q" -> "0")
    val first = Manifest.snapshotVersions(dir).last
    commitProps(dir, "lastEpoch.q" -> "1")
    commitProps(dir, "lastEpoch.q" -> "2")
    spark.sql(s"RESTORE TABLE graftcdf.q.rw TO VERSION AS OF $first")
    assert(Manifest.read(dir).get.props.get("lastEpoch.q").contains("2"),
      "a restore must not lower a query's epoch watermark")
  }

  test("FAST FORWARD keeps main's epoch watermarks") {
    rootDir
    spark.sql("CREATE TABLE graftcdf.q.fw (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "fw")
    (1L to 3L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.fw").append()
    commitProps(dir, "lastEpoch.q" -> "5")
    spark.sql("ALTER TABLE graftcdf.q.fw CREATE BRANCH wip")
    Seq((10L, 10.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcdf.q.`fw@wip`").append()
    spark.sql("ALTER TABLE graftcdf.q.fw FAST FORWARD BRANCH wip")
    assert(Manifest.read(dir).get.props.get("lastEpoch.q").contains("5"),
      "publishing a branch must not drop main's epoch watermark")
    assert(spark.table("graftcdf.q.fw").count() == 4L)
  }
}
