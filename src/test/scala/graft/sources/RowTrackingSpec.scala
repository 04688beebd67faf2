package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Row tracking (`TBLPROPERTIES('rowTracking'='true')`): the `_row_id`
  * metadata column is a STABLE logical id (`file base + _pos`) — unique
  * across commits, stable across reads, surviving DV DELETEs and DV
  * UPDATE of untouched rows; layout rewrites refuse. */
class RowTrackingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rootDir = {
    val d = Files.createTempDirectory("graft_rt_").toString
    spark.conf.set("spark.sql.catalog.graftrt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrt.root", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftrt.q")
    d
  }

  test("ids are unique across commits, stable across reads, and survive DV deletes") {
    rootDir
    spark.sql("CREATE TABLE graftrt.q.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true', 'delete.dv' = 'true')")
    (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("graftrt.q.t").append()
    (6L to 9L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("graftrt.q.t").append()
    def byId(): Map[Long, Long] = spark.sql(
      "SELECT id, _row_id FROM graftrt.q.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = byId()
    assert(first.size == 9 && first.values.toSet.size == 9,
      s"ids must be unique: $first")
    assert(byId() == first, "ids must be stable across reads")
    // a DV delete never moves a surviving row: every survivor keeps its id
    spark.sql("DELETE FROM graftrt.q.t WHERE id IN (2, 7)")
    val after = byId()
    assert(after.keySet == first.keySet -- Set(2L, 7L))
    assert(after.forall { case (k, rid) => first(k) == rid },
      s"survivors must keep their exact ids: $first vs $after")
    // new appends extend, never reuse
    Seq((10L, "v10")).toDF("id", "v").writeTo("graftrt.q.t").append()
    val ext = byId()
    assert(ext(10L) > first.values.max, "fresh rows take ids past the hwm")
  }

  test("DV UPDATE: untouched rows keep ids; updated rows get fresh ones") {
    rootDir
    spark.sql("CREATE TABLE graftrt.q.u (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true', 'delete.dv' = 'true')")
    (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("graftrt.q.u").append()
    val before = spark.sql("SELECT id, _row_id FROM graftrt.q.u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("UPDATE graftrt.q.u SET v = 'X' WHERE id <= 2")
    val after = spark.sql("SELECT id, _row_id FROM graftrt.q.u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((3L to 6L).forall(k => after(k) == before(k)),
      "untouched rows keep their ids through a DV update")
    assert(Seq(1L, 2L).forall(k => after(k) > before.values.max),
      "updated rows re-land with fresh ids (the Iceberg rule)")
  }

  test("layout rewrites refuse; COW DML refuses; disabling tracking re-enables them") {
    rootDir
    spark.sql("CREATE TABLE graftrt.q.g (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('rowTracking' = 'true')")
    // one 3-row file (so a selective DML is PARTIAL-file) + two straggler
    // files (so OPTIMIZE would genuinely compact)
    (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("graftrt.q.g").append()
    (4 to 5).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .writeTo("graftrt.q.g").append()
    }
    def refused(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("rowTracking"), e.getMessage)
    }
    refused(spark.sql("OPTIMIZE graftrt.q.g"))
    // non-DV table: a partial-file DML would rewrite survivors
    refused(spark.sql("DELETE FROM graftrt.q.g WHERE id = 2"))
    refused(spark.sql("UPDATE graftrt.q.g SET v = 'x' WHERE id = 2"))
    // a FILE-ALIGNED delete is metadata-only (no row moves) — allowed
    spark.sql("DELETE FROM graftrt.q.g WHERE id = 4")
    assert(spark.table("graftrt.q.g").count() == 4)
    spark.sql("ALTER TABLE graftrt.q.g UNSET TBLPROPERTIES ('rowTracking')")
    spark.sql("OPTIMIZE graftrt.q.g")
    assert(spark.table("graftrt.q.g").count() == 4)
  }

  test("insert-only MERGE appends under tracking, with and without delete.dv") {
    rootDir
    Seq((7L, "v7"), (8L, "v8")).toDF("id", "v").createOrReplaceTempView("rt_ins_src")
    Seq("mi" -> "", "mv" -> ", 'delete.dv' = 'true'").foreach { case (name, dv) =>
      val t = s"graftrt.q.$name"
      spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) " +
        s"TBLPROPERTIES ('rowTracking' = 'true'$dv)")
      (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
        .writeTo(t).append()
      def ids(): Map[Long, Long] = spark.sql(s"SELECT id, _row_id FROM $t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = ids()
      // the source matches no target key: no file is rewritten, so the
      // copy-on-write refusal has nothing to protect
      spark.sql(s"MERGE INTO $t t USING rt_ins_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
      val after = ids()
      assert(after.keySet == Set(1L, 2L, 3L, 7L, 8L), s"$name: $after")
      assert(before.forall { case (k, rid) => after(k) == rid },
        s"$name: existing rows must keep their ids: $before vs $after")
      assert(after.values.toSet.size == 5, s"$name: ids must be unique: $after")
    }
  }

  test("enabling tracking on an existing table seals every entry in the DDL commit") {
    rootDir
    spark.sql("CREATE TABLE graftrt.q.e (id BIGINT)")
    (1 to 2).foreach { i =>
      Seq(i.toLong).toDF("id").coalesce(1).writeTo("graftrt.q.e").append()
    }
    spark.sql("ALTER TABLE graftrt.q.e SET TBLPROPERTIES ('rowTracking' = 'true')")
    val ids = spark.sql("SELECT id, _row_id FROM graftrt.q.e").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ids.size == 2 && ids.values.toSet.size == 2,
      s"pre-existing entries must be sealed by the enabling DDL: $ids")
    // bases survive VACUUM + further appends
    Seq(3L).toDF("id").writeTo("graftrt.q.e").append()
    val ids2 = spark.sql("SELECT id, _row_id FROM graftrt.q.e").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ids.forall { case (k, v) => ids2(k) == v })
  }

  test("tables without the property expose no _row_id column") {
    rootDir
    spark.sql("CREATE TABLE graftrt.q.n (id BIGINT)")
    Seq(1L).toDF("id").writeTo("graftrt.q.n").append()
    intercept[Exception] {
      spark.sql("SELECT _row_id FROM graftrt.q.n").collect()
    }
  }
}
