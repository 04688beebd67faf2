package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** The expression-tier DELETE: predicates the v1 Filter dialect cannot
  * express (`id % 3 = 0`, function-of-column shapes) used to fail with
  * Spark's cannotDeleteTableWhereFiltersError; the parser now lowers
  * them to `ManifestTable.deleteWhereSql` — COW or DV, with commit-time
  * CDC when the feed is on. Translatable predicates keep Spark's native
  * path (its metadata-only drop tier). */
class DeleteExprSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rootDir = {
    val d = Files.createTempDirectory("graft_delx_").toString
    spark.conf.set("spark.sql.catalog.graftdelx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdelx.root", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdelx.q")
    d
  }

  test("modulo and function predicates delete copy-on-write") {
    rootDir
    spark.sql("CREATE TABLE graftdelx.q.t (id BIGINT, s STRING)")
    (1L to 30L).map(i => (i, "x" * (i % 7).toInt)).toDF("id", "s")
      .coalesce(2).writeTo("graftdelx.q.t").append()
    spark.sql("DELETE FROM graftdelx.q.t WHERE id % 3 = 0")
    assert(spark.table("graftdelx.q.t").collect().map(_.getLong(0)).toSet ==
      (1L to 30L).filterNot(_ % 3 == 0).toSet)
    spark.sql("DELETE FROM graftdelx.q.t WHERE length(s) >= 5")
    assert(spark.table("graftdelx.q.t").collect().map(_.getLong(0)).toSet ==
      (1L to 30L).filterNot(_ % 3 == 0).filterNot(i => (i % 7) >= 5).toSet)
  }

  test("the DV tier vectors expression-matched ordinals in place") {
    rootDir
    spark.sql("CREATE TABLE graftdelx.q.dv (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('delete.dv' = 'true')")
    val dir = Paths.get(rootDir, "q", "dv")
    (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftdelx.q.dv").append()
    val filesBefore = Manifest.read(dir).get.entries.map(_.name).toSet
    spark.sql("DELETE FROM graftdelx.q.dv WHERE id % 4 = 1")
    val m = Manifest.read(dir).get
    assert(m.entries.map(_.name).toSet == filesBefore,
      "DV-mode expression delete must keep file identities")
    assert(m.entries.exists(_.dv.isDefined), "ordinals must land in vectors")
    assert(spark.table("graftdelx.q.dv").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).filterNot(_ % 4 == 1).toSet)
  }

  test("NULL predicate rows survive (ANSI: delete TRUE rows only)") {
    rootDir
    spark.sql("CREATE TABLE graftdelx.q.n (id BIGINT, k BIGINT)")
    Seq((1L, java.lang.Long.valueOf(2L)), (2L, null.asInstanceOf[java.lang.Long]),
      (3L, java.lang.Long.valueOf(3L)))
      .toDF("id", "k").coalesce(1).writeTo("graftdelx.q.n").append()
    spark.sql("DELETE FROM graftdelx.q.n WHERE k % 2 = 0")
    assert(spark.table("graftdelx.q.n").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L), "the NULL-k row must survive a NULL predicate")
  }

  test("commit-time CDC records expression deletes exactly") {
    rootDir
    spark.sql("CREATE TABLE graftdelx.q.cf (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('changeFeed' = 'true')")
    val dir = Paths.get(rootDir, "q", "cf")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftdelx.q.cf").append()
    val v1 = Manifest.snapshotVersions(dir).last
    spark.sql("DELETE FROM graftdelx.q.cf WHERE id % 5 = 2")
    val v2 = Manifest.snapshotVersions(dir).last
    val rows = ManifestTable.changes(spark, dir, v1, v2)
      .select("id", "v", "_change_type")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set((2L, 2.0, "delete"), (7L, 7.0, "delete")))
  }

  test("a DELETE that matches no file publishes no snapshot, in both tiers") {
    rootDir
    spark.sql("CREATE TABLE graftdelx.q.noop (id BIGINT, v DOUBLE)")
    val dir = Paths.get(rootDir, "q", "noop")
    (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftdelx.q.noop").append()
    val before = Manifest.snapshotVersions(dir)
    // the DSv2 filter tier: the zone maps exclude the only file
    spark.sql("DELETE FROM graftdelx.q.noop WHERE id = 999")
    assert(Manifest.snapshotVersions(dir) == before, "DSv2 tier")
    // the expression tier: the translatable conjunct excludes it too
    spark.sql("DELETE FROM graftdelx.q.noop WHERE id > 100 AND id % 3 = 0")
    assert(Manifest.snapshotVersions(dir) == before, "expression tier")
    // a matched-only MERGE whose source key matches no row, a MERGE from
    // an empty source, and a replaceWhere of an empty frame whose
    // condition matches no file change nothing either
    Seq((999L, 9.0)).toDF("id", "v").createOrReplaceTempView("delx_noop_miss")
    spark.sql("MERGE INTO graftdelx.q.noop t USING delx_noop_miss s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(Manifest.snapshotVersions(dir) == before, "matched-only MERGE")
    Seq.empty[(Long, Double)].toDF("id", "v").createOrReplaceTempView("delx_noop_empty")
    spark.sql("MERGE INTO graftdelx.q.noop t USING delx_noop_empty s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(Manifest.snapshotVersions(dir) == before, "MERGE from an empty source")
    Seq.empty[(Long, Double)].toDF("id", "v").writeTo("graftdelx.q.noop")
      .overwrite(org.apache.spark.sql.functions.col("id") === 999L)
    assert(Manifest.snapshotVersions(dir) == before, "empty replaceWhere")
    assert(spark.table("graftdelx.q.noop").count() == 10L)
  }

  test("a non-manifest target with an untranslatable predicate DELEGATES") {
    // the lowering is shape-triggered; a target owned by another
    // connector must reach Spark's native DELETE path (and ITS error),
    // never DeleteManifestCommand's "not a graft manifest table"
    val tmp = Files.createTempDirectory("graft_delx_pq_")
    (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(tmp.resolve("t").toString)
    spark.read.parquet(tmp.resolve("t").toString)
      .createOrReplaceTempView("delx_pq")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM delx_pq WHERE id % 3 = 0")
    }
    assert(!e.getMessage.contains("not a graft manifest table"),
      s"non-graft target must take the delegate's path, got: ${e.getMessage}")
  }

  test("row-level DML on a delete.dv table with a shadowing _file or _pos column " +
    "matches a plain table") {
    rootDir
    // a data column named like a metadata column wins the name (Spark's
    // metadata-conflict rule), so the merge-on-read hit scan cannot read
    // entry names or ordinals through it: every op must fall back to
    // copy-on-write instead of vectoring data values
    Seq((2L, 20.0, "s2"), (11L, 11.0, "s11")).toDF("id", "v", "tag")
      .createOrReplaceTempView("delx_shadow_src")
    val ops: Seq[(String, (String, String) => String)] = Seq(
      "DSv2 DELETE" -> ((t, _) => s"DELETE FROM $t WHERE id = 3"),
      "expression DELETE" -> ((t, _) => s"DELETE FROM $t WHERE id % 4 = 1"),
      "UPDATE" -> ((t, _) => s"UPDATE $t SET v = 100.0 WHERE id = 2"),
      "MERGE" -> ((t, c) => s"MERGE INTO $t t USING delx_shadow_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
        s"WHEN NOT MATCHED THEN INSERT (id, v, $c) VALUES (s.id, s.v, s.tag)"))
    for (shadow <- Seq("_file", "_pos"); ((op, sql), i) <- ops.zipWithIndex) {
      def run(dv: Boolean): Seq[(Long, Double, String)] = {
        val t = s"graftdelx.q.shadow$i${shadow}_${if (dv) "dv" else "plain"}"
        spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, $shadow STRING)" +
          (if (dv) " TBLPROPERTIES ('delete.dv' = 'true')" else ""))
        (1L to 10L).map(k => (k, k * 1.0, s"x$k")).toDF("id", "v", shadow)
          .coalesce(1).writeTo(t).append()
        spark.sql(sql(t, shadow))
        spark.table(t).orderBy("id").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      }
      assert(run(dv = true) == run(dv = false), s"$op with a $shadow column")
    }
  }
}
