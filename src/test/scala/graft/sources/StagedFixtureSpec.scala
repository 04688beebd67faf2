package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkEntry, SparkSuite, Tables}

/** Staged fixtures ([[Staging.staged]]) are keyed by sf directory AND its
  * content, and registered on every session that calls them: a query
  * served by one session must serve identically from another session of
  * the same JVM, and a fixture rewritten in place must re-stage rather
  * than answer from the stale layout. */
class StagedFixtureSpec extends SparkSuite {

  // catalog-backed bases (global, partitioned, AS OF decoy, indexed
  // vector) and the two non-catalog routes (the session-catalog bucketed
  // pair and the DPP day layout)
  private val secondSession = Seq("q_meta_files", "q_meta_partitions",
    "q_text_bm25_asof", "q_vector_search", "q_join_bucketed", "q_join_dpp")

  secondSession.foreach { name =>
    test(s"$name serves a second session after the first staged it") {
      val first = SparkEntry.queries(name)(spark, sfDir).count()
      val second = SparkEntry.queries(name)(spark.newSession(), sfDir).count()
      assert(first > 0, s"$name returned no rows")
      assert(first == second,
        s"$name row count differs across sessions: $first vs $second")
    }
  }

  test("an in-place rewrite of the fixture re-stages q_meta_partitions") {
    val dir = graft.Scratch.dir("graft_fixture_copy_")
    Files.list(Paths.get(sfDir)).forEach(p =>
      Files.copy(p, Paths.get(dir).resolve(p.getFileName)))
    def liveRows(): Long = SparkEntry.queries("q_meta_partitions")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("live_rows")).head().getLong(0)
    val before = liveRows()
    assert(before == Tables.rowCount(dir, "documents"))
    // keep the even doc_ids: written aside, then moved over the original
    val aside = graft.Scratch.dir("graft_fixture_even_")
    spark.read.parquet(s"$dir/documents.parquet").where("doc_id % 2 = 0")
      .coalesce(1).write.mode("overwrite").parquet(aside)
    val part = Files.list(Paths.get(aside)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.rowCount(dir, "documents")
    assert(after > 0 && after < before, s"rewrite kept $after of $before rows")
    assert(liveRows() == after,
      "q_meta_partitions must report the rewritten fixture's rows")
  }

  test("the sidecar memo stays bounded across repeated REFRESH TEXT INDEX") {
    val cat = "graftsidecarmemo"
    Staging.catalog(spark, cat, "docs")
    spark.sql(s"CREATE TABLE $cat.q.docs (doc_id BIGINT, text STRING)")
    spark.sql(s"INSERT INTO $cat.q.docs VALUES (1, 'a b'), (2, 'b c')")
    spark.sql(s"CREATE TEXT INDEX ON $cat.q.docs (text)").collect()
    // each REFRESH reads the superseded index's sidecars, then publishes
    // a new index directory
    def appendAndRefresh(i: Int): Int = {
      spark.sql(s"INSERT INTO $cat.q.docs VALUES ($i, 'zz')")
      spark.sql(s"REFRESH TEXT INDEX ON $cat.q.docs (text)").collect()
      Tables.sidecarMemoSize
    }
    val settled = appendAndRefresh(3)
    val sizes = (4 to 7).map(appendAndRefresh)
    assert(sizes.forall(_ <= settled),
      s"sidecar memo grew across refreshes: $settled then $sizes")
    assert(TextIndex.search(spark, s"$cat.q.docs", "text", "zz").count() == 5)
  }
}
