package graft

/** Deterministic perf gate (r16 — VERDICT "Next round" #2; reworked r17 —
  * VERDICT r16 #1): the ten most expensive bench queries' warm-run Spark
  * job + stage counts. Wall-clock on this VM swings 10-40× run-to-run, so
  * perf bars that ride seconds (the four-round `q_dedup_semantic ≤ 2.0 s`
  * saga) are noise; job/stage counts are a property of the executed plan
  * and reproduce exactly WITHIN one JVM — but not across suite states:
  * the r16 STRICT pins flaked on the driver VM (q_table_changes_mixed
  * measured 10 jobs / 20 stages under a full-suite run vs the 8 / 24
  * pinned from a standalone run — localCheckpoint/memo warm-state differs
  * with suite ordering). The r17 gate therefore asserts what actually IS
  * deterministic:
  *
  *  1. INVARIANCE — two consecutive measured executions in this JVM
  *     produce identical (jobs, stages). A memo that settles on first
  *     use gets one extra settling run before the comparison.
  *  2. BUDGET — the steady-state counts stay within a committed upper
  *     bound (the max ever observed across builder/driver suite states,
  *     q_table_changes_mixed carries the full-suite spread). A
  *     regression that adds a shuffle, un-memoizes a fixture stage, or
  *     reintroduces a per-partition driver loop adds jobs/stages in
  *     EVERY environment and trips the budget deterministically —
  *     verified by deliberate mutation (OPTIMIZATION_r17.md: a
  *     `repartition` inserted into q_dedup_semantic's band frame fails
  *     the budget by +1 job / +2 stages).
  *
  * The r11 wall-clock bar restated as a budget: `q_dedup_semantic` must
  * serve in ≤ 18 jobs / ≤ 27 stages (its measured shape: banded self-join
  * + survivor anti-join over the once-materialized band rows).
  *
  * The counter ([[JobCount.measure]]) runs the body with AQE OFF: under
  * AQE, job counts are timing-dependent (stage-materialization futures
  * race with replanning — identical builds flipped 47/48 and, with
  * exchange reuse disabled, 49/50 across probed runs), so any pin
  * on AQE counts flakes by construction; AQE-off counts are a pure plan
  * property (probed 10/10 identical) — a complexity fingerprint, not
  * the production execution mode.
  *
  * Budgets hold for the DEFAULT spec conditions (sf0.001, 4 cores); a
  * GRAFT_TEST_SF_DIR override changes data-dependent plan decisions, so
  * the suite self-skips there rather than pinning one sf's plan shape
  * against another's data. */
class JobCountSpec extends SparkSuite {

  /** (maxJobs, maxStages) budgets for the warm steady-state execution,
    * measured at sf0.001 / 4 cores (AQE off during measurement — see
    * [[JobCount.measure]]). Values are the max observed across suite
    * states; re-tightened after each optimization round. */
  private val budgets: Seq[(String, Int, Int)] = Seq(
    // r17 end-of-round retightening: the sizing-count()→footer-metadata
    // change dropped a job from every clustering-family fingerprint, the
    // fused CDF diff halved q_table_changes_mixed (10→5 jobs / 24→10
    // stages), and the SemDeDup SQL forms shed the per-invocation
    // sidecar footer jobs. q_table_changes_mixed keeps +2/+4 headroom —
    // its counts proved suite-state-sensitive in r16 (localCheckpoint
    // warm state varies with suite ordering).
    ("q_dedup_semantic", 16, 24),
    ("q_etl_gold", 13, 21),
    ("q_corpus_ingest_pipeline", 8, 17),
    ("q_dedup_semantic_incremental_asof_sql", 16, 25),
    ("q_dedup_semantic_indexed", 11, 17),
    ("q_dedup_minhash_incremental_asof_sql", 8, 16),
    ("q_dedup_semantic_incremental_sql", 14, 22),
    ("q_table_changes_mixed", 7, 14),
    ("q_dedup_minhash_incremental_sql", 7, 14),
    ("q_dedup_embedding", 4, 6),
    // the vector serve pipeline: the probe and batch shapes × exact and
    // PQ scorers, global and BY PARTITION, live and VERSION AS OF, plus
    // the SQL statement form — the deterministic twin of index_serve
    ("q_vector_search", 7, 8),
    ("q_vector_search_pq", 7, 9),
    ("q_vector_knn_join", 10, 15),
    ("q_vector_knn_join_pq", 10, 17),
    ("q_vector_search_partitioned_pq", 10, 18),
    ("q_vector_knn_join_asof_partitioned_pq", 13, 21),
    ("q_vector_search_sql", 8, 10),
    // staged-fixture queries: the staging memo's content token is a
    // driver-side listing, so a staged base adds no job once staged
    ("q_meta_files", 2, 4),
    ("q_text_bm25_asof", 4, 8),
    ("q_join_dpp", 3, 5),
    // the text serve pipeline: membership, phrase, BM25 top-k (global,
    // scoped, SQL) and the BM25 batch join, live and VERSION AS OF
    ("q_text_bm25_indexed", 6, 12),
    ("q_text_bm25_scoped", 3, 5),
    ("q_text_bm25_join", 8, 16),
    ("q_text_bm25_sql", 4, 7),
    ("q_text_phrase_search_asof", 3, 6),
    ("q_text_search_partitioned", 3, 7),
    // the row-level commit pipeline: DELETE (filter tier copy-on-write
    // and merge-on-read, expression tier), UPDATE, the file-bounded and
    // merge-on-read MERGE, replaceWhere, REORG and COPY INTO — each
    // query's count includes its fixture writes and the final read
    ("q_delete_rows", 4, 5),
    ("q_delete_dv", 5, 8),
    ("q_delete_expr", 3, 4),
    ("q_update_rows", 4, 5),
    ("q_merge_bounded", 4, 8),
    ("q_merge_dv", 6, 12),
    ("q_replace_where", 4, 6),
    ("q_reorg_purge", 5, 8),
    ("q_copy_into", 3, 4),
    // the SQL serve statements: the standalone KNN and BM25 joins, the
    // PQ-reranked VECTOR SEARCH and the composable VECTOR SEARCH relation
    // joined back to table columns
    ("q_vector_knn_join_sql", 12, 19),
    ("q_text_bm25_join_sql", 9, 17),
    ("q_vector_search_sql_pq", 8, 11),
    ("q_vector_search_join", 8, 10),
    // the commit log's readers: the changesFrom/changesTo window, the
    // batch change feed over a COW UPDATE and over a recorded-CDC MERGE,
    // and the incremental materialized-view refresh it feeds
    ("q_table_changes", 3, 5),
    ("q_table_changes_update", 5, 8),
    ("q_table_changes_merge", 7, 15),
    ("q_mv_cdf_refresh", 15, 28),
  )

  private def defaultConditions: Boolean =
    !sys.env.contains("GRAFT_TEST_SF_DIR")

  budgets.foreach { case (name, maxJobs, maxStages) =>
    test(s"job/stage budget: $name ≤ $maxJobs jobs / $maxStages stages, invariant") {
      assume(defaultConditions,
        "budgets are measured at the default sf0.001 fixture")
      // the counts are AQE-shape-dependent: pin the confs the measurement
      // was taken under (and restore, suites share the session)
      val conf = spark.conf
      val prevAqe = conf.get("spark.sql.adaptive.enabled")
      val prevShuf = conf.get("spark.sql.shuffle.partitions")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val fn = SparkEntry.queries(name)
        fn(spark, sfDir).count() // warm: codegen, fixture staging, memos
        def run(): (Int, Int) =
          JobCount.measure(spark) { fn(spark, sfDir).count() }
        val first = run()
        val second = run()
        // a memo that settles on first measured use (e.g. a staged
        // fixture's manifest cache) gets ONE settling run; the last two
        // measurements must then agree exactly
        val (a, b) = if (first == second) (first, second) else (second, run())
        assert(a == b,
          s"$name job/stage counts not invariant within one JVM: " +
            s"$first, $second, then $b — the warm plan shape is unstable")
        val (jobs, stages) = b
        assert(jobs <= maxJobs && stages <= maxStages,
          s"$name executed $jobs jobs / $stages stages, budget " +
            s"$maxJobs / $maxStages — the warm plan shape regressed")
      } finally {
        conf.set("spark.sql.adaptive.enabled", prevAqe)
        conf.set("spark.sql.shuffle.partitions", prevShuf)
      }
    }
  }
}
