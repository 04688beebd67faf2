package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.Tables
import graft.queries.QueryModule
import PortableHash._

/** Semantic clustering over `embeddings` (north-star LLM-pipeline mandate):
  * distributed Lloyd k-means and SemDeDup-style semantic deduplication
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication" — public arXiv:2303.09540).
  *
  * k-means is the missing tier between the one-refinement IVF training loop
  * ([[Similarity]] `q_similarity_ivf`) and a production curriculum/dedup
  * pipeline: cluster the corpus once, then run per-cluster policies
  * (near-dup pruning, diversity sampling, topic mixing). The Lloyd loop here
  * is the honest 100 TB shape:
  *  - ASSIGN is pure per-row arithmetic against a broadcast centroid array
  *    ([[Similarity.assignLists]]) — zero shuffle of the vector table;
  *  - UPDATE is one partial+final aggregate of k×64 fixed-point longs
  *    ([[Similarity.labelCentroids]] over [[graft.functions.VectorSumFixed]])
  *    — never an explode to (row × dim);
  *  - k scales with the corpus (k ≈ n/64, floor 8), so per-cluster work
  *    stays bounded as n grows — the same size-derived-geometry rule as the
  *    LSH tier ([[Dedup.embeddingLshParams]]).
  * At test scale the iterations stay one lazy plan (each broadcast subtree
  * is computed once, so total work is linear in the iteration count); a
  * production loop at 100 TB would persist each iteration's assignment —
  * same dataflow, one checkpoint per round.
  *
  * SemDeDup then prunes within clusters only, and candidate pairs are
  * additionally SUB-BUCKETED by the hyperplane-sign LSH bands
  * ([[Dedup.embeddingBandRows]], size-derived geometry): a pair is a
  * candidate iff the two rows share a cluster AND at least one sign-band
  * bucket. Under the √n-capped k ([[kFor]]) a bare cluster equi-join sees
  * ~√n-row cells past the n = 4096 crossover — Σ|cell|² candidate volume
  * grows ~n^1.5 — while the band key space scales linearly with n, so the
  * banded join stays near-linear at ANY k (missing cross-cluster or
  * cross-bucket dups is the technique's documented approximation, the
  * same admission argument as the IVF/LSH tiers). The survivor rule is
  * the paper's: among near-duplicates keep the vector with the LOWEST
  * similarity to its centroid (it preserves the cluster's diversity),
  * vec_id tie-break. All similarities are exact fixed-point dots
  * ([[PortableHash.dotFixed]] — embeddings are unit-norm, cosine = dot), so
  * every drop decision is cell-exact against the DuckDB oracle.
  */
object Clustering extends QueryModule {

  /** Lloyd refinement rounds for the declared queries (enough to show the
    * loop converging past the IVF tier's single refinement; the oracle SQL
    * is generated by unrolling, so the count is a knob, not a rewrite). */
  private val KmeansIters = 3
  private val SemIters = 2
  /** SemDeDup cosine threshold — same planted-pair geometry as the LSH
    * dedup tier ([[Dedup]] CosineThreshold). Shared with the vector-index
    * incremental tier ([[graft.sources.VectorIndex.semDedupIncremental]]). */
  private[graft] val SemThreshold = 0.35

  /** Corpus-size-derived cluster count: k = max(8, min(n/64, ⌈√n⌉)).
    * Small corpora (n < 4096) keep ~64-vector cells (the SemDeDup k ∝ n
    * rule — within-cluster pair joins stay bounded); past that the ⌈√n⌉
    * CAP takes over — the IVF standard (probe cost k dots + n/k
    * candidate scans is minimized at k = √n). The earlier uncapped
    * k = n/64 made centroid count LINEAR in the corpus: at 1 B vectors
    * that is ~16 M centroids — a multi-GB broadcast and O(n²/64)
    * assignment work. √n keeps the centroid table bounded (~32 k rows at
    * 1 B) and, with the two-level assignment
    * ([[Similarity.assignListsHier]]), build work at O(n·√k) per round.
    * Past the cap, cells are ~√n rows — which is why the within-cluster
    * consumers bound their own work structurally instead of leaning on k:
    * SemDeDup sub-buckets cells with LSH sign-bands
    * ([[semSurvivors]] — candidate pairs near-linear at any k) and
    * [[clusterSample]]'s per-cell window is a fixed-size top-k heap, not
    * a cell materialization. `LISTS k` remains a declared policy for
    * deployments that want different cell geometry. */
  private[graft] def kFor(n: Long): Long =
    math.max(8L, math.min(n / 64L,
      math.ceil(math.sqrt(n.toDouble)).toLong))

  /** Permute stream id for the training-sample decimation — distinct
    * from clusterSample's (3) so the two hash orders are independent. */
  private val SampleTrainJ = 11

  /** FAISS-style TRAIN-ON-SAMPLE Lloyd: the refinement loop runs over a
    * deterministic ~`cap`-row subset (hash decimation
    * `permute(vec_id) % max(1, n/cap) == 0`, with the anchor rows
    * (vec_id < k) force-included so the seed equals an unsampled
    * build's), then the FULL corpus assigns ONCE against the trained
    * centroids. At 1 B vectors this is the difference between
    * iters+1 full O(n·√k) assignment passes and exactly one — the
    * quantizer trains on a bounded subset regardless of corpus size,
    * the standard production IVF build. Deterministic and
    * oracle-replayable ([[sqlKmeansSampled]]); k stays corpus-derived
    * (the policy sizes the index for the data it serves). */
  private[graft] def kmeansAssignSampled(emb: DataFrame, k: Long,
      iters: Int, cap: Long, n: Long,
      coarse: Int = 2): (DataFrame, DataFrame) = {
    val m = math.max(1L, n / cap)
    val train = emb.where(
      permute(col("vec_id"), SampleTrainJ) % m === 0 || col("vec_id") < k)
    val (_, cents) = kmeansAssign(train, k, iters, coarse)
    (Similarity.assignListsHierLocal(emb, cents, coarse), cents)
  }

  /** `iters` Lloyd rounds from deterministic anchors (vec_id < k):
    * returns (final assignment (vec_id, label, embedding, list_id),
    * the centroids that produced it (c_id, c_emb array<float>)).
    *
    * Each round's centroid table (k rows) is MATERIALIZED
    * (`localCheckpoint`) before the next assignment: the two-level
    * assignment ([[Similarity.assignListsHier]]) references `cents`
    * twice (anchor row + cell map), so an unmaterialized chain
    * re-evaluates every earlier round ×2 per reference — the same
    * exponential blow-up the DuckDB replay hits without `AS
    * MATERIALIZED` CTEs (measured ×28 on q_embed_kmeans at sf0.1).
    * With the cut, lineage depth is constant per round — the "production
    * Lloyd checkpoints per round" rule, applied: what's persisted is
    * only the k-row centroid table, never the corpus. */
  private[graft] def kmeansAssign(emb: DataFrame, k: Long, iters: Int,
      coarse: Int = 2): (DataFrame, DataFrame) =
    kmeansAssignSeeded(emb,
      emb.filter(col("vec_id") < k)
        .select(col("vec_id").cast(IntegerType).as("c_id"),
          col("embedding").as("c_emb")),
      iters, coarse)

  /** Materialize a BOUNDED frame as a DRIVER-LOCAL relation: one collect
    * job, then a LocalTableScan with identical rows. The point (r14):
    * every BROADCAST of a local relation is free — no Spark job, no AQE
    * stage barrier — where a broadcast over a checkpointed RDD costs a
    * job per exchange. The Lloyd loop's centroid tables are ≤ k ≈ √n
    * rows (≤ ~32k rows at 10⁹ vectors — the probe-list metadata class),
    * and [[Similarity.assignListsHier]] broadcasts them through FOUR
    * legs per round (anchors + cell map + two coarse joins): localizing
    * cuts the kmeans family's job count by ~4× per round with
    * cell-identical values, at test scale turning fixed job overhead
    * into one collect. */
  private[graft] def localize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = java.util.Arrays.asList(df.collect(): _*)
    spark.createDataFrame(rows, df.schema)
  }

  /** The Lloyd loop from an EXPLICIT seed relation (c_id, c_emb) — shared
    * by the anchor seeding above and the RANK seeding below. */
  private[graft] def kmeansAssignSeeded(emb: DataFrame, seeds: DataFrame,
      iters: Int, coarse: Int = 2): (DataFrame, DataFrame) = {
    // centroid frames are ≤ k (≈ √n) rows — LOCALIZED per round
    // ([[localize]]) and assigned through the LOCAL-leg assigner
    // ([[Similarity.assignListsHierLocal]]): each round costs exactly
    // ONE collect job (the centroid aggregate) and the assignment runs
    // as one codegen stage — no per-leg broadcast jobs, no AQE stage
    // barriers, cell-identical values
    var cents = localize(seeds)
    var assigned = Similarity.assignListsHierLocal(emb, cents, coarse)
    for (_ <- 1 to iters) {
      cents = localize(Similarity.labelCentroids(assigned, col("list_id"))
        .select(col("list_id").cast(IntegerType).as("c_id"),
          transform(col("centroid"), _.cast(FloatType)).as("c_emb")))
      assigned = Similarity.assignListsHierLocal(emb, cents, coarse)
    }
    (assigned, cents)
  }

  /** Anchor seeding for a SUB-CORPUS whose id range need not start at 0
    * (the per-partition vector sub-indexes): seeds are the k LOWEST-id
    * rows by RANK, c_id = 0-based rank. Scale shape: `orderBy.limit(k)`
    * is a bounded per-partition heap (TakeOrdered — never a global
    * sort), and the rank window runs over the k survivors only. The
    * oracle replays the same rule (`ORDER BY vec_id LIMIT k` +
    * row_number), so ranked-seed geometries stay cell-exact. */
  private[graft] def kmeansAssignRanked(emb: DataFrame, k: Long, iters: Int,
      coarse: Int = 2): (DataFrame, DataFrame) = {
    val seeds = emb.orderBy("vec_id").limit(k.toInt)
      .withColumn("c_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast(IntegerType))
      .select(col("c_id"), col("embedding").as("c_emb"))
    kmeansAssignSeeded(emb, seeds, iters, coarse)
  }

  /** The k-th lowest id of `src` — the RANKED force-include threshold for
    * sampled training over a sub-corpus whose ids need not start at 0
    * (`vec_id < k` leaves anchors out there; `vec_id <= rankedIdCap`
    * keeps exactly the k ranked seeds in). One TakeOrdered + a driver
    * read of k ids — planning-class. */
  private[graft] def rankedIdCap(src: DataFrame, k: Long): Long =
    src.select(col("vec_id").cast(LongType)).orderBy("vec_id")
      .limit(k.toInt)
      .agg(max(col("vec_id"))).collect().head.getLong(0)

  /** TRAIN-ON-SAMPLE with RANKED seeding — [[kmeansAssignSampled]] for
    * sub-corpora with arbitrary id ranges (the BY PARTITION slices):
    * the decimation force-includes the k LOWEST ids by rank (so the
    * ranked seed of the sample equals the unsampled build's), the Lloyd
    * loop trains on the sample, the full slice assigns once. `n` is the
    * slice size (it derives the decimation modulus; the k policy is the
    * caller's, sized from the slice). */
  private[graft] def kmeansAssignRankedSampled(emb: DataFrame, k: Long,
      iters: Int, cap: Long, n: Long,
      coarse: Int = 2): (DataFrame, DataFrame) = {
    val m = math.max(1L, n / cap)
    val train = emb.where(
      permute(col("vec_id"), SampleTrainJ) % m === 0 ||
        col("vec_id") <= rankedIdCap(emb, k))
    val (_, cents) = kmeansAssignRanked(train, k, iters, coarse)
    (Similarity.assignListsHierLocal(emb, cents, coarse), cents)
  }

  /** PART-KEYED ranked Lloyd — every partition's sub-geometry trained in
    * ONE dataflow (r14: replaces the per-pin driver loop in the BY
    * PARTITION stale-retrain serve paths). `emb` carries a `part` column
    * beside (vec_id, label, embedding); output frames carry `part`.
    * Per part this replays EXACTLY what the per-slice builders train —
    * k = `lists` | [[kFor]](n_p); seeds = the k lowest-id rows by rank
    * (c_id = 0-based rank, [[kmeansAssignRanked]]); with `sampleCap`,
    * training decimates per part with the ranked force-include
    * ([[kmeansAssignRankedSampled]]: `permute(id) % max(1, n_p/cap) = 0
    * OR id ≤ part's rankedIdCap`) and the full slice assigns once — so
    * serve paths that switched from the per-pin loop keep their hashes,
    * and the in-query stale replay is finally sample-aware everywhere.
    * Spark-job count is CONSTANT in the partition count: one checkpoint
    * for the parts-row policy table, one per Lloyd round's Σk_p-row
    * centroid table (the [[kmeansAssignSeeded]] materialization rule,
    * shared across every partition instead of paid per pin). */
  private[graft] def kmeansAssignRankedByPart(emb: DataFrame, iters: Int,
      coarse: Int, lists: Option[Long],
      sampleCap: Option[Long]): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("vec_id")
    val kExpr = lists.map(l => lit(l)).getOrElse(
      greatest(lit(8L), least(floor(col("n") / lit(64L)).cast(LongType),
        ceil(sqrt(col("n"))))))
    val kByPart = localize(emb.groupBy("part").agg(count(lit(1)).as("n"))
      .withColumn("k", kExpr))
    val seedsRk = emb
      .select(col("part"), col("vec_id"), col("embedding"))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(kByPart.select(col("part"), col("k"))), "part")
      .where(col("rk") <= col("k"))
    val seeds = seedsRk.select(col("part"),
      (col("rk") - 1).cast(IntegerType).as("c_id"),
      col("embedding").as("c_emb"))
    val train = sampleCap match {
      case None => emb
      case Some(cap) =>
        // the ranked force-include threshold (max seed id) and the
        // decimation modulus, one row per part — the per-pin
        // rankedIdCap/modulus pair, derived in-plan
        val capByPart = seedsRk.groupBy("part")
          .agg(max(col("vec_id").cast(LongType)).as("idcap"))
        val mByPart = kByPart.select(col("part"),
          greatest(lit(1L), floor(col("n") / lit(cap)).cast(LongType)).as("m"))
        emb.join(broadcast(capByPart), "part")
          .join(broadcast(mByPart), "part")
          .where(permute(col("vec_id"), SampleTrainJ) % col("m") === 0 ||
            col("vec_id") <= col("idcap"))
          .select(col("part"), col("vec_id"), col("label"), col("embedding"))
    }
    var cents = localize(seeds)
    var assigned = Similarity.assignListsHierByPartLocal(train, cents, coarse)
    for (_ <- 1 to iters) {
      // the per-(part, list) fixed-point mean — [[Similarity
      // .labelCentroids]]'s exact arithmetic, keyed by part
      cents = localize(assigned.groupBy("part", "list_id")
        .agg(count(lit(1)).as("n_vecs"),
          graft.functions.VectorSumFixed.sum(col("embedding"), 64).as("vsum"))
        .select(col("part"), col("list_id").cast(IntegerType).as("c_id"),
          transform(col("vsum"),
            x => (x / col("n_vecs")).cast(FloatType)).as("c_emb")))
      assigned = Similarity.assignListsHierByPartLocal(train, cents, coarse)
    }
    if (sampleCap.isDefined)
      assigned = Similarity.assignListsHierByPartLocal(emb, cents, coarse)
    (assigned, cents)
  }

  /** SemDeDup survivors: a vector is DROPPED iff some near-duplicate
    * neighbor (fixed-point cosine ≥ τ) in the SAME cluster AND at least
    * one shared sign-band bucket sits FARTHER from the shared centroid
    * (lower c2c; vec_id tie-break) — the paper keeps the
    * lowest-centroid-similarity member to preserve cluster diversity.
    * Per-pair, not connected components: in a chain a~b~c with a the
    * outlier, a survives, b drops, and c drops only against its own
    * witness — deterministic either way.
    *
    * THE SCALE BOUND lives in the candidate join, not in k: pairs come
    * from a (band, bkey) bucket equi-join ([[Dedup.embeddingBandRows]],
    * key space ∝ n) intersected with the cluster — so candidate volume
    * stays near-linear even though the √n-capped [[kFor]] makes cells
    * ~√n rows. A bare cluster equi-join would be Σ|cell|² ≈ n^1.5 at
    * scale; raising k to shrink cells re-grows the assignment broadcast
    * the two-level assigner just bounded. Banding costs recall at the
    * τ boundary (the standard LSH trade, already accepted corpus-wide by
    * `q_dedup_embedding`); the oracle replays the identical banded rule,
    * so the approximation is itself hash-certified. `n` is the corpus
    * size that derives the band geometry (callers already hold it). */
  private[graft] def semSurvivors(assigned: DataFrame, cents: DataFrame,
      n: Long): DataFrame = {
    // c2c is consumed THREE times (both sides of the pair self-join plus
    // the final anti-join), and its lineage carries the full two-level
    // assignment — materialize once (spill-capable executor-local
    // storage; the multi-consumer rule from the kmeans loop, applied to
    // the per-row frame)
    val c2c = assigned
      .join(broadcast(cents), col("list_id") === col("c_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("list_id"),
        dotFixed(col("embedding"), col("c_emb")).as("c2c"))
      .localCheckpoint()
    // a 1-member cluster can never pair: skip band derivation for its
    // rows entirely (they survive by construction, through the final
    // anti-join). Cluster sizes AND the anchor rows come off ONE k-row
    // collect (r15 — formerly two separate localize jobs): the
    // singleton-prune frame and the one-row anchor panel assemble
    // driver-side as LOCAL relations, so neither consumer launches a
    // job inside the final action. The panel still derives from the
    // FULL frame — pruning a singleton anchor row would change every
    // band key and the oracle's geometry; the driver-side a_id sort is
    // array_sort's struct order (ids unique, so the first field
    // decides). An exotic id type falls back to the aggregate form.
    val (nBands, bits) = graft.llm.Dedup.embeddingLshParams(n)
    val spark = assigned.sparkSession
    val statsRows = c2c.groupBy("list_id").agg(
      count(lit(1)).as("cl_n"),
      collect_list(when(col("vec_id") < nBands * bits,
        struct(col("vec_id").as("a_id"), col("embedding").as("a_emb"))))
        .as("anch")).collect()
    val multi = spark.createDataFrame(
      java.util.Arrays.asList(statsRows.filter(_.getLong(1) > 1)
        .map(r => org.apache.spark.sql.Row(r.get(0))).toSeq: _*),
      StructType(Seq(c2c.schema("list_id"))))
    val anchRaw = statsRows.flatMap(_.getSeq[org.apache.spark.sql.Row](2))
    val idType = c2c.schema("vec_id").dataType
    val sortedAnch: Option[Seq[org.apache.spark.sql.Row]] = idType match {
      case LongType => Some(anchRaw.sortBy(_.getLong(0)).toSeq)
      case IntegerType => Some(anchRaw.sortBy(_.getInt(0)).toSeq)
      case ShortType => Some(anchRaw.sortBy(_.getShort(0)).toSeq)
      case DoubleType => Some(anchRaw.sortBy(_.getDouble(0)).toSeq)
      case FloatType => Some(anchRaw.sortBy(_.getFloat(0)).toSeq)
      // StringType deliberately falls through: Java String ordering is
      // UTF-16 code-unit order while array_sort compares UTF8String by
      // UTF-8 bytes — ids with supplementary code points would diverge
      // from the stored/oracle geometry (r16 advice). The aggregate
      // fallback sorts with the engine's own comparator.
      case _ => None
    }
    val anchorPanel = sortedAnch match {
      case Some(rows) => spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(rows)),
        StructType(Seq(StructField("anchors", ArrayType(StructType(Seq(
          StructField("a_id", idType),
          StructField("a_emb", c2c.schema("embedding").dataType))))))))
      case None => localize(graft.llm.Dedup.bandAnchors(
        c2c.select(col("vec_id"), col("embedding")), nBands, bits))
    }
    val pairable = c2c.join(broadcast(multi), Seq("list_id"))
    // payloads ride the band rows (band keys are per-row math against
    // the broadcast anchors, so they derive DIRECTLY on the c2c frame —
    // zero re-join by id), and the candidate test — shared (band,
    // bucket) AND shared cluster AND cosine ≥ τ AND the witness rule —
    // is ONE self-join with every predicate applied inline: no
    // materialized pair set, no distinct-then-refetch round trips. A
    // pair sharing several buckets is tested per shared band (cheap
    // codegen dots); the final distinct is on the dropped ids only.
    // Band rows MATERIALIZE once (r15 — formerly re-derived per
    // self-join leg): both legs of the pair join consume them, and the
    // index tier persists the same rows as a sidecar — the
    // multi-consumer rule, applied where the profile showed the two
    // broadcast legs each paying the full derivation.
    val bands = graft.llm.Dedup.embeddingBandRowsWith(
      pairable.select(col("vec_id"), col("embedding"), col("list_id"),
        col("c2c")),
      anchorPanel, nBands, bits,
      carry = Seq("embedding", "list_id", "c2c"), keepKeys = true)
      .localCheckpoint()
    val xb = bands
      .select(col("vec_id").as("x_id"), col("band"), col("bkey"),
        col("bks").as("x_bks"), col("embedding").as("x_emb"),
        col("list_id").as("x_list"), col("c2c").as("x_c2c"))
    val yb = bands
      .select(col("vec_id").as("y_id"), col("band").as("y_band"),
        col("bkey").as("y_bkey"), col("bks").as("y_bks"),
        col("embedding").as("y_emb"), col("list_id").as("y_list"),
        col("c2c").as("y_c2c"))
    // no distinct on the dropped side: LEFT ANTI is set-semantic over
    // its right input already — the dedup shuffle was pure overhead (r14).
    // MIN-SHARED-BAND rule (r14): a pair sharing several buckets is
    // tested ONCE, at its first shared band — the τ/witness predicate is
    // band-independent, so the dropped SET is unchanged while the
    // per-pair dot work stops multiplying by the shared-band count
    // (near-2× on clustered corpora whose near-dups agree on every band).
    val dropped = xb.join(yb,
        col("band") === col("y_band") && col("bkey") === col("y_bkey") &&
          col("x_id") =!= col("y_id") && col("x_list") === col("y_list") &&
          !graft.functions.BandPrefixCollides.collides(
            col("x_bks"), col("y_bks"), col("band")) &&
          dotFixed(col("x_emb"), col("y_emb")) >= SemThreshold &&
          (col("y_c2c") < col("x_c2c") ||
            (col("y_c2c") === col("x_c2c") && col("y_id") < col("x_id"))))
      .select(col("x_id").as("vec_id"))
    c2c.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"), col("list_id"), col("c2c"))
  }

  /** Fan an UNDER-PARTITIONED raw scan out to the session's parallelism
    * (r14): the small-SF testdata ships one unsplittable parquet file
    * per table (one row group), so every stage derived from it plans as
    * ONE task — the whole Lloyd + banded-join pipeline ran serial CPU
    * on a 32-thread session. When the file count is far below the
    * cores, one cheap shuffle of the (by construction small) corpus
    * unlocks parallel codegen stages everywhere downstream; a source
    * that already parallelizes — the 100 TB layout, thousands of files —
    * passes through untouched, so no capping shuffle ever runs at
    * scale. Raw file scans only (inputFiles is authoritative there). */
  private val fannedOut =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private[llm] def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // the fanned frame is MATERIALIZED once: the Lloyd loop's actions
    // (count, seeds, per-round aggregates, the c2c checkpoint) would
    // each replay the scan + shuffle through lineage otherwise. Only
    // reachable for a tiny source (≤ cores/4 files), so the checkpoint
    // never materializes a at-scale corpus. MEMOIZED per (session,
    // input-file set) (r15): the capping shuffle is a fixture-layout
    // shim, not the operator — re-checkpointing the same immutable
    // files on every invocation charged the clustering queries a
    // re-ingest no production pipeline pays; the file-set key re-stages
    // when the data actually changes.
    if (df.inputFiles.length * 4 <= cores) {
      // the memo key carries the input files' content token: an
      // in-place rewrite of a same-named file re-stages instead of
      // serving the JVM-lifetime-stale checkpoint.
      val files = df.inputFiles.sorted
      val key = df.sparkSession.sparkContext.applicationId + "|" +
        files.mkString(",") + "|" + graft.Tables.contentToken(files.map(u =>
          scala.util.Try(java.net.URI.create(u).getPath).getOrElse(u)): _*)
          .getOrElse("")
      fannedOut.computeIfAbsent(key,
        _ => df.repartition(cores).localCheckpoint())
    } else df
  }

  def queries: Map[String, Q] = Map(
    // Distributed Lloyd k-means, 3 refinement rounds from deterministic
    // anchors: declared output is the per-cluster census after the final
    // assignment — size, sampled centroid coordinates, fixed-point
    // checksum over all 64 (the q_similarity_centroids comparator shape:
    // the driver takes no array columns).
    "q_embed_kmeans" -> ((s, d) => {
      val emb = fanOut(Tables(s, d, "embeddings"))
      // one driver-side count sizes k — the same pre-planning cardinality
      // read as the LSH geometry (q_dedup_embedding)
      val (assigned, _) = kmeansAssign(emb,
        kFor(graft.Tables.rowCount(d, "embeddings")), KmeansIters)
      Similarity.labelCentroids(assigned, col("list_id"))
        .select(col("list_id").cast(IntegerType), col("n_vecs"),
          element_at(col("centroid"), 1).as("c1"),
          element_at(col("centroid"), 32).as("c32"),
          element_at(col("centroid"), 64).as("c64"),
          aggregate(col("centroid"), lit(0L),
            (acc, x) => acc + floor(x * 1e6).cast(LongType)).as("cchk"))
        .orderBy("list_id")
    }),

    // SemDeDup: cluster (2 Lloyd rounds), then prune within-cluster
    // near-duplicates keeping the lowest-centroid-similarity member.
    // Declared output: the surviving rows with their cluster and exact
    // centroid similarity — a drop-rule regression (threshold, tie-break,
    // geometry) hash-fails the driver gate.
    "q_dedup_semantic" -> ((s, d) => {
      val emb = fanOut(Tables(s, d, "embeddings"))
      val n = graft.Tables.rowCount(d, "embeddings")
      val (assigned, cents) = kmeansAssign(emb, kFor(n), SemIters)
      semSurvivors(assigned, cents, n).orderBy("vec_id")
    }),

    // SEMANTIC DECONTAMINATION: drop training vectors whose embedding is
    // near-duplicate (fixed-point cosine ≥ τ) to ANY eval-set vector —
    // the embedding-space twin of q_text_decontaminate's n-gram form,
    // catching paraphrases exact grams miss. The eval side (label 9 here)
    // is BROADCAST — an eval set is small by definition, so the 100 TB
    // corpus never shuffles: one scan, per-row HOF against the broadcast
    // panel, exactly the decontamination dataflow at scale.
    "q_decontaminate_semantic" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val evalSet = emb.filter(col("label") === 9)
        .agg(collect_list(col("embedding")).as("evs"))
      val train = emb.filter(col("label") =!= 9)
      // the q_dedup_embedding_recall dataflow: explode the broadcast panel
      // per row, keep contaminated vec_ids, anti-join them back out — the
      // corpus is scanned twice and shuffles only the (small) hit set
      val hits = train.crossJoin(broadcast(evalSet))
        .select(col("vec_id"), col("embedding"), explode(col("evs")).as("ev"))
        .filter(dotFixed(col("embedding"), col("ev")) >= SemThreshold)
        .select("vec_id").distinct()
      train.join(hits, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL SemDeDup — the daily-ingest shape: the CORPUS was
    // curated once (its clustering is the stored-index geometry; the
    // 1-iter Lloyd here is what a fresh index holds), and a NEW BATCH
    // checks only new-vs-corpus: batch rows assign against the corpus
    // centroids (per-row broadcast math), candidates are the banded
    // cluster pairs (shared sign-band bucket AND shared cluster — the
    // q_dedup_semantic bound), and a new row is a dup iff some corpus
    // row within cosine τ exists (the curated corpus always wins —
    // min-id witness reported). NO corpus self-join, NO batch self-join:
    // candidate volume ∝ |batch| × bucket size, the same incremental
    // contract as the MinHash tier (q_dedup_incremental). Output:
    // (vec_id, dup_of, is_dup) per batch row.
    "q_dedup_semantic_incremental" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val n = graft.Tables.rowCount(d, "embeddings")
      val corpus = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      // k policy over the FULL table (the index sizes for the data it
      // serves); geometry trains on the corpus side only
      val (corpusAssigned, cents) = kmeansAssign(corpus, kFor(n), 1)
      val batchAssigned = Similarity.assignListsHierLocal(batch, cents)
      // band keys derive over the UNION of the two assigned sides —
      // anchors are the lowest-vec_id rows of the whole table, shared by
      // construction — with payloads CARRIED on the band rows (the C215
      // semSurvivors fusion): cluster, τ and the bucket key all test in
      // ONE batch×corpus join, no materialized pair set, no
      // distinct-then-refetch round trips. A pair sharing several buckets
      // is tested per shared band (cheap codegen dots); the final
      // min-witness aggregate dedups. The union is checkpointed once —
      // it is the band derivation's only input and carries the full
      // two-level assignment lineage.
      val all = corpusAssigned
        .select(col("vec_id"), col("embedding"), col("list_id"),
          lit(0).as("side"))
        .unionByName(batchAssigned
          .select(col("vec_id"), col("embedding"), col("list_id"),
            lit(1).as("side")))
        .localCheckpoint()
      val bands = Dedup.embeddingBandRows(all, n,
        carry = Seq("embedding", "list_id", "side"))
      val nb = bands.where(col("side") === 1)
        .select(col("vec_id").as("vn"), col("band"), col("bkey"),
          col("embedding").as("e_n"), col("list_id").as("l_n"))
      val ob = bands.where(col("side") === 0)
        .select(col("vec_id").as("vo"), col("band").as("oband"),
          col("bkey").as("obkey"), col("embedding").as("e_o"),
          col("list_id").as("l_o"))
      val matched = nb.join(ob,
          col("band") === col("oband") && col("bkey") === col("obkey") &&
            col("l_n") === col("l_o") &&
            dotFixed(col("e_n"), col("e_o")) >= SemThreshold)
        .groupBy("vn").agg(min("vo").as("dup_of"))
      batch.select(col("vec_id"))
        .join(matched, col("vec_id") === col("vn"), "left")
        .select(col("vec_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    }),

    // THE COARSE-PROBE KNOB'S COST, oracle-certified (the C208
    // audit-as-data pattern): recall@10 of an IVF search whose row
    // assignment probed ONE coarse cell (COARSE PROBES 1 — half the
    // per-row fine work of the default 2) against the exact brute-force
    // top-10. Read beside q_vector_search_recall (the c = 2 geometry's
    // audit): the pair quantifies what the knob trades, and a regression
    // in the c = 1 short-circuit moves this number and hash-fails.
    "q_vector_search_recall_coarse" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val n = graft.Tables.rowCount(d, "embeddings")
      val (assigned, _) = kmeansAssign(emb, kFor(n), 1, coarse = 1)
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("pv"), col("list_id").as("p_list"))
      val approx = assigned
        .join(broadcast(probe), col("list_id") === col("p_list"))
        .select(col("vec_id"), dotFixed(col("embedding"), col("pv")).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(10).select("vec_id")
      val pv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("pv"))
      val exact = emb.crossJoin(broadcast(pv))
        .select(col("vec_id"), dotFixed(col("embedding"), col("pv")).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(10).select("vec_id")
      exact.join(approx.withColumn("hit", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
        .select(col("n_true"), col("n_found"),
          (col("n_found").cast("double") / col("n_true")).as("recall"))
    }),

    // DIVERSITY-BALANCED sampling (cluster-balanced selection — the
    // curriculum technique that keeps a dominant topic from flooding a
    // training mixture): cluster once, then keep each cluster's CAP
    // members with the smallest deterministic key hash (the
    // q_sample_reservoir machinery, stratified by SEMANTIC cluster
    // instead of a metadata column). The per-cluster window is safe at
    // any cell size — under the √n-capped kFor a cell is ~√n rows, but
    // row_number over (cluster, hash) is a streaming rank after one
    // keyed shuffle, and the native TopKPerGroup operator gives the
    // heap-bounded form (never materializing a cell) at scale. The hash
    // order makes the SAME sample come out of any engine, any run —
    // reproducible-training-data discipline.
    "q_sample_cluster" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val (assigned, _) = kmeansAssign(emb,
        kFor(graft.Tables.rowCount(d, "embeddings")), 1)
      clusterSample(assigned)
    })
  )

  /** Per-cluster sample cap for `q_sample_cluster` (the reservoir tier's
    * k, applied per semantic cluster). */
  private val SampleCap = 8

  /** The diversity-sample selection over an assignment — shared by
    * `q_sample_cluster` and the vector-index composition
    * ([[graft.sources.VectorIndex.clusterSample]]): each cluster's
    * [[SampleCap]] members with the smallest deterministic key hash. */
  private[graft] def clusterSample(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("hk", permute(col("vec_id"), 3))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("list_id").orderBy("hk", "vec_id"))
        .cast(IntegerType))
      .filter(col("rk") <= SampleCap)
      .select(col("list_id"), col("rk"), col("vec_id"), col("label"))
      .orderBy("list_id", "rk")

  /** PART-KEYED SemDeDup survivors (r14 — the last trained-geometry
    * composition hole): [[semSurvivors]] run per partition slice in ONE
    * dataflow. `assigned`/`cents` carry `part`; candidates require a
    * shared partition AND cluster AND sign-band bucket, with each
    * slice's OWN size-derived band geometry + RANKED anchor panel (the
    * partitioned-index sub-corpus rule — slice ids are arbitrary).
    * Slice LSH params derive from slice sizes via one bounded
    * parts-row collect. Output matches [[semSurvivors]]:
    * (vec_id, label, list_id, c2c). */
  private[graft] def semSurvivorsByPart(assigned: DataFrame,
      cents: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    val c2c = assigned
      .join(broadcast(cents.select(col("part").as("cpart"), col("c_id"),
          col("c_emb"))),
        col("part") === col("cpart") && col("list_id") === col("c_id"))
      .select(col("part"), col("vec_id"), col("label"), col("embedding"),
        col("list_id"), dotFixed(col("embedding"), col("c_emb")).as("c2c"))
      .localCheckpoint()
    val multi = localize(c2c.groupBy("part", "list_id")
      .agg(count(lit(1)).as("cl_n")).where(col("cl_n") > 1)
      .select("part", "list_id"))
    val pairable = c2c.join(broadcast(multi), Seq("part", "list_id"))
    val geo0 = spark.createDataFrame(
      c2c.groupBy("part").count().collect().toSeq.map { r =>
        val (nb, bt) = Dedup.embeddingLshParams(r.getLong(1))
        (r.getString(0), nb, bt)
      }).toDF("part", "n_bands", "bits")
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("vec_id")
    val anch = c2c.select(col("part"), col("vec_id"), col("embedding"))
      .withColumn("rk", row_number().over(wr))
      .join(broadcast(geo0.select(col("part"),
        (col("n_bands") * col("bits")).as("slots"))), "part")
      .where(col("rk") <= col("slots"))
      .groupBy("part")
      .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")))).as("anchors"))
    val geo = localize(geo0.join(anch, "part"))
    val bands = Dedup.embeddingBandRowsByPart(
      pairable.select(col("part"), col("vec_id"), col("embedding"),
        col("list_id"), col("c2c")),
      geo, carry = Seq("embedding", "list_id", "c2c"), keepKeys = true)
    val xb = bands.select(col("part"), col("vec_id").as("x_id"),
      col("band"), col("bkey"), col("bks").as("x_bks"),
      col("embedding").as("x_emb"), col("list_id").as("x_list"),
      col("c2c").as("x_c2c"))
    val yb = bands.select(col("part").as("y_part"),
      col("vec_id").as("y_id"), col("band").as("y_band"),
      col("bkey").as("y_bkey"), col("bks").as("y_bks"),
      col("embedding").as("y_emb"), col("list_id").as("y_list"),
      col("c2c").as("y_c2c"))
    // the min-shared-band rule — see [[semSurvivors]]
    val dropped = xb.join(yb,
        col("part") === col("y_part") &&
          col("band") === col("y_band") && col("bkey") === col("y_bkey") &&
          col("x_id") =!= col("y_id") && col("x_list") === col("y_list") &&
          !graft.functions.BandPrefixCollides.collides(
            col("x_bks"), col("y_bks"), col("band")) &&
          dotFixed(col("x_emb"), col("y_emb")) >= SemThreshold &&
          (col("y_c2c") < col("x_c2c") ||
            (col("y_c2c") === col("x_c2c") && col("y_id") < col("x_id"))))
      .select(col("x_id").as("vec_id"))
    c2c.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"), col("list_id"), col("c2c"))
  }

  /** PART-KEYED diversity sampling (r14): [[clusterSample]] with the
    * window keyed by (part, list_id) — each SLICE's clusters contribute
    * their capped hash-ordered members; `part` rides the output (slice
    * list ids collide across partitions by construction). */
  private[graft] def clusterSampleByPart(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("hk", permute(col("vec_id"), 3))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("part", "list_id").orderBy("hk", "vec_id"))
        .cast(IntegerType))
      .filter(col("rk") <= SampleCap)
      .select(col("part"), col("list_id"), col("rk"), col("vec_id"),
        col("label"))
      .orderBy("part", "list_id", "rk")

  /** The sample replay at a given Lloyd depth (shared with the indexed
    * composition, which trains at depth 1). */
  private[graft] def sqlClusterSample(iters: Int): String =
    sqlMat(s"""WITH ${sqlKmeans(iters)},
       |h AS (SELECT vec_id, label, list_id,
       |        ${sqlPermute("vec_id", 3)} AS hk FROM a$iters),
       |r AS (SELECT list_id, vec_id, label,
       |        CAST(row_number() OVER (
       |          PARTITION BY list_id ORDER BY hk, vec_id) AS INTEGER) AS rk
       |      FROM h)
       |SELECT list_id, rk, vec_id, label FROM r WHERE rk <= $SampleCap
       |ORDER BY list_id, rk""".stripMargin)

  // ------------------------------------------------------------- oracles

  /** Unrolled DuckDB twin of [[kmeansAssign]]: WITH-blocks ending in
    * assignment `a<iters>` (vec_id, label, embedding, list_id) and the
    * centroids that produced it `ref<iters>` / `cent<iters>`, with the
    * corpus-derived k (√n policy) as a scalar subquery and the round
    * count a generator knob. Each round's assignment replays the
    * TWO-LEVEL rule of [[Similarity.assignListsHier]] block for block:
    * `anc` = the ⌈√k⌉ lowest-id centroids (one row), `cg` = fine
    * centroid → coarse cell (anchors self-assign), `gl` = per-cell
    * centroid lists, `rd`/`rp`/`rm`/`rg` = row → TOP-2 coarse cells
    * (masked-max runner-up), `cx` = the deduped union of the two cells'
    * centroids per row, `a` = fine argmax over that union — dot DESC
    * then c_id, the same lowest-c_id-among-maxima rule as Spark's
    * first-position array_position over a c_id-sorted array. */
  /** The k-policy scalar subquery ([[kFor]] in SQL) — always over the
    * FULL corpus, even when training is sampled (the policy sizes the
    * index for the data it serves, not for the training subset). */
  private def sqlKFor(rel: String): String =
    s"(SELECT GREATEST(8, LEAST(COUNT(*) // 64, " +
      s"CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) FROM $rel)"
  private val sqlK = sqlKFor("embeddings")

  /** One two-level assignment of relation `src` (vec_id, label,
    * embedding) against centroid relation `cc` (c_id, c_emb) → block
    * `a<tag>` — the SQL twin of [[Similarity.assignListsHier]], shared
    * by every Lloyd round and by the sampled build's final full-corpus
    * assignment. */
  private def sqlAssign(tag: String, cc: String, src: String,
      coarse: Int = 2): String = {
    val j = tag
    // COARSE PROBES 1 replay: the runner-up cell degenerates to the
    // argmax cell (g2 = g1), exactly the engine's c = 1 short-circuit
    val g2expr =
      if (coarse == 1) "s.ids[r.p1]"
      else "s.ids[list_position(r.md, list_max(r.md))]"
    s"""anc$j AS (
         |  SELECT list(c_id ORDER BY c_id) AS ids, list(c_emb ORDER BY c_id) AS cl
         |  FROM (SELECT c_id, c_emb, row_number() OVER (ORDER BY c_id) AS rn,
         |               CEIL(SQRT(COUNT(*) OVER ())) AS mm FROM $cc) t
         |  WHERE rn <= mm),
         |cg$j AS (
         |  SELECT c.c_id, c.c_emb,
         |    CASE WHEN list_contains(s.ids, c.c_id) THEN c.c_id
         |         ELSE s.ids[list_position(c.dots, list_max(c.dots))] END AS g
         |  FROM (SELECT c0.c_id, c0.c_emb,
         |          [${sqlDotFixed("c0.c_emb", "s0.cl[ci]")}
         |           for ci in range(1, len(s0.cl) + 1)] AS dots
         |        FROM $cc c0, anc$j s0) c, anc$j s),
         |gl$j AS (
         |  SELECT g, list(c_id ORDER BY c_id) AS ids, list(c_emb ORDER BY c_id) AS cl
         |  FROM cg$j GROUP BY g),
         |rd$j AS (
         |  SELECT e0.vec_id, e0.label, e0.embedding,
         |    [${sqlDotFixed("e0.embedding", "s0.cl[ci]")}
         |     for ci in range(1, len(s0.cl) + 1)] AS dots
         |  FROM $src e0, anc$j s0),
         |rp$j AS (
         |  SELECT vec_id, label, embedding, dots,
         |    list_position(dots, list_max(dots)) AS p1
         |  FROM rd$j),
         |rm$j AS (
         |  SELECT vec_id, label, embedding, p1,
         |    [CASE WHEN i = p1 THEN -1e18 ELSE dots[i] END
         |     for i in range(1, len(dots) + 1)] AS md
         |  FROM rp$j),
         |rg$j AS (
         |  SELECT r.vec_id, r.label, r.embedding, s.ids[r.p1] AS g1,
         |    $g2expr AS g2
         |  FROM rm$j r, anc$j s),
         |cx$j AS (
         |  SELECT r.vec_id, c.c_id, c.c_emb
         |  FROM rg$j r JOIN cg$j c ON c.g = r.g1
         |  UNION
         |  SELECT r.vec_id, c.c_id, c.c_emb
         |  FROM rg$j r JOIN cg$j c ON c.g = r.g2),
         |a$j AS (
         |  SELECT vec_id, label, embedding, list_id FROM (
         |    SELECT r.vec_id, r.label, r.embedding, x.c_id AS list_id,
         |      row_number() OVER (PARTITION BY r.vec_id
         |        ORDER BY ${sqlDotFixed("r.embedding", "x.c_emb")} DESC, x.c_id) AS rn
         |    FROM rg$j r JOIN cx$j x USING (vec_id))
         |  WHERE rn = 1)""".stripMargin
  }

  /** `kFrom` names the relation the k POLICY sizes from — usually the
    * full corpus even when `src` is a subset (the sampled build), but the
    * index-backed incremental replay trains a build whose whole table IS
    * the corpus side, so its k derives from `src` itself. */
  private[graft] def sqlKmeans(iters: Int,
      src: String = "embeddings", coarse: Int = 2,
      kFrom: String = "embeddings"): String =
    sqlKmeansFrom(
      s"""cc0 AS (
         |  SELECT CAST(vec_id AS INTEGER) AS c_id, embedding AS c_emb
         |  FROM $src WHERE vec_id < ${sqlKFor(kFrom)})""".stripMargin,
      iters, src, coarse)

  /** Ranked-seed replay ([[kmeansAssignRanked]]): seeds are the k
    * lowest-id rows of `src` BY RANK (c_id = 0-based row_number), k
    * corpus-derived from `src` itself — the per-partition sub-index
    * geometry, where a sub-corpus's ids need not start at 0. `pfx`
    * namespaces every block (`a<pfx>1`, `ref<pfx>1`, …) so SEVERAL
    * chains — one per pinned partition of a multi-pin search — coexist
    * in one WITH. */
  private[graft] def sqlKmeansRanked(iters: Int, src: String,
      coarse: Int = 2, pfx: String = "", kFrom: String = ""): String = {
    val kExpr = sqlKFor(if (kFrom.isEmpty) src else kFrom)
    sqlKmeansFrom(
      s"""cc${pfx}0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c_id,
         |         embedding AS c_emb
         |  FROM (SELECT vec_id, embedding FROM $src
         |        ORDER BY vec_id LIMIT $kExpr))""".stripMargin,
      iters, src, coarse, pfx)
  }

  /** Ranked sampled-training replay ([[kmeansAssignRankedSampled]]) for
    * a sub-corpus `src`: the decimation force-includes the k LOWEST ids
    * by rank (`thr<pfx>` = the k-th lowest id — the sampled seed equals
    * the unsampled build's), the ranked-seed Lloyd trains over the
    * sample `smp<pfx>` with the k POLICY sized from the slice, and the
    * full slice assigns once (`a<pfx>f`). */
  private[graft] def sqlKmeansRankedSampled(iters: Int, src: String,
      cap: Long, coarse: Int = 2, pfx: String = ""): String = {
    val m = s"(SELECT GREATEST(1, COUNT(*) // $cap) FROM $src)"
    s"""thr$pfx AS (
       |  SELECT MAX(vec_id) AS t FROM (
       |    SELECT vec_id FROM $src ORDER BY vec_id LIMIT ${sqlKFor(src)})),
       |smp$pfx AS (
       |  SELECT e.vec_id, e.label, e.embedding FROM $src e, thr$pfx
       |  WHERE ${sqlPermute("e.vec_id", SampleTrainJ)} % $m = 0
       |     OR e.vec_id <= thr$pfx.t),
       |${sqlKmeansRanked(iters, s"smp$pfx", coarse, pfx, kFrom = src)},
       |${sqlAssign(s"${pfx}f", s"cc$pfx$iters", src, coarse)}""".stripMargin
  }

  private def sqlKmeansFrom(seed: String, iters: Int, src: String,
      coarse: Int, pfx: String = ""): String = {
    val rounds = (1 to iters).map { j0 =>
      val j = s"$pfx$j0"
      val prev = s"a$pfx${j0 - 1}"
      s"""u$j AS (
         |  SELECT list_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000000) AS BIGINT) AS v
         |  FROM $prev, (SELECT unnest(range(1, 65)) AS i) r),
         |sv$j AS (SELECT list_id, i, CAST(SUM(v) AS BIGINT) AS s
         |  FROM u$j GROUP BY list_id, i),
         |n$j AS (SELECT list_id, COUNT(*) AS nv FROM $prev GROUP BY list_id),
         |cent$j AS (
         |  SELECT sv$j.list_id,
         |    list(CAST((CAST(s AS DOUBLE) / 1000000000000) / nv AS FLOAT) ORDER BY i) AS c
         |  FROM sv$j JOIN n$j ON sv$j.list_id = n$j.list_id GROUP BY sv$j.list_id, n$j.nv),
         |ref$j AS (
         |  SELECT list(list_id ORDER BY list_id) AS ids, list(c ORDER BY list_id) AS cl
         |  FROM cent$j),
         |cc$j AS (SELECT list_id AS c_id, c AS c_emb FROM cent$j),
         |${sqlAssign(j, s"cc$j", src, coarse)}""".stripMargin
    }
    (seed +: sqlAssign(s"${pfx}0", s"cc${pfx}0", src, coarse) +: rounds)
      .mkString(",\n")
  }

  /** Sampled-training replay ([[kmeansAssignSampled]]): the Lloyd loop
    * runs over the deterministic training subset `smp` (hash-decimated
    * to ~`cap` rows, anchors force-included so the seed is identical to
    * an unsampled build's), then ONE final full-corpus assignment
    * (block `af`) against the trained centroids — FAISS-style
    * train-on-sample, fully replayable. `ref<iters>` still names the
    * trained centroid row for probe derivation. */
  private[graft] def sqlKmeansSampled(iters: Int, cap: Long): String = {
    val m = s"(SELECT GREATEST(1, COUNT(*) // $cap) FROM embeddings)"
    val smp =
      s"""smp AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE ${sqlPermute("vec_id", SampleTrainJ)} % $m = 0
         |     OR vec_id < $sqlK)""".stripMargin
    s"""$smp,
       |${sqlKmeans(iters, "smp")},
       |${sqlAssign("f", s"cc$iters", "embeddings")}""".stripMargin
  }

  /** Full SemDeDup replay for an `iters`-round Lloyd clustering — shared
    * by `q_dedup_semantic` (iters = [[SemIters]]) and the vector-index
    * composition (`q_dedup_semantic_indexed`, iters = 1 — the index's
    * trained geometry). Candidate pairs replay the BANDED rule: same
    * cluster AND at least one shared sign-band bucket
    * ([[Dedup.sqlEmbeddingBandCtes]] — the same derivation the
    * q_dedup_embedding oracle uses corpus-wide). */
  private[graft] def sqlSemDedup(iters: Int): String = {
    val last = s"a$iters"
    sqlMat(s"""WITH ${sqlKmeans(iters)},
       |${Dedup.sqlEmbeddingBandCtes},
       |scand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id <> y.vec_id),
       |c2c AS (
       |  SELECT a.vec_id, a.label, a.embedding, a.list_id,
       |    ${sqlDotFixed("a.embedding", "c.c")} AS c2c
       |  FROM $last a JOIN cent$iters c USING (list_id)),
       |drp AS (
       |  SELECT DISTINCT x.vec_id FROM c2c x
       |  JOIN scand s ON s.a = x.vec_id
       |  JOIN c2c y ON y.vec_id = s.b
       |  WHERE x.list_id = y.list_id
       |    AND ${sqlDotFixed("x.embedding", "y.embedding")} >= $SemThreshold
       |    AND (y.c2c < x.c2c OR (y.c2c = x.c2c AND y.vec_id < x.vec_id)))
       |SELECT vec_id, label, list_id, c2c FROM c2c
       |WHERE vec_id NOT IN (SELECT vec_id FROM drp) ORDER BY vec_id""".stripMargin)
  }

  /** Index-backed incremental SemDeDup replay
    * (`q_dedup_semantic_indexed_incremental`): the staged corpus is the
    * even-id half, the batch the odd half; the STORED geometry is a
    * depth-1 Lloyd whose k policy sized from the corpus itself (the build
    * sizes the table it indexes), the stored band panel is the corpus's
    * RANKED anchors ([[Dedup.bandAnchorsRanked]] — the `lshanch/`
    * artifact), and the candidate join is batch-bands × corpus-bands ∩
    * shared cluster with the min-id corpus witness — exactly what
    * [[graft.sources.VectorIndex.semDedupIncremental]] serves from the
    * sidecars. */
  private[graft] def sqlSemDedupIndexedIncremental: String = sqlMat(
    s"""WITH corpus AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE vec_id % 2 = 0),
       |batch AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE vec_id % 2 = 1),
       |${sqlKmeans(1, "corpus", kFrom = "corpus")},
       |${sqlAssign("b", "cc1", "batch")},
       |${Dedup.sqlEmbeddingBandSides("corpus",
            Seq(("c", "corpus"), ("n", "batch")), rankedAnchors = true)},
       |im AS (
       |  SELECT nb.vec_id AS vn, MIN(ob.vec_id) AS dup_of
       |  FROM bandsn nb
       |  JOIN bandsc ob ON nb.band = ob.band AND nb.bkey = ob.bkey
       |  JOIN ab bb ON bb.vec_id = nb.vec_id
       |  JOIN a1 oo ON oo.vec_id = ob.vec_id
       |  WHERE bb.list_id = oo.list_id
       |    AND ${sqlDotFixed("bb.embedding", "oo.embedding")} >= $SemThreshold
       |  GROUP BY nb.vec_id)
       |SELECT b.vec_id, im.dup_of, im.dup_of IS NOT NULL AS is_dup
       |FROM batch b LEFT JOIN im ON b.vec_id = im.vn
       |ORDER BY b.vec_id""".stripMargin)

  /** BY PARTITION incremental SemDeDup replay
    * (`q_dedup_semantic_indexed_incremental_partitioned`, r14): ONE
    * prefixed chain per partition value (labels 0-9 in the testdata at
    * every SF) — per-slice ranked depth-1 Lloyd (k sized from the
    * slice), the slice's batch rows assigned against ITS centroids, the
    * slice's own size-derived band geometry + RANKED panel, batch ×
    * corpus bucket ∩ cluster candidates with the min-id witness — then
    * the per-slice matches union (each batch row lives in exactly one
    * partition) and left-join the whole batch, exactly the engine's
    * part-keyed serve ([[graft.sources.VectorIndex.semDedupIncremental]]
    * over a BY PARTITION index). */
  private[graft] def sqlSemDedupIndexedIncrementalPartitioned: String = {
    val chains = (0 to 9).map { l =>
      val pfx = s"i${l}x"
      s"""pi$l AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $l AND vec_id % 2 = 0),
         |bi$l AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $l AND vec_id % 2 = 1),
         |${sqlKmeansRanked(1, s"pi$l", pfx = pfx)},
         |${sqlAssign(s"i${l}b", s"cc${pfx}1", s"bi$l")},
         |${Dedup.sqlEmbeddingBandSides(s"pi$l",
              Seq((s"i${l}c", s"pi$l"), (s"i${l}n", s"bi$l")),
              rankedAnchors = true, pfx = s"i$l")},
         |im$l AS (
         |  SELECT nb.vec_id AS vn, MIN(ob.vec_id) AS dup_of
         |  FROM bandsi${l}n nb
         |  JOIN bandsi${l}c ob ON nb.band = ob.band AND nb.bkey = ob.bkey
         |  JOIN ai${l}b bb ON bb.vec_id = nb.vec_id
         |  JOIN a${pfx}1 oo ON oo.vec_id = ob.vec_id
         |  WHERE bb.list_id = oo.list_id
         |    AND ${sqlDotFixed("bb.embedding", "oo.embedding")} >= $SemThreshold
         |  GROUP BY nb.vec_id)""".stripMargin
    }
    sqlMat(
      s"""WITH ${chains.mkString(",\n")}
         |SELECT b.vec_id, im.dup_of, im.dup_of IS NOT NULL AS is_dup
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) b
         |LEFT JOIN (${(0 to 9).map(l => s"SELECT * FROM im$l")
               .mkString(" UNION ALL ")}) im
         |  ON b.vec_id = im.vn
         |ORDER BY b.vec_id""".stripMargin)
  }

  /** BY PARTITION SemDeDup replay (`q_dedup_semantic_partitioned`, r14):
    * one prefixed chain per partition value — per-slice ranked depth-1
    * Lloyd (the stored sub-geometry), the slice's own size-derived band
    * geometry + RANKED panel, within-slice banded candidates, the
    * keep-the-outlier witness — unioned, exactly the engine's
    * part-keyed [[semSurvivorsByPart]] over a partitioned index. */
  private[graft] def sqlSemDedupPartitioned: String = {
    val chains = (0 to 9).map { l =>
      val pfx = s"s${l}x"
      s"""ps$l AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $l),
         |${sqlKmeansRanked(1, s"ps$l", pfx = pfx)},
         |${Dedup.sqlEmbeddingBandSides(s"ps$l", Seq((s"sd$l", s"ps$l")),
              rankedAnchors = true, pfx = s"sd$l")},
         |scand$l AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bandssd$l x JOIN bandssd$l y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |      AND x.vec_id <> y.vec_id),
         |cxc$l AS (
         |  SELECT a.vec_id, a.label, a.embedding, a.list_id,
         |    ${sqlDotFixed("a.embedding", "c.c")} AS c2c
         |  FROM a${pfx}1 a JOIN cent${pfx}1 c USING (list_id)),
         |drp$l AS (
         |  SELECT DISTINCT x.vec_id FROM cxc$l x
         |  JOIN scand$l s ON s.a = x.vec_id
         |  JOIN cxc$l y ON y.vec_id = s.b
         |  WHERE x.list_id = y.list_id
         |    AND ${sqlDotFixed("x.embedding", "y.embedding")} >= $SemThreshold
         |    AND (y.c2c < x.c2c OR (y.c2c = x.c2c AND y.vec_id < x.vec_id))),
         |sv$l AS (
         |  SELECT vec_id, label, list_id, c2c FROM cxc$l
         |  WHERE vec_id NOT IN (SELECT vec_id FROM drp$l))""".stripMargin
    }
    sqlMat(
      s"""WITH ${chains.mkString(",\n")}
         |SELECT vec_id, label, list_id, c2c
         |FROM (${(0 to 9).map(l => s"SELECT * FROM sv$l")
               .mkString(" UNION ALL ")})
         |ORDER BY vec_id""".stripMargin)
  }

  /** BY PARTITION diversity-sample replay
    * (`q_sample_cluster_partitioned`, r14): per-slice ranked chain +
    * per-(slice, cluster) capped hash-ordered window, part = the
    * partition value's string form. */
  private[graft] def sqlClusterSamplePartitioned: String = {
    val chains = (0 to 9).map { l =>
      val pfx = s"c${l}x"
      s"""pc$l AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label = $l),
         |${sqlKmeansRanked(1, s"pc$l", pfx = pfx)},
         |smp$l AS (
         |  SELECT CAST($l AS VARCHAR) AS part, list_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY list_id
         |      ORDER BY ${sqlPermute("vec_id", 3)}, vec_id) AS INTEGER)
         |      AS rk,
         |    vec_id, label
         |  FROM a${pfx}1)""".stripMargin
    }
    sqlMat(
      s"""WITH ${chains.mkString(",\n")}
         |SELECT part, list_id, rk, vec_id, label
         |FROM (${(0 to 9).map(l => s"SELECT * FROM smp$l")
               .mkString(" UNION ALL ")})
         |WHERE rk <= $SampleCap
         |ORDER BY part, list_id, rk""".stripMargin)
  }

  def oracles: Map[String, String] = Map(
    "q_embed_kmeans" -> {
      val last = s"a$KmeansIters"
      sqlMat(s"""WITH ${sqlKmeans(KmeansIters)},
         |uf AS (
         |  SELECT list_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000000) AS BIGINT) AS v
         |  FROM $last, (SELECT unnest(range(1, 65)) AS i) r),
         |svf AS (SELECT list_id, i, CAST(SUM(v) AS BIGINT) AS s FROM uf GROUP BY list_id, i),
         |nf AS (SELECT list_id, COUNT(*) AS nv FROM $last GROUP BY list_id),
         |centf AS (
         |  SELECT svf.list_id, nf.nv,
         |    list((CAST(s AS DOUBLE) / 1000000000000) / nv ORDER BY i) AS c
         |  FROM svf JOIN nf ON svf.list_id = nf.list_id GROUP BY svf.list_id, nf.nv)
         |SELECT CAST(list_id AS INTEGER) AS list_id, nv AS n_vecs,
         |  c[1] AS c1, c[32] AS c32, c[64] AS c64,
         |  CAST(list_sum([CAST(floor(x * 1000000) AS BIGINT) for x in c]) AS BIGINT) AS cchk
         |FROM centf ORDER BY list_id""".stripMargin)
    },
    "q_dedup_semantic" -> sqlSemDedup(SemIters),
    // Incremental replay: corpus-only Lloyd (full-table k policy), batch
    // assigned against the trained centroids (block `ab`), shared band
    // derivation over the whole table, batch×corpus bucket candidates,
    // min-id corpus witness.
    "q_dedup_semantic_incremental" -> sqlMat(
      s"""WITH corpus AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE vec_id % 2 = 0),
         |batch AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  WHERE vec_id % 2 = 1),
         |${sqlKmeans(1, "corpus")},
         |${sqlAssign("b", "cc1", "batch")},
         |${Dedup.sqlEmbeddingBandCtes},
         |icand AS (
         |  SELECT DISTINCT nb.vec_id AS vn, ob.vec_id AS vo
         |  FROM bands nb JOIN bands ob
         |    ON nb.band = ob.band AND nb.bkey = ob.bkey
         |  WHERE nb.vec_id % 2 = 1 AND ob.vec_id % 2 = 0),
         |im AS (
         |  SELECT c.vn, MIN(c.vo) AS dup_of
         |  FROM icand c
         |  JOIN ab nn ON nn.vec_id = c.vn
         |  JOIN a1 oo ON oo.vec_id = c.vo
         |  WHERE nn.list_id = oo.list_id
         |    AND ${sqlDotFixed("nn.embedding", "oo.embedding")} >= $SemThreshold
         |  GROUP BY c.vn)
         |SELECT b.vec_id, im.dup_of, im.dup_of IS NOT NULL AS is_dup
         |FROM batch b LEFT JOIN im ON b.vec_id = im.vn
         |ORDER BY b.vec_id""".stripMargin),
    // The c = 1 geometry replayed end-to-end (g2 = g1 in every round's
    // assignment), probe list straight off the final assignment.
    "q_vector_search_recall_coarse" -> {
      val dot = sqlDotFixed("e.embedding", "p.pv")
      val ivf = sqlDotFixed("a.embedding", "p.pv")
      sqlMat(s"""WITH ${sqlKmeans(1, coarse = 1)},
         |probe AS (
         |  SELECT embedding AS pv, list_id AS p_list FROM a1 WHERE vec_id = 0),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, $dot AS sim FROM embeddings e, probe p
         |    ORDER BY sim DESC, vec_id LIMIT 10)),
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT a.vec_id, $ivf AS sim
         |    FROM a1 a JOIN probe p ON a.list_id = p.p_list
         |    ORDER BY sim DESC, a.vec_id LIMIT 10))
         |SELECT COUNT(*) AS n_true,
         |  COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS n_found,
         |  CAST(COUNT(CASE WHEN x.vec_id IS NOT NULL THEN 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact LEFT JOIN approx x ON exact.vec_id = x.vec_id""".stripMargin)
    },
    "q_decontaminate_semantic" ->
      s"""SELECT t.vec_id, t.label FROM embeddings t
         |WHERE t.label <> 9 AND NOT EXISTS (
         |  SELECT 1 FROM embeddings e WHERE e.label = 9
         |    AND ${sqlDotFixed("t.embedding", "e.embedding")} >= $SemThreshold)
         |ORDER BY vec_id""".stripMargin,
    "q_sample_cluster" -> sqlClusterSample(1)
  )
}
