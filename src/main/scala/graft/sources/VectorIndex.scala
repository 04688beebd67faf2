package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

import ManifestTable.{coverageAndDrift, digestOf, dvDigestOf, scanFiles, writeCovered}

/** FILE-LEVEL IVF VECTOR INDEX over a managed table's `array<float>`
  * column — ANN with file skipping, the embedding twin of [[TextIndex]]:
  * the corpus is k-means-clustered once at build time, and a probe search
  * plans ONLY the files containing its cluster's members.
  *
  * The index stores two parquet sidecars under `_vecidx_<id>/` inside the
  * table directory:
  *  - `cents/` — the trained centroids `(c_id, c_emb)` (k×dim floats;
  *    plus a `part` column for BY PARTITION sub-indexes);
  *  - `posts/` — the list→file posting `(list_id, file)`: which files
  *    hold at least one vector of each cluster.
  * published by a props-only commit `vecidx.<col>` ([[Prop]]: index dir,
  * anchor column, SHA-256 digest over the indexed file names — the
  * [[TextIndex]] freshness contract — the assignment-algorithm version,
  * and the build's LISTS/SAMPLE/COARSE-PROBES/BY-PARTITION policy, so
  * serving always re-derives exactly as the build did).
  *
  * SEARCH SEMANTICS ARE EXACT IVF, file pruning is only I/O: a probe
  * assigns to its nearest stored centroid, candidate files come from the
  * posting list, and the scan re-derives each row's cluster from the SAME
  * broadcast centroids before filtering to the probe's list — so the
  * result equals the IVF query computed without any index (and the DuckDB
  * oracle replays it from the raw data). A stale index (file set changed)
  * RETRAINS on the fly from the declared anchor column — same output as a
  * fresh rebuild, no pruning — so correctness never depends on rebuild
  * discipline. Deletion vectors change no file names: the posting just
  * over-approximates and the scan-side filter is exact either way.
  *
  * SERVING is one pipeline ([[serve]]) behind every search and kNN-join
  * entry point, in four stages, each written once:
  *  1. snapshot — the live manifest under the `spark.graft.index.onStale`
  *     policy ([[onStale]]: `fail` refuses, `refresh` runs ONE bounded
  *     catch-up and re-serves, `retrain` replays), or a VERSION AS OF
  *     manifest under the retrain posture (refreshing would mutate
  *     CURRENT state to serve the past) with every scan pinned to that
  *     snapshot's files and DV state. The stored sidecars serve iff the
  *     prop's digest matches the snapshot's file set and — at a version —
  *     every sidecar the serve reads survived VACUUM;
  *  2. geometry source — the stored `cents/`, `posts/`, `pqcb/`, `codes/`
  *     sidecars, or the in-query retrain under the prop's persisted
  *     LISTS/SAMPLE policy (a rebuild's exact answer, no pruning). Both
  *     key by `list_id`, `(part, list_id)` BY PARTITION, where the
  *     predicate's partition pins ([[partitionPins]]) route to the pinned
  *     sub-geometries — no pin = every partition — and pin every row set;
  *  3. scorer — the exact fixed-point dot over candidates that re-derive
  *     their list under the geometry, or PQ: the ADC pre-rank over the
  *     narrow codes (embeddings unread), the top `rerank` per (query,
  *     part) materialized, and an exact rerank of only those survivors;
  *  4. shape — one probe (its `probes` nearest lists, a bounded
  *     `(sim desc, vec_id)` heap, output `(vec_id, list_id, sim)`) or a
  *     batch carrying the table's id + embedding columns (each row's home
  *     list by flat argmax, a per-row `(sim desc, nn_id)` window, output
  *     `(vec_id, rank, nn_id, sim)`); each shape has one empty result, in
  *     its ranked schema.
  * THE FILTERED-ANN RULE: a predicate narrows the CANDIDATES before any
  * cutoff — filtering a top-k's output would under-fill it. It evaluates
  * scan-side over the probed lists' files (pushdown and zone-map skipping
  * stack with the posting pruning), at a version against that snapshot's
  * rows. THE PQ RULE: the predicate semi-joins the codes before the ADC
  * cutoff (the probed files scan for its columns only), so a selective
  * filter never under-fills the rerank budget; the answer is the exact
  * top-k among the ADC-top-`rerank` candidates, equal to the exact
  * scorer's once `rerank` covers the probed lists. Every step is
  * deterministic (anchor seeds, first-max tie-breaks, fixed-point
  * scores), so the DuckDB oracle replays each path from raw data.
  *
  * Anchors are declared DDL-side (`CREATE VECTOR INDEX ON t (col)
  * ANCHORS (idCol)`): the k lowest idCol rows seed the one-refinement
  * Lloyd loop ([[graft.llm.Clustering.kmeansAssign]]), k corpus-derived
  * (n/64 capped at ⌈√n⌉, floor 8 — [[graft.llm.Clustering.kFor]]); row
  * assignment is the two-level coarse-quantizer join
  * ([[graft.llm.Similarity.assignListsHier]]), so build work is O(n·√k)
  * per Lloyd round and no broadcast exceeds the ≤√n-row centroid table.
  * Deterministic anchors are what make the trained geometry replayable
  * by an external oracle — the engine's reproducible-training-data story
  * applied to the index itself.
  *
  * Scale: build is the Lloyd loop's cost (broadcast assign + k×dim
  * fixed-point aggregate) plus one distinct over (list, file) — metadata
  * volume. Search reads k centroids and one posting list driver-side
  * (the usual planning class), then scans candidate files only: at 100 TB
  * a probe touches ~1/k of the table's files. */
object VectorIndex {
  private[sources] val PropPrefix = "vecidx."
  private val Iters = 1 // one Lloyd refinement — the IVF training standard

  /** Row-assignment algorithm version stamped into the prop: `h2` = the
    * two-level coarse-quantizer assignment
    * ([[graft.llm.Similarity.assignListsHier]]). Serving re-derives each
    * row's cluster with the CURRENT assigner, so an index whose postings
    * were written by a different assigner (the pre-h2 flat argmax) can
    * silently lose rows — a row in stored list A that re-derives to list
    * B never passes the list filter. A version mismatch therefore makes
    * the index STALE (the onStale policy applies) and [[refresh]]
    * migrates it with a full rebuild — the [[TextIndex]]
    * legacy-stats-format rule applied to geometry. */
  private[sources] val AssignVersion = "h2"

  /** Decoded `vecidx.<col>` prop. Legacy 3-field props (flat-assigner
    * builds) parse with `version = "flat"` and no build options; current
    * props carry the assignment version plus the build's
    * LISTS/SAMPLE/COARSE-PROBES policy so serve-time re-derivation and
    * stale in-query retrains replay what THIS build did, not the
    * defaults (a coarse-probe mismatch between build and serve would
    * silently drop rows, the same failure mode as the assigner-version
    * mismatch). */
  private[sources] final case class Prop(idxName: String, idCol: String,
      digest: String, version: String, lists: Option[Long],
      sample: Option[Long], coarse: Int = 2,
      partCol: Option[String] = None, dvDigest: Option[String] = None) {
    def isCurrent(curDigest: String): Boolean =
      digest == curDigest && version == AssignVersion
  }
  private[sources] def parseProp(v: String): Prop = v.split(";", -1) match {
    case Array(i, c, d) => Prop(i, c, d, "flat", None, None)
    case Array(i, c, d, ver, l, s) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong))
    case Array(i, c, d, ver, l, s, cp) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt)
    case Array(i, c, d, ver, l, s, cp, pc) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt,
      Some(pc).filter(_ != "-"))
    case Array(i, c, d, ver, l, s, cp, pc, dvd) => Prop(i, c, d, ver,
      Some(l).filter(_ != "-").map(_.toLong),
      Some(s).filter(_ != "-").map(_.toLong), cp.toInt,
      Some(pc).filter(_ != "-"), Some(dvd).filter(_ != "-"))
    case _ => throw new IllegalStateException(
      s"unreadable vecidx prop '$v' — expected 3 (legacy) or 6-9 fields")
  }
  private def renderProp(idxName: String, idCol: String, digest: String,
      lists: Option[Long], sample: Option[Long], coarse: Int,
      partCol: Option[String] = None, dvDigest: String = "-"): String =
    Seq(idxName, idCol, digest, AssignVersion,
      lists.map(_.toString).getOrElse("-"),
      sample.map(_.toString).getOrElse("-"), coarse.toString,
      partCol.getOrElse("-"), dvDigest).mkString(";")

  /** The stale/legacy retrain shared by every in-query replay path:
    * exactly what a CREATE VECTOR INDEX rebuild would train — the
    * PERSISTED LISTS/SAMPLE policy (not the defaults), corpus-derived k
    * otherwise. */
  private def retrainGeometry(rows: DataFrame,
      p: Prop): (DataFrame, DataFrame) = retrainGeometry(rows, p, rows.count())

  private def retrainGeometry(rows: DataFrame, p: Prop,
      n: Long): (DataFrame, DataFrame) = {
    val k = p.lists.getOrElse(graft.llm.Clustering.kFor(n))
    p.sample match {
      case Some(cap) =>
        graft.llm.Clustering.kmeansAssignSampled(rows, k, Iters, cap, n,
          p.coarse)
      case None => graft.llm.Clustering.kmeansAssign(rows, k, Iters, p.coarse)
    }
  }

  /** The RANKED twin of [[retrainGeometry]] for BY PARTITION slices
    * (ranked seeds, sample-aware since r13) — what a slice rebuild
    * trains, replayed in-query by the stale paths. */
  private def retrainGeometryRanked(rows: DataFrame, p: Prop,
      n: Long): (DataFrame, DataFrame) = {
    val k = p.lists.getOrElse(graft.llm.Clustering.kFor(n))
    p.sample match {
      case Some(cap) =>
        graft.llm.Clustering.kmeansAssignRankedSampled(rows, k, Iters, cap,
          n, p.coarse)
      case None =>
        graft.llm.Clustering.kmeansAssignRanked(rows, k, Iters, p.coarse)
    }
  }

  /** What a QUERY does when it meets a stale index
    * (`spark.graft.index.onStale`): `retrain` (default) recomputes the
    * geometry from the declared anchors inside the query — always correct
    * and oracle-replayable from the current corpus, but at scale that is
    * a surprise full-table clustering per probe; `refresh` runs the
    * bounded incremental [[refresh]] first (dead postings drop, new files
    * assign against the stored geometry) and then serves from the index —
    * the production posture; `fail` refuses loudly, for deployments that
    * want rebuild discipline enforced rather than absorbed. */
  private[sources] def onStale(spark: SparkSession): String =
    spark.conf.get("spark.graft.index.onStale", "retrain") match {
      case p @ ("retrain" | "refresh" | "fail") => p
      case other => throw new IllegalArgumentException(
        s"spark.graft.index.onStale=$other — expected retrain|refresh|fail")
    }

  /** `onStale=refresh` makes a READ publish: the catch-up takes the
    * table's commit lock and writes a new `_manifest` version (index
    * prop swap) from inside a SELECT-shaped query. That is the intended
    * production posture — one reader absorbs the churn, every later
    * reader serves indexed — but it surprises deployments whose query
    * path holds read-only storage credentials (the publish would fail
    * halfway through a commit). `spark.graft.index.readOnly = true`
    * declares such a deployment: the refresh policy then refuses UP
    * FRONT with guidance, shared by both index tiers. */
  private[sources] def refuseRefreshIfReadOnly(spark: SparkSession,
      op: String): Unit =
    if (spark.conf.get("spark.graft.index.readOnly", "false").toBoolean)
      throw new IllegalStateException(
        s"$op: spark.graft.index.onStale=refresh would PUBLISH a new " +
          "index version from inside a read (commit lock + _manifest " +
          "write), but spark.graft.index.readOnly=true — use " +
          "onStale=retrain|fail, or run REFRESH … INDEX from a writer")

  private def staleRefused(op: String, table: String): Nothing =
    throw new IllegalStateException(
      s"$op: the vector index on $table is STALE and " +
        "spark.graft.index.onStale=fail — run REFRESH VECTOR INDEX (or " +
        "CREATE VECTOR INDEX to retrain) first")

  private def checkCols(m: Manifest, colName: String, idCol: String): Unit = {
    def field(c: String) =
      m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: column $c not in table schema " +
            s"(${m.schema.fieldNames.mkString(", ")})"))
    field(colName).dataType match {
      case ArrayType(FloatType, _) => ()
      case t => throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: column $colName is ${t.sql}, " +
          "only ARRAY<FLOAT> columns index")
    }
    field(idCol) // anchors column must exist; any orderable type works
  }

  /** Train (k-means, one refinement, anchors = k lowest `idCol` rows) and
    * publish. `lists` overrides the corpus-derived k
    * ([[graft.llm.Clustering.kFor]]) — the geometry is a POLICY: a
    * deployment whose SemDeDup/pair-join work dominates raises k for
    * smaller cells, one tuning recall-per-probe lowers it. `sample`
    * trains the quantizer on a deterministic ~sample-row subset and
    * assigns the full corpus once
    * ([[graft.llm.Clustering.kmeansAssignSampled]]) — the FAISS-style
    * build whose training cost is bounded regardless of corpus size.
    * `byPartition` trains ONE GEOMETRY PER PARTITION VALUE
    * ([[buildByPartition]]) so partition pruning composes with list
    * pruning. Returns (files indexed, clusters trained). */
  def build(spark: SparkSession, dir: Path, colName: String,
      idCol: String, lists: Option[Long] = None,
      sample: Option[Long] = None, coarse: Int = 2,
      byPartition: Boolean = false): (Long, Long) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"CREATE VECTOR INDEX: no manifest at $dir"))
    checkCols(m, colName, idCol)
    if (byPartition)
      return buildByPartition(spark, dir, m, colName, idCol, lists, sample,
        coarse)
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    val k = if (names.isEmpty) {
      // the index invariant: published ⇒ cents/posts exist (empty here),
      // so fresh searches answer empty and refresh remaps cleanly
      emptyCents(spark, withPart = false)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = false)
        .write.parquet(idxDir.resolve("posts").toString)
      0L
    } else {
      val base = scanFiles(spark, dir, names)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file"))
      val n = base.count()
      val k = lists.map { l =>
        if (l < 1) throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: LISTS $l is invalid — at least 1 cluster")
        l
      }.getOrElse(graft.llm.Clustering.kFor(n))
      // the Lloyd loop seeds from rows with id < k (what makes the trained
      // geometry replayable by an external oracle) — a sparse id column
      // that leaves the anchor range empty must fail loudly, not train a
      // zero-centroid index
      if (base.filter(col("vec_id") < k).limit(1).count() == 0L)
        throw new IllegalArgumentException(
          s"CREATE VECTOR INDEX: anchor column $idCol has no values below " +
            s"k=$k — anchors are the k lowest-id rows, so the id range " +
            "must start at 0 (dense ids; re-key or pick another column)")
      val rows = base.select("vec_id", "label", "embedding")
      val (assigned, cents) = sample match {
        case Some(cap) =>
          if (cap < 1) throw new IllegalArgumentException(
            s"CREATE VECTOR INDEX: SAMPLE $cap is invalid — at least 1 row")
          graft.llm.Clustering.kmeansAssignSampled(rows, k, Iters, cap, n,
            coarse)
        case None => graft.llm.Clustering.kmeansAssign(rows, k, Iters, coarse)
      }
      cents.write.parquet(idxDir.resolve("cents").toString)
      // MATERIALIZE the (vec_id, list_id) assignment once: both the
      // postings write and the PQ codes write consume it, and the
      // assignment lineage is a full O(n·√k) pass — without the cut the
      // codes write would re-run it over the whole corpus. Two narrow
      // columns, spill-capable.
      val listsDf = assigned.select(col("vec_id"), col("list_id"))
        .localCheckpoint()
      // re-join the assignment to its files via the id column (the Lloyd
      // helper's schema is fixed); one shuffle on the id, distinct postings
      listsDf
        .join(base.select(col("vec_id"), col("file")), "vec_id")
        .select(col("list_id"), col("file")).distinct()
        .write.parquet(idxDir.resolve("posts").toString)
      writePqSidecars(idxDir, base, listsDf, n)
      writeBandSidecars(idxDir, base, listsDf, n)
      k
    }
    writeCovered(spark, idxDir, m, names)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (PropPrefix + colName.toLowerCase ->
          renderProp(idxName, idCol, digestOf(m), lists, sample, coarse,
            dvDigest = dvDigestOf(m)))))
    }
    (names.length.toLong, k)
  }

  /** PER-PARTITION SUB-INDEXES (`CREATE VECTOR INDEX … BY PARTITION`):
    * one trained geometry + posting set per partition VALUE of the
    * table's declared partition column, so partition pruning composes
    * with list pruning — a partition-pinned probe loads ~k_p centroids
    * and plans ~1/k_p of ONE partition's files, never touching the rest
    * of the table (the DiskANN/Milvus partition-key serving shape).
    * Storage: the same `cents/`/`posts/` sidecars with a `part` string
    * column (the partition value through Spark's string cast) — the
    * whole centroid table is Σ_p k_p rows, still metadata-class.
    * Seeding is RANKED ([[graft.llm.Clustering.kmeansAssignRanked]]):
    * a sub-corpus's ids need not start at 0, so anchors are the k_p
    * lowest-id rows by rank — deterministic and oracle-replayable like
    * the dense-anchor rule. The driver loop is bounded by the partition
    * count (the usual planning-class iteration); each partition's Lloyd
    * work is the standard O(n_p·√k_p). SAMPLE composes per partition
    * (r13 — the r12 refusal was wrong at scale: ONE partition of a
    * 100 TB table can be terabytes, where sampled training is exactly
    * what keeps the sub-index buildable): each slice trains on its own
    * ranked-seeded decimation
    * ([[graft.llm.Clustering.kmeansAssignRankedSampled]]) and assigns
    * its full slice once. PQ sidecars are built PER PARTITION (r13):
    * ranked-seeded codebooks + codes keyed by `part`, so `RERANK …
    * USING PQ` serves pinned, multi-pin and global searches — ADC
    * compression is what bounds candidate I/O inside a terabyte
    * partition. */
  private def buildByPartition(spark: SparkSession, dir: Path, m: Manifest,
      colName: String, idCol: String, lists: Option[Long],
      sample: Option[Long], coarse: Int): (Long, Long) = {
    sample.foreach { cap =>
      if (cap < 1) throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: SAMPLE $cap is invalid — at least 1 row")
    }
    val partCols = Manifest.partitionCols(dir)
    if (partCols.size != 1) throw new IllegalArgumentException(
      "CREATE VECTOR INDEX … BY PARTITION: the table must be PARTITIONED " +
        s"BY exactly one column (found: ${partCols.mkString(", ")})")
    val partCol = partCols.head
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    var totalK = 0L
    if (names.nonEmpty) {
      // ONE scan, every slice trained in one part-keyed dataflow (r14 —
      // the build itself no longer loops the driver over partitions);
      // the string form of the partition value is what the sidecars
      // store and the serve-time pin compares against
      val base = scanFiles(spark, dir, names)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file"),
          col(partCol).cast("string").as("part"))
      val (cents, posts, cb, codes, lshanch, bands, k) =
        buildPartitionSlices(spark, base, lists, sample, coarse)
      totalK = k
      emptyCents(spark, withPart = true).unionByName(cents)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = true).unionByName(posts)
        .write.parquet(idxDir.resolve("posts").toString)
      // per-partition PQ sidecars — every non-empty slice has a ranked
      // codebook (never empty, unlike the global id-bounded rule), so
      // presence is all-or-nothing per index version
      cb.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
      codes.write.parquet(idxDir.resolve("codes").toString)
      // per-partition incremental-dedup sidecars (r14): slice-keyed LSH
      // panels + corpus band rows — what lets semDedupIncremental serve
      // a date-partitioned corpus without a second global index
      lshanch.coalesce(1)
        .write.parquet(idxDir.resolve("lshanch").toString)
      bands.write.parquet(idxDir.resolve("bands").toString)
    } else {
      // a published index ALWAYS has cents/posts sidecars — an empty
      // table publishes empty ones, so fresh searches answer empty and
      // refreshes remap cleanly instead of dying on a missing path
      emptyCents(spark, withPart = true)
        .write.parquet(idxDir.resolve("cents").toString)
      emptyPosts(spark, withPart = true)
        .write.parquet(idxDir.resolve("posts").toString)
    }
    writeCovered(spark, idxDir, m, names)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (PropPrefix + colName.toLowerCase ->
          renderProp(idxName, idCol, digestOf(m), lists, sample, coarse,
            Some(partCol), dvDigest = dvDigestOf(m)))))
    }
    (names.length.toLong, totalK)
  }

  /** Empty sidecar frames with the exact stored schemas — what an empty
    * table's build publishes (the index invariant: published ⇒ cents/
    * posts exist), and the schema anchor for the slice unions. */
  private def emptyCents(spark: SparkSession, withPart: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = Seq(StructField("c_id", IntegerType),
      StructField("c_emb", ArrayType(FloatType))) ++
      (if (withPart) Seq(StructField("part", StringType)) else Nil)
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], StructType(fields))
  }
  private def emptyPosts(spark: SparkSession, withPart: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = (if (withPart) Seq(StructField("part", StringType)) else Nil) ++
      Seq(StructField("list_id", IntegerType), StructField("file", StringType))
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row], StructType(fields))
  }

  /** Train EVERY partition value's sub-geometry + sidecars from `base`
    * (vec_id, label, embedding, file, part) in ONE part-keyed dataflow
    * (r14 — formerly a sequential per-slice driver loop: per-slice
    * count + Lloyd + codebook + band jobs made the BUILD itself
    * O(parts) in driver round-trips at a daily-partitioned table).
    * Per part this trains exactly what the per-slice loop trained —
    * ranked SAMPLE-aware Lloyd ([[graft.llm.Clustering
    * .kmeansAssignRankedByPart]]), ranked PQ codebooks
    * ([[trainPqCodebookRankedByPart]]), per-slice size-derived LSH
    * geometry + RANKED panels — so the sidecar CONTENTS are
    * row-identical and every serve-path hash holds. The one driver
    * read is a bounded parts-row counts collect (it sizes each
    * slice's LSH geometry and the returned Σk). Returns
    * (cents, posts, pqcb, codes, lshanch, bands, Σ k_p). */
  private def buildPartitionSlices(spark: SparkSession, base: DataFrame,
      lists: Option[Long], sample: Option[Long], coarse: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
         Long) = {
    import graft.llm.Similarity
    lists.foreach { l =>
      if (l < 1) throw new IllegalArgumentException(
        s"CREATE VECTOR INDEX: LISTS $l is invalid — at least 1 cluster")
    }
    val rows = base.select(col("part"), col("vec_id"), col("label"),
      col("embedding"))
    val (assigned, cents) = graft.llm.Clustering.kmeansAssignRankedByPart(
      rows, Iters, coarse, lists, sample)
    // MATERIALIZE the (part, vec_id, list_id) assignment once: postings,
    // PQ codes and band rows all consume it — three narrow columns,
    // spill-capable (the global build's materialization rule)
    val listsDf = assigned.select(col("part"), col("vec_id"),
      col("list_id")).localCheckpoint()
    // every assignment join below keys on (part, vec_id), never vec_id
    // alone (r15 advice): the ANCHORS id only has to be unique WITHIN a
    // partition, and a date-partitioned corpus commonly repeats ids
    // across slices — a vec_id-only join would cross-wire list_ids
    // between partitions silently
    val files = base.select(col("part"), col("vec_id"), col("file"))
    val posts = listsDf.join(files, Seq("part", "vec_id"))
      .select(col("part"), col("list_id"), col("file")).distinct()
    // per-part RANKED codebooks + codes (each slice's pair equals the
    // per-slice trainer's — the C242 stale-replay helper, reused);
    // MATERIALIZED once: the sidecar write and the encode broadcast
    // both consume it (Σ_p × PqCbK rows)
    val cb = trainPqCodebookRankedByPart(
      base.select(col("part"), col("vec_id"), col("embedding")))
      .coalesce(1).localCheckpoint()
    val cbArrByPart = cb.groupBy("part")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_emb"))))
        .as("cents"))
    val codes = (0 until Similarity.PqM).foldLeft(
        base.select(col("part"), col("vec_id"), col("embedding"))
          .join(broadcast(cbArrByPart), "part")) { (df, b) =>
        df.withColumn(s"code$b",
          Similarity.pqCode(col("cents"), col("embedding"), b))
      }
      .join(listsDf, Seq("part", "vec_id"))
      .join(files, Seq("part", "vec_id"))
      .select(Seq(col("part"), col("vec_id"), col("list_id"),
        col("file")) ++
        (0 until Similarity.PqM).map(b => col(s"code$b")): _*)
    // per-slice LSH geometry from slice sizes (ONE bounded parts-row
    // collect) + RANKED anchor panels via a rank window — the
    // incremental-dedup sidecar pair, every slice in one pass
    val counts = rows.groupBy("part").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val geo0 = spark.createDataFrame(counts.toSeq.map { case (pv, n) =>
      val (nb, bt) = graft.llm.Dedup.embeddingLshParams(n)
      (pv, nb, bt)
    }).toDF("part", "n_bands", "bits")
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("vec_id")
    val anchByPart = rows.select(col("part"), col("vec_id"),
        col("embedding"))
      .withColumn("rk", row_number().over(wr))
      .join(broadcast(geo0.select(col("part"),
        (col("n_bands") * col("bits")).as("slots"))), "part")
      .where(col("rk") <= col("slots"))
      .groupBy("part")
      .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")))).as("anchors"))
    val lshanch = geo0.join(anchByPart, "part")
      .select(col("part"), col("n_bands"), col("bits"), col("anchors"))
      .coalesce(1).localCheckpoint()
    val bands = graft.llm.Dedup.embeddingBandRowsByPart(
        base.select(col("part"), col("vec_id"), col("embedding"),
          col("file")),
        lshanch, carry = Seq("file"))
      .join(listsDf, Seq("part", "vec_id"))
      .select(col("part"), col("vec_id"), col("band"), col("bkey"),
        col("list_id"), col("file"))
    val totalK = counts.map { case (_, n) =>
      lists.getOrElse(graft.llm.Clustering.kFor(n))
    }.sum
    (cents.select(col("c_id"), col("c_emb"), col("part")), posts,
      cb.select(col("c_id"), col("c_emb"), col("part")), codes, lshanch,
      bands, totalK)
  }

  /** The pin(s) a BY PARTITION probe must carry: some conjunct of the
    * predicate of shape `<partCol> = <literal>` (either side) or
    * `<partCol> IN (<literals>)` — the multi-pin serving shape ("search
    * these two dates"). Literals route to sub-indexes through the SAME
    * rendering the build used: cast to the TABLE's partition-column
    * type, then to string — so a DATE pin renders "2024-06-01" (not the
    * internal day count), and an integer literal against a DOUBLE
    * partition renders "1.0". A literal that cannot cast to the
    * partition type pins nothing (it can match no partition); a
    * predicate with no pinning conjunct returns None (the loud no-pin
    * refusal). */
  private[sources] def partitionPins(predicate: org.apache.spark.sql.Column,
      partCol: String,
      partType: org.apache.spark.sql.types.DataType): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression, In, Literal}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    def fname(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    // the Column AST arrives two ways: parsed SQL (`EqualTo`/`In`/`And`)
    // or the operator DSL (ColumnNode → `UnresolvedFunction("=" | "in" |
    // "and")`)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction if fname(f) == "and" =>
        f.arguments.flatMap(conjuncts)
      case x => Seq(x)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(a.name)
      case _ => None
    }
    def isPart(e: Expression): Boolean =
      nameOf(e).exists(_.equalsIgnoreCase(partCol))
    def lits(es: Seq[Expression]): Option[Seq[Literal]] =
      if (es.forall(_.isInstanceOf[Literal]))
        Some(es.map(_.asInstanceOf[Literal]))
      else None
    def pinsOf(e: Expression): Option[Seq[Literal]] = e match {
      case EqualTo(a, l: Literal) if isPart(a) => Some(Seq(l))
      case EqualTo(l: Literal, a) if isPart(a) => Some(Seq(l))
      case In(a, vs) if isPart(a) => lits(vs)
      case f: UnresolvedFunction
        if (fname(f) == "=" || fname(f) == "==") && f.arguments.size == 2 =>
        f.arguments match {
          case Seq(a, l: Literal) if isPart(a) => Some(Seq(l))
          case Seq(l: Literal, a) if isPart(a) => Some(Seq(l))
          case _ => None
        }
      case f: UnresolvedFunction
        if fname(f) == "in" && f.arguments.headOption.exists(isPart) =>
        lits(f.arguments.tail)
      case _ => None
    }
    // a pin literal that cannot cast to the partition type refuses
    // LOUDLY: a plain ANSI scan would raise the same cast error at
    // evaluation, and silently answering empty would hide the typo
    def litStr(l: Literal): String =
      try {
        val tz = Some(org.apache.spark.sql.internal.SQLConf.get
          .sessionLocalTimeZone)
        Option(org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Cast(l, partType, tz),
          org.apache.spark.sql.types.StringType, tz).eval(null))
          .map(_.toString).getOrElse(throw new IllegalArgumentException(""))
      } catch {
        case _: Exception => throw new IllegalArgumentException(
          s"VECTOR SEARCH: partition pin value $l does not cast to " +
            s"$partCol's type (${partType.sql})")
      }
    conjuncts(org.apache.spark.sql.GraftExpressionBridge
        .catalystExpression(predicate))
      .flatMap(pinsOf).headOption
      .map(_.map(litStr).distinct)
  }

  /** PQ candidate-compression sidecars ([[searchPq]]): `pqcb/` — the
    * TRAINED codebook ([[trainPqCodebook]]: per-subspace Lloyd over a
    * deterministic sample, seeded from the lowest-anchor rows, so the
    * compression is oracle-replayable like the centroids) — and
    * `codes/` — per-row `(vec_id, list_id, file, code0..7)`, ~PqM small
    * ints instead of dim floats. At 100 TB the ADC pre-rank reads this
    * narrow sidecar instead of the embedding column — the 4-16×
    * candidate-I/O cut of the standard IVF-PQ architecture. Skipped
    * (with no published marker) when the anchor id range has no rows
    * below PqCbK — [[searchPq]] then refuses loudly. */
  /** Codebook (or centroid) array rows from a (c_id, c_emb) relation —
    * one row, or one per `by` group. */
  private def pqCbArr(cb: DataFrame, by: Seq[String] = Nil): DataFrame =
    cb.groupBy(by.map(col): _*).agg(
      array_sort(collect_list(struct(col("c_id"), col("c_emb")))).as("cents"))

  /** PQ-encode `rows` (needs an `embedding` column) against the one-row
    * codebook array — adds code0..code{PqM-1}. Shared by build, refresh
    * and the stale-retrain replay. */
  private def encodePq(rows: DataFrame, cbArr: DataFrame): DataFrame = {
    import graft.llm.Similarity
    (0 until Similarity.PqM)
      .foldLeft(rows.crossJoin(broadcast(cbArr))) { (df, b) =>
        df.withColumn(s"code$b",
          Similarity.pqCode(col("cents"), col("embedding"), b))
      }
  }

  /** TRAIN the per-subspace PQ codebook: production PQ (Jégou et al.
    * 2011) runs k-means per 8-dim block; this is that, made
    * deterministic and oracle-replayable like every trained artifact in
    * the index tier. Seeds = the blocks of the PqCbK lowest-anchor rows;
    * training rows = a deterministic hash decimation to ~PqTrainCap rows
    * (anchors force-included — the C214 bounded-build rule, so codebook
    * training cost is constant at any corpus size); ONE Lloyd refinement:
    * every training row's block takes its min-L2 seed codeword (the same
    * fixed-point (x·x − 2·x·c) + c·c assembly as encoding, first-min
    * tie-break), then each (subspace, code) cell re-centers to its
    * fixed-point mean (float-narrowed); a codeword no training block
    * chose keeps its seed value. The codewords assemble back into
    * COMPOSITE 64-dim rows (row j's block b = codeword j of subspace b),
    * so the stored `pqcb/` sidecar, [[encodePq]] and the ADC scorer are
    * unchanged — only the geometry the codes quantize against improves.
    * Dataflow: one codegen pass over the sample + one (PqM × PqCbK)-cell
    * aggregate — never a per-row collect. Returns (c_id = 0-based
    * codeword position, c_emb); empty when no row sits below PqCbK. */
  private[sources] def trainPqCodebook(base: DataFrame, n: Long): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ}
    import graft.llm.PortableHash.permute
    val seeds = base.filter(col("vec_id") < PqCbK)
      .select(col("vec_id").cast(IntegerType).as("c_id"),
        col("embedding").as("c_emb"))
    if (seeds.limit(1).count() == 0) return seeds
    val m = math.max(1L, n / PqTrainCap)
    trainPqCodebookFrom(seeds, base.where(
      permute(col("vec_id"), PqTrainJ) % m === 0 || col("vec_id") < PqCbK))
  }

  /** [[trainPqCodebook]] with RANKED seeding — the BY PARTITION slices'
    * rule: a sub-corpus's ids need not start at 0, so the codebook seeds
    * are the PqCbK LOWEST-id rows BY RANK (c_id = 0-based rank, the
    * [[graft.llm.Clustering.kmeansAssignRanked]] convention) and the
    * training decimation force-includes them through the ranked id cap.
    * Never empty for a non-empty slice — the id-bounded rule can come up
    * empty on sparse ranges; ranked cannot. */
  private[sources] def trainPqCodebookRanked(base: DataFrame,
      n: Long): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ}
    import graft.llm.PortableHash.permute
    val seeds = base.orderBy("vec_id").limit(PqCbK)
      .withColumn("c_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast(IntegerType))
      .select(col("c_id"), col("embedding").as("c_emb"))
    val m = math.max(1L, n / PqTrainCap)
    val cap = graft.llm.Clustering.rankedIdCap(
      base.select(col("vec_id")), PqCbK)
    trainPqCodebookFrom(seeds, base.where(
      permute(col("vec_id"), PqTrainJ) % m === 0 || col("vec_id") <= cap))
  }

  /** The shared Lloyd refinement of a PQ codebook from explicit seeds +
    * training rows (one coding pass + one (PqM × PqCbK)-cell aggregate —
    * see [[trainPqCodebook]] for the full contract). */
  private def trainPqCodebookFrom(seeds: DataFrame,
      train: DataFrame): DataFrame = {
    import graft.llm.Similarity.{PqM, PqDim, pqBlock, pqCode}
    // one broadcast row, referenced by the coding pass AND the
    // empty-codeword fallback — materialize once
    val seedArr = pqCbArr(seeds).localCheckpoint()
    val coded = (0 until PqM).foldLeft(train.crossJoin(broadcast(seedArr))) {
      (df, b) => df.withColumn(s"code$b",
        pqCode(col("cents"), col("embedding"), b))
    }
    val flat = coded.select(posexplode(array((0 until PqM).map(b =>
        struct(lit(b).as("b"), col(s"code$b").as("code"),
          pqBlock(col("embedding"), b).as("blk"))): _*)).as(Seq("p", "s")))
      .select(col("s.b").as("b"), col("s.code").as("code"),
        col("s.blk").as("blk"))
    val means = flat.groupBy("b", "code")
      .agg(count(lit(1)).as("nv"),
        graft.functions.VectorSumFixed.sum(col("blk"), PqDim).as("vs"))
      .select(col("b"), col("code"),
        transform(col("vs"), x => (x / col("nv")).cast(FloatType)).as("c8"))
    val seedFlat = seedArr
      .select(posexplode(col("cents")).as(Seq("j", "st")))
      .select(col("j").cast(IntegerType).as("code"),
        col("st.c_emb").as("emb"))
      .select(col("code"), posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), pqBlock(col("emb"), b).as("sblk"))): _*))
        .as(Seq("p", "s")))
      .select(col("code"), col("s.b").as("b"), col("s.sblk").as("sblk"))
    seedFlat.join(means, Seq("b", "code"), "left")
      .select(col("code"),
        struct(col("b"), coalesce(col("c8"), col("sblk")).as("cblk")).as("bb"))
      .groupBy("code")
      .agg(flatten(transform(array_sort(collect_list(col("bb"))),
        st => st.getField("cblk"))).as("c_emb"))
      .select(col("code").as("c_id"), col("c_emb"))
  }

  /** [[trainPqCodebookRanked]] for EVERY partition slice in ONE
    * part-keyed dataflow (r14 — the stale-replay path of the partitioned
    * PQ tier): per-part ranked seeds (the PqCbK lowest-id rows by rank),
    * per-part decimation with the ranked id cap, one coding pass + one
    * (part × PqM × PqCbK)-cell aggregate. Each slice's rows equal
    * [[trainPqCodebookRanked]] run per slice — the hash contract.
    * `base` carries (part, vec_id, embedding); output
    * (part, c_id, c_emb). */
  private def trainPqCodebookRankedByPart(base: DataFrame): DataFrame = {
    import graft.llm.Similarity.{PqCbK, PqTrainCap, PqTrainJ, PqM, PqDim,
      pqBlock, pqCode}
    import graft.llm.PortableHash.permute
    import org.apache.spark.sql.types.LongType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("vec_id")
    val ranked = base.select(col("part"), col("vec_id"), col("embedding"))
      .withColumn("rk", row_number().over(w))
    val seedRows = ranked.where(col("rk") <= PqCbK)
    // one row per part: the decimation modulus + ranked force-include cap
    val pol = base.groupBy("part").agg(count(lit(1)).as("n"))
      .select(col("part"), greatest(lit(1L),
        floor(col("n") / lit(PqTrainCap)).cast(LongType)).as("m"))
      .join(seedRows.groupBy("part")
        .agg(max(col("vec_id").cast(LongType)).as("idcap")), "part")
    val train = base.join(broadcast(pol), "part")
      .where(permute(col("vec_id"), PqTrainJ) % col("m") === 0 ||
        col("vec_id") <= col("idcap"))
      .select(col("part"), col("vec_id"), col("embedding"))
    // per-part seed arrays — consumed by the coding pass AND the
    // empty-codeword fallback; materialize once
    val seedArr = seedRows
      .select(col("part"), (col("rk") - 1).cast(IntegerType).as("c_id"),
        col("embedding").as("c_emb"))
      .groupBy("part")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_emb"))))
        .as("cents"))
      .coalesce(1).localCheckpoint()
    val coded = (0 until PqM).foldLeft(
        train.join(broadcast(seedArr), "part")) { (df, b) =>
      df.withColumn(s"code$b", pqCode(col("cents"), col("embedding"), b))
    }
    val flat = coded.select(col("part"),
        posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), col(s"code$b").as("code"),
            pqBlock(col("embedding"), b).as("blk"))): _*)).as(Seq("px", "s")))
      .select(col("part"), col("s.b").as("b"), col("s.code").as("code"),
        col("s.blk").as("blk"))
    val means = flat.groupBy("part", "b", "code")
      .agg(count(lit(1)).as("nv"),
        graft.functions.VectorSumFixed.sum(col("blk"), PqDim).as("vs"))
      .select(col("part"), col("b"), col("code"),
        transform(col("vs"),
          x => (x / col("nv")).cast(FloatType)).as("c8"))
    val seedFlat = seedArr
      .select(col("part"), posexplode(col("cents")).as(Seq("j", "st")))
      .select(col("part"), col("j").cast(IntegerType).as("code"),
        col("st.c_emb").as("emb"))
      .select(col("part"), col("code"),
        posexplode(array((0 until PqM).map(b =>
          struct(lit(b).as("b"), pqBlock(col("emb"), b).as("sblk"))): _*))
        .as(Seq("px", "s")))
      .select(col("part"), col("code"), col("s.b").as("b"),
        col("s.sblk").as("sblk"))
    seedFlat.join(means, Seq("part", "b", "code"), "left")
      .select(col("part"), col("code"),
        struct(col("b"),
          coalesce(col("c8"), col("sblk")).as("cblk")).as("bb"))
      .groupBy("part", "code")
      .agg(flatten(transform(array_sort(collect_list(col("bb"))),
        st => st.getField("cblk"))).as("c_emb"))
      .select(col("part"), col("code").as("c_id"), col("c_emb"))
  }

  /** LSH band-key sidecars for the incremental-SemDeDup tier — the C69
    * stored-signature pattern applied to embeddings, so a daily batch
    * never re-hashes or re-clusters the corpus:
    *  - `lshanch/` — ONE row: the geometry (n_bands, bits, from
    *    [[graft.llm.Dedup.embeddingLshParams]] over the build corpus) and
    *    the stored anchor panel ([[graft.llm.Dedup.bandAnchorsRanked]] —
    *    RANKED, so sparse id ranges still fill every hyperplane slot);
    *  - `bands/` — per corpus row × band: (vec_id, band, bkey, list_id,
    *    file) — which sign-band buckets the row occupies, its stored
    *    cluster, and the file holding its embedding. Narrow like `codes/`
    *    (four ints/longs + the file name), written once per build and
    *    remapped file-bounded on refresh.
    * A batch then derives ITS band keys against the stored panel and
    * joins this sidecar — per-batch cost is O(\|batch\| × bucket), and
    * only candidate FILES are ever scanned for corpus embeddings. */
  private def writeBandSidecars(idxDir: Path, base: DataFrame,
      lists: DataFrame, n: Long): Unit = {
    val (nBands, bits) = graft.llm.Dedup.embeddingLshParams(n)
    // consumed twice (the sidecar write + the band derivation's
    // broadcast) — materialize the one-row panel
    val anch = graft.llm.Dedup.bandAnchorsRanked(
        base.select(col("vec_id"), col("embedding")), nBands, bits)
      .select(lit(nBands).as("n_bands"), lit(bits).as("bits"),
        col("anchors"))
      .localCheckpoint()
    anch.coalesce(1).write.parquet(idxDir.resolve("lshanch").toString)
    graft.llm.Dedup.embeddingBandRowsWith(
        base.select(col("vec_id"), col("embedding"), col("file")),
        anch.select(col("anchors")), nBands, bits, carry = Seq("file"))
      .join(lists, "vec_id")
      .select(col("vec_id"), col("band"), col("bkey"), col("list_id"),
        col("file"))
      .write.parquet(idxDir.resolve("bands").toString)
  }

  private def writePqSidecars(idxDir: Path,
      base: DataFrame, lists: DataFrame, n: Long): Unit = {
    import graft.llm.Similarity
    val cb = trainPqCodebook(base, n)
    if (cb.limit(1).count() == 0) return
    cb.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
    val coded = encodePq(base, pqCbArr(cb))
    coded.join(lists, "vec_id")
      .select(Seq(col("vec_id"), col("list_id"), col("file")) ++
        (0 until Similarity.PqM).map(b => col(s"code$b")): _*)
      .write.parquet(idxDir.resolve("codes").toString)
  }

  /** Refresh a stale index KEEPING the trained geometry — how a
    * production IVF index absorbs table churn without retraining.
    * Postings are (list, file) pairs, so ANY file-set divergence remaps
    * in one bounded pass: dead files' postings DROP (their rows left the
    * live set — OPTIMIZE/DELETE/MERGE rewrote or removed them), new
    * files' rows assign against the STORED centroids (per-row broadcast
    * math over the new files only) and their postings union in. Search
    * stays exact w.r.t. the stored centroids because rows re-derive
    * their cluster from the same array — after a pure compaction
    * (identical rows, new layout) the refreshed index answers exactly
    * what a full retrain would, at the cost of scanning only the
    * rewritten files. After a DELETE/MERGE the kept geometry is a
    * corpus-level approximation (standard IVF operations practice); the
    * oracle-certified recall audits monitor the drift, and CREATE VECTOR
    * INDEX retrains on demand. Returns (files newly indexed,
    * remapped-after-rewrite?). */
  def refresh(spark: SparkSession, dir: Path, colName: String): (Long, Boolean) = {
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"REFRESH VECTOR INDEX: no manifest at $dir"))
    val key = PropPrefix + colName.toLowerCase
    val prop = m.props.getOrElse(key, throw new IllegalStateException(
      s"REFRESH VECTOR INDEX: no vector index on $colName — CREATE it first"))
    val p = parseProp(prop)
    if (p.isCurrent(digestOf(m)) && p.dvDigest.contains(dvDigestOf(m)))
      return (0L, false)
    if (p.version != AssignVersion)
      // postings written by a different row assigner don't commute with
      // the serve-time re-derivation — migrate with a full rebuild under
      // the build's own LISTS/SAMPLE policy (the TextIndex
      // legacy-stats-format rule applied to geometry)
      return (build(spark, dir, colName, p.idCol, p.lists, p.sample,
        p.coarse, byPartition = p.partCol.isDefined)._1, true)
    if (p.partCol.isDefined)
      return refreshByPartition(spark, dir, key, colName, m, p)
    val (oldIdx, idCol) = (p.idxName, p.idCol)
    val oldDir = dir.resolve(oldIdx)
    val (indexedFiles, drift) = coverageAndDrift(spark, oldDir, m,
      graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
        .select(col("file")).distinct().collect().map(_.getString(0)).toSet)
    val live = m.entries.filter(_.rows > 0).map(_.name)
    val newFiles = live.filterNot(f => indexedFiles(f) && !drift(f))
    val dead = ((indexedFiles -- live.toSet) ++ drift).toSeq.sorted
    if (p.isCurrent(digestOf(m)) && newFiles.isEmpty && dead.isEmpty) {
      // names fresh, nothing drifted — the dv digest was just unknown
      // (pre-dv-digest prop): upgrade the prop (and missing coverage) in
      // place, no sidecar rewrite. The exists-check + write runs UNDER
      // the commit lock so concurrent auto-refresh readers never race
      // the covered/ parquet write (r14 advice).
      ManifestLock.withLock(dir) {
        if (!java.nio.file.Files.exists(oldDir.resolve("covered")))
          writeCovered(spark, oldDir, m, live)
        val cur = Manifest.read(dir).getOrElse(m)
        Manifest.write(dir, cur.copy(props = cur.props +
          (key -> renderProp(oldIdx, idCol, digestOf(m), p.lists, p.sample,
            p.coarse, dvDigest = dvDigestOf(m)))))
      }
      return (0L, false)
    }
    val cents = graft.Tables.sidecar(spark, oldDir.resolve("cents").toString)
    val kept = graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
      .where(!col("file").isin(dead: _*))
    val newRows =
      if (newFiles.isEmpty) None
      else Some(scanFiles(spark, dir, newFiles)
        .select(col(idCol).as("vec_id"), lit(0).as("label"),
          col(colName).as("embedding"), col("_file").as("file")))
    // MATERIALIZE the new-file assignment once (bounded by the new
    // files): the postings write and the PQ codes write both consume it
    val newLists = newRows.map { rows =>
      graft.llm.Similarity.assignListsHierLocal(
          rows.select("vec_id", "label", "embedding"), cents, p.coarse)
        .select(col("vec_id"), col("list_id"))
        .join(rows.select(col("vec_id"), col("file")), "vec_id")
        .localCheckpoint()
    }
    val posts = newLists.fold(kept)(nl =>
      kept.unionByName(nl.select(col("list_id"), col("file")).distinct()))
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    cents.write.parquet(idxDir.resolve("cents").toString)
    posts.write.parquet(idxDir.resolve("posts").toString)
    // the PQ sidecars ride the refresh: the codebook is trained state
    // (carried, like the centroids); codes remap like postings — dead
    // files' rows drop, new files' rows code against the stored codebook
    if (java.nio.file.Files.exists(oldDir.resolve("pqcb"))) {
      import graft.llm.Similarity
      val cbDf = graft.Tables.sidecar(spark, oldDir.resolve("pqcb").toString)
      cbDf.coalesce(1).write.parquet(idxDir.resolve("pqcb").toString)
      val keptCodes = graft.Tables.sidecar(spark, oldDir.resolve("codes").toString)
        .where(!col("file").isin(dead: _*))
      val codes = (newRows, newLists) match {
        case (Some(rows), Some(nl)) =>
          val coded = encodePq(rows, pqCbArr(cbDf))
          keptCodes.unionByName(
            coded.join(nl.select(col("vec_id"), col("list_id")), "vec_id")
              .select(Seq(col("vec_id"), col("list_id"), col("file")) ++
                (0 until Similarity.PqM).map(b => col(s"code$b")): _*))
        case _ => keptCodes
      }
      codes.write.parquet(idxDir.resolve("codes").toString)
    }
    // the band sidecars ride the refresh exactly like the PQ pair: the
    // anchor panel + geometry are trained state (carried, like the
    // centroids and the codebook); band rows remap like postings — dead
    // files' rows drop, new files' rows hash against the STORED panel
    // (an index built before the incremental tier has no sidecar and
    // stays without one until a full rebuild)
    if (java.nio.file.Files.exists(oldDir.resolve("lshanch"))) {
      val anchDf = graft.Tables.sidecar(spark, oldDir.resolve("lshanch").toString)
        .localCheckpoint()
      anchDf.coalesce(1).write.parquet(idxDir.resolve("lshanch").toString)
      val keptBands = graft.Tables.sidecar(spark, oldDir.resolve("bands").toString)
        .where(!col("file").isin(dead: _*))
      val bands = (newRows, newLists) match {
        case (Some(rows), Some(nl)) =>
          val meta = anchDf.select(col("n_bands"), col("bits"))
            .collect().head
          keptBands.unionByName(
            graft.llm.Dedup.embeddingBandRowsWith(
                rows.select(col("vec_id"), col("embedding")),
                anchDf.select(col("anchors")), meta.getInt(0), meta.getInt(1))
              .join(nl, "vec_id")
              .select(col("vec_id"), col("band"), col("bkey"),
                col("list_id"), col("file")))
        case _ => keptBands
      }
      bands.write.parquet(idxDir.resolve("bands").toString)
    }
    writeCovered(spark, idxDir, m, live)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (key -> renderProp(idxName, idCol, digestOf(m), p.lists, p.sample,
          p.coarse, dvDigest = dvDigestOf(m)))))
    }
    graft.Tables.forgetSidecars(oldDir.toString)
    (newFiles.length.toLong, dead.nonEmpty)
  }

  /** Partition-scoped refresh of a BY PARTITION index: only partitions
    * whose file set changed retrain (dead files' partitions ∪ new files'
    * partitions); every other partition's sub-geometry and postings
    * carry over untouched — the bounded-churn story specialized to
    * partitions: compacting or appending one day of a date-partitioned
    * table retrains ONE day's sub-index, never the table's. (Unlike the
    * global index, a changed partition RETRAINS rather than remaps: its
    * geometry is partition-local, so retraining it is already bounded by
    * the partition — the same argument that lets BY PARTITION skip
    * SAMPLE.) */
  private def refreshByPartition(spark: SparkSession, dir: Path,
      key: String, colName: String, m: Manifest, p: Prop): (Long, Boolean) = {
    val partCol = p.partCol.get
    val oldDir = dir.resolve(p.idxName)
    val oldCents = graft.Tables.sidecar(spark, oldDir.resolve("cents").toString)
    val oldPosts = graft.Tables.sidecar(spark, oldDir.resolve("posts").toString)
    val (indexedFiles, drift) = coverageAndDrift(spark, oldDir, m,
      oldPosts.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet)
    val live = m.entries.filter(_.rows > 0).map(_.name)
    val newFiles = live.filterNot(f => indexedFiles(f) && !drift(f))
    val dead = ((indexedFiles -- live.toSet) ++ drift).toSeq.sorted
    if (p.isCurrent(digestOf(m)) && newFiles.isEmpty && dead.isEmpty) {
      // names fresh, nothing drifted — upgrade the pre-dv-digest prop
      // (and missing coverage) in place, no slice retrain; the
      // exists-check + write runs UNDER the commit lock (r14 advice)
      ManifestLock.withLock(dir) {
        if (!java.nio.file.Files.exists(oldDir.resolve("covered")))
          writeCovered(spark, oldDir, m, live)
        val cur = Manifest.read(dir).getOrElse(m)
        Manifest.write(dir, cur.copy(props = cur.props +
          (key -> renderProp(p.idxName, p.idCol, digestOf(m), p.lists,
            p.sample, p.coarse, p.partCol, dvDigest = dvDigestOf(m)))))
      }
      return (0L, false)
    }
    val deadParts =
      if (dead.isEmpty) Seq.empty[String]
      else oldPosts.where(col("file").isin(dead: _*))
        .select("part").distinct().collect().map(_.getString(0)).toSeq
    val newParts =
      if (newFiles.isEmpty) Seq.empty[String]
      else scanFiles(spark, dir, newFiles)
        .select(col(partCol).cast("string").as("part"))
        .distinct().collect().map(_.getString(0)).toSeq
    val affected = (deadParts ++ newParts).distinct.sorted
    val keptCents = oldCents.where(!col("part").isin(affected: _*))
    val keptPosts = oldPosts.where(!col("part").isin(affected: _*))
    // the affected partitions' CURRENT rows: their surviving old files
    // plus the new files (each partition-pure by the clustering contract)
    val affOldFiles = oldPosts.where(col("part").isin(affected: _*))
      .select("file").distinct().collect().map(_.getString(0))
      .filter(live.contains).toSeq
    val affFiles = (affOldFiles ++ newFiles).distinct
    val rebuilt: Option[(DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, DataFrame, Long)] =
      if (affFiles.isEmpty) None
      else Some(buildPartitionSlices(spark,
        scanFiles(spark, dir, affFiles)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"), col("_file").as("file"),
            col(partCol).cast("string").as("part"))
          // the affected values only: a surviving file that mixes an
          // unaffected partition's rows must not retrain that slice
          .where(col("part").isin(affected: _*)),
        p.lists, p.sample, p.coarse))
    val idxName = s"_vecidx_${java.util.UUID.randomUUID.toString.take(8)}"
    val idxDir = dir.resolve(idxName)
    rebuilt.fold(keptCents)(r => keptCents.unionByName(r._1))
      .write.parquet(idxDir.resolve("cents").toString)
    rebuilt.fold(keptPosts)(r => keptPosts.unionByName(r._2))
      .write.parquet(idxDir.resolve("posts").toString)
    // PQ rides the partition-scoped refresh: unaffected partitions'
    // codebooks + codes carry over byte-identical, affected partitions'
    // retrain with their slice (a pre-PQ partitioned index stays
    // without sidecars until a full rebuild — mixed per-partition
    // presence would break the all-or-nothing serve check)
    if (java.nio.file.Files.exists(oldDir.resolve("pqcb"))) {
      val keptCb = graft.Tables.sidecar(spark, oldDir.resolve("pqcb").toString)
        .where(!col("part").isin(affected: _*))
      val keptCodes = graft.Tables.sidecar(spark, oldDir.resolve("codes").toString)
        .where(!col("part").isin(affected: _*))
      rebuilt.fold(keptCb)(r => keptCb.unionByName(r._3)).coalesce(1)
        .write.parquet(idxDir.resolve("pqcb").toString)
      rebuilt.fold(keptCodes)(r => keptCodes.unionByName(r._4))
        .write.parquet(idxDir.resolve("codes").toString)
    }
    // the incremental-dedup sidecars ride like the PQ pair: unaffected
    // partitions' panels + band rows carry over, affected partitions'
    // retrain with their slice (a pre-r14 partitioned index stays
    // without them until a full rebuild — all-or-nothing presence)
    if (java.nio.file.Files.exists(oldDir.resolve("lshanch"))) {
      val keptAnch = graft.Tables.sidecar(spark, oldDir.resolve("lshanch").toString)
        .where(!col("part").isin(affected: _*))
      val keptBands = graft.Tables.sidecar(spark, oldDir.resolve("bands").toString)
        .where(!col("part").isin(affected: _*))
      rebuilt.fold(keptAnch)(r => keptAnch.unionByName(r._5)).coalesce(1)
        .write.parquet(idxDir.resolve("lshanch").toString)
      rebuilt.fold(keptBands)(r => keptBands.unionByName(r._6))
        .write.parquet(idxDir.resolve("bands").toString)
    }
    writeCovered(spark, idxDir, m, live)
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(m)
      Manifest.write(dir, cur.copy(props = cur.props +
        (key -> renderProp(idxName, p.idCol, digestOf(m), p.lists, p.sample,
          p.coarse, p.partCol, dvDigest = dvDigestOf(m)))))
    }
    graft.Tables.forgetSidecars(oldDir.toString)
    (newFiles.length.toLong, dead.nonEmpty)
  }

  /** SemDeDup over the index's TRAINED geometry — the amortization story:
    * one clustering pays for search ([[search]]), diversity sampling, AND
    * near-dup pruning. No file pruning here (dedup reads every row); the
    * saving is skipping the Lloyd loop — a fresh index reduces dedup to
    * one broadcast assignment plus the bounded within-cluster pair join.
    * Stale index retrains on the fly (identical output to a rebuild).
    * Output: (vec_id, label, list_id, c2c) survivors — the
    * [[graft.llm.Clustering.semSurvivors]] keep-the-outlier rule. */
  def semDedup(spark: SparkSession, table: String, colName: String,
      labelCol: String): DataFrame =
    rowsAndCentsByPart(spark, table, colName, labelCol,
        "SEMANTIC DEDUP") match {
      case Some((rows, cents, coarse)) =>
        // BY PARTITION (r14 — the r13 refusal lifted): SemDeDup runs
        // per slice against the stored sub-geometries in one
        // part-keyed dataflow — candidates require a shared partition
        // AND cluster AND sign-band bucket, each slice under its OWN
        // size-derived banding
        graft.llm.Clustering.semSurvivorsByPart(
          graft.llm.Similarity.assignListsHierByPartLocal(rows, cents, coarse),
          cents)
      case None =>
        val (rows, cents, coarse) = rowsAndCents(spark, table, colName,
          labelCol, "SEMANTIC DEDUP")
        // the corpus count sizes the banded pair join's LSH geometry —
        // the same pre-planning cardinality read the LSH dedup tier does
        graft.llm.Clustering.semSurvivors(
          graft.llm.Similarity.assignListsHierLocal(rows, cents, coarse),
          cents, rows.count())
    }

  /** INCREMENTAL SemDeDup against the index's STORED artifacts — the
    * daily-ingest shape with NOTHING corpus-sized recomputed per batch
    * (the r12 verdict's weak item, resolved): batch rows assign against
    * the stored centroids (per-row broadcast math), derive band keys
    * against the stored anchor panel (`lshanch/`), and join the stored
    * corpus band sidecar (`bands/` — the C69 stored-signature pattern);
    * corpus embeddings are fetched ONLY from the candidate buckets' files
    * (the sidecar carries each row's file). A batch row is a dup iff some
    * corpus row in a shared (cluster ∩ sign-band bucket) sits within
    * cosine τ — the curated corpus always wins; min-id witness reported.
    * Per-batch cost: O(\|batch\| × bucket) join work + a scan of candidate
    * files only — at 100 TB a daily ingest touches ~\|batch\|/corpus of
    * the table's files, never the corpus.
    *
    * `batch` carries the table's own id + embedding columns (external
    * rows: ids are the caller's keys, reported back as-is). Output:
    * (vec_id, dup_of, is_dup) per batch row. Stale index: the onStale
    * policy applies; `retrain` replays geometry + panel + bands in-query
    * (exactly a rebuild's answer). */
  def semDedupIncremental(spark: SparkSession, table: String,
      colName: String, batch: DataFrame): DataFrame =
    semDedupIncrementalAttempt(spark, table, colName, batch,
      allowRefresh = true)

  private def semDedupIncrementalAttempt(spark: SparkSession, table: String,
      colName: String, batch: DataFrame,
      allowRefresh: Boolean): DataFrame = {
    import graft.llm.{Clustering, Dedup, Similarity}
    import graft.llm.PortableHash.dotFixed
    val op = "SEMANTIC DEDUP INCREMENTAL"
    val mt = ManifestTable.resolve(spark, table, op)
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
    val prop = m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(
        s"$op: no vector index on $table ($colName) — CREATE VECTOR INDEX " +
          "first (its build writes the band sidecars this serves from)"))
    val p = parseProp(prop)
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val b0 = batch.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
      col(colName).as("embedding"))
    def result(matched: DataFrame): DataFrame =
      b0.select(col("vec_id"))
        .join(matched, col("vec_id") === col("vn"), "left")
        .select(col("vec_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    def fused(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
      batchBands.join(corpusBands,
          col("band") === col("oband") && col("bkey") === col("obkey") &&
            col("l_n") === col("l_o") &&
            dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
        .groupBy("vn").agg(min(col("vo")).as("dup_of"))
    def batchBandsOf(cents: DataFrame, anchorArr: DataFrame,
        nBands: Int, bits: Int): DataFrame =
      Dedup.embeddingBandRowsWith(
          Similarity.assignListsHierLocal(b0, cents, p.coarse),
          anchorArr, nBands, bits, carry = Seq("embedding", "list_id"))
        .select(col("vec_id").as("vn"), col("band"), col("bkey"),
          col("embedding").as("e_n"), col("list_id").as("l_n"))

    // the partitioned batch routes each row to ITS OWN partition's
    // geometry by the table's partition column — candidates (and dup
    // verdicts) stay within-partition, the date-partitioned corpus rule
    def partKeyBatch(pc: String): DataFrame =
      batch.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
        col(colName).as("embedding"), col(pc).cast("string").as("part"))

    if (p.isCurrent(digestOf(m))) {
      val idxDir = mt.dir.resolve(p.idxName)
      if (!java.nio.file.Files.exists(idxDir.resolve("lshanch")))
        throw new IllegalStateException(
          s"$op: the index on $table ($colName) predates the band " +
            "sidecars — re-run CREATE VECTOR INDEX to materialize them")
      p.partCol match {
        case Some(pc) =>
          // BY PARTITION (r14): batch rows assign against their own
          // partition's stored centroids, derive band keys against its
          // stored panel (per-slice geometry — the part-keyed fold), and
          // join the part-keyed bands sidecar; only candidate buckets'
          // files are scanned for corpus embeddings. ONE dataflow, one
          // bounded driver collect — the C224 serving contract composed
          // with partition routing.
          val cents = graft.Tables.sidecar(spark, idxDir.resolve("cents").toString)
          val geo = graft.Tables.sidecar(spark, idxDir.resolve("lshanch").toString)
          val batchBands = Dedup.embeddingBandRowsByPart(
              Similarity.assignListsHierByPartLocal(partKeyBatch(pc), cents,
                p.coarse),
              geo, carry = Seq("embedding", "list_id"))
            .select(col("part"), col("vec_id").as("vn"), col("band"),
              col("bkey"), col("embedding").as("e_n"),
              col("list_id").as("l_n"))
          val corpusBands = spark.read
            .parquet(idxDir.resolve("bands").toString)
            .select(col("part").as("opart"), col("vec_id").as("vo"),
              col("band").as("oband"), col("bkey").as("obkey"),
              col("list_id").as("l_o"), col("file"))
          val cand = batchBands.join(corpusBands,
              col("part") === col("opart") &&
                col("band") === col("oband") &&
                col("bkey") === col("obkey") && col("l_n") === col("l_o"))
            .select(col("part"), col("vn"), col("e_n"), col("vo"),
              col("file"))
            .localCheckpoint()
          val candFiles = cand.select("file").distinct()
            .collect().map(_.getString(0))
          val matched =
            if (candFiles.isEmpty) {
              val idType = m.schema.fields
                .find(_.name.equalsIgnoreCase(p.idCol)).map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.LongType)
              spark.range(0).select(col("id").cast(idType).as("vn"),
                col("id").cast(idType).as("dup_of"))
            } else {
              // fetch keys on (part, id), not id alone (r15 advice):
              // ids only need be unique within a partition, so the
              // corpus row must come from the candidate's OWN slice
              val corpusEmb = scanFiles(spark, mt.dir, candFiles.toSeq)
                .select(col(p.partCol.get).cast("string").as("part"),
                  col(p.idCol).as("vo"), col(colName).as("e_o"))
              cand.join(corpusEmb, Seq("part", "vo"))
                .where(dotFixed(col("e_n"), col("e_o")) >=
                  Clustering.SemThreshold)
                .groupBy("vn").agg(min(col("vo")).as("dup_of"))
            }
          return result(matched)
        case None => ()
      }
      val cents = graft.Tables.sidecar(spark, idxDir.resolve("cents").toString)
      val anchDf = graft.Tables.sidecar(spark, idxDir.resolve("lshanch").toString)
        .localCheckpoint() // 1 row; read for meta AND the broadcast panel
      val meta = anchDf.select(col("n_bands"), col("bits")).collect().head
      val batchBands = batchBandsOf(cents, anchDf.select(col("anchors")),
        meta.getInt(0), meta.getInt(1))
      // candidate pairs straight off the sidecar (no corpus scan yet);
      // materialized once — they drive BOTH the candidate-file planning
      // and the embedding fetch join
      val cand = batchBands.join(
          graft.Tables.sidecar(spark, idxDir.resolve("bands").toString)
            .select(col("vec_id").as("vo"), col("band").as("oband"),
              col("bkey").as("obkey"), col("list_id").as("l_o"),
              col("file")),
          col("band") === col("oband") && col("bkey") === col("obkey") &&
            col("l_n") === col("l_o"))
        .select(col("vn"), col("e_n"), col("vo"), col("file"))
        .localCheckpoint()
      val candFiles = cand.select("file").distinct()
        .collect().map(_.getString(0))
      val matched =
        if (candFiles.isEmpty) {
          val idType = m.schema.fields
            .find(_.name.equalsIgnoreCase(p.idCol)).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.LongType)
          spark.range(0).select(col("id").cast(idType).as("vn"),
            col("id").cast(idType).as("dup_of"))
        } else {
          // ONLY the candidate buckets' files are scanned for embeddings
          // — the bounded-fetch contract VectorIndexSpec pins
          val corpusEmb = scanFiles(spark, mt.dir, candFiles.toSeq)
            .select(col(p.idCol).as("vo"), col(colName).as("e_o"))
          cand.join(corpusEmb, "vo")
            .where(dotFixed(col("e_n"), col("e_o")) >=
              Clustering.SemThreshold)
            .groupBy("vn").agg(min(col("vo")).as("dup_of"))
        }
      result(matched)
    } else onStale(spark) match {
      case "fail" => staleRefused(op, table)
      case "refresh" if allowRefresh =>
        refuseRefreshIfReadOnly(spark, op)
        refresh(spark, mt.dir, colName)
        semDedupIncrementalAttempt(spark, table, colName, batch,
          allowRefresh = false)
      case _ if p.partCol.isDefined =>
        // in-query replay of the PARTITIONED build artifacts (per-slice
        // ranked geometry + per-slice panel + bands), one part-keyed
        // dataflow — exactly a partitioned rebuild's answer, minus the
        // file-bounded fetch. The per-slice LSH geometry derives from
        // slice sizes via ONE bounded collect (parts rows).
        val pc = p.partCol.get
        val rows = scanFiles(spark, mt.dir, names)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"),
            col(pc).cast("string").as("part"))
        val geo0 = spark.createDataFrame(
          rows.groupBy("part").count().collect().toSeq.map { r =>
            val (nb, bt) = Dedup.embeddingLshParams(r.getLong(1))
            (r.getString(0), nb, bt)
          }).toDF("part", "n_bands", "bits")
        // the ranked anchor panel per part — bandAnchorsRanked's
        // orderBy-limit, replayed as a rank window bounded per part
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("part").orderBy("vec_id")
        val anch = rows.select(col("part"), col("vec_id"), col("embedding"))
          .withColumn("rk", row_number().over(wr))
          .join(broadcast(geo0.select(col("part"),
            (col("n_bands") * col("bits")).as("slots"))), "part")
          .where(col("rk") <= col("slots"))
          .groupBy("part")
          .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
            col("embedding").as("a_emb")))).as("anchors"))
        val geo = geo0.join(anch, "part").coalesce(1).localCheckpoint()
        val (corpusAssigned, cents) = retrainGeometryRankedByPart(rows, p)
        val corpusBands = Dedup.embeddingBandRowsByPart(corpusAssigned,
            geo, carry = Seq("embedding", "list_id"))
          .select(col("part").as("opart"), col("vec_id").as("vo"),
            col("band").as("oband"), col("bkey").as("obkey"),
            col("embedding").as("e_o"), col("list_id").as("l_o"))
        val batchBands = Dedup.embeddingBandRowsByPart(
            Similarity.assignListsHierByPartLocal(partKeyBatch(pc), cents,
              p.coarse),
            geo, carry = Seq("embedding", "list_id"))
          .select(col("part"), col("vec_id").as("vn"), col("band"),
            col("bkey"), col("embedding").as("e_n"),
            col("list_id").as("l_n"))
        result(batchBands.join(corpusBands,
            col("part") === col("opart") && col("band") === col("oband") &&
              col("bkey") === col("obkey") && col("l_n") === col("l_o") &&
              dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
          .groupBy("vn").agg(min(col("vo")).as("dup_of")))
      case _ =>
        // in-query replay of the build artifacts (geometry + ranked
        // panel + corpus bands) — exactly a rebuild's answer, minus the
        // file-bounded fetch; the corpus side carries embeddings inline
        val rows = scanFiles(spark, mt.dir, names)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"))
        val n = rows.count()
        val (corpusAssigned, cents) = retrainGeometry(rows, p, n)
        val (nBands, bits) = Dedup.embeddingLshParams(n)
        val anch = Dedup.bandAnchorsRanked(
          rows.select(col("vec_id"), col("embedding")), nBands, bits)
          .localCheckpoint() // broadcast by BOTH band derivations
        val corpusBands = Dedup.embeddingBandRowsWith(corpusAssigned, anch,
            nBands, bits, carry = Seq("embedding", "list_id"))
          .select(col("vec_id").as("vo"), col("band").as("oband"),
            col("bkey").as("obkey"), col("embedding").as("e_o"),
            col("list_id").as("l_o"))
        result(fused(batchBandsOf(cents, anch, nBands, bits), corpusBands))
    }
  }

  /** TIME-TRAVEL incremental SemDeDup (r15 — the C238 audit posture for
    * the curation tier): answer "which of these rows were near-dups of
    * the corpus AS OF version v" — reproducing an ingest batch's
    * admission verdicts exactly as they were computed, after the corpus
    * moved on. The snapshot manifest's own `vecidx.` prop serves its
    * HISTORICAL sidecars (centroids, anchor panel, band rows), the
    * candidate-bucket fetch pins both the files and the snapshot's DV
    * state, so corpus rows added (or deletion-vectored) after the
    * version neither witness nor un-witness any batch row. A snapshot
    * whose index was stale or reaped replays the build artifacts over
    * the snapshot rows (per-slice ranked for BY PARTITION). Output
    * (vec_id, dup_of, is_dup) like [[semDedupIncremental]]. */
  def semDedupIncrementalAsOf(spark: SparkSession, table: String,
      colName: String, batch: DataFrame, version: Int): DataFrame = {
    import graft.llm.{Clustering, Dedup, Similarity}
    import graft.llm.PortableHash.dotFixed
    val op = "SEMANTIC DEDUP INCREMENTAL AS OF"
    val mt = ManifestTable.resolve(spark, table, op)
    val m = Manifest.readSnapshot(mt.dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"$op: snapshot $version expired or never existed at ${mt.dir}"))
    val p = parseProp(m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(
        s"$op: no vector index on $table ($colName) existed as of " +
          s"version $version — the snapshot carries no vecidx prop")))
    val names = m.entries.filter(_.rows > 0).map(_.name)
    def snapScan(fs: Seq[String]): DataFrame =
      scanFiles(spark, mt.dir, fs, Some(version))
    val b0 = batch.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
      col(colName).as("embedding"))
    def result(matched: DataFrame): DataFrame =
      b0.select(col("vec_id"))
        .join(matched, col("vec_id") === col("vn"), "left")
        .select(col("vec_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    def fused(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
      batchBands.join(corpusBands,
          col("band") === col("oband") && col("bkey") === col("obkey") &&
            col("l_n") === col("l_o") &&
            dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
        .groupBy("vn").agg(min(col("vo")).as("dup_of"))
    def batchBandsOf(cents: DataFrame, anchorArr: DataFrame,
        nBands: Int, bits: Int): DataFrame =
      Dedup.embeddingBandRowsWith(
          Similarity.assignListsHierLocal(b0, cents, p.coarse),
          anchorArr, nBands, bits, carry = Seq("embedding", "list_id"))
        .select(col("vec_id").as("vn"), col("band"), col("bkey"),
          col("embedding").as("e_n"), col("list_id").as("l_n"))
    def partKeyBatch(pc: String): DataFrame =
      batch.select(col(p.idCol).as("vec_id"), lit(0).as("label"),
        col(colName).as("embedding"), col(pc).cast("string").as("part"))
    val idxDir = mt.dir.resolve(p.idxName)
    val servable = p.isCurrent(digestOf(m)) &&
      Seq("cents", "lshanch", "bands").forall(s =>
        java.nio.file.Files.exists(idxDir.resolve(s)))
    if (servable) {
      p.partCol match {
        case Some(pc) =>
          // BY PARTITION at the version: batch rows assign against
          // their partition's HISTORICAL centroids/panels, join the
          // historical band sidecar, and fetch corpus embeddings from
          // candidate-bucket files through the snapshot-pinned scan,
          // keyed (part, vec_id)
          val cents = graft.Tables.sidecar(spark, idxDir.resolve("cents").toString)
          val geo = graft.Tables.sidecar(spark, idxDir.resolve("lshanch").toString)
          val batchBands = Dedup.embeddingBandRowsByPart(
              Similarity.assignListsHierByPartLocal(partKeyBatch(pc),
                cents, p.coarse),
              geo, carry = Seq("embedding", "list_id"))
            .select(col("part"), col("vec_id").as("vn"), col("band"),
              col("bkey"), col("embedding").as("e_n"),
              col("list_id").as("l_n"))
          val corpusBands = spark.read
            .parquet(idxDir.resolve("bands").toString)
            .select(col("part").as("opart"), col("vec_id").as("vo"),
              col("band").as("oband"), col("bkey").as("obkey"),
              col("list_id").as("l_o"), col("file"))
          val cand = batchBands.join(corpusBands,
              col("part") === col("opart") &&
                col("band") === col("oband") &&
                col("bkey") === col("obkey") && col("l_n") === col("l_o"))
            .select(col("part"), col("vn"), col("e_n"), col("vo"),
              col("file"))
            .localCheckpoint()
          val candFiles = cand.select("file").distinct()
            .collect().map(_.getString(0))
          val matched =
            if (candFiles.isEmpty) {
              val idType = m.schema.fields
                .find(_.name.equalsIgnoreCase(p.idCol)).map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.LongType)
              spark.range(0).select(col("id").cast(idType).as("vn"),
                col("id").cast(idType).as("dup_of"))
            } else {
              val corpusEmb = snapScan(candFiles.toSeq)
                .select(col(pc).cast("string").as("part"),
                  col(p.idCol).as("vo"), col(colName).as("e_o"))
              cand.join(corpusEmb, Seq("part", "vo"))
                .where(dotFixed(col("e_n"), col("e_o")) >=
                  Clustering.SemThreshold)
                .groupBy("vn").agg(min(col("vo")).as("dup_of"))
            }
          result(matched)
        case None =>
          val cents = graft.Tables.sidecar(spark, idxDir.resolve("cents").toString)
          val anchDf = spark.read
            .parquet(idxDir.resolve("lshanch").toString)
            .localCheckpoint()
          val meta = anchDf.select(col("n_bands"), col("bits"))
            .collect().head
          val batchBands = batchBandsOf(cents,
            anchDf.select(col("anchors")), meta.getInt(0), meta.getInt(1))
          val cand = batchBands.join(
              graft.Tables.sidecar(spark, idxDir.resolve("bands").toString)
                .select(col("vec_id").as("vo"), col("band").as("oband"),
                  col("bkey").as("obkey"), col("list_id").as("l_o"),
                  col("file")),
              col("band") === col("oband") && col("bkey") === col("obkey") &&
                col("l_n") === col("l_o"))
            .select(col("vn"), col("e_n"), col("vo"), col("file"))
            .localCheckpoint()
          val candFiles = cand.select("file").distinct()
            .collect().map(_.getString(0))
          val matched =
            if (candFiles.isEmpty) {
              val idType = m.schema.fields
                .find(_.name.equalsIgnoreCase(p.idCol)).map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.LongType)
              spark.range(0).select(col("id").cast(idType).as("vn"),
                col("id").cast(idType).as("dup_of"))
            } else {
              val corpusEmb = snapScan(candFiles.toSeq)
                .select(col(p.idCol).as("vo"), col(colName).as("e_o"))
              cand.join(corpusEmb, "vo")
                .where(dotFixed(col("e_n"), col("e_o")) >=
                  Clustering.SemThreshold)
                .groupBy("vn").agg(min(col("vo")).as("dup_of"))
            }
          result(matched)
      }
    } else p.partCol match {
      case Some(pc) =>
        // stale/reaped snapshot, partitioned: replay the per-slice
        // build artifacts over the SNAPSHOT rows (ranked geometry,
        // per-slice size-derived panels, band rows) in one part-keyed
        // dataflow — a partitioned rebuild's answer at the version
        val rows = snapScan(names)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"),
            col(pc).cast("string").as("part"))
        val geo0 = spark.createDataFrame(
          rows.groupBy("part").count().collect().toSeq.map { r =>
            val (nb, bt) = Dedup.embeddingLshParams(r.getLong(1))
            (r.getString(0), nb, bt)
          }).toDF("part", "n_bands", "bits")
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("part").orderBy("vec_id")
        val anch = rows.select(col("part"), col("vec_id"), col("embedding"))
          .withColumn("rk", row_number().over(wr))
          .join(broadcast(geo0.select(col("part"),
            (col("n_bands") * col("bits")).as("slots"))), "part")
          .where(col("rk") <= col("slots"))
          .groupBy("part")
          .agg(array_sort(collect_list(struct(col("vec_id").as("a_id"),
            col("embedding").as("a_emb")))).as("anchors"))
        val geo = geo0.join(anch, "part").coalesce(1).localCheckpoint()
        val (corpusAssigned, cents) = retrainGeometryRankedByPart(rows, p)
        val corpusBands = Dedup.embeddingBandRowsByPart(corpusAssigned,
            geo, carry = Seq("embedding", "list_id"))
          .select(col("part").as("opart"), col("vec_id").as("vo"),
            col("band").as("oband"), col("bkey").as("obkey"),
            col("embedding").as("e_o"), col("list_id").as("l_o"))
        val batchBands = Dedup.embeddingBandRowsByPart(
            Similarity.assignListsHierByPartLocal(partKeyBatch(pc), cents,
              p.coarse),
            geo, carry = Seq("embedding", "list_id"))
          .select(col("part"), col("vec_id").as("vn"), col("band"),
            col("bkey"), col("embedding").as("e_n"),
            col("list_id").as("l_n"))
        result(batchBands.join(corpusBands,
            col("part") === col("opart") && col("band") === col("oband") &&
              col("bkey") === col("obkey") && col("l_n") === col("l_o") &&
              dotFixed(col("e_n"), col("e_o")) >= Clustering.SemThreshold)
          .groupBy("vn").agg(min(col("vo")).as("dup_of")))
      case None =>
        // stale/reaped snapshot, global: replay geometry + ranked panel
        // + corpus bands over the snapshot rows
        val rows = snapScan(names)
          .select(col(p.idCol).as("vec_id"), lit(0).as("label"),
            col(colName).as("embedding"))
        val n = rows.count()
        val (corpusAssigned, cents) = retrainGeometry(rows, p, n)
        val (nBands, bits) = Dedup.embeddingLshParams(n)
        val anch = Dedup.bandAnchorsRanked(
          rows.select(col("vec_id"), col("embedding")), nBands, bits)
          .localCheckpoint()
        val corpusBands = Dedup.embeddingBandRowsWith(corpusAssigned, anch,
            nBands, bits, carry = Seq("embedding", "list_id"))
          .select(col("vec_id").as("vo"), col("band").as("oband"),
            col("bkey").as("obkey"), col("embedding").as("e_o"),
            col("list_id").as("l_o"))
        result(fused(batchBandsOf(cents, anch, nBands, bits), corpusBands))
    }
  }

  /** Diversity-balanced sampling over the index's TRAINED geometry — the
    * third leg of the amortization ([[search]], [[semDedup]]): each stored
    * cluster's capped hash-ordered members, with zero clustering work in
    * the query when the index is fresh. Stale index retrains (identical
    * output to a rebuild). Output: (list_id, rk, vec_id, label). */
  def clusterSample(spark: SparkSession, table: String, colName: String,
      labelCol: String): DataFrame =
    rowsAndCentsByPart(spark, table, colName, labelCol,
        "CLUSTER SAMPLE") match {
      case Some((rows, cents, coarse)) =>
        // BY PARTITION (r14): every SLICE's clusters contribute their
        // capped hash-ordered members; part rides the output (slice
        // list ids collide across partitions by construction)
        graft.llm.Clustering.clusterSampleByPart(
          graft.llm.Similarity.assignListsHierByPartLocal(rows, cents, coarse))
      case None =>
        val (rows, cents, coarse) = rowsAndCents(spark, table, colName,
          labelCol, "CLUSTER SAMPLE")
        graft.llm.Clustering.clusterSample(
          graft.llm.Similarity.assignListsHierLocal(rows, cents, coarse))
    }

  /** INDEX-BACKED kNN JOIN — "for each batch row, its k nearest CORPUS
    * rows": the retrieval/augmentation join (RAG candidate fetch, label
    * propagation, hard-negative mining) served from the STORED geometry
    * with nothing corpus-sized recomputed per batch. IVF-approximate like
    * [[search]]: a neighbor outside a batch row's home list doesn't
    * surface — the documented recall trade the audits monitor. Per-batch
    * cost: Σ probed-list sizes of join work + a scan of the probed lists'
    * files — a small batch reads a handful of the corpus's files, never
    * the corpus. No self-exclusion: the batch is external, so an exact
    * corpus copy is legitimately rank 1. */
  def knnJoin(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int): DataFrame =
    serve(spark, table, colName, Batch(batch, k), None, None, None)

  /** FILTERED kNN JOIN — the filtered-ANN rule per batch row: filtering
    * the output would under-fill every row's k. */
  def knnJoinWhere(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, predicate: Column): DataFrame =
    serve(spark, table, colName, Batch(batch, k), None, Some(predicate), None)

  /** PQ-COMPRESSED kNN JOIN — [[knnJoin]] with the two-stage candidate
    * cut per batch row: the same 4-16× candidate-I/O cut [[searchPq]]
    * makes, amortized across the batch (the survivors' ≤
    * \|batch\|×rerank files are the only embedding reads). */
  def knnJoinPq(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, rerank: Int = 50): DataFrame =
    serve(spark, table, colName, Batch(batch, k), Some(rerank), None, None)

  /** FILTERED PQ kNN JOIN — the predicate narrows every batch row's
    * codes before its ADC cutoff. */
  def knnJoinPqWhere(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, rerank: Int, predicate: Column): DataFrame =
    serve(spark, table, colName, Batch(batch, k), Some(rerank),
      Some(predicate), None)

  /** TIME-TRAVEL-CONSISTENT ANN — search a TABLE SNAPSHOT with the index
    * version that covered it: the snapshot manifest carries the
    * `vecidx.` prop AS OF that commit, so the HISTORICAL posting lists
    * prune and the candidate scan pins both the files and the snapshot —
    * DV state as of the version, so a later merge-on-read DELETE doesn't
    * leak backward and a since-deleted row still ranks where it did. The
    * text tier's C200 guard solved the inverse hazard (a pinned scan must
    * never prune against the CURRENT posting list); this is the positive
    * capability: prune against the snapshot's OWN list. */
  def searchAsOf(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int,
      probes: Int = 1): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), None, None,
      Some(version))

  /** FILTERED time travel: reproduce yesterday's FILTERED RAG serve — the
    * predicate evaluates against the snapshot's own rows and DV state,
    * so the filter set is exactly what it was at the version. */
  def searchAsOfWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int, probes: Int,
      predicate: Column): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), None,
      Some(predicate), Some(version))

  /** PQ time travel: the snapshot dir carries its OWN `pqcb/` + `codes/`
    * sidecars, so the compressed serve replays at the version — ADC
    * pre-rank over the historical codes, exact rerank pinned to the
    * snapshot scan. */
  def searchAsOfPq(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, version: Int, probes: Int,
      rerank: Int, predicate: Option[Column] = None): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), Some(rerank),
      predicate, Some(version))

  /** TIME-TRAVEL kNN JOIN — [[knnJoin]] against a TABLE SNAPSHOT:
    * reproducing yesterday's RAG candidate fetch needs the batch join,
    * not just the single-probe search. Snapshot resolution is
    * [[searchAsOf]]'s. */
  def knnJoinAsOf(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, version: Int,
      predicate: Option[Column] = None): DataFrame =
    serve(spark, table, colName, Batch(batch, k), None, predicate,
      Some(version))

  /** TIME-TRAVEL PQ kNN JOIN — [[knnJoinPq]] against a TABLE SNAPSHOT:
    * per-row ADC cutoff over the snapshot's OWN codes against its OWN
    * codebook, survivors fetched through the snapshot-pinned scan. */
  def knnJoinAsOfPq(spark: SparkSession, table: String, colName: String,
      batch: DataFrame, k: Int, version: Int, rerank: Int = 50,
      predicate: Option[Column] = None): DataFrame =
    serve(spark, table, colName, Batch(batch, k), Some(rerank), predicate,
      Some(version))

  /** IVF top-k for `probe` over the indexed column: rows of the probe's
    * `probes` nearest clusters ranked by exact fixed-point dot (multi-
    * probe is the standard IVF recall knob: boundary-straddling neighbors
    * surface at ~probes× candidate cost, still Σ\|list\| — never the
    * table). */
  def search(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int = 1): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), None, None,
      None)

  /** FILTERED IVF search — the filtered-ANN rule: the predicate narrows
    * the CANDIDATES (pushdown and zone-map file skipping stack with the
    * posting pruning), so the top-k is never under-filled. */
  def searchWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int,
      predicate: Column): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), None,
      Some(predicate), None)

  /** IVF-PQ top-k — the candidate-COMPRESSION path of the standard 100 TB
    * ANN architecture: raise `rerank` toward the list size and it
    * converges on [[search]]. Deletion vectors (the BM25 deleted-docs
    * rule's analog): a DV'd row never RANKS — the exact-rerank scan drops
    * it — but its stored code can occupy a rerank slot until the next
    * REFRESH, which since the dv-digest tier sees DV-only churn and
    * re-derives exactly the touched files' codes (`t$indexes` reports
    * the interim `dv_drift`); result membership is always live-exact. */
  def searchPq(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int = 1,
      rerank: Int = 50): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), Some(rerank),
      None, None)

  /** FILTERED IVF-PQ search — the RAG serving shape at 100 TB: a metadata
    * predicate AND compressed candidates in one query; the result is the
    * exact top-k among the ADC-top-`rerank` of the PREDICATE-MATCHING
    * rows of the probed lists. */
  def searchPqWhere(spark: SparkSession, table: String, colName: String,
      probe: Array[Float], topK: Int, probes: Int, rerank: Int,
      predicate: Column): DataFrame =
    serve(spark, table, colName, Probe(probe, topK, probes), Some(rerank),
      Some(predicate), None)

  /** The query side of a serve (stage 4): one probe vector, or a batch
    * carrying the table's own id + embedding columns. */
  private[graft] sealed trait Shape
  private[graft] final case class Probe(probe: Array[Float], topK: Int,
      probes: Int) extends Shape
  private[graft] final case class Batch(batch: DataFrame, k: Int)
      extends Shape

  /** THE serve pipeline behind every search and kNN join (see the object
    * doc). This is stage 1, the snapshot; [[Pipeline]] runs the rest.
    * `allowRefresh` bounds the live stale→refresh→re-serve recursion to
    * a SINGLE catch-up: if a concurrent writer re-stales the table
    * between the refresh's digest stamp and the re-check, the second
    * attempt falls through to the in-query retrain (or the fail policy)
    * instead of chasing the writer. */
  private[graft] def serve(spark: SparkSession, table: String,
      colName: String, shape: Shape, rerank: Option[Int],
      predicate: Option[Column], version: Option[Int],
      allowRefresh: Boolean = true): DataFrame = {
    val pqTag = if (rerank.isDefined) " PQ" else ""
    val op = (shape, version) match {
      case (_: Probe, None) => s"VECTOR SEARCH$pqTag"
      case (_: Probe, Some(_)) => "VECTOR SEARCH AS OF"
      case (_: Batch, None) => s"KNN JOIN$pqTag"
      case (_: Batch, Some(_)) => s"VECTOR KNN JOIN$pqTag AS OF"
    }
    val mt = ManifestTable.resolve(spark, table, op)
    val m = version match {
      case None => Manifest.read(mt.dir).getOrElse(
        throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
      case Some(v) => Manifest.readSnapshot(mt.dir, v).getOrElse(
        throw new IllegalArgumentException(
          s"$op: snapshot $v expired or never existed at ${mt.dir}"))
    }
    val p = parseProp(m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(s"$op: no vector index on $table " +
        s"($colName)" + (version match {
          case Some(v) => s" existed as of version $v — the snapshot " +
            "carries no vecidx prop"
          case None if op == "VECTOR SEARCH" => s" — CREATE VECTOR INDEX " +
            s"ON $table ($colName) ANCHORS (<idCol>) first"
          case None if op == "VECTOR SEARCH PQ" => ""
          case None => " — CREATE VECTOR INDEX first"
        }))))
    def noCodebook(trained: Boolean): Nothing =
      throw new IllegalStateException((shape, version) match {
        case (_: Probe, None) => s"$op: the index on $table ($colName) " +
          "has no PQ codebook — either the anchor id range had no rows " +
          s"below ${graft.llm.Similarity.PqCbK}, or a BY PARTITION index " +
          "predates the per-partition PQ tier; re-run CREATE VECTOR " +
          "INDEX, or use search/searchWhere"
        case (_, Some(v)) => s"$op: no PQ codebook trains at snapshot $v " +
          "(no rows below the anchor cap) — use " +
          (if (shape.isInstanceOf[Probe]) "searchAsOf" else "knnJoinAsOf")
        case _ if trained => s"$op: no PQ codebook trains (no rows below " +
          "the anchor cap) — use knnJoin"
        case _ => s"$op: the index on $table ($colName) has no PQ " +
          "codebook — re-run CREATE VECTOR INDEX, or use knnJoin"
      })
    val idxDir = mt.dir.resolve(p.idxName)
    def has(sidecar: String) =
      java.nio.file.Files.exists(idxDir.resolve(sidecar))
    val fresh = p.isCurrent(digestOf(m))
    // the one servability rule: the stored sidecars serve iff the digest
    // is current and — at a version, whose dir VACUUM may have reaped —
    // every sidecar the serve reads is present; a live PQ serve refuses
    // a fresh index without a codebook rather than retrain it
    val stored = version match {
      case Some(_) => fresh && (Seq("cents", "posts") ++
        rerank.map(_ => Seq("pqcb", "codes")).getOrElse(Nil)).forall(has)
      case None if fresh =>
        if (rerank.isDefined && !has("pqcb")) noCodebook(trained = false)
        true
      case None => onStale(spark) match {
        case "fail" => staleRefused(op, table)
        case "refresh" if allowRefresh =>
          refuseRefreshIfReadOnly(spark, op)
          refresh(spark, mt.dir, colName)
          return serve(spark, table, colName, shape, rerank, predicate,
            version, allowRefresh = false)
        case _ => false
      }
    }
    new Pipeline(spark, mt.dir, m, p, colName, version, predicate, stored,
      () => noCodebook(trained = true)).run(shape, rerank)
  }

  /** Stages 2-4 of one serve over a resolved snapshot. */
  private final class Pipeline(spark: SparkSession, dir: Path, m: Manifest,
      p: Prop, colName: String, version: Option[Int],
      predicate: Option[Column], stored: Boolean,
      noCodebook: () => Nothing) {
    import graft.llm.Similarity
    import graft.llm.PortableHash.dotFixed

    def run(shape: Shape, rerank: Option[Int]): DataFrame = {
      val f = shape match {
        case s: Probe => new ProbeForm(s)
        case s: Batch => new BatchForm(s)
      }
      rerank.fold(exact(f))(pq(f, _))
    }

    // ---- stage 2: the geometry source, keyed by `keys` ----
    private val grp: Seq[String] = p.partCol.map(_ => "part").toSeq
    private val keys: Seq[String] = grp :+ "list_id"
    // partition pins apply here and only here: to the centroids and to
    // every keyed row set (so also to the retrain's training rows)
    private val pins: Option[Seq[String]] = for {
      pc <- p.partCol
      pr <- predicate
      ps <- partitionPins(pr, pc, partTypeOf(m, pc))
    } yield ps
    private def pin(df: DataFrame): DataFrame =
      pins.fold(df)(ps => df.where(col("part").isin(ps: _*)))
    private def scan(files: Seq[String]): DataFrame =
      scanFiles(spark, dir, files, version)
    private lazy val all = scan(m.entries.filter(_.rows > 0).map(_.name))
    private def filtered(df: DataFrame): DataFrame =
      predicate.fold(df)(df.where)
    /** Table rows in the assigners' schema — (vec_id, label, embedding),
      * plus `part` BY PARTITION — pinned. */
    private def keyed(df: DataFrame): DataFrame = pin(df.select(Seq(
        col(p.idCol).as("vec_id"), lit(0).as("label"),
        col(colName).as("embedding")) ++
      p.partCol.map(pc => col(pc).cast("string").as("part")): _*))
    private def sidecar(name: String): DataFrame = graft.Tables.sidecar(spark,
      dir.resolve(p.idxName).resolve(name).toString)
    private lazy val trainRows = keyed(all)
    private lazy val n = trainRows.count()
    private val cents: DataFrame =
      if (stored) pin(sidecar("cents"))
      else if (grp.isEmpty) retrainGeometry(trainRows, p, n)._2
      else retrainGeometryRankedByPart(trainRows, p)._2
    /** The PQ codebook as one `cents` array row per `grp` group. */
    private lazy val codebook: DataFrame = pqCbArr(
      if (stored) sidecar("pqcb")
      else if (grp.nonEmpty) trainPqCodebookRankedByPart(
        trainRows.select(col("part"), col("vec_id"), col("embedding")))
      else {
        val cb = trainPqCodebook(trainRows, n)
        if (cb.isEmpty) noCodebook()
        cb
      }, grp)
    /** Re-derive each row's list under the geometry (two-level assigner,
      * BY PARTITION against the row's own partition's centroids). */
    private def assign(rows: DataFrame): DataFrame =
      if (grp.isEmpty) Similarity.assignListsHierLocal(rows, cents, p.coarse)
      else Similarity.assignListsHierByPartLocal(rows, cents, p.coarse)
    private def withCodebook(df: DataFrame): DataFrame =
      if (grp.isEmpty) df.crossJoin(broadcast(codebook))
      else df.join(broadcast(codebook), "part")
    /** In-query PQ codes of table rows — the retrain's `codes/`. */
    private def encode(rows: DataFrame): DataFrame =
      (0 until Similarity.PqM).foldLeft(withCodebook(rows)) { (df, b) =>
        df.withColumn(s"code$b",
          Similarity.pqCode(col("cents"), col("embedding"), b))
      }.drop("cents")

    /** The IVF lists a serve probes, from a `keys` frame: the collected
      * ids for a global index (an IN filter that pushes into the sidecar
      * scans), the frame itself BY PARTITION — broadcast-joined when
      * `join` (a probe; a batch's own key join already restricts). */
    private final class Lists(frame: DataFrame, join: Boolean) {
      private lazy val ids =
        frame.select("list_id").collect().map(_.getInt(0)).toSeq
      def restrict(df: DataFrame): DataFrame =
        if (grp.nonEmpty) { if (join) df.join(broadcast(frame), keys) else df }
        else if (ids.isEmpty) df.where(lit(false))
        else df.where(col("list_id").isin(ids: _*))
      /** The table files holding rows of these lists (posting sidecar). */
      lazy val files: Seq[String] =
        (if (grp.nonEmpty) sidecar("posts").join(frame, keys)
         else restrict(sidecar("posts")))
          .select("file").distinct().collect().map(_.getString(0)).toSeq
    }

    // ---- stage 3: the scorer ----

    /** Exact: candidates re-derive their list under the geometry, the
      * predicate having narrowed them first, and rank by the fixed-point
      * dot. Stored geometry reads only the probed lists' posting files. */
    private def exact(f: Form): DataFrame = {
      val src =
        if (!stored) all
        else {
          val fs = f.lists.files
          if (fs.isEmpty) return f.empty
          scan(fs)
        }
      val cand = f.restrict(assign(keyed(filtered(src))))
      f.finish(f.score(f.meet(cand)), preCut = grp.nonEmpty)
    }

    /** PQ: the ADC pre-rank over the narrow codes (the predicate
      * semi-joins them BEFORE the cutoff), the top `rerank` per (query,
      * part) survive, and only they fetch embeddings for the exact
      * rerank. Stored codes come from `codes/`, the predicate from a scan
      * of the probed lists' files for its columns only, and the
      * survivors MATERIALIZE once — they drive the file pruning and the
      * broadcast fetch. */
    private def pq(f: Form, rerank: Int): DataFrame = {
      val codes =
        if (!stored) encode(f.restrict(assign(keyed(filtered(all)))))
        else predicate match {
          case None => f.restrict(sidecar("codes"))
          case Some(pr) =>
            val fs = f.lists.files
            if (fs.isEmpty) return f.empty
            // ids only need be unique within a partition: match on
            // (part, vec_id) BY PARTITION
            f.restrict(sidecar("codes")).join(
              keyed(scan(fs).where(pr)).select((grp :+ "vec_id").map(col): _*),
              grp :+ "vec_id", "left_semi")
        }
      val payload = if (stored) "file" else "embedding"
      val top = topPer(withCodebook(f.meet(codes))
          .withColumn("sim_adc",
            Similarity.pqAdc(col("cents"), f.query, b => col(s"code$b"))),
          f.by ++ grp, rerank, desc("sim_adc"), col("vec_id"))
        .select((f.carry ++ grp :+ "vec_id" :+ payload).map(col): _*)
      val rows =
        if (!stored) top
        else {
          val survivors = top.localCheckpoint()
          val fs = survivors.select("file").distinct()
            .collect().map(_.getString(0)).toSeq
          if (fs.isEmpty) return f.empty
          keyed(scan(fs)).select((grp :+ "vec_id" :+ "embedding").map(col): _*)
            .join(broadcast(survivors.drop("file")), grp :+ "vec_id")
        }
      // a batch's ADC window already bounds every (bid, part) group; a
      // per-part cut there would only add an exchange
      f.finish(f.score(rows),
        preCut = grp.nonEmpty && f.isInstanceOf[ProbeForm])
    }

    // ---- stage 4: the shape ----

    private abstract class Form {
      /** The lists candidates are restricted to. */
      def lists: Lists
      def restrict(df: DataFrame): DataFrame
      /** Pair candidates (or codes) with the query rows. */
      def meet(df: DataFrame): DataFrame
      /** The ADC query vector, its cutoff groups besides `part`, and the
        * columns its survivors carry. */
      def query: Column
      def by: Seq[String]
      def carry: Seq[String]
      /** The exact fixed-point score of (query, candidate) rows. */
      def score(rows: DataFrame): DataFrame
      /** The top-k cut and output columns; `preCut` first cuts per part. */
      def finish(scored: DataFrame, preCut: Boolean): DataFrame
      def empty: DataFrame
    }

    /** One probe: its `probes` nearest lists, output (vec_id, list_id,
      * sim), a bounded global heap. */
    private final class ProbeForm(s: Probe) extends Form {
      private val pv = typedLit(s.probe.toSeq)
      val lists = new Lists(topPer(
          cents.select(grp.map(col) ++ Seq(col("c_id"),
            dotFixed(col("c_emb"), pv).as("pd")): _*),
          grp, s.probes, desc("pd"), col("c_id"))
        .select(grp.map(col) :+ col("c_id").as("list_id"): _*), join = true)
      def restrict(df: DataFrame): DataFrame = lists.restrict(df)
      def meet(df: DataFrame): DataFrame = df
      def query: Column = pv
      def by: Seq[String] = Nil
      def carry: Seq[String] = Seq("list_id")
      def score(rows: DataFrame): DataFrame =
        rows.select(grp.map(col) ++ Seq(col("vec_id"), col("list_id"),
          dotFixed(col("embedding"), pv).as("sim")): _*)
      def finish(scored: DataFrame, preCut: Boolean): DataFrame =
        (if (preCut) topPer(scored, grp, s.topK, desc("sim"), col("vec_id"))
         else scored)
          .select(col("vec_id"), col("list_id"), col("sim"))
          .orderBy(desc("sim"), col("vec_id")).limit(s.topK)
      def empty: DataFrame = emptyResult(spark, m, p.idCol)
    }

    /** A batch: each row's home list under every (pinned) geometry,
      * output (vec_id, rank, nn_id, sim) with rank 1..k per batch row. */
    private final class BatchForm(s: Batch) extends Form {
      private val b0 = s.batch.select(col(p.idCol).as("vec_id"),
        lit(0).as("label"), col(colName).as("embedding"))
      // MATERIALIZED when stored: it drives the posting lookup AND the
      // candidate join
      private val assigned = {
        val a =
          if (grp.isEmpty) Similarity.assignLists(b0, cents)
          else assignBatchAllParts(b0, cents)
        if (stored) a.localCheckpoint() else a
      }
      private val side = assigned.select(grp.map(col) ++ Seq(
        col("vec_id").as("bid"), col("embedding").as("e_n"),
        col("list_id")): _*)
      lazy val lists = new Lists(assigned.select(keys.map(col): _*).distinct(),
        join = false)
      def restrict(df: DataFrame): DataFrame =
        if (stored) lists.restrict(df) else df
      def meet(df: DataFrame): DataFrame = side.join(df, keys)
      def query: Column = col("e_n")
      def by: Seq[String] = Seq("bid")
      def carry: Seq[String] = Seq("bid", "e_n")
      def score(rows: DataFrame): DataFrame =
        rows.select((col("bid") +: grp.map(col)) ++ Seq(
          col("vec_id").as("nn_id"),
          dotFixed(col("e_n"), col("embedding")).as("sim")): _*)
      def finish(scored: DataFrame, preCut: Boolean): DataFrame =
        (if (preCut)
           topPer(scored, "bid" +: grp, s.k, desc("sim"), col("nn_id"))
         else scored)
          .withColumn("rank", row_number().over(Window.partitionBy("bid")
            .orderBy(desc("sim"), col("nn_id"))).cast(IntegerType))
          .filter(col("rank") <= s.k)
          .select(col("bid").as("vec_id"), col("rank"), col("nn_id"),
            col("sim"))
          .orderBy("vec_id", "rank")
      /** The zero-candidate result, in the ranked path's exact schema. */
      def empty: DataFrame = finish(score(side.select("bid", "e_n")
        .crossJoin(keyed(all)
          .select((grp :+ "vec_id" :+ "embedding").map(col): _*))
        .where(lit(false))), preCut = false)
    }
  }

  /** The top `n` rows of `df` under `order` within each `by` group — a
    * bounded heap (TakeOrdered) when ungrouped, a ranked window
    * otherwise. */
  private def topPer(df: DataFrame, by: Seq[String], n: Int,
      order: Column*): DataFrame =
    if (by.isEmpty) df.orderBy(order: _*).limit(n)
    else df.withColumn("rk", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .where(col("rk") <= n).drop("rk")

  /** Batch rows × EVERY partition's flat geometry, one fan-out dataflow:
    * each batch row takes its max-dot home list per part's sorted
    * centroid array — the [[graft.llm.Similarity.assignLists]] argmax,
    * replayed under every sub-geometry at once. \|batch\| × parts rows
    * (an unpinned partitioned batch join probes every pin), with zero
    * driver round-trips. */
  private def assignBatchAllParts(b0: DataFrame,
      cents: DataFrame): DataFrame =
    b0.crossJoin(broadcast(pqCbArr(cents, Seq("part"))))
      // codegen single-pass argmax — value-identical to
      // transform(dots)+array_position(array_max)
      .withColumn("pos",
        graft.functions.TopTwoDotFixed.bestPos(col("embedding"), col("cents")))
      .withColumn("list_id",
        element_at(col("cents"), col("pos")).getField("c_id"))
      .select(col("part"), col("vec_id"), col("embedding"), col("list_id"))

  private def partTypeOf(m: Manifest,
      pc: String): org.apache.spark.sql.types.DataType =
    m.schema.fields.find(_.name.equalsIgnoreCase(pc)).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)

  /** The zero-candidate probe result, in the SAME schema as the ranked
    * path: vec_id in the ID COLUMN'S declared type (not a hard-coded
    * BIGINT — callers unioning across calls would hit a type mismatch on
    * an INT-keyed table), list_id INT, sim DOUBLE. */
  private def emptyResult(spark: SparkSession, m: Manifest,
      idCol: String): DataFrame = {
    val idType = m.schema.fields
      .find(_.name.equalsIgnoreCase(idCol)).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    spark.range(0).select(col("id").cast(idType).as("vec_id"),
      lit(0).as("list_id"), lit(0.0).as("sim"))
  }

  /** The stale-replay retrain for BY PARTITION indexes as ONE part-keyed
    * dataflow (r14) — every affected partition's ranked, SAMPLE-aware
    * sub-geometry ([[graft.llm.Clustering.kmeansAssignRankedByPart]])
    * under the persisted policy, replacing the per-pin sequential
    * kmeans loop (which also ignored the persisted SAMPLE — the r13
    * advice item). */
  private def retrainGeometryRankedByPart(rows: DataFrame,
      p: Prop): (DataFrame, DataFrame) =
    graft.llm.Clustering.kmeansAssignRankedByPart(rows, Iters, p.coarse,
      p.lists, p.sample)

  /** The PARTITIONED twin of [[rowsAndCents]] (r14): for a BY PARTITION
    * index, all live rows part-keyed plus the stored (fresh) or
    * part-keyed-retrained (stale, ranked + SAMPLE-aware) per-slice
    * centroids. Returns None for a global index — callers fall through
    * to the global resolution. */
  private def rowsAndCentsByPart(spark: SparkSession, table: String,
      colName: String, labelCol: String, op: String)
      : Option[(DataFrame, DataFrame, Int)] = {
    val mt = ManifestTable.resolve(spark, table, op)
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
    val prop = m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(
        s"$op: no vector index on $table ($colName)"))
    val p = parseProp(prop)
    val pc = p.partCol.getOrElse(return None)
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val rows = scanFiles(spark, mt.dir, names)
      .select(col(p.idCol).as("vec_id"), col(labelCol).as("label"),
        col(colName).as("embedding"), col(pc).cast("string").as("part"))
    def stored(idx: String) =
      graft.Tables.sidecar(spark, mt.dir.resolve(idx).resolve("cents").toString)
    val cents =
      if (p.isCurrent(digestOf(m))) stored(p.idxName)
      else onStale(spark) match {
        case "fail" => staleRefused(op, table)
        case "refresh" =>
          refuseRefreshIfReadOnly(spark, op)
          refresh(spark, mt.dir, colName)
          val cur = Manifest.read(mt.dir).getOrElse(m)
          stored(parseProp(cur.props(PropPrefix + colName.toLowerCase))
            .idxName)
        case _ => retrainGeometryRankedByPart(
          rows.select(col("part"), col("vec_id"), lit(0).as("label"),
            col("embedding")), p)._2
      }
    Some((rows, cents, p.coarse))
  }

  /** Shared resolution for the trained-geometry compositions: all live
    * rows re-keyed to the Lloyd helper's schema, the stored (fresh) or
    * retrained (stale) centroids, and the build's coarse-probe count
    * (serve-time re-derivation must assign exactly as the build did). */
  private def rowsAndCents(spark: SparkSession, table: String,
      colName: String, labelCol: String, op: String)
      : (DataFrame, DataFrame, Int) = {
    val mt = ManifestTable.resolve(spark, table, op)
    val m = Manifest.read(mt.dir).getOrElse(
      throw new IllegalStateException(s"$op: no manifest at ${mt.dir}"))
    val prop = m.props.getOrElse(PropPrefix + colName.toLowerCase,
      throw new IllegalStateException(
        s"$op: no vector index on $table ($colName)"))
    val p = parseProp(prop)
    // unreachable-by-construction safety net: every composition caller
    // tries [[rowsAndCentsByPart]] first, so a partitioned index never
    // reaches this global resolution
    if (p.partCol.isDefined) throw new UnsupportedOperationException(
      s"$op: BY PARTITION indexes route through the part-keyed " +
        "resolution — this global path must not see one")
    val names = m.entries.filter(_.rows > 0).map(_.name)
    val rows = scanFiles(spark, mt.dir, names)
      .select(col(p.idCol).as("vec_id"), col(labelCol).as("label"),
        col(colName).as("embedding"))
    def stored(idx: String) =
      graft.Tables.sidecar(spark, mt.dir.resolve(idx).resolve("cents").toString)
    val cents =
      if (p.isCurrent(digestOf(m))) stored(p.idxName)
      else onStale(spark) match {
        case "fail" => staleRefused(op, table)
        case "refresh" =>
          refuseRefreshIfReadOnly(spark, op)
          refresh(spark, mt.dir, colName)
          val cur = Manifest.read(mt.dir).getOrElse(m)
          stored(parseProp(cur.props(PropPrefix + colName.toLowerCase)).idxName)
        case _ => retrainGeometry(rows, p)._2
      }
    (rows, cents, p.coarse)
  }

  /** Drop the index prop (idempotent); the dir becomes VACUUM-reapable. */
  def drop(spark: SparkSession, dir: Path, colName: String): Unit =
    ManifestLock.withLock(dir) {
      Manifest.read(dir).foreach { cur =>
        val key = PropPrefix + colName.toLowerCase
        if (cur.props.contains(key))
          Manifest.write(dir, cur.copy(props = cur.props - key))
      }
    }
}
