package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The file-level IVF vector index ([[VectorIndex]]): exact-IVF search
  * semantics with file pruning, stale-index retrain fallback, DV
  * admissibility, DROP + VACUUM reap, type refusal. */
class VectorIndexSpec extends SparkSuite {
  import spark.implicits._

  private val dim = IndexFixtures.dim
  private def vec(hot: Int, jitter: (Int, Float)*): Array[Float] =
    IndexFixtures.vec(hot, jitter: _*)

  private def freshCatalog(tag: String): String = {
    val root = Files.createTempDirectory(s"graft_vix_$tag").toString
    spark.conf.set(s"spark.sql.catalog.$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$tag.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $tag.ns")
    tag
  }

  private def stage(cat: String): String =
    IndexFixtures.vectors(spark, s"$cat.ns.emb")

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[ManifestScan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val here = p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[ManifestScan] => Seq(b.scan.asInstanceOf[ManifestScan])
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      here ++ kids.flatMap(go)
    }
    go(df.queryExecution.executedPlan).map(_.plannedFiles).sum
  }

  test("fresh index: exact IVF result, one blob file planned") {
    val cat = freshCatalog("vix1")
    val t = stage(cat)
    val built = spark.sql(
      s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)").collect().head
    assert(built.getLong(0) == 2L && built.getLong(1) == 8L)
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 5)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(ids.subsetOf((0L to 5L).toSet) && ids.size == 5,
      s"probe on blob A must rank only blob-A vectors, got $ids")
    assert(plannedFiles(res) == 1, "posting list covers one blob file")
    // the stale/no-pruning path answers identically (exact-IVF contract)
    val resB = VectorIndex.search(spark, t, "embedding", vec(1), 5)
    assert(resB.select("vec_id").as[Long].collect().toSet
      .subsetOf((6L to 11L).toSet))
  }

  test("stale index retrains on the fly: new rows surface, no pruning") {
    val cat = freshCatalog("vix2")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // a new near-probe vector lands after the build
    Seq((12L, 0, vec(0, (30, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 7)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(ids.contains(12L), "stale index must not hide the new vector")
    // the retrain lineage scans the table more than once (anchors +
    // assignment + ranking); the point is that SOME scan covers all 3
    // files — nothing pruned to the stale posting list
    assert(plannedFiles(res) >= 3, "stale path scans the whole table")
  }

  test("deletion vectors keep the index fresh and the ranking exact") {
    val cat = freshCatalog("vix3")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    spark.sql(s"DELETE FROM $t WHERE vec_id = 3")
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 6)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(3L) && ids.nonEmpty, s"DV'd row must not rank: $ids")
    assert(plannedFiles(res) == 1, "DV must not invalidate the index")
  }

  test("DV-only churn: refresh re-derives the touched file's sidecar rows") {
    val cat = freshCatalog("vix30")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    def idxOf() = Manifest.read(dir).get.props("vecidx.embedding").split(";")(0)
    val idx0 = idxOf()
    def codeIds(idx: String): Set[Long] =
      spark.read.parquet(dir.resolve(idx).resolve("codes").toString)
        .select("vec_id").as[Long].collect().toSet
    def bandFiles(idx: String): Map[String, Long] =
      spark.read.parquet(dir.resolve(idx).resolve("bands").toString)
        .groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(codeIds(idx0) == (0L to 11L).toSet)
    val bandsBefore = bandFiles(idx0)
    // DV-delete vec 3 (blob A's file): names unchanged → still fresh,
    // but the stored codes/bands carry a dead vec_id (rerank-budget
    // waste) — t$indexes reports the debt
    spark.sql(s"DELETE FROM $t WHERE vec_id = 3")
    val meta = spark.sql(s"SELECT fresh, details FROM $cat.ns.`emb$$indexes`")
      .collect().head
    assert(meta.getBoolean(0), "dv drift is debt, not a freshness flip")
    assert(meta.getString(1).contains("dv_drift=true"), meta.getString(1))
    // refresh: ONE drifted file re-derives against the STORED geometry
    val (n, remapped) = VectorIndex.refresh(spark, dir, "embedding")
    assert(n == 1L && remapped, s"($n, $remapped)")
    val idx1 = idxOf()
    assert(codeIds(idx1) == (0L to 11L).toSet - 3L,
      "the dead vec_id's code dropped")
    val bandsAfter = bandFiles(idx1)
    val touched = bandsBefore.filter { case (f, c) => bandsAfter.get(f) != Some(c) }
    assert(touched.size == 1 &&
      bandsAfter(touched.keys.head) < touched.values.head,
      s"only the dv'd file's band rows re-derived: $bandsBefore → $bandsAfter")
    // drift cleared; fast-path no-op; geometry untouched (same cents)
    val meta2 = spark.sql(s"SELECT details FROM $cat.ns.`emb$$indexes`")
      .collect().head
    assert(!meta2.getString(0).contains("dv_drift"), meta2.getString(0))
    assert(VectorIndex.refresh(spark, dir, "embedding") == ((0L, false)))
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 6)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(3L) && ids.subsetOf((0L to 5L).toSet),
      s"live-exact after catch-up: $ids")
    assert(plannedFiles(res) == 1, "pruning still admissible")
  }

  test("BY PARTITION: dv drift retrains only the touched partition") {
    val cat = freshCatalog("vix31")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    val blobA = (0 to 5).map(i => (i.toLong, 0, vec(0, (10, 0.05f))))
    val blobB = (6 to 11).map(i => (i.toLong, 1, vec(1, (20, 0.05f))))
    blobA.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    blobB.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    spark.sql(s"DELETE FROM $t WHERE vec_id = 3")
    // per-partition attribution: label 0's slice is stale, label 1's
    // still serves
    val parts = spark.sql(s"SELECT fresh, details FROM $cat.ns.`emb$$indexes` " +
      "WHERE kind = 'vector-part' ORDER BY details").collect()
    assert(parts.length == 2)
    assert(!parts(0).getBoolean(0) && parts(0).getString(1).startsWith("part=0"),
      s"dv'd partition stale: ${parts.toSeq}")
    assert(parts(1).getBoolean(0) && parts(1).getString(1).startsWith("part=1"),
      s"untouched partition fresh: ${parts.toSeq}")
    // partition-scoped refresh retrains ONE slice; the untouched pin
    // still answers, the touched pin no longer ranks the dead row
    val (n, remapped) = VectorIndex.refresh(spark,
      spark.table(t).queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[ManifestTable] =>
          r.table.asInstanceOf[ManifestTable].dir
      }.get, "embedding")
    assert(n == 1L && remapped, s"($n, $remapped)")
    val pinned = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 6,
      1, col("label") === 0)
    val ids = pinned.select("vec_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 4L, 5L), s"live-exact sub-index: $ids")
  }

  test("knnJoin: stored-geometry batch join fetches probed-list files only") {
    val cat = freshCatalog("vix40")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // a batch probe near blob A: its home list is blob A's, so ONLY
    // blob A's posting file is fetched and every neighbor is a blob-A row
    val batch = Seq((100L, vec(0, (30, 0.02f)))).toDF("vec_id", "embedding")
    val res = VectorIndex.knnJoin(spark, t, "embedding", batch, 3)
    val rows = res.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 3 && rows.forall(_._1 == 100L), rows.toSeq.toString)
    assert(rows.map(_._3).toSet.subsetOf((0L to 5L).toSet),
      s"blob-A neighbors only: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq == Seq(1, 2, 3), "dense ranks")
    assert(plannedFiles(res) == 1, "only the probed list's file fetches")
    // stale index (append) under the default retrain: the new row ranks
    Seq((12L, 0, vec(0, (31, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val stale = VectorIndex.knnJoin(spark, t, "embedding", batch, 12)
    val ids = stale.select("nn_id").as[Long].collect().toSet
    assert(ids.contains(12L), s"stale retrain must see the new row: $ids")
    // BY PARTITION: pinned pins route to their own sub-geometries, a
    // multi-pin unions per-pin top-ks, and NO pin = all partitions (the
    // C225 rule applied to the batch join); since r14 the PQ join serves
    // partitioned indexes too (per-pin codebooks, per-(row, pin) cutoff)
    val cat2 = freshCatalog("vix41")
    val t2 = s"$cat2.ns.emb"
    spark.sql(s"CREATE TABLE $t2 (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    (0 to 5).map(i => (i.toLong, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t2).append()
    (6 to 11).map(i => (i.toLong, 1, vec(1, (20, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t2).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t2 (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val pinned = VectorIndex.knnJoinWhere(spark, t2, "embedding", batch, 3,
      col("label") === 1)
    val pn = pinned.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pn.map(_._2).forall(n => n >= 6L && n <= 11L),
      s"pin routes to label 1's sub-geometry only: ${pn.toSeq}")
    assert(plannedFiles(pinned) == 1, "the pinned slice's one file plans")
    val global = VectorIndex.knnJoin(spark, t2, "embedding", batch, 3)
    val gl = global.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(gl.filter(_._1 == 100L).map(_._2).toSet.subsetOf((0L to 5L).toSet),
      s"a blob-A probe's global top-k comes from label 0's slice: ${gl.toSeq}")
    val pq = VectorIndex.knnJoinPq(spark, t2, "embedding", batch, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.filter(_._1 == 100L).map(_._2).toSet.subsetOf((0L to 5L).toSet),
      "the partitioned PQ join serves per-pin codebooks (r14 — the " +
        s"refusal is lifted): ${pq.toSeq}")
  }

  test("knnJoinPq: per-row ADC cutoff, bounded fetch, converges on exact") {
    val cat = freshCatalog("vix42")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val batch = Seq((100L, vec(0, (30, 0.02f))), (200L, vec(1, (40, 0.03f))))
      .toDF("vec_id", "embedding")
    val pq = VectorIndex.knnJoinPq(spark, t, "embedding", batch, 3,
      rerank = 4)
    val rows = pq.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.count(_._1 == 100L) == 3 && rows.count(_._1 == 200L) == 3)
    assert(rows.filter(_._1 == 100L).map(_._3).toSet.subsetOf((0L to 5L).toSet))
    assert(rows.filter(_._1 == 200L).map(_._3).toSet.subsetOf((6L to 11L).toSet))
    assert(plannedFiles(pq) == 2,
      "each row's survivors live in its own blob file — 2 files total")
    // rerank ≥ list size converges on the exact knnJoin answer
    val exact = VectorIndex.knnJoin(spark, t, "embedding", batch, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val conv = VectorIndex.knnJoinPq(spark, t, "embedding", batch, 3,
      rerank = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(conv == exact, s"rerank ≥ list size must equal exact: $conv vs $exact")
  }

  test("VECTOR KNN JOIN SQL: standalone, PQ form, composable relation") {
    val cat = freshCatalog("vix43")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val using = s"(SELECT vec_id + 100 AS vec_id, embedding FROM $t " +
      "WHERE vec_id IN (0, 6))"
    val res = spark.sql(
      s"VECTOR KNN JOIN ON $t (embedding) USING $using TOP 2")
    val rows = res.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 4 && rows.map(_._1).toSet == Set(100L, 106L),
      rows.toSeq.toString)
    assert(rows.filter(_._1 == 100L).map(_._3).forall(n => n >= 0L && n <= 5L))
    assert(rows.filter(_._1 == 106L).map(_._3).forall(n => n >= 6L && n <= 11L))
    // RERANK … USING PQ with rerank ≥ list size equals the exact form
    val pq = spark.sql(
      s"VECTOR KNN JOIN ON $t (embedding) USING $using TOP 2 " +
        "RERANK 12 USING PQ")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(pq.toSeq == rows.toSeq, s"${pq.toSeq} vs ${rows.toSeq}")
    // composable relation: join the output against the table in one
    // statement
    val j = spark.sql(
      s"SELECT v.nn_id, e.label FROM (VECTOR KNN JOIN ON $t (embedding) " +
        s"USING (SELECT vec_id + 100 AS vec_id, embedding FROM $t " +
        s"WHERE vec_id = 0) TOP 2) v JOIN $t e ON v.nn_id = e.vec_id " +
        "ORDER BY v.nn_id")
    assert(j.collect().map(_.getInt(1)).forall(_ == 0), "blob-A labels")
    // WHERE narrows CANDIDATES before each row's top-k (the filtered-
    // ANN rule): blob A's ids 0-1 filtered out, the per-row k still fills
    val filt = spark.sql(
      s"VECTOR KNN JOIN ON $t (embedding) USING $using TOP 3 " +
        "WHERE vec_id >= 2")
    val fRows = filt.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(fRows.count(_._1 == 100L) == 3 &&
      fRows.filter(_._1 == 100L).forall(x => x._2 >= 2L && x._2 <= 5L),
      fRows.toSeq.toString)
    // malformed statement: targeted clause-shape error, not a delegate
    // ParseException
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"VECTOR KNN JOIN ON $t (embedding) TOP 2")
    }
    assert(e.getMessage.contains("VECTOR KNN JOIN"), e.getMessage)
  }

  test("searchAsOf: the snapshot's index serves; later DVs and appends " +
    "don't leak back") {
    val cat = freshCatalog("vix50")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val v = Manifest.snapshotVersions(dir).max
    spark.sql(s"DELETE FROM $t WHERE vec_id = 3")
    // current: the masked fetch drops the DV'd row
    val cur = VectorIndex.search(spark, t, "embedding", vec(0), 6)
    assert(!cur.select("vec_id").as[Long].collect().contains(3L))
    // AS OF the pre-delete version: the row ranks where it did —
    // snapshot DV state, historical posting pruning
    val asof = VectorIndex.searchAsOf(spark, t, "embedding", vec(0), 6, v)
    val ids = asof.select("vec_id").as[Long].collect().toSet
    assert(ids.contains(3L), s"snapshot must rank the deleted row: $ids")
    assert(plannedFiles(asof) == 1, "the snapshot's posting list pins 1 file")
    // an append after the version stays invisible AS OF it
    Seq((12L, 0, vec(0, (31, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val asof2 = VectorIndex.searchAsOf(spark, t, "embedding", vec(0), 12, v)
    assert(!asof2.select("vec_id").as[Long].collect().contains(12L),
      "a later append must not leak into the snapshot's ranking")
    // a version that never existed refuses loudly
    val e = intercept[IllegalArgumentException] {
      VectorIndex.searchAsOf(spark, t, "embedding", vec(0), 5, 999)
    }
    assert(e.getMessage.contains("expired or never existed"), e.getMessage)
    // the SQL statement answers exactly what the API does
    val pv = vec(0).mkString(", ")
    val sqlIds = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 6 VERSION AS OF $v")
      .select("vec_id").as[Long].collect().toSet
    assert(sqlIds == ids, s"$sqlIds vs $ids")
  }

  test("time travel × WHERE / RERANK USING PQ (r15): the predicate and " +
      "the ADC cutoff run at the snapshot") {
    val cat = freshCatalog("vix51")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val v = Manifest.snapshotVersions(dir).max
    // decoys: boosted probe-axis copies that MATCH the filter, appended
    // after the version — they strictly dominate any current (filtered
    // or PQ) search but must shift neither the snapshot's filter set
    // nor its cutoff
    (100L to 104L).map(i => (i, 0, vec(0, (0, 2f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    val pv = vec(0).mkString(", ")
    // filtered AS OF: blob A (label 0) only, decoys invisible
    val filt = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 6 VERSION AS OF $v WHERE label = 0")
      .select("vec_id").as[Long].collect().toSet
    assert(filt == (0L to 5L).toSet,
      s"snapshot's filter set, no decoys: $filt")
    // and the filter DOES narrow: the even-id half of blob A only (the
    // filtered-ANN rule — candidates narrow WITHIN the probed list)
    val filtE = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 6 VERSION AS OF $v WHERE vec_id % 2 = 0")
      .select("vec_id").as[Long].collect().toSet
    assert(filtE == Set(0L, 2L, 4L),
      s"predicate narrows the snapshot's candidates: $filtE")
    // PQ AS OF: the historical codes drive the cutoff, decoys invisible
    val pq = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 6 VERSION AS OF $v RERANK 8 USING PQ")
      .select("vec_id").as[Long].collect().toSet
    assert(pq == (0L to 5L).toSet, s"snapshot PQ top-6: $pq")
    // a CURRENT filtered search IS dominated by the decoys (they match)
    val cur = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 5,
        probes = 1, col("label") === 0)
      .select("vec_id").as[Long].collect().toSet
    assert((100L to 104L).toSet.subsetOf(cur),
      s"current filtered top-5 is the decoys': $cur")
    // PQ kNN join AS OF: per-row ADC cutoff over the snapshot's codes
    val knn = VectorIndex.knnJoinAsOfPq(spark, t, "embedding",
      Seq((500L, vec(0, (10, 0.05f)))).toDF("vec_id", "embedding"),
      k = 6, version = v, rerank = 8)
    val nn = knn.select("nn_id").as[Long].collect().toSet
    assert(nn == (0L to 5L).toSet, s"snapshot join neighbors: $nn")
    // and through SQL
    spark.sql("SELECT 500 AS vec_id, array(" +
      vec(0, (10, 0.05f)).map(f => s"CAST($f AS FLOAT)").mkString(", ") +
      ") AS embedding").createOrReplaceTempView("asofpq_batch")
    val knnSql = spark.sql(s"VECTOR KNN JOIN ON $t (embedding) USING " +
        s"(SELECT vec_id, embedding FROM asofpq_batch) TOP 6 " +
        s"VERSION AS OF $v RERANK 8 USING PQ")
      .select("nn_id").as[Long].collect().toSet
    assert(knnSql == nn, s"SQL twin: $knnSql vs $nn")
    // the PLAIN exact join composes WHERE with time travel too (r15):
    // the predicate narrows the snapshot's candidates per row
    val knnF = spark.sql(s"VECTOR KNN JOIN ON $t (embedding) USING " +
        s"(SELECT vec_id, embedding FROM asofpq_batch) TOP 6 " +
        s"VERSION AS OF $v WHERE vec_id % 2 = 0")
      .select("nn_id").as[Long].collect().toSet
    assert(knnF == Set(0L, 2L, 4L),
      s"filtered exact historical join: $knnF")
  }

  test("DROP VECTOR INDEX unpublishes; VACUUM reaps once snapshots expire") {
    val cat = freshCatalog("vix4")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val idxDirs = { val s = Files.list(dir); try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_vecidx_")).toSeq
    } finally s.close() }
    assert(idxDirs.size == 1)
    spark.sql(s"DROP VECTOR INDEX ON $t (embedding)")
    val e = intercept[Exception] {
      VectorIndex.search(spark, t, "embedding", vec(0), 3).collect()
    }
    assert(e.getMessage.contains("no vector index"))
    spark.sql(s"VACUUM $t RETAIN 1 SNAPSHOTS OLDER THAN 0 MINUTES")
    assert(!Files.isDirectory(idxDirs.head), "orphan index dir reaped")
  }

  test("REFRESH: append-only keeps trained geometry, extends postings") {
    val cat = freshCatalog("vix6")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // new blob-A vectors land in their own file after the build
    Seq((12L, 0, vec(0, (10, 0.05f))), (13L, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    val r = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    assert(r.getLong(0) == 1L && !r.getBoolean(1),
      s"one appended file, incremental: $r")
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 10)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(Set(12L, 13L).subsetOf(ids),
      s"new vectors join the stored-centroid list: $ids")
    assert(ids.subsetOf((0L to 5L).toSet + 12L + 13L))
    assert(plannedFiles(res) == 2,
      "posting list = blob-A file + the appended file")
    // fresh → no-op
    val r2 = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    assert(r2.getLong(0) == 0L && !r2.getBoolean(1))
  }

  test("incremental SemDeDup: stored sidecars, candidate-bucket files only") {
    val cat = freshCatalog("vix20")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // a single batch row near blob A: the serve path must read corpus
    // embeddings ONLY from blob A's file (the candidate bucket), never
    // blob B's — the no-corpus-recompute contract, pinned on the plan
    val near = Seq((100L, vec(0, (11, 0.04f))))
      .toDF("vec_id", "embedding")
    val one = VectorIndex.semDedupIncremental(spark, t, "embedding", near)
    val row = one.collect().head
    assert(row.getLong(0) == 100L && row.getLong(1) == 0L &&
      row.getBoolean(2), s"near-A batch row dups against min-id 0: $row")
    assert(plannedFiles(one) == 1,
      "embedding fetch scans the candidate bucket's ONE file of 2")
    // three rows: near-A, near-B, orthogonal — per-row witnesses; the
    // orthogonal row shares no (cluster ∩ bucket) and is not a dup
    val batch = Seq(
      (100L, vec(0, (11, 0.04f))),
      (101L, vec(1, (21, 0.04f))),
      (102L, vec(2))).toDF("vec_id", "embedding")
    val res = VectorIndex.semDedupIncremental(spark, t, "embedding", batch)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
    assert(res.toSeq == Seq(
      (100L, Some(0L), true), (101L, Some(6L), true), (102L, None, false)),
      s"per-row witnesses: ${res.toSeq}")
  }

  test("incremental SemDeDup: refresh remaps bands; stale retrain matches") {
    val cat = freshCatalog("vix21")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // a new blob-A row lands in its own file → index stale
    Seq((13L, 0, vec(0, (10, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val batch = Seq((100L, vec(0, (11, 0.04f)))).toDF("vec_id", "embedding")
    // stale default (retrain): in-query replay still answers the dup
    val stale = VectorIndex.semDedupIncremental(spark, t, "embedding", batch)
      .collect().head
    assert(stale.getLong(1) == 0L && stale.getBoolean(2),
      s"stale retrain answers like a rebuild: $stale")
    // refresh: stored panel carried, new file's rows band-mapped in —
    // the fresh serve now fetches from BOTH blob-A files (13 is a
    // candidate too), still never blob B's
    spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)")
    val fresh = VectorIndex.semDedupIncremental(spark, t, "embedding", batch)
    val row = fresh.collect().head
    assert(row.getLong(1) == 0L && row.getBoolean(2),
      s"refreshed serve keeps the min-id witness: $row")
    assert(plannedFiles(fresh) == 2,
      "candidate buckets = blob-A's original file + the appended file")
    // the fail policy refuses a stale index loudly
    Seq((14L, 0, vec(0, (10, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    spark.conf.set("spark.graft.index.onStale", "fail")
    try {
      val e = intercept[Exception] {
        VectorIndex.semDedupIncremental(spark, t, "embedding", batch)
          .collect()
      }
      assert(e.getMessage.contains("STALE"))
    } finally spark.conf.unset("spark.graft.index.onStale")
  }

  test("incremental SemDeDup × BY PARTITION: per-slice sidecars, bounded " +
      "fetch per pin, within-partition candidates") {
    val cat = freshCatalog("vix23")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    // two partitions, two files each; partition 0 = axis-0 blobs, 1 =
    // axis-1 — a near-axis-0 batch row in partition 1 must NOT dup
    // (candidates stay within-partition)
    (0 to 5).map(i => (i.toLong, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (6 to 11).map(i => (i.toLong, 0, vec(0, (12, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (20 to 25).map(i => (i.toLong, 1, vec(1, (20, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (26 to 31).map(i => (i.toLong, 1, vec(1, (22, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    // one batch row near partition 0's blob: the fetch scans candidate
    // bucket files of partition 0 ONLY — never partition 1's two files
    val near0 = Seq((100L, 0, vec(0, (11, 0.04f))))
      .toDF("vec_id", "label", "embedding")
    val one = VectorIndex.semDedupIncremental(spark, t, "embedding", near0)
    val row = one.collect().head
    assert(row.getLong(0) == 100L && row.getLong(1) == 0L &&
      row.getBoolean(2), s"near-0 batch row dups against min-id 0: $row")
    assert(plannedFiles(one) <= 2,
      s"fetch bounded to partition 0's candidate files, " +
        s"planned ${plannedFiles(one)} of 4")
    // the same vector CLAIMING partition 1 shares no within-partition
    // bucket — not a dup (the partition is part of the identity)
    val wrongPart = Seq((101L, 1, vec(0, (11, 0.04f))))
      .toDF("vec_id", "label", "embedding")
    val miss = VectorIndex.semDedupIncremental(spark, t, "embedding",
      wrongPart).collect().head
    assert(!miss.getBoolean(2),
      s"cross-partition near-dup must NOT match: $miss")
    // stale (append to partition 1) + default retrain policy: the
    // in-query part-keyed replay answers like a rebuild for BOTH rows
    Seq((32L, 1, vec(1, (22, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val batch = Seq(
      (100L, 0, vec(0, (11, 0.04f))),
      (102L, 1, vec(1, (21, 0.04f))))
      .toDF("vec_id", "label", "embedding")
    val stale = VectorIndex.semDedupIncremental(spark, t, "embedding",
        batch).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
    assert(stale.toSeq == Seq(
      (100L, Some(0L), true), (102L, Some(20L), true)),
      s"stale part-keyed replay keeps per-partition witnesses: ${stale.toSeq}")
  }

  test("BY PARTITION: ids repeated across partitions stay slice-local " +
      "(r15)") {
    val cat = freshCatalog("vixdup")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    // the date-partitioned-corpus shape: the ANCHORS column is only
    // unique WITHIN a partition — ids 0..5 appear in BOTH slices with
    // orthogonal embeddings. Every sidecar join and serve-path fetch
    // must key on (part, vec_id); a vec_id-only join silently
    // cross-wires the slices.
    (0L to 5L).map(i => (i, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (0L to 5L).map(i => (i, 1, vec(1, (20, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p = VectorIndex.parseProp(
      Manifest.read(dir).get.props("vecidx.embedding"))
    val idxDir = dir.resolve(p.idxName)
    // build side: a vec_id-only assignment join would fan 12 corpus rows
    // into 24 code rows / duplicate band rows with the OTHER slice's
    // list_id
    val codes = spark.read.parquet(idxDir.resolve("codes").toString)
    assert(codes.count() == 12, s"codes must not fan out: ${codes.count()}")
    val bands = spark.read.parquet(idxDir.resolve("bands").toString)
    assert(bands.count() ==
      bands.select("part", "vec_id", "band").distinct().count(),
      "one band row per (part, vec_id, band)")
    // serve side: the global PQ search's exact rerank must fetch each
    // candidate's OWN slice's embedding. Probe blob A with topK past the
    // slice size: exactly the 6 partition-0 rows carry the blob-A sim;
    // a vec_id-only fetch would score partition-1 candidates against
    // partition-0 rows of the same id and surface them as false top hits
    val res = VectorIndex.searchPq(spark, t, "embedding", vec(0), 9,
      probes = 1, rerank = 24).collect()
    assert(res.length == 9, s"9 rows expected: ${res.length}")
    val maxSim = res.map(_.getDouble(2)).max
    assert(res.count(_.getDouble(2) == maxSim) == 6,
      s"exactly partition 0's 6 rows rank at the blob-A sim: " +
        res.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    // and the PQ kNN join's per-row fetch obeys the same rule
    val knn = VectorIndex.knnJoinPq(spark, t, "embedding",
      Seq((100L, 0, vec(0, (10, 0.05f)))).toDF("vec_id", "label", "embedding"),
      k = 9, rerank = 24).collect()
    assert(knn.length == 9, s"9 neighbors expected: ${knn.length}")
    val maxKnn = knn.map(_.getDouble(3)).max
    assert(knn.count(_.getDouble(3) == maxKnn) == 6,
      s"exactly partition 0's 6 rows at the blob-A sim: " +
        knn.map(r => (r.getLong(2), r.getDouble(3))).toSeq)
    // the incremental-dedup serve (live AND time-travel) fetches each
    // candidate's OWN slice row too: a batch row near partition 0's
    // blob dups against min-id 0 of ITS partition, never against
    // partition 1's same-id row
    val v = Manifest.snapshotVersions(dir).max
    val dedupBatch = Seq((500L, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding")
    val live = VectorIndex.semDedupIncremental(spark, t, "embedding",
      dedupBatch).collect().head
    assert(live.getLong(1) == 0L && live.getBoolean(2),
      s"live dedup witnesses slice 0's min id: $live")
    val asof = VectorIndex.semDedupIncrementalAsOf(spark, t, "embedding",
      dedupBatch, v).collect().head
    assert(asof.getLong(1) == 0L && asof.getBoolean(2),
      s"asof dedup witnesses slice 0's min id: $asof")
  }

  test("incremental SemDeDup: pre-sidecar index refuses with guidance") {
    val cat = freshCatalog("vix22")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    // simulate an index built before the incremental tier: drop lshanch/
    val idx = { val s = Files.list(dir); try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_vecidx_")).toSeq.head
    } finally s.close() }
    val anch = idx.resolve("lshanch")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(anch)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
    val batch = Seq((100L, vec(0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      VectorIndex.semDedupIncremental(spark, t, "embedding", batch).collect()
    }
    assert(e.getMessage.contains("band sidecars"), e.getMessage)
  }

  test("VECTOR SEARCH SQL statement: the index tier from plain SQL") {
    val cat = freshCatalog("vix11")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val probe = vec(0).mkString(", ")
    val res = spark.sql(
      s"VECTOR SEARCH ON $t (embedding) PROBE ($probe) TOP 3")
    assert(res.columns.toSeq == Seq("vec_id", "list_id", "sim"))
    val ids = res.select("vec_id").as[Long].collect().toSeq
    assert(ids.size == 3 && ids.forall(_ <= 5L),
      s"top-3 must come from blob A: $ids")
    // the WHERE narrows candidates BEFORE the top-k (filtered-ANN rule)
    val odd = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($probe) " +
      "TOP 3 WHERE vec_id % 2 = 1")
    assert(odd.select("vec_id").as[Long].collect().toSeq
      .forall(i => i % 2 == 1 && i <= 5L))
    // PROBES reaches the second blob's list
    val both = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($probe) " +
      "TOP 12 PROBES 2")
    assert(both.count() == 12L, "two probed lists cover both blobs")
    // a malformed probe component refuses with the statement's own error
    val e = intercept[Exception] {
      spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE (1.0, oops) TOP 3")
        .collect()
    }
    assert(e.getMessage.contains("not a float literal"), e.getMessage)
    // RERANK … USING PQ routes through the compression tier: rerank=2
    // bounds the exact pool below TOP (the cutoff is real in SQL too)
    val pq = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($probe) " +
      "TOP 5 RERANK 2 USING PQ")
    assert(pq.count() == 2L, "PQ rerank cutoff applies through SQL")
    // PQ + WHERE compose (filtered PQ): the predicate narrows the codes
    // before the rerank cutoff, so the result is all-odd AND still fills
    // from the probed list
    val pqf = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($probe) " +
      "TOP 3 RERANK 50 USING PQ WHERE vec_id % 2 = 1")
    assert(pqf.select("vec_id").as[Long].collect()
      .forall(i => i % 2 == 1 && i <= 5L))
  }

  test("LISTS overrides the cluster-count policy") {
    val cat = freshCatalog("vix15")
    val t = stage(cat)
    val built = spark.sql(
      s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) LISTS 2")
      .collect().head
    assert(built.getLong(1) == 2L, s"LISTS 2 must train 2 clusters: $built")
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 5)
    assert(res.select("vec_id").as[Long].collect().toSet
      .subsetOf((0L to 5L).toSet), "blob-A probe ranks only blob A")
    val e = intercept[Exception] {
      spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
        "LISTS 0").collect()
    }
    assert(e.getMessage.contains("LISTS 0 is invalid"), e.getMessage)
  }

  test("SAMPLE trains on the decimation, assigns the full corpus") {
    val cat = freshCatalog("vix16")
    val t = stage(cat)
    // cap 4 over 12 rows: training sees roughly a third of the corpus
    // (anchors force-included), yet EVERY row lands in a posting list
    val built = spark.sql(
      s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) SAMPLE 4")
      .collect().head
    assert(built.getLong(0) == 2L && built.getLong(1) == 8L, s"$built")
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 12)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(ids.subsetOf((0L to 5L).toSet) && ids.nonEmpty,
      s"blob-A probe ranks only blob-A vectors: $ids")
    val resB = VectorIndex.search(spark, t, "embedding", vec(1), 12)
    assert(resB.select("vec_id").as[Long].collect().toSet
      .subsetOf((6L to 11L).toSet) && resB.count() > 0,
      "blob-B rows were assigned even if training never sampled them")
    val e = intercept[Exception] {
      spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
        "SAMPLE 0").collect()
    }
    assert(e.getMessage.contains("SAMPLE 0 is invalid"), e.getMessage)
  }

  test("searchPq: ADC pre-rank bounds the exact rerank, converges on " +
      "search as rerank grows") {
    val cat = freshCatalog("vix14")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // rerank below topK: the cutoff is real — only the ADC survivors rank
    val tight = VectorIndex.searchPq(spark, t, "embedding", vec(0), 5,
      probes = 1, rerank = 2)
    assert(tight.count() == 2L, "rerank=2 leaves two candidates for top-5")
    assert(plannedFiles(tight) == 1,
      "the exact rerank scans only the survivors' files")
    // rerank past the list size: identical to the exact IVF search
    val wide = VectorIndex.searchPq(spark, t, "embedding", vec(0), 12,
      probes = 2, rerank = 100)
    val exact = VectorIndex.search(spark, t, "embedding", vec(0), 12,
      probes = 2)
    assert(wide.select("vec_id").as[Long].collect().toSeq ==
      exact.select("vec_id").as[Long].collect().toSeq,
      "wide rerank converges on the exact IVF ranking")
    // the ADC stage reads the codes sidecar, never the embedding column:
    // the only ManifestScan files are the exact-rerank candidates
    assert(plannedFiles(wide) == 2, "exact rerank scans the 2 posting files")
    // stale + default policy (retrain): full in-query replay, same shape
    Seq((12L, 0, vec(0, (10, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val stale = VectorIndex.searchPq(spark, t, "embedding", vec(0), 8,
      probes = 1, rerank = 100)
    assert(stale.select("vec_id").as[Long].collect().contains(12L),
      "stale replay must surface the appended vector")
  }

  test("onStale policy: fail refuses, refresh catches up and serves " +
      "from the index") {
    val cat = freshCatalog("vix12")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // make it stale: new blob-A vectors in their own file
    Seq((12L, 0, vec(0, (10, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    try {
      spark.conf.set("spark.graft.index.onStale", "fail")
      val e = intercept[IllegalStateException] {
        VectorIndex.search(spark, t, "embedding", vec(0), 10).collect()
      }
      assert(e.getMessage.contains("STALE"), e.getMessage)
      val e2 = intercept[IllegalStateException] {
        VectorIndex.semDedup(spark, t, "embedding", "label").collect()
      }
      assert(e2.getMessage.contains("STALE"), e2.getMessage)
      spark.conf.set("spark.graft.index.onStale", "refresh")
      val res = VectorIndex.search(spark, t, "embedding", vec(0), 10)
      assert(res.select("vec_id").as[Long].collect().contains(12L),
        "refresh policy serves the appended vector")
      assert(plannedFiles(res) == 2,
        "served from the refreshed index: blob-A file + appended file")
      // the refresh persisted — the index is fresh for everyone now
      val meta = spark.sql(s"SELECT fresh FROM $cat.ns.`emb$$indexes`")
        .collect().map(_.getBoolean(0))
      assert(meta.toSeq == Seq(true), "refresh policy republished the index")
    } finally spark.conf.unset("spark.graft.index.onStale")
  }

  test("REFRESH after OPTIMIZE: geometry kept, postings remap to the " +
      "compacted file") {
    val cat = freshCatalog("vix13")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val before = VectorIndex.search(spark, t, "embedding", vec(0), 10)
      .select("vec_id").as[Long].collect().toSet
    // compaction rewrites every file; rows are identical, so the kept
    // geometry is exactly what a retrain would produce
    spark.sql(s"OPTIMIZE $t")
    val r = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    assert(r.getBoolean(1), s"post-OPTIMIZE refresh must remap: $r")
    assert(r.getLong(0) == 1L,
      s"only the compacted output file re-assigns: $r")
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 10)
    assert(res.select("vec_id").as[Long].collect().toSet == before,
      "same result as before the rewrite (identical rows)")
    assert(plannedFiles(res) == 1,
      "postings now point at the single compacted file")
    // the PQ sidecars remapped with the postings: codebook kept, codes
    // re-derived for the compacted file — the ADC path serves fresh
    val pq = VectorIndex.searchPq(spark, t, "embedding", vec(0), 10,
      probes = 1, rerank = 100)
    assert(pq.select("vec_id").as[Long].collect().toSet == before,
      "PQ path serves the remapped index")
  }

  test("multi-probe: a boundary probe ranks both blobs, plans both files") {
    val cat = freshCatalog("vix7")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // equidistant probe between the blobs
    val between = { val a = new Array[Float](dim); a(0) = 0.7f; a(1) = 0.7f; a }
    val one = VectorIndex.search(spark, t, "embedding", between, 12)
    assert(plannedFiles(one) == 1, "single probe stays in one list")
    val two = VectorIndex.search(spark, t, "embedding", between, 12, probes = 2)
    val ids = two.select("vec_id").as[Long].collect().toSet
    assert(ids == (0L to 11L).toSet, s"two probes must cover both blobs: $ids")
    assert(plannedFiles(two) == 2, "two probed lists = two files")
    // the vector index surfaces in t$indexes with live freshness and its
    // build details (anchor column, PQ sidecar presence)
    val meta = spark.sql(
        s"SELECT kind, col, fresh, details FROM $cat.ns.`emb$$indexes`")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
    assert(meta.toSeq ==
      Seq(("vector", "embedding", true, "anchors=vec_id pq=true")))
  }

  test("searchWhere: the predicate narrows candidates before the top-k") {
    val cat = freshCatalog("vix9")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // probe blob A; its list is all label 0 — a label=1 predicate empties
    // the CANDIDATES (it must not fall through to blob B's list)
    val none = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, col("label") === 1)
    assert(none.count() == 0L,
      "filter empties the probed list; no spillover to other lists")
    // a matching predicate behaves like the unfiltered search
    val same = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, col("label") === 0)
    assert(same.select("vec_id").as[Long].collect().toSet ==
      VectorIndex.search(spark, t, "embedding", vec(0), 5)
        .select("vec_id").as[Long].collect().toSet)
    // a partial predicate under-fills rather than back-fills: only the
    // matching members rank (the filtered-ANN contract)
    val part = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, col("vec_id") < 2)
    assert(part.select("vec_id").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("sparse anchor ids refuse loudly instead of training zero centroids") {
    val cat = freshCatalog("vix8")
    val t = s"$cat.ns.sparse"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>)")
    Seq((1000L, 0, vec(0)), (1001L, 0, vec(1)))
      .toDF("vec_id", "label", "embedding").writeTo(t).append()
    val e = intercept[Exception] {
      spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
        .collect()
    }
    assert(e.getMessage.contains("no values below"))
  }

  test("non-array<float> columns refuse to index") {
    val cat = freshCatalog("vix5")
    val t = stage(cat)
    val e = intercept[Exception] {
      spark.sql(s"CREATE VECTOR INDEX ON $t (label) ANCHORS (vec_id)").collect()
    }
    assert(e.getMessage.contains("only ARRAY<FLOAT>"))
  }

  test("legacy flat-assigner prop: served as stale, REFRESH migrates " +
      "with a full rebuild") {
    val cat = freshCatalog("vixleg")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    // rewrite the prop to the 3-field legacy format (what a pre-h2 build
    // published): same index dir, same digest, NO assignment version
    val m = Manifest.read(dir).get
    val p = VectorIndex.parseProp(m.props("vecidx.embedding"))
    assert(p.version == VectorIndex.AssignVersion)
    Manifest.write(dir, m.copy(props = m.props +
      ("vecidx.embedding" -> s"${p.idxName};${p.idCol};${p.digest}")))
    // t$indexes reports the legacy index stale even though the digest
    // matches — the postings' row assignments aren't trustworthy
    val fresh = spark.sql(
      s"SELECT fresh FROM $cat.ns.`emb$$indexes`").collect().head.getBoolean(0)
    assert(!fresh, "legacy-assigner index must report stale")
    // onStale=fail refuses it like any stale index
    spark.conf.set("spark.graft.index.onStale", "fail")
    try {
      val e = intercept[Exception] {
        VectorIndex.search(spark, t, "embedding", vec(0), 5).collect()
      }
      assert(e.getMessage.contains("STALE"))
    } finally spark.conf.unset("spark.graft.index.onStale")
    // default retrain path still answers exactly (no pruning)
    val ids = VectorIndex.search(spark, t, "embedding", vec(0), 5)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.subsetOf((0L to 5L).toSet) && ids.size == 5)
    // REFRESH migrates: full rebuild (remapped=true), prop is versioned
    // again, and search prunes to one file like a fresh build
    val r = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    assert(r.getBoolean(1), "legacy migration reports a remap")
    val p2 = VectorIndex.parseProp(
      Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p2.version == VectorIndex.AssignVersion)
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 5)
    assert(res.select("vec_id").as[Long].collect().toSet == ids)
    assert(plannedFiles(res) == 1, "migrated index prunes again")
  }

  test("LISTS/SAMPLE persist in the prop and survive refresh") {
    val cat = freshCatalog("vixpol")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "LISTS 2 SAMPLE 6")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p.lists.contains(2L) && p.sample.contains(6L),
      s"build policy must ride the prop, got $p")
    // stale the table; the incremental refresh must carry the policy
    Seq((12L, 0, vec(0, (30, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)")
    val p2 = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p2.lists.contains(2L) && p2.sample.contains(6L),
      s"refresh must preserve the build policy, got $p2")
    // stale again: the in-query retrain replays the persisted LISTS k —
    // with LISTS 2 on this fixture both searches stay blob-exact
    Seq((13L, 1, vec(1, (31, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val ids = VectorIndex.search(spark, t, "embedding", vec(0), 7)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.contains(12L) && ids.subsetOf(Set(0L, 1L, 2L, 3L, 4L, 5L, 12L)),
      s"stale retrain under the persisted policy ranks blob A: $ids")
  }

  test("trained PQ codebook: recall off the anchor span beats the " +
      "anchor-row codebook") {
    import graft.llm.Similarity
    // THE HARD FIXTURE: the 4 lowest-anchor rows (the pre-trained
    // codebook) live entirely in subspace block 0, while the corpus bulk
    // lives in blocks 1-2 — an anchor-ROW codebook has all-zero codewords
    // there, so ADC collapses to a constant and the pre-rank degenerates
    // to vec_id order. The trained codebook seeds from 16 rows (ids 4..15
    // span the bulk directions) and Lloyd-refines per subspace, so ADC
    // separates the groups.
    def mk(xs: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](dim); xs.foreach { case (i, v) => a(i) = v }; a
    }
    val lowAnchors = (0 to 3).map(j => (j.toLong, mk(0 -> 1f, (1 + j) -> 0.05f)))
    val directions = (4 to 15).map(j => (j.toLong, mk((8 + (j - 4)) -> 1f)))
    val bulk = for (g <- 0 to 11; t <- 0 to 9) yield
      ((16 + g * 10 + t).toLong,
        mk((8 + g) -> 0.995f, (24 + t) -> 0.0999f))
    val base = (lowAnchors ++ directions ++ bulk)
      .toDF("vec_id", "embedding")
    val n = base.count()
    val probe = bulk.last._2 // a member of the HIGHEST-id group (g = 11)
    val pv = typedLit(probe.toSeq)
    val exact = base.select(col("vec_id"),
        graft.llm.PortableHash.dotFixed(col("embedding"), pv).as("sim"))
      .orderBy(desc("sim"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    def adcTop(cb: org.apache.spark.sql.DataFrame): Set[Long] = {
      val cbArr = cb.agg(array_sort(
        collect_list(struct(col("c_id"), col("c_emb")))).as("cents"))
      val coded = (0 until Similarity.PqM)
        .foldLeft(base.crossJoin(broadcast(cbArr))) { (df, b) =>
          df.withColumn(s"code$b",
            Similarity.pqCode(col("cents"), col("embedding"), b))
        }
      coded.withColumn("adc",
          Similarity.pqAdc(col("cents"), pv, b => col(s"code$b")))
        .orderBy(desc("adc"), col("vec_id")).limit(12)
        .select("vec_id").as[Long].collect().toSet
    }
    val anchorCb = base.filter(col("vec_id") < Similarity.PqK)
      .select(col("vec_id").cast("int").as("c_id"),
        col("embedding").as("c_emb"))
    val trainedCb = VectorIndex.trainPqCodebook(base, n)
    val anchorRecall = (adcTop(anchorCb) & exact).size
    val trainedRecall = (adcTop(trainedCb) & exact).size
    assert(anchorRecall <= 2,
      s"anchor-row ADC should collapse off the anchor span: $anchorRecall")
    assert(trainedRecall >= 7 && trainedRecall > anchorRecall,
      s"trained codebook must separate the bulk: $trainedRecall vs $anchorRecall")
  }

  test("searchPqWhere: the predicate narrows codes before the rerank cutoff") {
    val cat = freshCatalog("vixpqf")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    // probe blob A (all label 0): a label=1 predicate empties the probed
    // list's candidates — no spillover to blob B, no under-filled rerank
    val none = VectorIndex.searchPqWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, rerank = 3, col("label") === 1)
    assert(none.count() == 0L, "filter empties the probed list's codes")
    // a matching predicate with a TIGHT rerank budget: the budget must be
    // spent on predicate-matching candidates (filter-then-cutoff), so the
    // result still fills k from blob A
    val same = VectorIndex.searchPqWhere(spark, t, "embedding", vec(0), 3,
      probes = 1, rerank = 3, col("label") === 0)
    val ids = same.select("vec_id").as[Long].collect().toSet
    assert(ids.size == 3 && ids.subsetOf((0L to 5L).toSet),
      s"rerank budget spent on matching candidates only: $ids")
    // SQL surface: WHERE + RERANK USING PQ compose in one statement
    val viaSql = spark.sql(s"VECTOR SEARCH ON $t (embedding) " +
      s"PROBE (${vec(0).mkString(", ")}) TOP 3 RERANK 3 USING PQ " +
      "WHERE label = 0")
    assert(viaSql.select("vec_id").as[Long].collect().toSet == ids)
  }

  test("composable VECTOR SEARCH: joins, CTEs and aggregates over the " +
      "relation form") {
    val cat = freshCatalog("vixrel")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val probe = vec(0).mkString(", ")
    // join back to table columns in one statement
    val joined = spark.sql(
      s"""SELECT e.label, v.vec_id, v.sim
         |FROM (VECTOR SEARCH ON $t (embedding) PROBE ($probe) TOP 5) v
         |JOIN $t e ON v.vec_id = e.vec_id
         |ORDER BY v.sim DESC, v.vec_id""".stripMargin)
    val rows = joined.collect()
    assert(rows.length == 5 && rows.forall(_.getInt(0) == 0),
      "blob-A probe joins back to label-0 rows only")
    // CTE + aggregate over the relation; WHERE variant composes too
    val agg = spark.sql(
      s"""WITH hits AS (
         |  SELECT * FROM (VECTOR SEARCH ON $t (embedding)
         |                 PROBE ($probe) TOP 5 WHERE label = 0) )
         |SELECT COUNT(*) AS n, MIN(sim) AS worst FROM hits""".stripMargin)
      .collect().head
    assert(agg.getLong(0) == 5L)
  }

  test("COARSE PROBES 1: declared at build, persisted, served consistently") {
    val cat = freshCatalog("vixcp")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "COARSE PROBES 1")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p.coarse == 1, s"COARSE PROBES must ride the prop: $p")
    // the two orthogonal blobs separate under one coarse cell too — and
    // serving must re-derive with the SAME c (a c-mismatch would drop
    // rows from the ranked result)
    val res = VectorIndex.search(spark, t, "embedding", vec(0), 5)
    assert(res.select("vec_id").as[Long].collect().toSet == (0L to 4L).toSet
      || res.count() == 5)
    assert(plannedFiles(res) == 1)
    // refresh preserves the knob
    Seq((12L, 0, vec(0, (30, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)")
    val p2 = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p2.coarse == 1, s"refresh must preserve COARSE PROBES: $p2")
    // out-of-range refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
        "COARSE PROBES 3").collect()
    }
    assert(e.getMessage.contains("COARSE PROBES"))
  }

  test("spark.graft.index.readOnly gates onStale=refresh's write-from-read") {
    val cat = freshCatalog("vixro")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    Seq((12L, 0, vec(0, (30, 0.01f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append() // stale the index
    spark.conf.set("spark.graft.index.onStale", "refresh")
    spark.conf.set("spark.graft.index.readOnly", "true")
    try {
      // the read would take the commit lock and publish — refuse up front
      val e = intercept[IllegalStateException] {
        VectorIndex.search(spark, t, "embedding", vec(0), 5).collect()
      }
      assert(e.getMessage.contains("readOnly"), e.getMessage)
      // a writer-credentialed session (readOnly unset) absorbs the churn
      spark.conf.unset("spark.graft.index.readOnly")
      val ids = VectorIndex.search(spark, t, "embedding", vec(0), 7)
        .select("vec_id").as[Long].collect().toSet
      assert(ids.contains(12L))
    } finally {
      spark.conf.unset("spark.graft.index.onStale")
      spark.conf.unset("spark.graft.index.readOnly")
    }
  }

  test("BY PARTITION: pinned probes compose partition pruning with list " +
      "pruning; refresh is partition-scoped") {
    val cat = freshCatalog("vixbp")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    // two partitions, one partition-pure file each; ids do NOT start at 0
    // in partition 1 — the ranked seeding must handle that
    val blobA = (100L to 105L).map(i => (i, 0, vec(0, (10, 0.05f))))
    val blobB = (200L to 205L).map(i => (i, 1, vec(1, (20, 0.05f))))
    blobA.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    blobB.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    assert(p.partCol.contains("label"), s"partition column rides the prop: $p")
    // the policy is readable off t$indexes
    val det = spark.sql(s"SELECT details FROM $cat.ns.`emb$$indexes`")
      .collect().head.getString(0)
    assert(det.contains("by=label"), s"details must carry the knobs: $det")
    // pinned probe: only partition 0's file plans, only its rows rank
    val res = VectorIndex.searchWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, col("label") === 0)
    assert(res.select("vec_id").as[Long].collect().toSet
      .subsetOf((100L to 105L).toSet))
    assert(plannedFiles(res) == 1, "1 of 2 partition-pure files planned")
    // an UNPINNED probe searches globally: pins = all partitions through
    // the multi-pin union — per-partition top-k against each
    // sub-geometry, global top-k over the ≤ parts×k union. Planned work
    // is bounded by Σ per-pin posting files (here: each partition's one
    // candidate file — 2 of 2), never more.
    val glob = VectorIndex.search(spark, t, "embedding", vec(0), 5)
    assert(glob.select("vec_id").as[Long].collect().toSet
      .subsetOf((100L to 105L).toSet),
      "the blob-A probe's global top-5 comes from partition 0")
    assert(plannedFiles(glob) == 2,
      "global = Σ per-pin candidate files (one per partition)")
    // MULTI-PIN (IN): one sub-search per pinned partition against its
    // own geometry, global top-k over the union — a probe between the
    // blobs surfaces rows of BOTH partitions, through SQL too
    val between = vec(0, (1, 1f))
    val multi = spark.sql(s"VECTOR SEARCH ON $t (embedding) " +
      s"PROBE (${between.mkString(", ")}) TOP 12 WHERE label IN (0, 1)")
      .select("vec_id").as[Long].collect().toSet
    assert(multi.exists(_ <= 105L) && multi.exists(_ >= 200L),
      s"IN pin must rank both partitions' rows: $multi")
    // the SQL statement pins through its WHERE text
    val viaSql = spark.sql(s"VECTOR SEARCH ON $t (embedding) " +
      s"PROBE (${vec(1).mkString(", ")}) TOP 5 WHERE label = 1")
    assert(viaSql.select("vec_id").as[Long].collect().toSet
      .subsetOf((200L to 205L).toSet))
    // refresh is partition-scoped: append to partition 1 only — partition
    // 0's sub-geometry rows carry over IDENTICALLY (no retrain)
    val idxDir0 = dir.resolve(p.idxName)
    val cents0 = spark.read.parquet(idxDir0.resolve("cents").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    // the appended row clones the blob vector, so the rebuilt partition-1
    // geometry keeps it in the probe's list (a distinct vector would earn
    // its own centroid and a single probe would — correctly — miss it)
    Seq((206L, 1, vec(1, (20, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    val r = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    assert(r.getLong(0) == 1L, "one new file indexed")
    val p2 = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    val cents1 = spark.read.parquet(
        dir.resolve(p2.idxName).resolve("cents").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    assert(cents1 == cents0, "unaffected partition's geometry carries over")
    // and the refreshed partition serves its new row
    val res1 = VectorIndex.searchWhere(spark, t, "embedding", vec(1), 7,
      probes = 1, col("label") === 1)
    assert(res1.select("vec_id").as[Long].collect().toSet.contains(206L))
  }

  test("BY PARTITION × PQ × SAMPLE: per-partition codebooks serve pinned, " +
      "filtered and global searches; refresh carries untouched slices") {
    val cat = freshCatalog("vixbpq")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    val blobA = (100L to 105L).map(i => (i, 0, vec(0, (10, 0.05f))))
    val blobB = (200L to 205L).map(i => (i, 1, vec(1, (20, 0.05f))))
    blobA.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    blobB.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    // pinned PQ: partition 0's ranked codebook + codes serve the probe
    val pin0 = VectorIndex.searchPqWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, rerank = 50, col("label") === 0)
    assert(pin0.select("vec_id").as[Long].collect().toSet
      .subsetOf((100L to 105L).toSet) && pin0.count() == 5)
    // filtered PQ per pin: the extra conjunct narrows codes BEFORE the
    // cutoff — only odd ids of partition 0 rank
    val oddPin = VectorIndex.searchPqWhere(spark, t, "embedding", vec(0), 5,
      probes = 1, rerank = 50, col("label") === 0 && col("vec_id") % 2 === 1)
    assert(oddPin.select("vec_id").as[Long].collect().toSet ==
      Set(101L, 103L, 105L), "filter composes with the pin")
    // UNPINNED PQ: the global union over per-partition codebooks
    val globPq = VectorIndex.searchPq(spark, t, "embedding", vec(1), 5)
    assert(globPq.select("vec_id").as[Long].collect().toSet
      .subsetOf((200L to 205L).toSet) && globPq.count() == 5,
      "the blob-B probe's global PQ top-5 comes from partition 1")
    // refresh: new file in partition 1 only — partition 0's codebook
    // rows carry over byte-identical, partition 1's codes see the row
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p0 = VectorIndex.parseProp(
      Manifest.read(dir).get.props("vecidx.embedding"))
    val cb0 = spark.read.parquet(
        dir.resolve(p0.idxName).resolve("pqcb").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    Seq((206L, 1, vec(1, (20, 0.05f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)")
    val p1 = VectorIndex.parseProp(
      Manifest.read(dir).get.props("vecidx.embedding"))
    val cb1 = spark.read.parquet(
        dir.resolve(p1.idxName).resolve("pqcb").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    assert(cb1 == cb0, "untouched partition's codebook carries over")
    val afterPq = VectorIndex.searchPqWhere(spark, t, "embedding", vec(1), 7,
      probes = 1, rerank = 50, col("label") === 1)
    assert(afterPq.select("vec_id").as[Long].collect().toSet.contains(206L),
      "the refreshed partition's PQ codes include the new row")
    // SAMPLE BY PARTITION: per-slice ranked decimation builds and serves
    val t2 = s"$cat.ns.emb2"
    spark.sql(s"CREATE TABLE $t2 (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    blobA.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t2).append()
    blobB.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t2).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t2 (embedding) ANCHORS (vec_id) " +
      "SAMPLE 3 BY PARTITION")
    val pS = VectorIndex.parseProp(
      Manifest.read(spark.table(t2).queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[ManifestTable] =>
          r.table.asInstanceOf[ManifestTable].dir
      }.get).get.props("vecidx.embedding"))
    assert(pS.sample.contains(3L) && pS.partCol.contains("label"),
      s"SAMPLE persists beside BY PARTITION in the prop: $pS")
    val sPin = VectorIndex.searchWhere(spark, t2, "embedding", vec(1), 5,
      probes = 1, col("label") === 1)
    assert(sPin.select("vec_id").as[Long].collect().toSet
      .subsetOf((200L to 205L).toSet) && sPin.count() == 5)
  }

  test("review edges: literal-safe rewrite, typed partition pins, " +
      "empty-table builds") {
    // a '(VECTOR SEARCH …)' INSIDE a string literal is data, not syntax —
    // the quote-aware rewrite must leave it alone
    val lit0 = spark.sql(
      "SELECT '(VECTOR SEARCH ON t (c) PROBE (1.0) TOP 1)' AS s")
      .collect().head.getString(0)
    assert(lit0.startsWith("(VECTOR SEARCH"), s"literal corrupted: $lit0")
    // empty-table build publishes EMPTY sidecars: fresh search answers
    // empty instead of dying on a missing path (both layouts)
    val cat = freshCatalog("vixedge")
    val tEmpty = s"$cat.ns.e1"
    spark.sql(s"CREATE TABLE $tEmpty (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>)")
    spark.sql(s"CREATE VECTOR INDEX ON $tEmpty (embedding) ANCHORS (vec_id)")
    assert(VectorIndex.search(spark, tEmpty, "embedding", vec(0), 3)
      .count() == 0L)
    // typed partition pin: a DATE literal routes through the same string
    // cast the build rendered with ("2024-06-01", never the day count)
    val tD = s"$cat.ns.e2"
    spark.sql(s"CREATE TABLE $tD (vec_id BIGINT, d DATE, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (d)")
    val d1 = java.sql.Date.valueOf("2024-06-01")
    val d2 = java.sql.Date.valueOf("2024-06-02")
    (0 to 5).map(i => (i.toLong, d1, vec(0, (10, 0.05f))))
      .toDF("vec_id", "d", "embedding").coalesce(1).writeTo(tD).append()
    (6 to 11).map(i => (i.toLong, d2, vec(1, (20, 0.05f))))
      .toDF("vec_id", "d", "embedding").coalesce(1).writeTo(tD).append()
    spark.sql(s"CREATE VECTOR INDEX ON $tD (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val hits = spark.sql(s"VECTOR SEARCH ON $tD (embedding) " +
      s"PROBE (${vec(1).mkString(", ")}) TOP 5 WHERE d = DATE'2024-06-02'")
    assert(hits.select("vec_id").as[Long].collect().toSet
      .subsetOf((6L to 11L).toSet) && hits.count() == 5,
      "DATE pin must route to the right sub-index")
  }

  test("BY PARTITION survives DML: a COW DELETE retrains only the " +
      "touched partition") {
    val cat = freshCatalog("vixbpd")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    (100L to 105L).map(i => (i, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (200L to 205L).map(i => (i, 1, vec(1, (20, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val p0 = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    val cents0 = spark.read.parquet(
        dir.resolve(p0.idxName).resolve("cents").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    // COW DELETE rewrites partition 1's file (dead + replacement)
    spark.sql(s"DELETE FROM $t WHERE vec_id = 203")
    val r = spark.sql(s"REFRESH VECTOR INDEX ON $t (embedding)").collect().head
    // the WORK counter proves the scoping (identical partition-0 cents
    // alone wouldn't — a deterministic full retrain reproduces them):
    // exactly ONE file (partition 1's rewrite) re-assigned, remapped=true
    assert(r.getLong(0) == 1L && r.getBoolean(1),
      s"partition-scoped refresh re-assigns only the rewritten file: $r")
    val p1 = VectorIndex.parseProp(Manifest.read(dir).get.props("vecidx.embedding"))
    val cents1 = spark.read.parquet(
        dir.resolve(p1.idxName).resolve("cents").toString)
      .where(col("part") === "0").orderBy("c_id").collect().toSeq
    assert(cents1 == cents0,
      "the untouched partition's geometry carries over byte-identical")
    // the refreshed index serves the post-DELETE truth with pruning
    val res = VectorIndex.searchWhere(spark, t, "embedding", vec(1), 6,
      probes = 1, col("label") === 1)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(203L) && ids.subsetOf(Set(200L, 201L, 202L, 204L, 205L)),
      s"deleted row must not rank: $ids")
    assert(plannedFiles(res) == 1, "still 1 partition file planned")
  }

  test("BY PARTITION serving is one part-keyed dataflow: Spark-job count " +
      "independent of the partition count") {
    // the r13 weak item: unpinned BY PARTITION serving ran a sequential
    // driver loop over partition values — ≥2 driver round-trips and a
    // union-plan leg PER PARTITION. The r14 rewrite serves any pin count
    // from one part-keyed dataflow; this pins the contract by counting
    // Spark jobs at 3 vs 10 partitions — equal, or the loop is back.
    def stagedData(tag: String, parts: Int): String = {
      val cat = freshCatalog(tag)
      val t = s"$cat.ns.emb"
      spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
        "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
      (0 until parts).foreach { l =>
        (0 until 6).map(i => ((l * 100 + i).toLong, l,
            vec(l % dim, (32, 0.01f * (i + 1)))))
          .toDF("vec_id", "label", "embedding")
          .coalesce(1).writeTo(t).append()
      }
      t
    }
    def staged(tag: String, parts: Int): String = {
      val t = stagedData(tag, parts)
      spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
        "BY PARTITION").collect()
      t
    }
    // Count ONLY jobs carrying the measurement's job group (stray
    // suite-concurrent jobs broke the strict pin, r15), and drain the
    // async bus with a SENTINEL job instead of a quiet-window poll —
    // under full-suite load the bus lags in bursts longer than any
    // fixed window and the poll exited early with an undercount (the
    // second 47≠48 flake, r16). [[graft.JobCount.measure]] is that
    // exact machinery — the committed-artifact counter is the pin's
    // counter, so the gate and the artifact can never disagree.
    def jobsDuring(body: => Unit): Int =
      graft.JobCount.measure(spark)(body)._1
    val t3 = staged("vixjc3", 3)
    val t10 = staged("vixjc10", 10)
    val s3 = jobsDuring {
      VectorIndex.search(spark, t3, "embedding", vec(0), 5).collect()
    }
    val s10 = jobsDuring {
      VectorIndex.search(spark, t10, "embedding", vec(0), 5).collect()
    }
    assert(s3 == s10, "unpinned BY PARTITION search must not scale its " +
      s"job count with the partition count ($s3 jobs at 3 parts, $s10 at 10)")
    val batch = Seq((1000L, 0, vec(0, (31, 0.02f))))
      .toDF("vec_id", "label", "embedding")
    val k3 = jobsDuring {
      VectorIndex.knnJoin(spark, t3, "embedding", batch, 3).collect()
    }
    val k10 = jobsDuring {
      VectorIndex.knnJoin(spark, t10, "embedding", batch, 3).collect()
    }
    assert(k3 == k10, "unpinned BY PARTITION kNN join must not scale its " +
      s"job count with the partition count ($k3 jobs at 3 parts, $k10 at 10)")
    // the BUILD contract too (r14 — the one-dataflow build): training
    // every slice's geometry + sidecars must not scale driver jobs with
    // the partition count either
    val d3 = stagedData("vixjb3", 3)
    val d10 = stagedData("vixjb10", 10)
    val b3 = jobsDuring {
      spark.sql(s"CREATE VECTOR INDEX ON $d3 (embedding) " +
        "ANCHORS (vec_id) BY PARTITION").collect()
    }
    val b10 = jobsDuring {
      spark.sql(s"CREATE VECTOR INDEX ON $d10 (embedding) " +
        "ANCHORS (vec_id) BY PARTITION").collect()
    }
    assert(b3 == b10, "the BY PARTITION build must not scale its job " +
      s"count with the partition count ($b3 jobs at 3 parts, $b10 at 10)")
  }

  test("SEMANTIC DEDUP SQL statement: the incremental serve from plain " +
      "SQL (r15)") {
    val cat = freshCatalog("vixsd")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    Seq((100L, 0, vec(0, (10, 0.05f))), (101L, 1, vec(5, (30, 0.9f))))
      .toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("sd_batch")
    val rows = spark.sql(s"SEMANTIC DEDUP ON $t (embedding) USING " +
        "(SELECT vec_id, embedding FROM sd_batch)")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
      .toSeq
    assert(rows == Seq((100L, Some(0L), true), (101L, None, false)),
      s"statement answers the API's verdicts: $rows")
    // WHERE filters the USING batch BEFORE routing
    val f = spark.sql(s"SEMANTIC DEDUP ON $t (embedding) USING " +
        "(SELECT vec_id, embedding FROM sd_batch) WHERE vec_id = 101")
      .collect().map(_.getLong(0)).toSeq
    assert(f == Seq(101L), s"WHERE scopes the batch: $f")
    // composable relation form: the statement as a subquery
    val n = spark.sql("SELECT count(*) AS n FROM " +
        s"(SEMANTIC DEDUP ON $t (embedding) USING " +
        "(SELECT vec_id, embedding FROM sd_batch)) WHERE is_dup")
      .collect().head.getLong(0)
    assert(n == 1L, s"composable form: $n dup of 2")
    // targeted clause-shape error (USING missing)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"SEMANTIC DEDUP ON $t (embedding) TOP 5")
    }
    assert(e.getMessage.contains("SEMANTIC DEDUP ON <table>"), e.getMessage)
  }

  test("BY PARTITION × PQ × time travel (r15): each pin serves its " +
      "historical codebook; stale snapshots replay part-keyed") {
    val cat = freshCatalog("vixap")
    val t = s"$cat.ns.emb"
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    (0L to 5L).map(i => (i, 0, vec(0, (10, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    (6L to 11L).map(i => (i, 1, vec(1, (20, 0.05f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val v = Manifest.snapshotVersions(dir).max
    // boosted decoys into partition 0, after the version
    (100L to 104L).map(i => (i, 0, vec(0, (0, 2f))))
      .toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    val v2 = Manifest.snapshotVersions(dir).max
    val pv = vec(0).mkString(", ")
    // pinned PQ AS OF: partition 0's HISTORICAL codebook/codes, no decoys
    val pq = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 6 VERSION AS OF $v RERANK 8 USING PQ WHERE label = 0")
      .select("vec_id").as[Long].collect().toSet
    assert(pq == (0L to 5L).toSet, s"snapshot pin, no decoys: $pq")
    // a CURRENT pinned PQ search IS dominated by the decoys
    val cur = VectorIndex.searchPqWhere(spark, t, "embedding", vec(0), 5,
        probes = 1, rerank = 12, col("label") === 0)
      .select("vec_id").as[Long].collect().toSet
    assert((100L to 104L).toSet.subsetOf(cur), s"current is decoys': $cur")
    // unpinned AS OF: the global union over every historical pin
    val glob = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 12 VERSION AS OF $v RERANK 24 USING PQ")
      .select("vec_id").as[Long].collect().toSet
    assert(glob == (0L to 11L).toSet, s"global union at the version: $glob")
    // v2's snapshot carries the PRE-APPEND prop (no refresh ran): the
    // stale path replays part-keyed geometry + codebooks + codes over
    // v2's rows — the decoys rank because they ARE v2's state
    val stale = spark.sql(s"VECTOR SEARCH ON $t (embedding) PROBE ($pv) " +
        s"TOP 5 VERSION AS OF $v2 RERANK 12 USING PQ WHERE label = 0")
      .select("vec_id").as[Long].collect().toSet
    assert((100L to 104L).toSet.subsetOf(stale),
      s"stale snapshot replay ranks v2's own rows: $stale")
    // the PQ BATCH join serves the partitioned snapshot too: per-(row,
    // pin) ADC cutoff over the historical codes, no decoys at v
    val knn = VectorIndex.knnJoinAsOfPq(spark, t, "embedding",
      Seq((500L, vec(0, (10, 0.05f)))).toDF("vec_id", "embedding"),
      k = 12, version = v, rerank = 24)
    val nn = knn.select("nn_id").as[Long].collect().toSet
    assert(nn == (0L to 11L).toSet,
      s"partitioned snapshot batch join, no decoys: $nn")
    // and its stale twin replays v2's state part-keyed
    val knn2 = VectorIndex.knnJoinAsOfPq(spark, t, "embedding",
      Seq((500L, vec(0))).toDF("vec_id", "embedding"),
      k = 5, version = v2, rerank = 12)
    assert((100L to 104L).toSet.subsetOf(
      knn2.select("nn_id").as[Long].collect().toSet),
      "stale partitioned batch replay ranks v2's decoys")
  }

  test("incremental SemDeDup AS OF (r15): the snapshot's sidecars " +
      "witness; later corpus rows change no verdict") {
    val cat = freshCatalog("vixda")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val dir = spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get
    val v = Manifest.snapshotVersions(dir).max
    // the batch: one row near blob A (a dup at v), one orthogonal row
    // (clean at v) whose EXACT COPY lands in the corpus after v
    val batch = Seq((100L, 0, vec(0, (10, 0.05f))),
      (101L, 1, vec(5, (30, 0.9f))))
      .toDF("vec_id", "label", "embedding")
    Seq((200L, 1, vec(5, (30, 0.9f)))).toDF("vec_id", "label", "embedding")
      .coalesce(1).writeTo(t).append()
    // CURRENT dedup (stale → retrain): row 101 IS a dup of the decoy
    val cur = VectorIndex.semDedupIncremental(spark, t, "embedding", batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(cur(101L), s"the decoy flips 101 currently: $cur")
    // AS OF v: the snapshot's sidecars witness — 101 stays clean
    val asof = VectorIndex.semDedupIncrementalAsOf(spark, t, "embedding",
        batch, v)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
    assert(asof.toSeq == Seq((100L, Some(0L), true), (101L, None, false)),
      s"snapshot verdicts: ${asof.toSeq}")
    // through SQL, with the statement's VERSION AS OF clause
    batch.createOrReplaceTempView("sda_batch")
    val viaSql = spark.sql(s"SEMANTIC DEDUP ON $t (embedding) USING " +
        s"(SELECT vec_id, embedding FROM sda_batch) VERSION AS OF $v")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    assert(viaSql == Seq((100L, true), (101L, false)), viaSql.toString)
    // a STALE snapshot (v2 carries the pre-append prop) replays the
    // build artifacts over v2's rows: 101 dups against ITS state
    val v2 = Manifest.snapshotVersions(dir).max
    val stale = VectorIndex.semDedupIncrementalAsOf(spark, t, "embedding",
        batch, v2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(stale(101L), s"v2's own state witnesses 101: $stale")
  }

  test("EXPLAIN renders the custom statements' serve plans (r15)") {
    val cat = freshCatalog("vixex")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val pv = vec(0).mkString(", ")
    def explained(sql: String): String =
      spark.sql(sql).collect().map(_.getString(0)).mkString("\n")
    val e1 = explained(
      s"EXPLAIN VECTOR SEARCH ON $t (embedding) PROBE ($pv) TOP 5")
    assert(e1.contains("Physical Plan"), e1.take(300))
    // the plan is the serve dataflow, not an opaque command node
    assert(e1.contains("TakeOrderedAndProject") || e1.contains("Sort"),
      e1.take(300))
    val e2 = explained(s"EXPLAIN FORMATTED VECTOR SEARCH ON $t " +
      s"(embedding) PROBE ($pv) TOP 5 RERANK 8 USING PQ")
    assert(e2.contains("Physical Plan"), e2.take(300))
    Seq((100L, vec(0))).toDF("vec_id", "embedding")
      .createOrReplaceTempView("ex_batch")
    val e3 = explained(s"EXPLAIN VECTOR KNN JOIN ON $t (embedding) " +
      "USING (SELECT vec_id, embedding FROM ex_batch) TOP 3")
    assert(e3.contains("Physical Plan"), e3.take(300))
    val e4 = explained(s"EXPLAIN SEMANTIC DEDUP ON $t (embedding) " +
      "USING (SELECT vec_id, embedding FROM ex_batch)")
    assert(e4.contains("Physical Plan"), e4.take(300))
  }

  test("malformed custom statements raise a targeted syntax error") {
    // clauses out of order: SAMPLE before LISTS
    val e1 = intercept[IllegalArgumentException] {
      spark.sql("CREATE VECTOR INDEX ON t (c) ANCHORS (id) SAMPLE 5 LISTS 2")
    }
    assert(e1.getMessage.contains("clauses in this order"),
      s"got: ${e1.getMessage}")
    // TOP before PROBE
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("VECTOR SEARCH ON t (c) TOP 5 PROBE (0.1, 0.2)")
    }
    assert(e2.getMessage.contains("VECTOR SEARCH ON <table>"),
      s"got: ${e2.getMessage}")
  }

  /** A table of four jittered blobs (hot axis = id % 4, partition label
    * = id % 2) for the serve-path equivalence checks below. */
  private def blobRows(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, i % 2, vec(i % 4, (8 + i % 7, 0.02f * (1 + i % 5)),
        (20 + i % 11, 0.015f * (1 + i % 3)))))
      .toDF("vec_id", "label", "embedding")

  test("serve equivalence matrix: {probe, batch} × {exact, PQ} × " +
      "{no predicate, predicate} agree across AS OF, stale retrain and " +
      "PQ convergence") {
    val probe = vec(0, (1, 0.3f))
    val batch = Seq((1000L, vec(0, (9, 0.05f))), (1001L, vec(1, (21, 0.04f))),
      (1002L, vec(2, (3, 0.2f)))).toDF("vec_id", "embedding")
    val pred = col("label") === 0 && col("vec_id") % 3 =!= 0
    // one cell of the matrix; `pq` = the rerank budget of the PQ scorer
    def serve(t: String, batchShape: Boolean, pq: Option[Int],
        where: Boolean, version: Option[Int]): Seq[String] = {
      val p = if (where) Some(pred) else None
      val df = (batchShape, pq, version) match {
        case (false, None, None) => p.fold(VectorIndex.search(spark, t,
          "embedding", probe, 5, 2))(VectorIndex.searchWhere(spark, t,
          "embedding", probe, 5, 2, _))
        case (false, None, Some(v)) => p.fold(VectorIndex.searchAsOf(spark,
          t, "embedding", probe, 5, v, 2))(VectorIndex.searchAsOfWhere(
          spark, t, "embedding", probe, 5, v, 2, _))
        case (false, Some(r), None) => p.fold(VectorIndex.searchPq(spark, t,
          "embedding", probe, 5, 2, r))(VectorIndex.searchPqWhere(spark, t,
          "embedding", probe, 5, 2, r, _))
        case (false, Some(r), Some(v)) => VectorIndex.searchAsOfPq(spark, t,
          "embedding", probe, 5, v, 2, r, p)
        case (true, None, None) => p.fold(VectorIndex.knnJoin(spark, t,
          "embedding", batch, 4))(VectorIndex.knnJoinWhere(spark, t,
          "embedding", batch, 4, _))
        case (true, None, Some(v)) => VectorIndex.knnJoinAsOf(spark, t,
          "embedding", batch, 4, v, p)
        case (true, Some(r), None) => p.fold(VectorIndex.knnJoinPq(spark, t,
          "embedding", batch, 4, r))(VectorIndex.knnJoinPqWhere(spark, t,
          "embedding", batch, 4, r, _))
        case (true, Some(r), Some(v)) => VectorIndex.knnJoinAsOfPq(spark, t,
          "embedding", batch, 4, v, r, p)
      }
      df.collect().map(_.toSeq.mkString("|")).toSeq
    }
    val cells = for {
      batchShape <- Seq(false, true)
      pq <- Seq(false, true)
      where <- Seq(false, true)
    } yield (batchShape, pq, where)
    def label(c: (Boolean, Boolean, Boolean)): String =
      Seq(if (c._1) "batch" else "probe", if (c._2) "pq" else "exact",
        if (c._3) "where" else "all").mkString("/")
    // rerank 8 cuts below the probed lists' sizes; 100 covers the table
    def rerankOf(pq: Boolean): Option[Int] = if (pq) Some(8) else None
    val prevPolicy = spark.conf.getOption("spark.graft.index.onStale")
    spark.conf.set("spark.graft.index.onStale", "retrain")
    try Seq(("vixmx", "LISTS 4 SAMPLE 24"), ("vixmxp", "LISTS 2 BY PARTITION"))
      .foreach { case (tag, opts) =>
        val cat = freshCatalog(tag)
        val t = s"$cat.ns.emb"
        spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
          "embedding ARRAY<FLOAT>)" +
          (if (opts.contains("PARTITION")) " PARTITIONED BY (label)" else ""))
        blobRows(0 until 24).coalesce(1).writeTo(t).append()
        blobRows(24 until 48).coalesce(1).writeTo(t).append()
        val ddl = s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id) $opts"
        spark.sql(ddl)
        val dir = spark.table(t).queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
            if r.table.isInstanceOf[ManifestTable] =>
            r.table.asInstanceOf[ManifestTable].dir
        }.get
        val v = Manifest.snapshotVersions(dir).max
        cells.foreach { c =>
          val (b, pq, w) = c
          val live = serve(t, b, rerankOf(pq), w, None)
          assert(live.nonEmpty, s"$tag ${label(c)}: empty serve")
          assert(serve(t, b, rerankOf(pq), w, Some(v)) == live,
            s"$tag ${label(c)}: AS OF the current version != live")
          if (pq) assert(serve(t, b, Some(100), w, None) ==
              serve(t, b, None, w, None),
            s"$tag ${label(c)}: PQ with rerank ≥ rows != exact")
        }
        // an append stales the index: the in-query retrain (live, and AS
        // OF the stale version) must answer what a rebuild answers
        blobRows(48 until 56).coalesce(1).writeTo(t).append()
        val v2 = Manifest.snapshotVersions(dir).max
        val stale = cells.map(c => serve(t, c._1, rerankOf(c._2), c._3, None))
        val staleAsOf =
          cells.map(c => serve(t, c._1, rerankOf(c._2), c._3, Some(v2)))
        spark.sql(s"DROP VECTOR INDEX ON $t (embedding)")
        spark.sql(ddl)
        cells.zip(stale.zip(staleAsOf)).foreach { case (c, (st, sa)) =>
          val rebuilt = serve(t, c._1, rerankOf(c._2), c._3, None)
          assert(st == rebuilt,
            s"$tag ${label(c)}: stale retrain != rebuild: $st vs $rebuilt")
          assert(sa == rebuilt,
            s"$tag ${label(c)}: stale AS OF retrain != rebuild: $sa vs $rebuilt")
        }
      }
    finally prevPolicy match {
      case Some(x) => spark.conf.set("spark.graft.index.onStale", x)
      case None => spark.conf.unset("spark.graft.index.onStale")
    }
  }

  test("empty kNN-join results keep the ranked schema (sim DOUBLE)") {
    val batch = Seq((100L, vec(0, (30, 0.02f)))).toDF("vec_id", "embedding")
    val cat = freshCatalog("vixes")
    val t = stage(cat)
    spark.sql(s"CREATE VECTOR INDEX ON $t (embedding) ANCHORS (vec_id)")
    val v = Manifest.snapshotVersions(spark.table(t).queryExecution.analyzed
      .collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[ManifestTable] =>
          r.table.asInstanceOf[ManifestTable].dir
      }.get).max
    def sameSchema(empty: org.apache.spark.sql.DataFrame,
        ranked: org.apache.spark.sql.DataFrame): Unit = {
      assert(empty.count() == 0L && ranked.count() > 0L)
      assert(empty.schema == ranked.schema,
        s"${empty.schema.simpleString} vs ${ranked.schema.simpleString}")
    }
    // a predicate matching no row empties the PQ survivors
    sameSchema(
      VectorIndex.knnJoinPqWhere(spark, t, "embedding", batch, 3, 8,
        col("vec_id") < 0),
      VectorIndex.knnJoinPqWhere(spark, t, "embedding", batch, 3, 8,
        col("vec_id") >= 0))
    sameSchema(
      VectorIndex.knnJoinAsOfPq(spark, t, "embedding", batch, 3, v, 8,
        Some(col("vec_id") < 0)),
      VectorIndex.knnJoinAsOfPq(spark, t, "embedding", batch, 3, v, 8,
        Some(col("vec_id") >= 0)))
    // BY PARTITION: a pin on an absent partition value has no geometry
    val cat2 = freshCatalog("vixes2")
    val t2 = s"$cat2.ns.emb"
    spark.sql(s"CREATE TABLE $t2 (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>) PARTITIONED BY (label)")
    blobRows(0 until 16).coalesce(1).writeTo(t2).append()
    spark.sql(s"CREATE VECTOR INDEX ON $t2 (embedding) ANCHORS (vec_id) " +
      "BY PARTITION")
    sameSchema(
      VectorIndex.knnJoinWhere(spark, t2, "embedding", batch, 3,
        col("label") === 7),
      VectorIndex.knnJoinWhere(spark, t2, "embedding", batch, 3,
        col("label") === 0))
  }
}
