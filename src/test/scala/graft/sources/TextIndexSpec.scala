package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The file-level inverted token index ([[TextIndex]]): planning prunes to
  * the posting list, staleness falls back (correctness never depends on
  * rebuild discipline), DVs keep the index fresh, DROP + VACUUM reap. */
class TextIndexSpec extends SparkSuite {
  import spark.implicits._

  private def freshCatalog(tag: String): (String, java.nio.file.Path) = {
    val root = Files.createTempDirectory(s"graft_tix_$tag")
    spark.conf.set(s"spark.sql.catalog.$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$tag.root", root.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $tag.ns")
    (tag, root)
  }

  private def stage(cat: String): String =
    IndexFixtures.docs(spark, s"$cat.ns.docs")

  private def dirOf(t: String): java.nio.file.Path =
    spark.table(t).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[ManifestTable] =>
        r.table.asInstanceOf[ManifestTable].dir
    }.get

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

  test("fresh index plans only the posting list's files") {
    val (cat, _) = freshCatalog("tix1")
    val t = stage(cat)
    val built = spark.sql(s"CREATE TEXT INDEX ON $t (text)").collect().head
    assert(built.getLong(0) == 3L && built.getLong(1) > 0L)
    val one = TextIndex.search(spark, t, "text", "needle")
    assert(one.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(one) == 1, "needle lives in one file")
    val three = TextIndex.search(spark, t, "text", "gamma")
    assert(three.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(plannedFiles(three) == 2, "gamma spans two files")
    // absent token: zero files, zero rows
    val none = TextIndex.search(spark, t, "text", "zzz")
    assert(none.count() == 0L)
  }

  test("incremental MinHash dedup: stored signatures, matched files only") {
    val (cat, _) = freshCatalog("tix20")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    // an exact copy of doc 3 and an unrelated doc: only the witness's
    // file (1 of 3) is ever scanned — corpus text never re-read
    val batch = Seq((100L, "needle in the hay"),
      (101L, "zulu yankee xray whiskey")).toDF("id", "text")
    val res = TextIndex.dedupIncremental(spark, t, "text", "id", batch)
    val rows = res.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSeq
    assert(rows == Seq((100L, Some(3L), true), (101L, None, false)),
      s"witness + non-dup: $rows")
    assert(plannedFiles(res) == 1,
      "id fetch scans the matched witness's ONE file of 3")
    // refresh remaps the signature sidecar: a new file's rows are
    // served from the sidecar (no corpus re-hash), old files untouched
    Seq((7L, "quebec papa oscar november")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"REFRESH TEXT INDEX ON $t (text)")
    val batch2 = Seq((102L, "quebec papa oscar november")).toDF("id", "text")
    val res2 = TextIndex.dedupIncremental(spark, t, "text", "id", batch2)
    val r2 = res2.collect().head
    assert(r2.getLong(1) == 7L && r2.getBoolean(2),
      s"refreshed sidecar serves the new file's signatures: $r2")
    assert(plannedFiles(res2) == 1, "only the appended file fetches")
    // stale default (retrain): in-query corpus signatures, same answer
    Seq((8L, "tango sierra romeo")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    val stale = TextIndex.dedupIncremental(spark, t, "text", "id",
      Seq((103L, "tango sierra romeo")).toDF("id", "text")).collect().head
    assert(stale.getLong(1) == 8L && stale.getBoolean(2), stale.toString)
    // a pre-sidecar index refuses with rebuild guidance
    spark.sql(s"REFRESH TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    val idx = Manifest.read(dir).get.props("tokenidx.text").split(";")(0)
    val sigDir = dir.resolve(idx).resolve("minhash")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(sigDir)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
    val e = intercept[IllegalStateException] {
      TextIndex.dedupIncremental(spark, t, "text", "id", batch).collect()
    }
    assert(e.getMessage.contains("signature sidecar"), e.getMessage)
  }

  test("MINHASH DEDUP SQL statement: the incremental serve from plain " +
      "SQL (r15)") {
    val (cat, _) = freshCatalog("tix32")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    Seq((100L, "needle in the hay"), (101L, "zulu yankee xray whiskey"))
      .toDF("id", "text").createOrReplaceTempView("mh_batch")
    val rows = spark.sql(s"MINHASH DEDUP ON $t (text) ID (id) USING " +
        "(SELECT id, text FROM mh_batch)")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
      .toSeq
    assert(rows == Seq((100L, Some(3L), true), (101L, None, false)),
      s"statement answers the API's verdicts: $rows")
    // WHERE filters the USING batch BEFORE routing
    val f = spark.sql(s"MINHASH DEDUP ON $t (text) ID (id) USING " +
        "(SELECT id, text FROM mh_batch) WHERE id = 101")
      .collect().map(_.getLong(0)).toSeq
    assert(f == Seq(101L), s"WHERE scopes the batch: $f")
    // composable relation form: the statement as a subquery
    val n = spark.sql("SELECT count(*) AS n FROM " +
        s"(MINHASH DEDUP ON $t (text) ID (id) USING " +
        "(SELECT id, text FROM mh_batch)) WHERE is_dup")
      .collect().head.getLong(0)
    assert(n == 1L, s"composable form: $n dup of 2")
    // targeted clause-shape error (ID clause missing)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"MINHASH DEDUP ON $t (text) USING " +
        "(SELECT id, text FROM mh_batch)")
    }
    assert(e.getMessage.contains("MINHASH DEDUP ON <table>"), e.getMessage)
  }

  test("EXPLAIN renders BM25 / MINHASH DEDUP serve plans (r15)") {
    val (cat, _) = freshCatalog("tix34")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    def explained(sql: String): String =
      spark.sql(sql).collect().map(_.getString(0)).mkString("\n")
    val e1 = explained(s"EXPLAIN BM25 SEARCH ON $t (text) ID (id) " +
      "TERMS ('hay') TOP 3")
    assert(e1.contains("Physical Plan"), e1.take(300))
    Seq((100L, "needle in the hay")).toDF("id", "text")
      .createOrReplaceTempView("tex_batch")
    val e2 = explained(s"EXPLAIN MINHASH DEDUP ON $t (text) ID (id) " +
      "USING (SELECT id, text FROM tex_batch)")
    assert(e2.contains("Physical Plan"), e2.take(300))
  }

  test("incremental MinHash dedup AS OF (r15): the snapshot's " +
      "signatures witness; later corpus docs change no verdict") {
    val (cat, _) = freshCatalog("tix36")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    val v = Manifest.snapshotVersions(dir).max
    // batch: a dup of doc 3 at v, and a row whose exact copy lands in
    // the corpus only AFTER v
    val batch = Seq((100L, "needle in the hay"),
      (101L, "zulu yankee xray whiskey")).toDF("id", "text")
    Seq((200L, "zulu yankee xray whiskey")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    // CURRENT dedup (stale → recompute): 101 IS a dup of the decoy
    val cur = TextIndex.dedupIncremental(spark, t, "text", "id", batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(cur(101L), s"the decoy flips 101 currently: $cur")
    // AS OF v: the snapshot's signature sidecar witnesses — 101 clean
    val asof = TextIndex.dedupIncrementalAsOf(spark, t, "text", "id",
        batch, v)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
    assert(asof.toSeq == Seq((100L, Some(3L), true), (101L, None, false)),
      s"snapshot verdicts: ${asof.toSeq}")
    // through SQL
    batch.createOrReplaceTempView("mha_batch")
    val viaSql = spark.sql(s"MINHASH DEDUP ON $t (text) ID (id) USING " +
        s"(SELECT id, text FROM mha_batch) VERSION AS OF $v")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    assert(viaSql == Seq((100L, true), (101L, false)), viaSql.toString)
    // a STALE snapshot (v2 carries the pre-append prop): recompute over
    // v2's own rows — 101 dups against ITS state
    val v2 = Manifest.snapshotVersions(dir).max
    val stale = TextIndex.dedupIncrementalAsOf(spark, t, "text", "id",
        batch, v2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(stale(101L), s"v2's own state witnesses 101: $stale")
  }

  test("scoped BM25 time travel (r15): the scope's statistics serve at " +
      "the version; unprovable scopes fall back snapshot-exact") {
    val (cat, _) = freshCatalog("tix35")
    val t = s"$cat.ns.docs"
    spark.sql(s"CREATE TABLE $t (id BIGINT, src STRING, text STRING)")
    Seq((1L, "a", "needle alpha beta"), (2L, "a", "beta gamma"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    Seq((3L, "b", "needle hay"), (4L, "b", "gamma hay"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    val v = Manifest.snapshotVersions(dir).max
    // term-stuffed decoys CLAIMING scope b, appended after the version:
    // a current scoped ranking is theirs, the AS OF one must not move
    Seq((100L, "b", "needle needle needle"),
      (101L, "b", "needle needle needle"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    val asof = spark.sql(s"BM25 SEARCH ON $t (text) ID (id) " +
        s"TERMS ('needle') TOP 3 VERSION AS OF $v WHERE src = 'b'")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(asof.map(_._1).toSeq == Seq(3L),
      s"snapshot scope b: only doc 3 carries the term: ${asof.toSeq}")
    val cur = TextIndex.bm25TopKScoped(spark, t, "text", "id",
        Seq("needle"), 3, col("src") === "b")
      .select("id").as[Long].collect().toSet
    assert(Set(100L, 101L).subsetOf(cur), s"current is the decoys': $cur")
    // the scoped AS OF statistics are the SNAPSHOT's: scope a has 2
    // docs, one carrying the term — df/N/avgdl must come from a's
    // historical slice, so the score differs from the unscoped one
    val asofA = spark.sql(s"BM25 SEARCH ON $t (text) ID (id) " +
        s"TERMS ('needle') TOP 3 VERSION AS OF $v WHERE src = 'a'")
      .collect().map(_.getLong(0))
    assert(asofA.toSeq == Seq(1L), s"scope a at the version: ${asofA.toSeq}")
    // an unprovable scope (id predicate — no zone-map classification of
    // a text column... id ranges overlap per file) falls back to the
    // snapshot-pinned scoped recompute, same answer shape
    val fb = spark.sql(s"BM25 SEARCH ON $t (text) ID (id) " +
        s"TERMS ('needle') TOP 3 VERSION AS OF $v WHERE id % 2 = 1")
      .collect().map(_.getLong(0))
    assert(fb.toSeq.sorted == Seq(1L, 3L),
      s"fallback recompute over the snapshot's scoped rows: ${fb.toSeq}")
  }

  test("text-part freshness: per-partition attribution matrix (r15)") {
    val (cat, _) = freshCatalog("tix33")
    val t = s"$cat.ns.docs"
    spark.sql(s"CREATE TABLE $t (id BIGINT, src STRING, text STRING) " +
      "PARTITIONED BY (src)")
    Seq((1L, "a", "alpha beta"), (2L, "a", "beta gamma"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    Seq((3L, "b", "needle hay"), (4L, "b", "gamma hay"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    Seq((5L, "c", "delta hay"), (8L, "c", "hay extra"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    def matrix(): Map[String, (Boolean, String)] =
      spark.sql(s"SELECT fresh, details FROM $cat.ns.`docs$$indexes` " +
          "WHERE kind = 'text-part'")
        .collect().map { r =>
          val det = r.getString(1)
          det.split(" ")(0).stripPrefix("part=") -> (r.getBoolean(0), det)
        }.toMap
    // fresh build: every partition fresh, one file each
    val m0 = matrix()
    assert(m0.keySet == Set("a", "b", "c"), m0.toString)
    assert(m0.values.forall(_._1), s"all fresh after build: $m0")
    assert(m0.values.forall(_._2.endsWith("files=1")), m0.toString)
    // churn ONE partition: only its row goes stale
    Seq((6L, "b", "late arrival")).toDF("id", "src", "text")
      .coalesce(1).writeTo(t).append()
    val m1 = matrix()
    assert(!m1("b")._1, s"churned partition stale: $m1")
    assert(m1("a")._1 && m1("c")._1, s"untouched partitions fresh: $m1")
    // a NEW partition value surfaces as its own stale row
    Seq((7L, "d", "brand new slice")).toDF("id", "src", "text")
      .coalesce(1).writeTo(t).append()
    val m2 = matrix()
    assert(!m2("d")._1 && m2("d")._2.contains("files=0"),
      s"new partition = stale, zero indexed files: $m2")
    assert(m2("a")._1 && m2("c")._1 && !m2("b")._1, m2.toString)
    // refresh re-derives ONLY the churned files; the matrix goes all
    // fresh and the parts sidecar covers the new slice
    spark.sql(s"REFRESH TEXT INDEX ON $t (text)")
    val m3 = matrix()
    assert(m3.keySet == Set("a", "b", "c", "d") &&
      m3.values.forall(_._1), s"all fresh after refresh: $m3")
    assert(m3("b")._2.endsWith("files=2"), s"b gained its churn file: $m3")
    // DV drift surfaces per partition WITHOUT flipping freshness (the
    // text tier's names-only rule)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"DELETE FROM $t WHERE id = 5")
    val m4 = matrix()
    assert(m4.values.forall(_._1), s"DV never flips freshness: $m4")
    assert(m4("c")._2.contains("dv_drift=true"),
      s"the DV'd partition carries the drift flag: $m4")
    assert(!m4("a")._2.contains("dv_drift"), s"others don't: $m4")
  }

  test("stale index (appended file set) falls back to a correct full scan") {
    val (cat, _) = freshCatalog("tix2")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    Seq((7L, "fresh needle")).toDF("id", "text").coalesce(1).writeTo(t).append()
    val res = TextIndex.search(spark, t, "text", "needle")
    // the new row surfaces even though the index predates it
    assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
    assert(plannedFiles(res) == 4, "stale index must not prune")
  }

  test("deletion vectors keep the index fresh and the result exact") {
    val (cat, _) = freshCatalog("tix3")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    val res = TextIndex.search(spark, t, "text", "needle")
    // file names unchanged → index still admissible; DV'd row is gone
    assert(res.count() == 0L)
    assert(plannedFiles(res) == 1, "DV must not invalidate the index")
  }

  test("DV-only churn: refresh re-derives exactly the touched file's rows") {
    val (cat, _) = freshCatalog("tix30")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    def idxOf() = Manifest.read(dir).get.props("tokenidx.text").split(";")(0)
    val idx0 = idxOf()
    def statsOf(idx: String) =
      spark.read.parquet(dir.resolve(idx).resolve("stats").toString)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val before = statsOf(idx0)
    assert(before.size == 3 && before.forall(_._2 == 2L), s"2 docs/file: $before")
    // DV-delete doc 4 ("gamma hay" — the needle file's neighbor row):
    // names unchanged, so serving stays fresh and pruning admissible…
    spark.sql(s"DELETE FROM $t WHERE id = 4")
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.count() == 1L && plannedFiles(res) == 1,
      "DV must not invalidate the index")
    // …but t$indexes reports the statistics catch-up debt
    val meta = spark.sql(
      s"SELECT fresh, details FROM $cat.ns.`docs$$indexes`").collect().head
    assert(meta.getBoolean(0), "dv drift is debt, not a freshness flip")
    assert(meta.getString(1) == "dv_drift=true", s"details: ${meta.get(1)}")
    // refresh re-derives ONLY the dv'd file: its stats drop to the live
    // row, the other two files' rows carry over identically
    val (n, remapped) = TextIndex.refresh(spark, dir, "text")
    assert(n == 1L && remapped, s"one drifted file re-derives: ($n, $remapped)")
    val after = statsOf(idxOf())
    val touched = after -- before
    assert(touched.map(t3 => (t3._2, t3._3)) == Set((1L, 4L)),
      s"the dv'd file re-derived to 1 live doc of 4 tokens: $touched")
    assert((before intersect after).size == 2, "untouched files carried over")
    // drift cleared; a second refresh is the fast-path no-op
    val meta2 = spark.sql(
      s"SELECT fresh, details FROM $cat.ns.`docs$$indexes`").collect().head
    assert(meta2.getBoolean(0) && meta2.get(1) == null, s"cleared: $meta2")
    assert(TextIndex.refresh(spark, dir, "text") == ((0L, false)))
    // the signature sidecar dropped the dead row too: a batch copy of
    // the deleted doc is no longer anyone's duplicate
    val probe = Seq((200L, "gamma hay")).toDF("id", "text")
    val dup = TextIndex.dedupIncremental(spark, t, "text", "id", probe)
      .collect().head
    assert(!dup.getBoolean(2), s"deleted corpus row can't witness: $dup")
  }

  test("legacy pre-dv-digest index: conservative drift catch-up, then exact") {
    val (cat, _) = freshCatalog("tix31")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delete.dv' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    // rewrite the prop to the legacy 2-field format and remove the
    // coverage sidecar — what an index persisted by the pre-dv code is
    val m0 = Manifest.read(dir).get
    val fields = m0.props("tokenidx.text").split(";")
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).get
      Manifest.write(dir, cur.copy(props =
        cur.props + ("tokenidx.text" -> s"${fields(0)};${fields(1)}")))
    }
    val coveredDir = dir.resolve(fields(0)).resolve("covered")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(coveredDir)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
    // no churn: refresh upgrades the prop + coverage IN PLACE (same dir)
    assert(TextIndex.refresh(spark, dir, "text") == ((0L, false)))
    val m1 = Manifest.read(dir).get
    assert(m1.props("tokenidx.text").split(";").length == 3 &&
      m1.props("tokenidx.text").split(";")(0) == fields(0),
      "in-place prop upgrade, no sidecar rewrite")
    assert(Files.exists(coveredDir), "coverage materialized")
    // and DV churn now catches up exactly like a current-format index
    spark.sql(s"DELETE FROM $t WHERE id = 4")
    val (n, remapped) = TextIndex.refresh(spark, dir, "text")
    assert(n == 1L && remapped, s"($n, $remapped)")
    assert(TextIndex.refresh(spark, dir, "text") == ((0L, false)))
  }

  test("scoped BM25: per-domain statistics, provable pruning, exact fallback") {
    val (cat, _) = freshCatalog("tix40")
    val t = s"$cat.ns.docs"
    spark.sql(s"CREATE TABLE $t (id BIGINT, dom STRING, text STRING)")
    // 'rare' is common in domain a (2 of 3 docs), absent in b — its
    // domain-a idf must be LOW while the corpus-wide idf is higher; the
    // files are domain-pure so the zone maps prove the scope per-file
    Seq((1L, "a", "rare alpha beta"), (2L, "a", "rare gamma"),
      (3L, "a", "alpha beta gamma"))
      .toDF("id", "dom", "text").coalesce(1).writeTo(t).append()
    Seq((4L, "b", "alpha beta"), (5L, "b", "beta gamma"),
      (6L, "b", "alpha alpha"))
      .toDF("id", "dom", "text").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSeq
    // index-served scoped ranking == the exact scoped recompute (forced
    // through the fallback by an untranslatable conjunct)
    val scoped = TextIndex.bm25TopKScoped(spark, t, "text", "id",
      Seq("rare", "alpha"), 10, col("dom") === "a")
    val exact = TextIndex.bm25TopKScoped(spark, t, "text", "id",
      Seq("rare", "alpha"), 10,
      col("dom") === "a" && length(col("text")) > lit(0))
    assert(rows(scoped) == rows(exact),
      s"index-served == exact fallback: ${rows(scoped)} vs ${rows(exact)}")
    assert(plannedFiles(scoped) == 1, "scope prunes to domain a's file")
    assert(rows(scoped).map(_._1).toSet == Set(1L, 2L, 3L))
    // per-domain statistics genuinely differ from corpus-wide ones:
    // within a, 'rare' (df 2/3) ranks BELOW 'alpha'-only docs scored by
    // corpus stats — pin that the scoped score of doc 3 differs from its
    // corpus-wide score
    val global = TextIndex.bm25TopK(spark, t, "text", "id",
      Seq("rare", "alpha"), 10)
    val g3 = global.where(col("id") === 3L).collect().head.getDouble(2)
    val s3 = scoped.where(col("id") === 3L).collect().head.getDouble(2)
    assert(math.abs(g3 - s3) > 1e-9,
      s"domain idf must differ from corpus idf: $g3 vs $s3")
    // a CUT layout (mixed-domain file) falls back — same answer
    val t2 = s"$cat.ns.docs2"
    spark.sql(s"CREATE TABLE $t2 (id BIGINT, dom STRING, text STRING)")
    Seq((1L, "a", "rare alpha beta"), (4L, "b", "alpha beta"),
      (2L, "a", "rare gamma"), (5L, "b", "beta gamma"),
      (3L, "a", "alpha beta gamma"), (6L, "b", "alpha alpha"))
      .toDF("id", "dom", "text").coalesce(1).writeTo(t2).append()
    spark.sql(s"CREATE TEXT INDEX ON $t2 (text)")
    val cutScoped = TextIndex.bm25TopKScoped(spark, t2, "text", "id",
      Seq("rare", "alpha"), 10, col("dom") === "a")
    assert(rows(cutScoped) == rows(scoped),
      "undecidable layout answers exactly through the fallback")
  }

  test("BM25 SEARCH SQL: statement, scoped WHERE, targeted errors") {
    val (cat, _) = freshCatalog("tix41")
    val t = s"$cat.ns.docs"
    spark.sql(s"CREATE TABLE $t (id BIGINT, dom STRING, text STRING)")
    Seq((1L, "a", "rare alpha beta"), (2L, "a", "rare gamma"),
      (3L, "a", "alpha beta gamma"))
      .toDF("id", "dom", "text").coalesce(1).writeTo(t).append()
    Seq((4L, "b", "alpha beta"), (5L, "b", "beta gamma"),
      (6L, "b", "alpha alpha"))
      .toDF("id", "dom", "text").coalesce(1).writeTo(t).append()
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSeq
    // the statement answers exactly what the Scala API does
    val sql = spark.sql(s"BM25 SEARCH ON $t (text) ID (id) " +
      "TERMS ('rare', 'alpha') TOP 10")
    val api = TextIndex.bm25TopK(spark, t, "text", "id",
      Seq("rare", "alpha"), 10)
    assert(rows(sql) == rows(api), s"${rows(sql)} vs ${rows(api)}")
    // WHERE routes through the scoped-statistics tier
    val scopedSql = spark.sql(s"BM25 SEARCH ON $t (text) ID (id) " +
      "TERMS ('rare', 'alpha') TOP 10 WHERE dom = 'a'")
    val scopedApi = TextIndex.bm25TopKScoped(spark, t, "text", "id",
      Seq("rare", "alpha"), 10, col("dom") === "a")
    assert(rows(scopedSql) == rows(scopedApi))
    assert(rows(scopedSql) != rows(sql), "the scope changes the ranking")
    // composable relation: BM25 output joins table columns in ONE
    // statement (the C219 temp-view substitution applied to text)
    val rel = spark.sql(
      s"SELECT b.id, d.dom FROM (BM25 SEARCH ON $t (text) ID (id) " +
        s"TERMS ('rare') TOP 5) b JOIN $t d ON b.id = d.id ORDER BY b.id")
    assert(rel.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "only the 'rare' docs rank, joined back to their rows")
    // malformed statement → targeted clause-shape error
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"BM25 SEARCH ON $t (text) TERMS ('x') TOP 5")
    }
    assert(e1.getMessage.contains("BM25 SEARCH"), e1.getMessage)
    // unquoted TERMS literal → targeted refusal
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"BM25 SEARCH ON $t (text) ID (id) TERMS (rare) TOP 5")
        .collect()
    }
    assert(e2.getMessage.contains("single-quoted"), e2.getMessage)
  }

  test("DROP TEXT INDEX unpublishes; VACUUM reaps the orphan dir") {
    val (cat, root) = freshCatalog("tix4")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val dir = dirOf(t)
    val idxDirs = { val s = Files.list(dir); try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_tokenidx_")).toSeq
    } finally s.close() }
    assert(idxDirs.size == 1)
    spark.sql(s"DROP TEXT INDEX ON $t (text)")
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(res) == 3, "no index → full scan")
    // archived snapshots still reference the index prop (time travel to
    // them could legitimately use it) — the dir reaps only once they expire
    spark.sql(s"VACUUM $t OLDER THAN 0 MINUTES")
    assert(Files.isDirectory(idxDirs.head), "snapshot-pinned dir survives")
    spark.sql(s"VACUUM $t RETAIN 1 SNAPSHOTS OLDER THAN 0 MINUTES")
    assert(!Files.isDirectory(idxDirs.head), "orphan index dir reaped")
  }

  test("REFRESH: append-only staleness re-indexes only the new files") {
    val (cat, _) = freshCatalog("tix6")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    Seq((7L, "fresh needle"), (8L, "more hay")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    val r = spark.sql(s"REFRESH TEXT INDEX ON $t (text)").collect().head
    assert(r.getLong(0) == 1L && !r.getBoolean(1),
      s"one appended file, incremental: $r")
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
    assert(plannedFiles(res) == 2, "refreshed index prunes again")
    // fresh → no-op
    val r2 = spark.sql(s"REFRESH TEXT INDEX ON $t (text)").collect().head
    assert(r2.getLong(0) == 0L && !r2.getBoolean(1))
    // a rewrite (OPTIMIZE) remaps: dead files' postings drop, only the
    // compacted output re-tokenizes — never the whole corpus
    spark.sql(s"OPTIMIZE $t")
    val r3 = spark.sql(s"REFRESH TEXT INDEX ON $t (text)").collect().head
    assert(r3.getBoolean(1), s"post-OPTIMIZE refresh must remap: $r3")
    assert(r3.getLong(0) == 1L,
      s"only the compacted output file re-indexes: $r3")
    val res3 = TextIndex.search(spark, t, "text", "needle")
    assert(res3.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
    assert(plannedFiles(res3) == 1, "post-OPTIMIZE index prunes again")
  }

  test("onStale policy: fail refuses a stale index, refresh catches up " +
      "and prunes again") {
    val (cat, _) = freshCatalog("tix11")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    Seq((7L, "fresh needle")).toDF("id", "text").coalesce(1)
      .writeTo(t).append() // stale now
    try {
      spark.conf.set("spark.graft.index.onStale", "fail")
      val e = intercept[IllegalStateException] {
        TextIndex.search(spark, t, "text", "needle").collect()
      }
      assert(e.getMessage.contains("STALE"), e.getMessage)
      spark.conf.set("spark.graft.index.onStale", "refresh")
      val res = TextIndex.search(spark, t, "text", "needle")
      assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
      assert(plannedFiles(res) == 2, "served from the refreshed index")
      val meta = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
        .collect().map(_.getBoolean(0))
      assert(meta.toSeq == Seq(true), "refresh policy republished the index")
      // the read-only gate applies to the TEXT tier's refresh-from-read
      // path too: stale the table again, declare read-only credentials,
      // and the refresh policy must refuse UP FRONT
      Seq((8L, "another needle")).toDF("id", "text").coalesce(1)
        .writeTo(t).append()
      spark.conf.set("spark.graft.index.readOnly", "true")
      val e2 = intercept[IllegalStateException] {
        TextIndex.search(spark, t, "text", "needle").collect()
      }
      assert(e2.getMessage.contains("readOnly"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.graft.index.onStale")
      spark.conf.unset("spark.graft.index.readOnly")
    }
  }

  test("t\\$indexes reports kind, column, and live freshness") {
    val (cat, _) = freshCatalog("tix7")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val rows = spark.sql(s"SELECT kind, col, fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(rows.toSeq == Seq(("text", "text", true)))
    Seq((9L, "stale maker")).toDF("id", "text").writeTo(t).append()
    val rows2 = spark.sql(s"SELECT kind, fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(rows2.toSeq == Seq(("text", false)), "append flips freshness")
    spark.sql(s"REFRESH TEXT INDEX ON $t (text)")
    val rows3 = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(_.getBoolean(0))
    assert(rows3.toSeq == Seq(true), "refresh restores freshness")
  }

  test("transparent rewrite: plain SQL token match plans the posting list") {
    val (cat, _) = freshCatalog("tix8")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val q = spark.sql(
      s"SELECT id FROM $t WHERE array_contains(split(text, ' '), 'needle')")
    assert(q.as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(q) == 1, "SQL idiom must prune like TextIndex.search")
    // composes with other conjuncts: the extra predicate rides scan-side
    val q2 = spark.sql(s"SELECT id FROM $t WHERE id < 100 AND " +
      "array_contains(split(text, ' '), 'gamma')")
    assert(q2.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(plannedFiles(q2) == 2)
    // absent token: zero files planned, zero rows — semantics intact
    val q3 = spark.sql(
      s"SELECT id FROM $t WHERE array_contains(split(text, ' '), 'zzz')")
    assert(q3.count() == 0L && plannedFiles(q3) == 0)
    // a non-space separator is NOT the indexed tokenizer — untouched
    val q4 = spark.sql(
      s"SELECT id FROM $t WHERE array_contains(split(text, ','), 'needle in the hay')")
    assert(plannedFiles(q4) == 3, "different tokenizer must not prune")
    assert(q4.as[Long].collect().toSeq == Seq(3L))
    // an explicit split LIMIT is not the indexed tokenizer either: the
    // trailing token keeps its spaces, so a spaced "term" can match rows
    // while the single-token posting lookup would pin zero files
    val qLim = spark.sql(s"SELECT id FROM $t WHERE " +
      "array_contains(split(text, ' ', 2), 'in the hay')")
    assert(plannedFiles(qLim) == 3, "split with explicit limit must not prune")
    assert(qLim.as[Long].collect().toSeq == Seq(3L),
      "spaced trailing token must still match under an explicit limit")
    // TWO token conjuncts: candidates = the INTERSECTION of both posting
    // lists. 'alpha' spans files {1,3}, 'delta' spans {1,3} minus...
    // concretely: alpha∈{f1,f3}, beta∈{f1} → intersection is ONE file
    val qAnd = spark.sql(s"SELECT id FROM $t WHERE " +
      "array_contains(split(text, ' '), 'alpha') AND " +
      "array_contains(split(text, ' '), 'beta')")
    assert(qAnd.as[Long].collect().toSeq == Seq(1L))
    assert(plannedFiles(qAnd) == 1,
      "conjunct token filters must intersect posting lists")
    // disjoint tokens co-occur in NO file: zero files planned, zero rows
    val qDisj = spark.sql(s"SELECT id FROM $t WHERE " +
      "array_contains(split(text, ' '), 'needle') AND " +
      "array_contains(split(text, ' '), 'alpha')")
    assert(qDisj.count() == 0L && plannedFiles(qDisj) == 0,
      "tokens never co-located in a file must plan zero files")
    // stale index: plain SQL falls back to the full scan silently
    Seq((9L, "late needle")).toDF("id", "text").coalesce(1).writeTo(t).append()
    val q5 = spark.sql(
      s"SELECT id FROM $t WHERE array_contains(split(text, ' '), 'needle')")
    assert(q5.as[Long].collect().sorted.toSeq == Seq(3L, 9L))
    assert(plannedFiles(q5) == 4, "stale index must not prune SQL either")
  }

  test("transparent rewrite on time-travel reads: the snapshot's OWN " +
      "posting list prunes, never the current one (r16)") {
    val (cat, _) = freshCatalog("tixA")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val v = spark.sql(s"SELECT max(version) FROM $cat.ns.`docs$$snapshots`")
      .collect().head.getInt(0)
    // a post-version decoy holding the token: the CURRENT index goes
    // stale (so a current-list rewrite could not even pretend to serve),
    // while the SNAPSHOT's own sidecar still matches ITS digest
    Seq((100L, "needle decoy")).toDF("id", "text").coalesce(1)
      .writeTo(t).append()
    val tt = spark.sql(s"SELECT id FROM $t VERSION AS OF $v " +
      "WHERE array_contains(split(text, ' '), 'needle')")
    assert(tt.as[Long].collect().toSeq == Seq(3L),
      "the decoy never surfaces at the version")
    assert(plannedFiles(tt) == 1,
      "pinned read prunes to the SNAPSHOT's one posting file")
    // a snapshot predating the index has no servable sidecar: unpruned
    // pinned scan, same answer (the min version is the empty CREATE)
    val v1 = Manifest.snapshotVersions(dirOf(t)).sorted.apply(2)
    val early = spark.sql(s"SELECT id FROM $t VERSION AS OF $v1 " +
      "WHERE array_contains(split(text, ' '), 'needle')")
    assert(early.as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(early) == 2,
      "pre-index snapshot scans its TWO files unpruned")
  }

  test("index.autoRefresh: an append keeps the index fresh without REFRESH") {
    val (cat, _) = freshCatalog("tix9")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('index.autoRefresh' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    Seq((7L, "auto needle")).toDF("id", "text").coalesce(1).writeTo(t).append()
    // the post-commit hook already refreshed: search prunes to 2 files
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
    assert(plannedFiles(res) == 2, "auto-refreshed index prunes the append")
    val fresh = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(_.getBoolean(0))
    assert(fresh.toSeq == Seq(true))
  }

  test("index.autoRefresh: OPTIMIZE and DELETE keep the index fresh " +
      "(incremental remap, no rebuild)") {
    val (cat, _) = freshCatalog("tix10")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('index.autoRefresh' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    spark.sql(s"OPTIMIZE $t")
    val fresh = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(_.getBoolean(0))
    assert(fresh.toSeq == Seq(true), "post-OPTIMIZE hook remapped the index")
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(res) == 1, "remapped index prunes to the compacted file")
    // a row-level DELETE rewrites files too; the hook keeps up
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    val fresh2 = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(_.getBoolean(0))
    assert(fresh2.toSeq == Seq(true), "post-DELETE hook remapped the index")
    val res2 = TextIndex.search(spark, t, "text", "needle")
    assert(res2.count() == 0L, "deleted row no longer matches")
  }

  test("bm25TopK: indexed ranking equals the stale-fallback recomputation") {
    val (cat, _) = freshCatalog("tixB")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    val terms = Seq("gamma", "needle")
    val fresh = TextIndex.bm25TopK(spark, t, "text", "id", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fresh.nonEmpty && fresh.forall(_._3 > 0.0))
    // doc 3 holds the corpus-rarest query term → top score
    assert(fresh.head._1 == 3L, s"needle doc should rank first: ${fresh.toSeq}")
    // staleness (an append of an unrelated doc) flips to the full-scan
    // fallback: df/N/avgdl now INCLUDE the new doc, matching a recompute
    Seq((7L, "nothing relevant")).toDF("id", "text").coalesce(1)
      .writeTo(t).append()
    val stale = TextIndex.bm25TopK(spark, t, "text", "id", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(stale.map(_._1).toSet == fresh.map(_._1).toSet,
      "membership unchanged: the new doc carries no query term")
    // after REFRESH the indexed stats match the fallback's exactly
    spark.sql(s"REFRESH TEXT INDEX ON $t (text)")
    val refreshed = TextIndex.bm25TopK(spark, t, "text", "id", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(refreshed.toSeq == stale.toSeq,
      "indexed stats after refresh == full-scan stats")
  }

  test("streaming ingest keeps an autoRefresh index fresh per epoch") {
    val (cat, _) = freshCatalog("tixC")
    val t = stage(cat)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('index.autoRefresh' = 'true')")
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    // the streaming-ingest-into-lakehouse loop: file-source stream,
    // foreachBatch appends into the managed table — the post-commit hook
    // must refresh the index each epoch, no scheduler anywhere
    val base = Files.createTempDirectory("tix_stream_")
    val landing = base.resolve("landing")
    Files.createDirectories(landing)
    Seq((20L, "streamed needle"), (21L, "streamed hay"))
      .toDF("id", "text").coalesce(1)
      .write.parquet(base.resolve("tmp").toString)
    val part = { val s = Files.list(base.resolve("tmp")); try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.find(_.toString.endsWith(".parquet")).get
    } finally s.close() }
    Files.copy(part, landing.resolve("batch1.parquet"))
    val q = spark.readStream.schema("id BIGINT, text STRING")
      .parquet(landing.toString)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.coalesce(1).writeTo(t).append()
      }
      .start()
    q.awaitTermination()
    // no manual REFRESH: the epoch's commit already refreshed the index
    val res = TextIndex.search(spark, t, "text", "needle")
    assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 20L))
    assert(plannedFiles(res) == 2, "streamed epoch indexed incrementally")
    val fresh = spark.sql(s"SELECT fresh FROM $cat.ns.`docs$$indexes`")
      .collect().map(_.getBoolean(0))
    assert(fresh.toSeq == Seq(true))
  }

  test("phraseSearch: intersection pruning, contiguity exactness, fallbacks") {
    val (cat, _) = freshCatalog("tixD")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)")
    // 'needle in' is contiguous only in doc 3; the token intersection is
    // exactly that doc's file
    val hit = TextIndex.phraseSearch(spark, t, "text", "needle in")
    assert(hit.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(plannedFiles(hit) == 1)
    // both tokens exist ('gamma' files 1+2, 'hay' files 2+3) but never
    // contiguously in intersection file 2 — zero rows, one file planned
    val miss = TextIndex.phraseSearch(spark, t, "text", "gamma needle")
    assert(miss.count() == 0L)
    // disjoint postings → empty intersection → zero files planned
    val none = TextIndex.phraseSearch(spark, t, "text", "alpha zzz")
    assert(none.count() == 0L && plannedFiles(none) == 0)
    // stale → full scan, still exact
    Seq((8L, "a needle in time")).toDF("id", "text").coalesce(1)
      .writeTo(t).append()
    val stale = TextIndex.phraseSearch(spark, t, "text", "needle in")
    assert(stale.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 8L))
    assert(plannedFiles(stale) == 4)
  }

  test("non-string columns refuse to index") {
    val (cat, _) = freshCatalog("tix5")
    val t = stage(cat)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TEXT INDEX ON $t (id)").collect()
    }
    assert(e.getMessage.contains("only STRING columns"))
  }

  /** BY PARTITION staging: three source-pure files with skewed token
    * distributions — 'x' is common in src a (3 of 3 docs), rare in src b
    * (1 of 3), absent from src c. */
  private def stagePartitioned(cat: String): String = {
    val t = s"$cat.ns.pdocs"
    spark.sql(s"CREATE TABLE $t (id BIGINT, src STRING, text STRING) " +
      "PARTITIONED BY (src)")
    Seq((1L, "a", "x x y"), (2L, "a", "x z"), (3L, "a", "x w"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    Seq((11L, "b", "x q"), (12L, "b", "q r"), (13L, "b", "r s t"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    Seq((21L, "c", "u v"), (22L, "c", "v w"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    t
  }

  test("BY PARTITION: sidecars are part-keyed and per-slice df/N/avgdl " +
      "serve pinned — domain idf, not corpus idf (r16)") {
    val (cat, root) = freshCatalog("tix50")
    val t = stagePartitioned(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    val dir = dirOf(t)
    val idxName = Manifest.read(dir).get.props
      .collectFirst { case (k, v) if k.startsWith("tokenidx.") => v }
      .get.split(";", -1).head
    // the stored sidecars carry the partition value
    val posts = spark.read.parquet(s"$dir/$idxName/posts")
    val stats = spark.read.parquet(s"$dir/$idxName/stats")
    assert(posts.columns.contains("part") && stats.columns.contains("part"),
      s"part-keyed sidecars: ${posts.columns.toSeq} / ${stats.columns.toSeq}")
    // per-slice statistics: the pinned ranking equals a standalone table
    // holding ONLY that slice (df/N/avgdl all slice-scoped)
    for (src <- Seq("a", "b")) {
      val solo = s"$cat.ns.solo$src"
      spark.sql(s"CREATE TABLE $solo (id BIGINT, src STRING, text STRING)")
      spark.table(t).where(col("src") === src).select("id", "src", "text")
        .coalesce(1).writeTo(solo).append()
      spark.sql(s"CREATE TEXT INDEX ON $solo (text)").collect()
      val expected = TextIndex.bm25TopK(spark, solo, "text", "id",
        Seq("x"), 10).collect().map(r => (r.getLong(0), r.getDouble(2)))
      val pinned = TextIndex.bm25TopKScoped(spark, t, "text", "id",
          Seq("x"), 10, col("src") === src)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(pinned.toSeq == expected.toSeq,
        s"slice $src: pinned ${pinned.toSeq} == solo ${expected.toSeq}")
    }
    // domain-vs-corpus idf: doc 11 scores DIFFERENTLY against src b's
    // statistics (df=1, N=3) than against the corpus's (df=4, N=8)
    val inB = TextIndex.bm25TopKScoped(spark, t, "text", "id", Seq("x"),
      10, col("src") === "b").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val global = TextIndex.bm25TopK(spark, t, "text", "id", Seq("x"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(inB.keySet == Set(11L), s"only doc 11 holds x in src b: $inB")
    assert(global.contains(11L) && inB(11L) != global(11L),
      s"slice idf must differ from corpus idf: ${inB(11L)} vs ${global(11L)}")
    // a pinned serve plans only the pinned slice's posting files
    val res = TextIndex.bm25TopKScoped(spark, t, "text", "id", Seq("x"),
      10, col("src") === "a")
    assert(plannedFiles(res) == 1, "src a's one posting file")
    // strictness: an extra conjunct must NOT serve slice statistics —
    // it falls back to the exact scoped recompute (same membership rule)
    val extra = TextIndex.bm25TopKScoped(spark, t, "text", "id", Seq("x"),
        10, col("src") === "b" && col("id") > 11L)
      .collect()
    assert(extra.isEmpty, s"no doc >11 in src b holds x: ${extra.toSeq}")
    // t$indexes reports the routing column
    val row = spark.sql(s"SELECT details FROM $cat.ns.`pdocs$$indexes` " +
      "WHERE kind = 'text'").collect().head
    assert(row.getString(0) == "by=src", s"details: $row")
  }

  test("BY PARTITION: pinned membership search routes to the slice's " +
      "posting rows; refresh keeps part keys file-bounded (r16)") {
    val (cat, _) = freshCatalog("tix51")
    val t = stagePartitioned(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    // 'x' spans src a (file 1) and src b (file 2): unpinned plans 2,
    // pinned plans only the slice's file
    val unpinned = TextIndex.search(spark, t, "text", "x")
    assert(unpinned.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 11L))
    assert(plannedFiles(unpinned) == 2)
    val pinned = TextIndex.searchWhere(spark, t, "text", "x",
      col("src") === "b")
    assert(pinned.select("id").as[Long].collect().toSeq == Seq(11L))
    assert(plannedFiles(pinned) == 1, "pin routes to src b's posting rows")
    // non-pinning scope: same answer, no slice pruning (posting files)
    val scoped = TextIndex.searchWhere(spark, t, "text", "x",
      col("id") >= 3L)
    assert(scoped.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 11L))
    // refresh after a one-partition append: only that file re-derives,
    // the prop keeps its part field, and pinned stats catch up
    Seq((14L, "b", "x x x")).toDF("id", "src", "text").coalesce(1)
      .writeTo(t).append()
    val (nNew, _) = TextIndex.refresh(spark, dirOf(t), "text")
    assert(nNew == 1L, s"one appended file re-derives, got $nNew")
    val v = Manifest.read(dirOf(t)).get.props
      .collectFirst { case (k, vv) if k.startsWith("tokenidx.") => vv }.get
    assert(TextIndex.propPartCol(v).contains("src"),
      s"refresh preserves the part field: $v")
    val afterB = TextIndex.bm25TopKScoped(spark, t, "text", "id", Seq("x"),
      10, col("src") === "b").collect().map(_.getLong(0)).toSet
    assert(afterB == Set(11L, 14L), s"slice b catches up: $afterB")
  }

  test("BY PARTITION: incremental dedup verdicts stay within the batch " +
      "row's own partition (r16)") {
    val (cat, _) = freshCatalog("tix52")
    val t = stagePartitioned(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    // same text claimed in its OWN slice → dup; claimed under another
    // slice → admitted (the tenant/date-scoped admission rule)
    val batch = Seq((100L, "a", "x x y"), (101L, "c", "x x y"),
        (102L, "b", "brand new words"))
      .toDF("id", "src", "text")
    val res = TextIndex.dedupIncremental(spark, t, "text", "id", batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(res == Map(100L -> true, 101L -> false, 102L -> false),
      s"within-partition verdicts: $res")
    // a batch without the partition column refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextIndex.dedupIncremental(spark, t, "text", "id",
        Seq((103L, "x x y")).toDF("id", "text")).collect()
    }
    assert(e.getMessage.contains("BY PARTITION"), e.getMessage)
  }

  test("BY PARTITION on an unpartitioned table refuses") {
    val (cat, _) = freshCatalog("tix53")
    val t = stage(cat)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    }
    assert(e.getMessage.contains("PARTITIONED BY exactly one column"),
      e.getMessage)
  }

  test("BY PARTITION × time travel: within-partition verdicts and " +
      "pinned per-slice statistics AT the version (r16)") {
    val (cat, _) = freshCatalog("tix55")
    val t = stagePartitioned(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    val dir = dirOf(t)
    val v = Manifest.snapshotVersions(dir).max
    // the live scoped ranking for src b at the version — the AS OF
    // expectation after the decoys land
    val preB = TextIndex.bm25TopKScoped(spark, t, "text", "id", Seq("x"),
        10, col("src") === "b")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // post-version decoys: an exact copy of the probe text into src c
    // (flips a c-slice batch row to dup in any CURRENT dedup) and a
    // term-stuffed doc into src b (shifts b's df/avgdl in any CURRENT
    // scoped ranking)
    Seq((200L, "c", "x x y"), (201L, "b", "x x x x"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    val batch = Seq((300L, "c", "x x y")).toDF("id", "src", "text")
    val cur = TextIndex.dedupIncremental(spark, t, "text", "id", batch)
      .collect().head
    assert(cur.getBoolean(2) && cur.getLong(1) == 200L,
      s"current within-partition dedup witnesses the decoy: $cur")
    // AS OF v: src c held no such text — admitted (a corpus-global AS OF
    // would have wrongly witnessed src a's doc 1: the drift this pins)
    val asof = TextIndex.dedupIncrementalAsOf(spark, t, "text", "id",
      batch, v).collect().head
    assert(!asof.getBoolean(2),
      s"within-partition verdicts hold at the version: $asof")
    // …while a same-slice batch row IS witnessed at the version
    val asofA = TextIndex.dedupIncrementalAsOf(spark, t, "text", "id",
      Seq((301L, "a", "x x y")).toDF("id", "src", "text"), v).collect().head
    assert(asofA.getBoolean(2) && asofA.getLong(1) == 1L,
      s"same-slice witness at the version: $asofA")
    // a batch without the partition column refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextIndex.dedupIncrementalAsOf(spark, t, "text", "id",
        Seq((302L, "x x y")).toDF("id", "text"), v).collect()
    }
    assert(e.getMessage.contains("BY PARTITION"), e.getMessage)
    // scoped BM25 AS OF pin-routes the SNAPSHOT's part keys: the
    // term-stuffed post-version doc moves neither membership nor b's
    // df/N/avgdl
    val asofB = TextIndex.bm25TopKScopedAsOf(spark, t, "text", "id",
        Seq("x"), 10, col("src") === "b", v)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(asofB == preB,
      s"pinned slice statistics at the version: $asofB vs $preB")
  }

  test("membership and phrase search AS OF: the snapshot's own posting " +
      "lists prune, post-version decoys never surface (r16)") {
    val (cat, _) = freshCatalog("tix54")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)").collect()
    val dir = dirOf(t)
    val v = Manifest.snapshotVersions(dir).max
    // post-version decoys CONTAIN the probe token and the probe phrase
    Seq((100L, "needle in a new doc"), (101L, "gamma needle in"))
      .toDF("id", "text").coalesce(1).writeTo(t).append()
    // current membership sees the decoys; AS OF must not
    assert(TextIndex.search(spark, t, "text", "needle")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 100L, 101L))
    val asof = TextIndex.searchAsOf(spark, t, "text", "needle", v)
    assert(asof.select("id").as[Long].collect().toSeq == Seq(3L),
      "the snapshot's posting list excludes post-version decoys")
    assert(plannedFiles(asof) == 1,
      "AS OF serves pruned from the historical posting sidecar")
    val ph = TextIndex.phraseSearchAsOf(spark, t, "text", "needle in", v)
    assert(ph.select("id").as[Long].collect().toSeq == Seq(3L))
    // a token absent from the snapshot but present in decoys: empty
    assert(TextIndex.searchAsOf(spark, t, "text", "doc", v).count() == 0L)
    // stale-at-version: a snapshot predating the index serves the
    // pinned full scan — same answer, no pruning (the min version is
    // the empty CREATE TABLE commit; take the first append's)
    val v0 = Manifest.snapshotVersions(dir).sorted.apply(1)
    val early = TextIndex.searchAsOf(spark, t, "text", "alpha", v0)
    assert(early.select("id").as[Long].collect().sorted.toSeq == Seq(1L),
      "the first commit's snapshot holds only doc 1's file")
    // reaped/dropped index: fallback still answers the snapshot exactly
    TextIndex.drop(spark, dir, "text")
    val dropped = TextIndex.searchAsOf(spark, t, "text", "needle", v)
    assert(dropped.select("id").as[Long].collect().toSeq == Seq(3L))
    val phD = TextIndex.phraseSearchAsOf(spark, t, "text", "needle in", v)
    assert(phD.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("bm25Join: one-dataflow batch retrieval equals per-query bm25TopK, " +
      "prunes to the batch terms' posting union, null result on a miss " +
      "(r16)") {
    val (cat, _) = freshCatalog("tix55")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)").collect()
    val batch = Seq((10L, "gamma needle"), (11L, "needle"),
        (12L, "zzz missing"), (13L, "gamma gamma"))
      .toDF("qid", "qtext")
    val res = TextIndex.bm25Join(spark, t, "text", "id", batch,
      "qid", "qtext", 10)
    val rows = res.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getDouble(4)))
    // a 1-row batch is bit-identical to the single-query path
    val single = TextIndex.bm25TopK(spark, t, "text", "id",
        Seq("gamma", "needle"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val q10 = rows.filter(_._1 == 10L).sortBy(_._2)
    assert(q10.map(r => (r._3, r._4, r._5)).toSeq == single.toSeq,
      "batch row 10 == bm25TopK(gamma, needle), scores bit-for-bit")
    // every surfaced row ranks 1..k densely per query, scores descend
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length).toSeq)
      assert(sorted.map(_._5).toSeq.reverse.sorted.toSeq ==
        sorted.map(_._5).toSeq.reverse)
    }
    // a query whose terms all miss the corpus yields NO rows
    assert(!rows.exists(_._1 == 12L), "no term in common = BM25 null result")
    // duplicate terms inside one query collapse (the term SET scores)
    val q13 = rows.filter(_._1 == 13L).sortBy(_._2)
    val gammaOnly = TextIndex.bm25TopK(spark, t, "text", "id",
        Seq("gamma"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(q13.map(r => (r._3, r._4, r._5)).toSeq == gammaOnly.toSeq)
    // candidate pruning: a needle-only batch plans exactly the one
    // file the posting list names
    val needleBatch = Seq((20L, "needle")).toDF("qid", "qtext")
    val pruned = TextIndex.bm25Join(spark, t, "text", "id", needleBatch,
      "qid", "qtext", 10)
    assert(plannedFiles(pruned) == 1,
      "the batch join scans only the posting-union files")
    // dropped index: the full-scan fallback answers identically
    TextIndex.drop(spark, dirOf(t), "text")
    val fallback = TextIndex.bm25Join(spark, t, "text", "id", batch,
        "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(fallback.sortBy(r => (r._1, r._2)).toSeq ==
      rows.sortBy(r => (r._1, r._2)).toSeq,
      "indexed serve == stale-fallback recomputation")
  }

  test("bm25JoinAsOf: the snapshot's statistics and rows serve the " +
      "whole batch; post-version decoys neither rank nor shift any " +
      "score (r16)") {
    val (cat, _) = freshCatalog("tix56")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)").collect()
    val dir = dirOf(t)
    val v = Manifest.snapshotVersions(dir).max
    val batch = Seq((10L, "gamma needle"), (11L, "hay delta"))
      .toDF("qid", "qtext")
    val before = TextIndex.bm25Join(spark, t, "text", "id", batch,
        "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(r => (r._1, r._2))
    // a term-stuffed decoy would dominate query 10 in any CURRENT
    // serve, and its mere presence shifts N/avgdl for query 11's scores
    Seq((100L, "needle needle needle gamma gamma"))
      .toDF("id", "text").coalesce(1).writeTo(t).append()
    val cur = TextIndex.bm25Join(spark, t, "text", "id", batch,
      "qid", "qtext", 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(cur.contains((10L, 1, 100L)),
      "the decoy dominates the current serve — the threat is real")
    val asof = TextIndex.bm25JoinAsOf(spark, t, "text", "id", batch,
        "qid", "qtext", 10, v)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(r => (r._1, r._2))
    assert(asof.toSeq == before.toSeq,
      "AS OF == the pre-append serve, every query, scores bit-for-bit")
    // reaped/dropped index: the snapshot-pinned fallback answers the same
    TextIndex.drop(spark, dir, "text")
    val dropped = TextIndex.bm25JoinAsOf(spark, t, "text", "id", batch,
        "qid", "qtext", 10, v)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(r => (r._1, r._2))
    assert(dropped.toSeq == before.toSeq)
  }

  test("BM25 JOIN SQL: statement, composable relation, VERSION AS OF, " +
      "EXPLAIN, targeted errors (r16)") {
    val (cat, _) = freshCatalog("tix57")
    val t = stage(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text)").collect()
    val v = Manifest.snapshotVersions(dirOf(t)).max
    Seq((10L, "gamma needle"), (11L, "hay"))
      .toDF("id", "text").createOrReplaceTempView("bmj_batch")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), math.round(r.getDouble(4) * 1e6)))
        .sortBy(r => (r._1, r._2)).toSeq
    // the statement answers exactly what the Scala API does
    val sql = spark.sql(s"BM25 JOIN ON $t (text) ID (id) " +
      "USING (SELECT id, text FROM bmj_batch) TOP 10")
    val api = TextIndex.bm25Join(spark, t, "text", "id",
      spark.table("bmj_batch"), "id", "text", 10)
    assert(rows(sql) == rows(api), s"${rows(sql)} vs ${rows(api)}")
    // composable relation: the join's rows join table columns inline
    val rel = spark.sql(
      s"SELECT b.qid, b.rank, d.text FROM (BM25 JOIN ON $t (text) " +
        s"ID (id) USING (SELECT id, text FROM bmj_batch) TOP 1) b " +
        s"JOIN $t d ON b.id = d.id ORDER BY b.qid")
    assert(rel.count() == 2L, "one top-1 row per query, joined back")
    // VERSION AS OF serves the snapshot after a decoy append
    Seq((100L, "needle needle gamma")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    val asofSql = spark.sql(s"BM25 JOIN ON $t (text) ID (id) " +
      s"USING (SELECT id, text FROM bmj_batch) TOP 10 VERSION AS OF $v")
    val asofApi = TextIndex.bm25JoinAsOf(spark, t, "text", "id",
      spark.table("bmj_batch"), "id", "text", 10, v)
    assert(rows(asofSql) == rows(asofApi))
    assert(rows(asofSql) == rows(sql).map(r => (r._1, r._2, r._3, r._4,
      r._5)), "AS OF == the pre-append statement serve")
    assert(rows(spark.sql(s"BM25 JOIN ON $t (text) ID (id) " +
        "USING (SELECT id, text FROM bmj_batch) TOP 10")) != rows(sql),
      "the decoy shifts the current serve — the version pin is load-bearing")
    // EXPLAIN renders the serve plan (the sixth statement family)
    val exp = spark.sql(s"EXPLAIN BM25 JOIN ON $t (text) ID (id) " +
        "USING (SELECT id, text FROM bmj_batch) TOP 3")
      .collect().map(_.getString(0)).mkString("\n")
    assert(exp.contains("Physical Plan"), exp.take(300))
    // malformed statement → targeted clause-shape error
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"BM25 JOIN ON $t (text) USING " +
        "(SELECT id, text FROM bmj_batch) TOP 5")
    }
    assert(e1.getMessage.contains("BM25 JOIN"), e1.getMessage)
  }

  test("bm25Join BY PARTITION: each query ranks within its own slice's " +
      "statistics; the batch must carry the partition column (r16)") {
    val (cat, _) = freshCatalog("tix58")
    val t = stagePartitioned(cat)
    spark.sql(s"CREATE TEXT INDEX ON $t (text) BY PARTITION").collect()
    // 'x' is common in slice a (3/3 docs) but rare in slice b (1/3):
    // the same query text ranks against ITS slice's idf — slice b's
    // lone x-doc scores with a HIGHER idf than any slice-a doc
    val batch = Seq((100L, "a", "x"), (101L, "b", "x"), (102L, "c", "x"))
      .toDF("qid", "src", "qtext")
    val res = TextIndex.bm25Join(spark, t, "text", "id", batch,
        "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(4)))
    val qa = res.filter(_._1 == 100L)
    val qb = res.filter(_._1 == 101L)
    assert(qa.map(_._3).toSet == Set(1L, 2L, 3L),
      s"query a sees exactly slice a's x-docs: ${qa.toSeq}")
    assert(qb.map(_._3).toSet == Set(11L),
      s"query b sees exactly slice b's x-doc: ${qb.toSeq}")
    assert(!res.exists(_._1 == 102L),
      "slice c holds no 'x' — the pinned query has a null result")
    // slice b's idf for x (1 of 3 docs) beats slice a's (3 of 3):
    // per-slice statistics, not corpus statistics
    assert(qb.head._4 > qa.map(_._4).max,
      s"slice-b idf must exceed slice-a idf: ${qb.head._4} vs ${qa.toSeq}")
    // each slice's ranking equals a solo table holding only that slice
    val solo = s"$cat.ns.soloa"
    spark.sql(s"CREATE TABLE $solo (id BIGINT, text STRING)")
    Seq((1L, "x x y"), (2L, "x z"), (3L, "x w"))
      .toDF("id", "text").coalesce(1).writeTo(solo).append()
    spark.sql(s"CREATE TEXT INDEX ON $solo (text)").collect()
    val soloRes = TextIndex.bm25Join(spark, solo, "text", "id",
        Seq((100L, "x")).toDF("qid", "qtext"), "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(4)))
    assert(qa.sortBy(_._2).toSeq == soloRes.sortBy(_._2).toSeq,
      "slice a through the partitioned join == the solo-table join")
    // a batch without the partition column refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25Join(spark, t, "text", "id",
        Seq((1L, "x")).toDF("qid", "qtext"), "qid", "qtext", 10)
    }
    assert(e.getMessage.contains("BY PARTITION"), e.getMessage)
    // AS OF shares the core: a post-version same-slice decoy stuffed
    // with the query term dominates the current serve and shifts the
    // slice's statistics, yet the AS OF join equals the pre-append
    // serve — routed against the SNAPSHOT's part-keyed sidecars
    val v = Manifest.snapshotVersions(dirOf(t)).max
    Seq((99L, "b", "x x x x"))
      .toDF("id", "src", "text").coalesce(1).writeTo(t).append()
    val curB = TextIndex.bm25Join(spark, t, "text", "id", batch,
        "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(curB.contains((101L, 1, 99L)),
      s"the decoy dominates slice b's current serve: ${curB.toSeq}")
    val asofB = TextIndex.bm25JoinAsOf(spark, t, "text", "id", batch,
        "qid", "qtext", 10, v)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(4))).sortBy(r => (r._1, r._2))
    assert(asofB.toSeq == res.sortBy(r => (r._1, r._2)).toSeq,
      "partitioned AS OF == the pre-append serve, scores bit-for-bit")
  }

  test("bm25TopK on an empty un-indexed table returns no rows") {
    val (cat, _) = freshCatalog("tixEmpty")
    val t = s"$cat.ns.none"
    spark.sql(s"CREATE TABLE $t (id BIGINT, text STRING)")
    assert(TextIndex.bm25TopK(spark, t, "text", "id", Seq("x"), 5)
      .count() == 0L)
  }

  test("bm25TopK hit and miss results share the ranked schema " +
      "(STRING id)") {
    val (cat, _) = freshCatalog("tixSid")
    val t = s"$cat.ns.sdocs"
    spark.sql(s"CREATE TABLE $t (id STRING, text STRING)")
    Seq(("a", "alpha beta"), ("b", "beta gamma")).toDF("id", "text")
      .coalesce(1).writeTo(t).append()
    for (indexed <- Seq(false, true)) {
      if (indexed) spark.sql(s"CREATE TEXT INDEX ON $t (text)")
      val hit = TextIndex.bm25TopK(spark, t, "text", "id", Seq("beta"), 5)
      val miss = TextIndex.bm25TopK(spark, t, "text", "id", Seq("zeta"), 5)
      assert(hit.count() == 2L && miss.count() == 0L)
      assert(miss.schema == hit.schema, s"indexed=$indexed: " +
        s"${miss.schema.simpleString} vs ${hit.schema.simpleString}")
    }
  }

  test("text serve equivalence matrix: AS OF = live, stale recompute = " +
      "rebuild, partition pin = the unpinned scope") {
    val (cat, _) = freshCatalog("tixMx")
    val t = s"$cat.ns.mdocs"
    // `text` carries a global index, `body` (the same strings) a BY
    // PARTITION one
    spark.sql(s"CREATE TABLE $t (id BIGINT, src STRING, text STRING, " +
      "body STRING) PARTITIONED BY (src)")
    def put(rows: (Long, String, String)*): Unit =
      rows.map { case (i, p, x) => (i, p, x, x) }
        .toDF("id", "src", "text", "body").coalesce(1).writeTo(t).append()
    put((1L, "a", "x x y"), (2L, "a", "the quick fox x"),
      (3L, "a", "quick brown fox jumps"))
    put((11L, "b", "x q"), (12L, "b", "the quick fox jumps"),
      (13L, "b", "q r s"))
    val dir = dirOf(t)
    def index(): Unit = {
      spark.sql(s"CREATE TEXT INDEX ON $t (text)")
      spark.sql(s"CREATE TEXT INDEX ON $t (body) BY PARTITION")
    }
    index()
    val batch = Seq((101L, "a", "quick brown fox jumps"),
        (102L, "b", "the quick fox jumps"), (103L, "b", "x y z"))
      .map { case (i, p, x) => (i, p, x, x) }
      .toDF("id", "src", "text", "body")
    val terms = Seq("x", "quick", "q")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    // one serve per scorer; membership, phrase, BM25 top-k, BM25 join
    // and MinHash dedup, live or at a version
    def serves(c: String, v: Option[Int]): Seq[(String, Seq[String])] = Seq(
      "membership" -> rows(v.fold(TextIndex.search(spark, t, c, "x"))(
        TextIndex.searchAsOf(spark, t, c, "x", _))),
      "phrase" -> rows(v.fold(TextIndex.phraseSearch(spark, t, c,
        "quick fox"))(TextIndex.phraseSearchAsOf(spark, t, c, "quick fox", _))),
      "bm25" -> rows(v.fold(TextIndex.bm25TopK(spark, t, c, "id", terms, 3))(
        TextIndex.bm25TopKAsOf(spark, t, c, "id", terms, 3, _))),
      "bm25 join" -> rows(v.fold(TextIndex.bm25Join(spark, t, c, "id",
        batch, "id", c, 2))(TextIndex.bm25JoinAsOf(spark, t, c, "id", batch,
        "id", c, 2, _))),
      "minhash" -> rows(v.fold(TextIndex.dedupIncremental(spark, t, c, "id",
        batch))(TextIndex.dedupIncrementalAsOf(spark, t, c, "id", batch, _))))
    def same(what: String, a: Seq[(String, Seq[String])],
        b: Seq[(String, Seq[String])]): Unit =
      a.zip(b).foreach { case ((s, x), (_, y)) =>
        assert(x == y, s"$what, $s: $x vs $y")
      }
    // AS OF shares every stage but the snapshot read with live; the part
    // keys make the BY PARTITION index the stricter case
    same("AS OF current = live", serves("body",
      Some(Manifest.snapshotVersions(dir).max)), serves("body", None))
    // a partition pin serves the pinned slices' statistics; the global
    // index serves the same scope from its zone-map-proven files
    val scope = col("src") === "a"
    assert(rows(TextIndex.searchWhere(spark, t, "body", "x", scope)) ==
      rows(TextIndex.searchWhere(spark, t, "text", "x", scope)))
    val pinned = TextIndex.bm25TopKScoped(spark, t, "body", "id", terms, 3,
      scope)
    assert(rows(pinned) ==
      rows(TextIndex.bm25TopKScoped(spark, t, "text", "id", terms, 3, scope)))
    // a BY PARTITION join ranks each query within its own slice
    val joined = TextIndex.bm25Join(spark, t, "body", "id", batch, "id",
      "body", 2).collect()
    for ((qid, p, q) <- Seq((101L, "a", "quick brown fox jumps"),
        (103L, "b", "x y z")))
      assert(joined.filter(_.getLong(0) == qid)
          .map(r => Seq(r(2), r(3), r(4)).mkString("[", ",", "]")).toSeq.sorted ==
        rows(TextIndex.bm25TopKScoped(spark, t, "text", "id",
          q.split(" ").toSeq, 2, col("src") === p)), s"query $qid")
    // stale (onStale=retrain, the default): the recompute equals a
    // DROP + CREATE of the same index. On `body` this also checks the
    // MinHash pin: the stored part-keyed signatures against the
    // per-partition recompute
    put((4L, "a", "x quick fox"), (14L, "b", "the quick fox"))
    val cols = Seq("text", "body")
    val stale = cols.map(c => serves(c, None))
    cols.foreach(c => spark.sql(s"DROP TEXT INDEX ON $t ($c)"))
    index()
    cols.zip(stale).foreach { case (c, st) =>
      same(s"stale recompute = rebuild ($c)", st, serves(c, None))
    }
  }
}
