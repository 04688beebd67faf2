package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSuite
import graft.sources.IndexFixtures

/** The six index-serve statements of the SQL surface (VECTOR SEARCH,
  * VECTOR KNN JOIN, BM25 SEARCH, BM25 JOIN, SEMANTIC DEDUP, MINHASH
  * DEDUP) through the parser's three entry points: the standalone
  * statement, the composable `( … )` relation and EXPLAIN. */
class ServeStatementSpec extends SparkSuite {

  /** A fresh catalog holding the shared vector and text fixtures, both
    * indexed: (vector table, text table). */
  private def fixtures(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft_serve_$tag").toString
    spark.conf.set(s"spark.sql.catalog.$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$tag.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $tag.ns")
    val vt = IndexFixtures.vectors(spark, s"$tag.ns.emb")
    val tt = IndexFixtures.docs(spark, s"$tag.ns.docs")
    spark.sql(s"CREATE VECTOR INDEX ON $vt (embedding) ANCHORS (vec_id)")
    spark.sql(s"CREATE TEXT INDEX ON $tt (text)")
    (vt, tt)
  }

  private val probe = IndexFixtures.vec(0).mkString(", ")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The rows of `SELECT * FROM (<stmt>)` sorted by the statement's
    * declared order keys. */
  private def composable(stmt: String, order: String): Seq[Row] =
    rows(spark.sql(s"SELECT * FROM ($stmt) ORDER BY $order"))

  test("quoted text naming a serve keyword is the text it spells; a " +
      "composable group closes at its own paren") {
    assert(spark.sql("""SELECT "(VECTOR SEARCH ON x)" AS b""").head()
      .getString(0) == "(VECTOR SEARCH ON x)")
    assert(spark.sql("""SELECT "(BM25 SEARCH ON x)" AS c""").head()
      .getString(0) == "(BM25 SEARCH ON x)")
    assert(spark.sql("SELECT 1 AS `(MINHASH DEDUP ON x)`").columns.toSeq ==
      Seq("(MINHASH DEDUP ON x)"))
    val (vt, tt) = fixtures("servq")
    // a ')' inside a double-quoted literal of the WHERE must not close
    // the group: the composable form answers the standalone rows
    val vs = s"""VECTOR SEARCH ON $vt (embedding) PROBE ($probe) TOP 8 """ +
      """WHERE concat(label, ")") = "0)""""
    val vRows = rows(spark.sql(vs))
    assert(vRows.nonEmpty && vRows.forall(_.getLong(0) <= 5L),
      s"only blob A (label 0) ranks: $vRows")
    assert(composable(vs, "sim DESC, vec_id") == vRows)
    val bs = s"""BM25 SEARCH ON $tt (text) ID (id) TERMS ('gamma', 'hay') """ +
      """TOP 5 WHERE concat(text, ")") <> "gamma hay)""""
    val bRows = rows(spark.sql(bs))
    assert(bRows.nonEmpty && !bRows.exists(_.getLong(0) == 4L),
      s"the WHERE drops doc 4: $bRows")
    assert(composable(bs, "score DESC, id") == bRows)
    // a composable VECTOR SEARCH inside a KNN JOIN's USING query
    val knn = s"VECTOR KNN JOIN ON $vt (embedding) USING (SELECT " +
      "e.vec_id + 100 AS vec_id, e.embedding FROM (VECTOR SEARCH ON " +
      s"$vt (embedding) PROBE ($probe) TOP 2) v JOIN $vt e " +
      "ON v.vec_id = e.vec_id) TOP 2"
    val kRows = rows(spark.sql(knn))
    assert(kRows.length == 4 && kRows.forall(r =>
      r.getLong(0) >= 100L && r.getLong(0) <= 105L && r.getLong(2) <= 5L),
      kRows.toString)
    assert(composable(knn, "vec_id, rank") == kRows)
  }

  test("serve matrix: standalone = composable sorted by the declared " +
      "order, EXPLAIN renders a plan, a malformed statement names its " +
      "own clause shape") {
    val (vt, tt) = fixtures("servm")
    val vBatch = s"(SELECT vec_id + 100 AS vec_id, embedding FROM $vt " +
      "WHERE vec_id IN (0, 6))"
    val tBatch = s"(SELECT id + 100 AS id, text FROM $tt WHERE id IN (1, 3))"
    // (keyword, statement, declared order, malformed statement)
    val matrix = Seq(
      ("VECTOR SEARCH",
        s"VECTOR SEARCH ON $vt (embedding) PROBE ($probe) TOP 5",
        "sim DESC, vec_id",
        s"VECTOR SEARCH ON $vt (embedding) TOP 5 PROBE ($probe)"),
      ("VECTOR KNN JOIN",
        s"VECTOR KNN JOIN ON $vt (embedding) USING $vBatch TOP 2",
        "vec_id, rank",
        s"VECTOR KNN JOIN ON $vt (embedding) TOP 2"),
      ("BM25 SEARCH",
        s"BM25 SEARCH ON $tt (text) ID (id) TERMS ('gamma', 'hay') TOP 4",
        "score DESC, id",
        s"BM25 SEARCH ON $tt (text) TERMS ('gamma') TOP 4"),
      ("BM25 JOIN",
        s"BM25 JOIN ON $tt (text) ID (id) USING $tBatch TOP 2",
        "qid, rank",
        s"BM25 JOIN ON $tt (text) USING $tBatch TOP 2"),
      ("SEMANTIC DEDUP",
        s"SEMANTIC DEDUP ON $vt (embedding) USING $vBatch",
        "vec_id",
        s"SEMANTIC DEDUP ON $vt (embedding) TOP 5"),
      ("MINHASH DEDUP",
        s"MINHASH DEDUP ON $tt (text) ID (id) USING $tBatch",
        "id",
        s"MINHASH DEDUP ON $tt (text) USING $tBatch"))
    matrix.foreach { case (kw, stmt, order, malformed) =>
      val standalone = spark.sql(stmt)
      val got = rows(standalone)
      assert(got.nonEmpty, s"$kw: no rows")
      val rel = spark.sql(s"SELECT * FROM ($stmt)")
      assert(standalone.schema.map(f => (f.name, f.dataType)) ==
        rel.schema.map(f => (f.name, f.dataType)), s"$kw: schemas differ")
      assert(composable(stmt, order) == got,
        s"$kw: standalone rows are not the composable rows in the " +
          s"declared order ($order)")
      val plan = rows(spark.sql(s"EXPLAIN $stmt")).map(_.getString(0))
        .mkString("\n")
      assert(plan.contains("Physical Plan"), s"$kw: ${plan.take(300)}")
      Seq(malformed, s"SELECT * FROM ($malformed)").foreach { bad =>
        val e = intercept[IllegalArgumentException](spark.sql(bad))
        assert(e.getMessage.contains(s"expected: $kw ON <table>"),
          s"$kw: ${e.getMessage}")
      }
    }
  }
}
