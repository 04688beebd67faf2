package graft.sources

import org.apache.spark.sql.SparkSession

/** The small indexed tables the index and serve-statement suites share. */
object IndexFixtures {
  val dim = 64

  /** A `dim`-wide unit vector on axis `hot`, plus the given jitter. */
  def vec(hot: Int, jitter: (Int, Float)*): Array[Float] = {
    val a = new Array[Float](dim)
    a(hot) = 1f
    jitter.foreach { case (i, x) => a(i) = x }
    a
  }

  /** Creates `t` as two orthogonal blobs, one commit each: blob A (axis 0)
    * holds vec_ids 0-5, blob B (axis 1) 6-11, each blob's vectors
    * identical — so every blob collapses into ONE cluster (equal dots
    * tie-break to the first anchor) and each posting list covers exactly
    * its blob's file. Columns (vec_id BIGINT, label INT = the blob,
    * embedding ARRAY<FLOAT>). */
  def vectors(spark: SparkSession, t: String): String = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $t (vec_id BIGINT, label INT, " +
      "embedding ARRAY<FLOAT>)")
    val blobA = (0 to 5).map(i => (i.toLong, 0, vec(0, (10, 0.05f))))
    val blobB = (6 to 11).map(i => (i.toLong, 1, vec(1, (20, 0.05f))))
    blobA.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    blobB.toDF("vec_id", "label", "embedding").coalesce(1).writeTo(t).append()
    t
  }

  /** Creates `t` (id BIGINT, text STRING) as three commits, so three
    * files; 'needle' lives in exactly one. */
  def docs(spark: SparkSession, t: String): String = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $t (id BIGINT, text STRING)")
    Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("id", "text").coalesce(1).writeTo(t).append()
    Seq((3L, "needle in the hay"), (4L, "gamma hay"))
      .toDF("id", "text").coalesce(1).writeTo(t).append()
    Seq((5L, "alpha delta"), (6L, "delta hay"))
      .toDF("id", "text").coalesce(1).writeTo(t).append()
    t
  }
}
