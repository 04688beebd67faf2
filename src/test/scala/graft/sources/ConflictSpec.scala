package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Optimistic conflict detection for row-level operations: two concurrent
  * DELETE/UPDATE/MERGE/OPTIMIZE ops that computed their rewrites against
  * the same snapshot must not BOTH publish divergent rewrites of one file
  * — the loser fails loudly (the Delta ConcurrentDeleteRead rule), while
  * appends keep commuting with everything. */
class ConflictSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rootDir = {
    val d = Files.createTempDirectory("graft_conf_").toString
    spark.conf.set("spark.sql.catalog.graftcf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcf.root", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcf.q")
    d
  }

  test("the loser of two overlapping row-level ops fails instead of double-publishing") {
    rootDir
    spark.sql("CREATE TABLE graftcf.q.t (id BIGINT, v DOUBLE)")
    (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.t").append()
    val dir = Paths.get(rootDir, "q", "t")
    // op2 captures its snapshot FIRST…
    val base = Manifest.read(dir).get
    val target = base.entries.head
    // …then op1 lands a real copy-on-write DELETE that replaces the file
    spark.sql("DELETE FROM graftcf.q.t WHERE id BETWEEN 40 AND 60")
    assert(spark.table("graftcf.q.t").count() == 79L)
    // op2 now tries to publish ITS rewrite of the same (stale) file
    val fake = ManifestFile("part-op2-rewrite.tsv", 50L, ColumnStats.empty,
      base.schema.length)
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestTable.publishReplacing(dir, base, Seq(target.name), Seq(fake))
    }
    assert(e.getMessage.contains(target.name))
    // the table still holds exactly op1's result — nothing double-published
    assert(spark.table("graftcf.q.t").count() == 79L)
    assert(!Manifest.read(dir).get.entries.exists(_.name == fake.name))
  }

  test("a concurrent deletion vector on a replaced file also conflicts") {
    rootDir
    spark.sql("""CREATE TABLE graftcf.q.dv (id BIGINT, v DOUBLE)
                 TBLPROPERTIES ('delete.dv'='true')""")
    (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.dv").append()
    val dir = Paths.get(rootDir, "q", "dv")
    val base = Manifest.read(dir).get
    val target = base.entries.head
    // op1: a 1-row merge-on-read delete — same file NAME survives, but its
    // deletion vector changed, so op2's snapshot of the file is stale
    spark.sql("DELETE FROM graftcf.q.dv WHERE id = 7")
    assert(Manifest.read(dir).get.entries.head.dv.isDefined)
    val fake = ManifestFile("part-op2b.tsv", 10L, ColumnStats.empty,
      base.schema.length)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.publishReplacing(dir, base, Seq(target.name), Seq(fake))
    }
    assert(spark.table("graftcf.q.dv").count() == 99L)
  }

  test("a losing row-level op retries against the fresh snapshot and both effects compose") {
    rootDir
    spark.sql("CREATE TABLE graftcf.q.rt (id BIGINT, v DOUBLE)")
    (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.rt").append()

    // two genuinely CONCURRENT updates of the same file: thread B stalls
    // between its snapshot read and its publish (a lock-acquisition spy),
    // thread A replaces the file meanwhile — B's first publish conflicts,
    // the automatic retry recomputes against A's result and lands
    val stall = new java.util.concurrent.CountDownLatch(1)
    val bInSnapshot = new java.util.concurrent.CountDownLatch(1)
    val stallB = new java.util.concurrent.atomic.AtomicBoolean(true)
    val prev = ManifestLock.install(new CommitLock {
      def withLock[T](d: java.nio.file.Path)(body: => T): T = {
        // stall only B's FIRST commit attempt (identified by flag)
        if (Thread.currentThread().getName == "graft-merge-b" && stallB.get()) {
          stallB.set(false)
          bInSnapshot.countDown()
          stall.await(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        LocalFileCommitLock.withLock(d)(body)
      }
    })
    try {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val b = new Thread(() => {
        try spark.sql("UPDATE graftcf.q.rt SET v = v + 1000 WHERE id = 10")
        catch { case t: Throwable => err.set(t) }
      }, "graft-merge-b")
      b.start()
      assert(bInSnapshot.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "B never reached its commit")
      // A lands a conflicting rewrite of the same file while B is stalled
      spark.sql("DELETE FROM graftcf.q.rt WHERE id BETWEEN 40 AND 60")
      stall.countDown()
      b.join(60000)
      assert(!b.isAlive, "B must finish")
      assert(err.get() == null, s"B must land on retry, got ${err.get()}")
      // BOTH effects composed: A's 21 rows gone, B's update applied
      assert(spark.table("graftcf.q.rt").count() == 79L)
      assert(spark.sql("SELECT v FROM graftcf.q.rt WHERE id = 10")
        .head().getDouble(0) == 1010.0)
    } finally {
      stall.countDown()
      ManifestLock.install(prev)
    }
  }

  test("with retries disabled the conflict still surfaces loudly") {
    rootDir
    spark.sql("CREATE TABLE graftcf.q.nrt (id BIGINT, v DOUBLE)")
    (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.nrt").append()
    val dir = Paths.get(rootDir, "q", "nrt")
    val base = Manifest.read(dir).get
    val target = base.entries.head
    spark.sql("DELETE FROM graftcf.q.nrt WHERE id BETWEEN 10 AND 20")
    val fake = ManifestFile("part-nrt-op2.tsv", 5L, ColumnStats.empty,
      base.schema.length)
    spark.conf.set("spark.graft.commit.maxRetries", "0")
    try {
      // the op-level wrapper at 0 retries surfaces the conflict unchanged
      intercept[java.util.ConcurrentModificationException] {
        ManifestTable.withConflictRetry("TEST") {
          ManifestTable.publishReplacing(dir, base, Seq(target.name), Seq(fake))
        }
      }
    } finally spark.conf.unset("spark.graft.commit.maxRetries")
    assert(spark.table("graftcf.q.nrt").count() == 39L)
  }

  test("appends commute with a row-level op's publish (no false conflicts)") {
    rootDir
    spark.sql("CREATE TABLE graftcf.q.ap (id BIGINT, v DOUBLE)")
    (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.ap").append()
    val dir = Paths.get(rootDir, "q", "ap")
    val base = Manifest.read(dir).get
    // a CONCURRENT append lands between the op's snapshot and its publish
    (51L to 60L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .writeTo("graftcf.q.ap").append()
    // the op replaces its (unchanged) file — no conflict, append preserved
    val rewrite = ManifestTable.stage(dir, base,
      ManifestTable.scanFiles(spark, dir, Seq(base.entries.head.name))
        .filter($"id" <= 40L), clustered = false)
    ManifestTable.publishReplacing(dir, base,
      Seq(base.entries.head.name), rewrite)
    assert(spark.table("graftcf.q.ap").count() == 50L) // 40 kept + 10 appended
  }
}
