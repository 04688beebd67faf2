package graftbench

import java.nio.file.{Files, Path}
import java.time.YearMonth

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{AnalyticsMain, Etl, ReferenceSchemas}
import graft.sources.{TextIndex, VectorIndex}

/** `star_analytics` / `corpus_batch`: every query of a pinned list, through
  * `SparkEntry.queries`, in a seeded order per pass. `query_sample`: `take`
  * evenly spaced queries of each of the two lists, the same ones for every
  * seed (so runs with different seeds time the same work), in a seeded
  * order per pass. */
final class QuerySweep(parts: Seq[QuerySweep.Part], seed: Long, scale: Gen.Scale,
    home: Path, val passSeconds: Double) extends Workload {
  val tailPct = 90.0
  val expected = parts.map(_.list)
  private val names: Seq[(String, String)] = parts.flatMap { p =>
    val all = Files.readAllLines(home.resolve(s"queries/${p.list}.txt")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val picked = if (p.take <= 0) all else (0 until p.take).map(k => all(k * all.size / p.take))
    picked.map(p.layer -> _)
  }
  private lazy val all = SparkEntry.queries
  private var data = ""

  def stage(h: Harness, rep: Int): Unit = data = h.step("tables")(Workload.tables(h, rep, scale))

  def pass(h: Harness, i: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(names).map { case (layer, q) =>
      h.op(layer, q)(Frame(all(q)(h.spark, data)))
    }
}

object QuerySweep {
  /** The queries of `queries/<list>.txt` (all, or `take` evenly spaced
    * ones), run as spans of `layer`. */
  final case class Part(list: String, layer: String, take: Int = 0)
}

/** `medallion`: the paper's pipeline over monthly taxi-shaped source files
  * cut from `lineitem` — bronze, run manifests, gold, then a catalog table
  * with a MERGE, a DELETE and an OPTIMIZE, and the two reference analytics
  * queries written as CSV. The seed picks one of [[Variants]] month windows
  * and, with it, the MERGE and DELETE keys. */
final class Medallion(seed: Long, scale: Gen.Scale) extends Workload {
  val tailPct = 75.0
  val passSeconds = 7.0
  val expected = Seq("medallion")
  val Variants = 8
  private val WindowMonths = 3
  private var variant = Math.floorMod(seed, Variants.toLong).toInt
  private var staged = Seq(variant) // month windows the source files cover
  private var src = ""
  private var passes = 0 // names each pass's directories and table
  private val cat = "gbmed"

  private def start(v: Int) = YearMonth.of(1995, 3).plusMonths(9L * v)

  def stage(h: Harness, rep: Int): Unit = {
    val s = h.spark
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", h.dir("catalog_medallion").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    val data = h.dir(s"data$rep").toString
    h.step("tables")(Gen.write(s, data, scale, only = Set("lineitem")))
    src = h.dir(s"source$rep").toString
    // Taxi-shaped trips: the pickup time is unique per line item (its id in
    // the microseconds), so it keys the MERGE. Raw column types differ from
    // the bronze schema where the reference's sources do, so the cast-on-
    // read step has work to do.
    val li = s.read.parquet(s"$data/lineitem.parquet")
    val id = col("l_orderkey") * 8 + col("l_linenumber")
    val pickup = timestamp_micros(unix_micros(col("l_shipdate")) +
      (id * 7919 % 86400) * 1000000L + id % 1000000L)
    val fare = round(col("l_extendedprice") / 1000, 2)
    val trips = li.select(
      (col("l_linenumber") % 2 + 1).as("VendorID"),
      pickup.as("tpep_pickup_datetime"),
      timestamp_micros(unix_micros(pickup) + col("l_quantity").cast("long") * 60000000L)
        .as("tpep_dropoff_datetime"),
      (col("l_partkey") % 6 + 1).cast("double").as("Passenger_count"),
      (col("l_quantity") / 10).as("Trip_distance"),
      col("l_partkey").as("PULocationID"), col("l_suppkey").as("DOLocationID"),
      lit(1.0).as("RateCodeID"),
      when(col("l_linestatus") === "F", "N").otherwise("Y").as("Store_and_fwd_flag"),
      (col("l_linenumber") % 4 + 1).as("Payment_type"),
      fare.as("Fare_amount"), round(col("l_tax") * 10, 2).as("Extra"),
      lit(0.5).as("MTA_tax"), lit(0.3).as("Improvement_surcharge"),
      round(col("l_discount") * 100, 2).as("Tip_amount"), lit(0.0).as("Tolls_amount"),
      round(fare + round(col("l_tax") * 10, 2) + 0.8 + round(col("l_discount") * 100, 2), 2)
        .as("Total_amount"),
      lit(2.5).as("congestion_Surcharge"), lit(0.0).as("Airport_fee"))
    // One file per month, one month either side of every window (pruned
    // by file name). Each file also holds the last five days of the month
    // before and two of the month after, which the tolerance filter trims:
    // a trip belongs to its own month's file, to the next month's if it is
    // within five days of it, and to the previous one's within two days.
    // One partitioned write lands every file; the partition directories
    // are then renamed to the reference's file names.
    val months = staged.flatMap(v => (-1 to WindowMonths).map(start(v).plusMonths(_))).distinct
    val t = col("tpep_pickup_datetime")
    val ym = (c: org.apache.spark.sql.Column) => date_format(c, "yyyy-MM")
    h.step("source files")(trips.withColumn("file_month", explode(array_distinct(array(ym(t),
        ym(t + expr("INTERVAL 5 DAYS")), ym(t - expr("INTERVAL 2 DAYS"))))))
      .where(col("file_month").isin(months.map(_.toString): _*))
      .repartition(col("file_month"))
      .write.partitionBy("file_month").parquet(s"$src/_months"))
    months.foreach { m =>
      Files.move(Path.of(src, "_months", s"file_month=$m"), Path.of(src, s"yellow_tripdata_$m.parquet"))
    }
  }

  def pass(h: Harness, i: Int): Seq[Op] = {
    val s = h.spark
    val v = variant
    passes += 1
    val p = h.dir(s"medallion_pass$passes")
    val cfg = Etl.Config(
      srcDir = src, bronzeDir = s"$p/bronze", goldDir = s"$p/gold", logDir = s"$p/logs",
      filePrefix = "yellow_tripdata", tsCol = "tpep_pickup_datetime",
      startYm = start(v).toString, endYm = start(v).plusMonths(WindowMonths - 1L).toString,
      toleranceHours = 72, bronzeSchema = ReferenceSchemas.yellowBronze,
      goldDropCols = ReferenceSchemas.goldDropCols)
    val table = s"$cat.m.gold_$passes"
    val k = v * 7
    var manifest: Etl.Manifest = null
    def state = Frame(s.table(table))
    def csv(q: String, df: => org.apache.spark.sql.DataFrame) = h.op("etl", s"v$v/$q") {
      val out = s"$p/results/$q"
      val result = df
      Etl.writeCsv(result, out)
      Frame(s.read.schema(result.schema).option("header", "true").csv(out))
    }
    Seq(
      h.op("etl", s"v$v/bronze") {
        manifest = Etl.runBronze(s, cfg)
        Text((manifest.processed.map(f => s"$f=${manifest.rowCounts.getOrElse(f, -1L)}") ++
          manifest.failed.map(_._1 + "=failed")).mkString(","))
      },
      h.op("etl", s"v$v/manifests") {
        Etl.writeManifests(cfg, "2024-06-01", manifest)
        Text(Files.readString(Path.of(cfg.logDir, "processed_files_2024-06-01.txt")).hashCode.toHexString)
      },
      h.op("etl", s"v$v/gold") {
        Etl.runGold(s, cfg)
        Frame(s.read.parquet(cfg.goldDir))
      },
      h.op("sources.commit", s"v$v/load") {
        // The manifest codec has no TINYINT, so VendorID widens to INT.
        s.sql(s"CREATE TABLE $table (VendorID INT, tpep_pickup_datetime TIMESTAMP, " +
          "tpep_dropoff_datetime TIMESTAMP, Passenger_count INT, Total_amount DOUBLE, " +
          "pickup_year INT, pickup_month INT) PARTITIONED BY (pickup_year, pickup_month)")
        s.read.parquet(cfg.goldDir).withColumn("VendorID", col("VendorID").cast("int"))
          .writeTo(table).append()
        state
      },
      h.op("sources.commit", s"v$v/merge") {
        val gold = s.read.parquet(cfg.goldDir).withColumn("VendorID", col("VendorID").cast("int"))
        val sec = second(col("tpep_pickup_datetime"))
        gold.where(sec === k % 60).withColumn("Total_amount", col("Total_amount") + 1.0)
          .unionByName(gold.where(sec === (k + 1) % 60).withColumn("tpep_pickup_datetime",
            col("tpep_pickup_datetime") - expr("INTERVAL 1 SECOND")))
          .distinct().createOrReplaceTempView("gbmed_merge_src")
        s.sql(s"MERGE INTO $table t USING gbmed_merge_src m " +
          "ON t.tpep_pickup_datetime = m.tpep_pickup_datetime " +
          "WHEN MATCHED THEN UPDATE SET Total_amount = m.Total_amount " +
          "WHEN NOT MATCHED THEN INSERT *")
        state
      },
      h.op("sources.commit", s"v$v/delete") {
        s.sql(s"DELETE FROM $table WHERE second(tpep_pickup_datetime) = ${(k + 2) % 60}")
        state
      },
      h.op("sources.commit", s"v$v/optimize") {
        s.sql(s"OPTIMIZE $table")
        state
      },
      csv("q1_monthly_avg", AnalyticsMain.q1MonthlyAvg(s, cfg.goldDir)),
      csv("q2_window_avgs", AnalyticsMain.q2WindowAvgs(s, cfg.goldDir)))
  }

  override def recordAll(h: Harness): Unit = {
    if (staged.size < Variants) { staged = 0 until Variants; stage(h, 99) }
    (0 until Variants).foreach { v => variant = v; pass(h, 0) }
  }
}

/** `index_serve`: a one-client closed loop over an indexed docs table and an
  * indexed embeddings table. Requests come from fixed pools: probe vectors
  * (every 31st vector of the table, modulo its size), term sets (drawn at
  * staging from the staged documents) and kNN batches of four probes. A pass
  * is one request of each of the six kinds, equally weighted; the seed draws
  * their order and, uniformly, their pool entries. */
final class IndexServe(seed: Long, scale: Gen.Scale) extends Workload {
  val tailPct = 90.0
  val passSeconds = 6.0
  val expected = Seq("index_serve")
  private val cat = "gbserve"
  private var docs, emb = ""
  private var vectors = Map.empty[Long, Array[Float]]
  private var termSets = IndexedSeq.empty[Seq[String]]

  private val probeIds: IndexedSeq[Long] = (0 until 32).map(i => i * 31L % scale.vecs)
  private val batches: IndexedSeq[Seq[Long]] =
    (0 until 8).map(b => (0 until 4).map(j => probeIds((b * 4 + j * 9) % probeIds.size)))

  /** 48 sets of 1-3 distinct words; each word is drawn with probability
    * proportional to the number of staged documents that contain it. The
    * sets depend only on the table, not on the run's seed, so the expected
    * digests cover every seed. */
  private def drawTermSets(s: org.apache.spark.sql.SparkSession): IndexedSeq[Seq[String]] = {
    val docFreq = s.table(docs).select(explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val cum = docFreq.map(_._2).scanLeft(0L)(_ + _).tail
    val r = new java.util.SplittableRandom(Gen.DataSeed)
    def word() = {
      val u = r.nextLong(cum.last)
      docFreq(cum.indexWhere(_ > u))._1
    }
    (0 until 48).map(_ => Seq.fill(1 + r.nextInt(3))(word()).distinct)
  }

  def stage(h: Harness, rep: Int): Unit = {
    val s = h.spark
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", h.dir("catalog_serve").toString)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.s")
    val data = h.dir(s"data$rep").toString
    h.step("tables")(Gen.write(s, data, scale, only = Set("documents", "embeddings")))
    docs = s"$cat.s.docs$rep"
    emb = s"$cat.s.emb$rep"
    s.sql(s"CREATE TABLE $docs (doc_id BIGINT, source STRING, text STRING)")
    s.sql(s"CREATE TABLE $emb (vec_id BIGINT, label INT, embedding ARRAY<FLOAT>)")
    val d = s.read.parquet(s"$data/documents.parquet").select("doc_id", "source", "text")
    val e = s.read.parquet(s"$data/embeddings.parquet").select("vec_id", "label", "embedding")
    h.step("appends") { d.coalesce(1).writeTo(docs).append(); e.coalesce(1).writeTo(emb).append() }
    h.step("text index")(s.sql(s"CREATE TEXT INDEX ON $docs (text)").collect())
    h.step("vector index")(s.sql(s"CREATE VECTOR INDEX ON $emb (embedding) ANCHORS (vec_id)").collect())
    termSets = h.step("term sets")(drawTermSets(s))
    vectors = s.table(emb).where(col("vec_id").isin(probeIds: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
  }

  private def probeSql(p: Long) = vectors(p).map(_.toString).mkString(", ")
  private def termsSql(t: Seq[String]) = t.map(w => s"'$w'").mkString(", ")

  private def vsearch(h: Harness, p: Long) = h.op("sources.vector", s"vsearch/$p")(
    Frame(VectorIndex.search(h.spark, emb, "embedding", vectors(p), 10)))
  private def vsearchPq(h: Harness, p: Long) = h.op("sources.vector", s"vsearch_pq/$p")(
    Frame(VectorIndex.searchPq(h.spark, emb, "embedding", vectors(p), 10, probes = 1, rerank = 50)))
  private def bm25(h: Harness, t: Int) = h.op("sources.text", s"bm25/$t")(
    Frame(TextIndex.bm25TopK(h.spark, docs, "text", "doc_id", termSets(t), 10)))
  private def vsearchSql(h: Harness, p: Long) = h.op("plans.sql", s"vsearch_sql/$p")(
    Frame(h.spark.sql(s"VECTOR SEARCH ON $emb (embedding) PROBE (${probeSql(p)}) TOP 10")))
  private def bm25Sql(h: Harness, t: Int) = h.op("plans.sql", s"bm25_sql/$t")(
    Frame(h.spark.sql(s"BM25 SEARCH ON $docs (text) ID (doc_id) TERMS (${termsSql(termSets(t))}) TOP 10")))
  private def knnSql(h: Harness, b: Int) = h.op("plans.sql", s"knn_sql/$b")(
    Frame(h.spark.sql(s"VECTOR KNN JOIN ON $emb (embedding) USING (SELECT vec_id + 1000000 AS vec_id, " +
      s"embedding FROM $emb WHERE vec_id IN (${batches(b).mkString(", ")})) TOP 5")))

  private val stream = new java.util.SplittableRandom(seed)

  /** The request kinds of one pass: every pass has the same mix, so passes
    * are comparable; the seed picks the parameters and the order. */
  private val mix: Seq[(Harness, java.util.SplittableRandom) => Op] = Seq(
    (h, r) => vsearch(h, probeIds(r.nextInt(probeIds.size))),
    (h, r) => vsearchPq(h, probeIds(r.nextInt(probeIds.size))),
    (h, r) => bm25(h, r.nextInt(termSets.size)),
    (h, r) => vsearchSql(h, probeIds(r.nextInt(probeIds.size))),
    (h, r) => bm25Sql(h, r.nextInt(termSets.size)),
    (h, r) => knnSql(h, r.nextInt(batches.size)))

  def pass(h: Harness, i: Int): Seq[Op] = {
    val order = mix.toArray
    for (j <- order.length - 1 to 1 by -1) { // seeded Fisher-Yates
      val k = stream.nextInt(j + 1)
      val t = order(j); order(j) = order(k); order(k) = t
    }
    order.toSeq.map(_(h, stream))
  }

  override def recordAll(h: Harness): Unit = {
    probeIds.foreach { p => vsearch(h, p); vsearchPq(h, p); vsearchSql(h, p) }
    termSets.indices.foreach { t => bm25(h, t); bm25Sql(h, t) }
    batches.indices.foreach(knnSql(h, _))
  }
}
