package graftbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic inputs with the schema of the engine's ten fixture tables
  * (region … embeddings, one parquet directory each).
  *
  * The tables are a pure function of [[DataSeed]] and the scale, never of
  * the run's `--seed`: the star and corpus workloads then have one set of
  * expected digests for every seed, and the seed only varies what the
  * workloads do with the tables. Rows are drawn on the driver from
  * per-table `SplittableRandom` streams, so the bytes written do not depend
  * on partitioning or core count. */
object Gen {
  val DataSeed = 20240601L

  /** Row counts per table. `small` is the benchmark's scale (lineitem ≈ the
    * fixtures' sf0.01); `tiny` is the self-test's. */
  final case class Scale(name: String, customers: Int, suppliers: Int,
      parts: Int, orders: Int, users: Int, events: Int, docs: Int, vecs: Int)

  val scales: Map[String, Scale] = Seq(
    Scale("small", 1500, 100, 2000, 15000, 150, 10000, 1000, 1000),
    Scale("tiny", 150, 10, 200, 1500, 15, 1000, 200, 200)
  ).map(s => s.name -> s).toMap

  val Vocabulary: Vector[String] = Vector(
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the")

  val Dim = 64
  private val Labels = 10

  private def day(s: String): Long = LocalDate.parse(s).toEpochDay
  private def ts(epochDay: Long, secs: Long = 0L, micros: Long = 0L): Timestamp = {
    val t = Timestamp.from(LocalDate.ofEpochDay(epochDay).atStartOfDay()
      .toInstant(ZoneOffset.UTC).plusSeconds(secs))
    t.setNanos((micros * 1000).toInt)
    t
  }
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Writes the tables under `dir` as `<name>.parquet`: all of them, or
    * those named in `only`. */
  def write(spark: SparkSession, dir: String, sc: Scale,
      only: Set[String] = Set.empty): Unit = {
    def save(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (only.isEmpty || only(name)) spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rng(table: Int) = new SplittableRandom(DataSeed * 31 + table)
    def f(n: String, t: DataType) = StructField(n, t)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(3)
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), pick(rc, segments))))

    val rs = rng(4)
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val adjectives = Seq("small", "large", "red", "blue", "hot", "old", "new", "green")
    val nouns = Seq("ring", "bolt", "widget", "gear", "gizmo", "plate", "nut", "spring")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(5)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong,
        s"${pick(rp, adjectives)} ${pick(rp, nouns)}", s"Brand#${1 + rp.nextInt(25)}",
        pick(rp, types), 1 + rp.nextInt(50), math.round(9000.0 + i % 1000) / 10.0)))

    val statuses = Seq("F", "O", "P")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(6)
    val (oLo, oHi) = (day("1995-01-01"), day("2001-08-01"))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until sc.orders).map(i => Row(i.toLong, ro.nextInt(sc.customers).toLong,
        pick(ro, statuses), money(ro, 1000, 500000),
        ts(oLo + ro.nextLong(oHi - oLo + 1)), pick(ro, priorities))))

    // 1-7 lines per order (mean 4); ship dates span the order range plus
    // a quarter so the medallion's monthly cuts all hold rows.
    val rl = rng(7)
    val (sLo, sHi) = (day("1995-01-02"), day("2001-11-04"))
    val lines = (0 until sc.orders).flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        Row(o.toLong, rl.nextInt(sc.parts).toLong, rl.nextInt(sc.suppliers).toLong, ln,
          (1 + rl.nextInt(50)).toDouble, money(rl, 900, 105000),
          math.round(rl.nextDouble() * 10) / 100.0, math.round(rl.nextDouble() * 8) / 100.0,
          pick(rl, Seq("A", "N", "R")), pick(rl, Seq("F", "O")),
          ts(sLo + rl.nextLong(sHi - sLo + 1)))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lines)

    // Events arrive in id order over January 2024 (30 days), micros precision.
    val re = rng(8)
    val span = 30L * 86400L * 1000000L
    val offsets = Array.fill(sc.events)(re.nextLong(span)).sorted
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val jan = day("2024-01-01")
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      offsets.indices.map { i =>
        val us = offsets(i)
        Row(i.toLong, ts(jan, us / 1000000L, us % 1000000L), re.nextInt(sc.users).toLong,
          pick(re, evTypes), money(re, 0.01, 490.0), s"""{"k": ${re.nextInt(100)}}""")
      })

    // Documents: 10-100 words from the fixed vocabulary; ~5 % carry a "dup"
    // tail; every 25th document repeats an earlier one with one word
    // changed, so the dedup family has near-duplicate pairs to find.
    val rd = rng(9)
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](sc.docs)
    val docs = (0 until sc.docs).map { i =>
      val text =
        if (i >= 25 && i % 25 == 0) {
          val ws = texts(rd.nextInt(i)).split(" ")
          ws(rd.nextInt(ws.length)) = pick(rd, Vocabulary)
          ws.mkString(" ")
        } else {
          val body = Seq.fill(10 + rd.nextInt(91))(pick(rd, Vocabulary)).mkString(" ")
          if (rd.nextInt(20) == 0) body + " dup" else body
        }
      texts(i) = text
      Row(i.toLong, text, pick(rd, langs), s"src${i % 20}", text.length.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    // Unit vectors around ten weak label centroids (centroid share 0.14,
    // per-dimension noise 0.12 — the fixtures' geometry).
    val rv = rng(10)
    def gauss(n: Int) = Array.fill(n)(rv.nextDouble() * 2 - 1 + rv.nextDouble() * 2 - 1 +
      rv.nextDouble() * 2 - 1)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centroids = Array.fill(Labels)(unit(gauss(Dim)))
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until sc.vecs).map { i =>
        val label = rv.nextInt(Labels)
        val noise = gauss(Dim)
        val v = unit(centroids(label).zip(noise).map { case (c, e) => 0.14 * c + 0.12 * e })
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }
}
