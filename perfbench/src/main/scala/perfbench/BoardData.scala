package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the board's star-schema tables (region … lineitem,
  * events, documents, embeddings) at a scale factor: the same schemas and
  * value domains the queries and their DuckDB oracle SQL are written for.
  * Each table is one parquet file set under `<dir>/<name>.parquet`.
  */
object BoardData {
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Seq("small", "red", "blue", "hot", "old", "big", "shiny", "cold")
  private val partNoun = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val docWords = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(" ").toIndexedSeq
  private val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Writes every table for scale factor `sf` under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val nCust = math.max(10, (150000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nOrd = math.max(100, (1500000 * sf).toInt)
    val nLine = math.max(400, (6000000 * sf).toInt)
    val nEvt = math.max(100, (1000000 * sf).toInt)
    val nUsers = math.max(5, (15000 * sf).toInt)
    val nDocs = 500
    val base = LocalDateTime.of(1995, 1, 1, 0, 0)
    val evBase = LocalDateTime.of(2024, 1, 1, 0, 0)

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble(-999.99, 9999.99)), pick(segments))))
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble(-999.99, 9999.99)))))
    val prices = Array.fill(nPart)(900.0 + rnd.nextInt(1000) / 10.0)
    save("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(partAdj)} ${pick(partNoun)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(partTypes), 1 + rnd.nextInt(50),
        prices(i))))
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        pick(Seq("F", "O", "P")), r2(rnd.nextDouble(1000.0, 500000.0)),
        base.plusDays(rnd.nextInt(2400).toLong), pick(priorities))))
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val pk = rnd.nextInt(nPart)
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(nOrd).toLong, pk.toLong, rnd.nextInt(nSupp).toLong,
          1 + rnd.nextInt(7), qty, r2(qty * prices(pk) * rnd.nextDouble(0.95, 1.05)),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("F", "O")), base.plusDays(1L + rnd.nextInt(2500)))
      })
    save("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until nEvt).map(i => Row(i.toLong,
        evBase.plusNanos(1000L * rnd.nextLong(30L * 86400L * 1000000L)),
        rnd.nextInt(nUsers).toLong, pick(eventTypes),
        math.max(0.01, r2(-50.0 * StrictMath.log(1.0 - rnd.nextDouble()))),
        s"""{"k": ${rnd.nextInt(100)}}""")))
    save("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until nDocs).map { i =>
        val text = Seq.fill(10 + rnd.nextInt(90))(pick(docWords)).mkString(" ")
        Row(i.toLong, text, pick(langs), s"src${rnd.nextInt(20)}", text.length.toLong)
      })
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), {
      val centers = Array.fill(10, 64)(rnd.nextDouble(-1.0, 1.0))
      (0 until nDocs).map { i =>
        val label = rnd.nextInt(10)
        val v = centers(label).map(c => c + rnd.nextDouble(-0.8, 0.8))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      }
    })
  }
}
