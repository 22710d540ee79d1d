package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic TPC-H-shaped source tables with the column schemas of the
  * engine's table→triples mapping (`graft.model.Tpch.tables`).
  *
  * The data seed is fixed: every run of every workload sees the same tables,
  * so one at-rest store per checkout serves all runs, and `--seed` varies only
  * the request stream. Row counts follow TPC-H ratios at scale factor `sf`
  * (sf 0.01 ≈ 1.1M statements); (l_orderkey, l_linenumber) is unique, so every
  * lineitem subject is `urn:t:lineitem:<order>-<line>-1`. As in TPC-H, customers
  * whose key is divisible by 3 place no orders.
  */
object Data {
  val DataSeed = 42L

  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "zh")
  /** Document vocabulary; each document draws its words from it uniformly. */
  val Words: Seq[String] = (Seq("spark", "merge", "join", "window", "query", "data", "stream",
    "batch", "table", "scan", "filter", "group", "order", "sort", "hash", "vector", "column",
    "row", "key", "value", "graph", "triple", "index", "plan", "cache", "shuffle", "task",
    "stage", "node", "edge") ++ (0 until 90).map(i => s"term$i"))
  private val Brands = (1 to 5).flatMap(m => (1 to 5).map(n => s"Brand#$m$n"))
  private val Types = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    .flatMap(a => Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED").map(b => s"$a $b"))
  private val Colors = Seq("almond", "azure", "blush", "coral", "cyan", "gold", "ivory", "khaki",
    "lace", "linen", "mint", "navy", "olive", "peach", "plum", "rose", "ruby", "sand", "snow", "tan")
  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** First and last order date (UTC midnights), as in TPC-H. */
  val DayMs = 86400000L
  val FirstDay: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  val LastDay: Long = java.time.LocalDate.of(1998, 8, 2).toEpochDay

  final case class Sizes(customers: Int, orders: Int, parts: Int, suppliers: Int,
                         documents: Int, events: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customers = math.max(30, (150000 * sf).toInt),
    orders = math.max(300, (1500000 * sf).toInt),
    parts = math.max(40, (200000 * sf).toInt),
    suppliers = math.max(5, (10000 * sf).toInt),
    documents = math.max(100, (200000 * sf).toInt),
    events = math.max(100, (100000 * sf).toInt))

  private def ts(day: Long, secOfDay: Long = 0L): Timestamp = new Timestamp(day * DayMs + secOfDay * 1000L)
  private def money(r: scala.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  /** Write every source table of scale factor `sf` as parquet under `dir`. */
  def generate(spark: SparkSession, sf: Double, dir: String): Unit = {
    val z = sizes(sf)
    val r = new scala.util.Random(DataSeed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      Nations.zipWithIndex.map { case (n, i) => Row(i, n, i % 5) })
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (1 to z.customers).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.size)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (1 to z.suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val prices = (1 to z.parts).map(k => 900.0 + (k % 1000) + money(r, 0, 100))
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (1 to z.parts).map(k => Row(k.toLong,
        (0 until 3).map(_ => Colors(r.nextInt(Colors.size))).mkString(" "),
        Brands(r.nextInt(Brands.size)), Types(r.nextInt(Types.size)), 1 + r.nextInt(50),
        math.round(prices(k - 1) * 100.0) / 100.0)))

    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    // orders go to customers whose key is not divisible by 3 (TPC-H rule)
    val active = (1 to z.customers).filter(_ % 3 != 0)
    for (k <- 1 to z.orders) {
      val day = FirstDay + r.nextInt((LastDay - FirstDay - 121).toInt)
      val nLines = 1 + r.nextInt(7)
      var total = 0.0
      var shipped = 0
      for (ln <- 1 to nLines) {
        val pk = 1 + r.nextInt(z.parts)
        val qty = (1 + r.nextInt(50)).toDouble
        val ext = math.round(qty * prices(pk - 1) * 100.0) / 100.0
        val disc = r.nextInt(11) / 100.0
        val tax = r.nextInt(9) / 100.0
        val ship = day + 1 + r.nextInt(121)
        val done = ship <= java.time.LocalDate.of(1995, 6, 17).toEpochDay
        if (done) shipped += 1
        val flag = if (!done) "N" else if (r.nextBoolean()) "R" else "A"
        total += ext * (1 + tax) * (1 - disc)
        lines += Row(k.toLong, pk.toLong, (1 + r.nextInt(z.suppliers)).toLong, ln, qty, ext,
          disc, tax, flag, if (done) "F" else "O", ts(ship))
      }
      val status = if (shipped == nLines) "F" else if (shipped == 0) "O" else "P"
      orders += Row(k.toLong, active(r.nextInt(active.size)).toLong, status,
        math.round(total * 100.0) / 100.0, ts(day), Priorities(r.nextInt(Priorities.size)))
    }
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orders.result())
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lines.result())

    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (1 to z.events).map(k => Row(k.toLong,
        ts(FirstDay + r.nextInt((LastDay - FirstDay).toInt), r.nextInt(86400)),
        (1 + r.nextInt(z.customers)).toLong, Seq("view", "click", "buy")(r.nextInt(3)),
        money(r, 0, 100), s"k${r.nextInt(10)}")))
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until z.documents).map { k =>
        val text = (0 until 8 + r.nextInt(40)).map(_ => Words(r.nextInt(Words.size))).mkString(" ")
        Row(k.toLong, text, Langs(r.nextInt(Langs.size)), s"src${k % 7}", text.length.toLong)
      })
  }
}
