package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The analytics workload's star schema: the ten tables the registered
  * queries read, with the column types and value domains of the engine's
  * test fixtures, generated from a fixed seed so the recorded result
  * digests stay valid. Timestamps are written without a zone, as the
  * fixtures are. */
object StarSchema {
  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, documents: Int)
  val Default = Scale(300, 20, 400, 3000, 12000, 2000, 200)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val DocWords = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window").split(" ").toIndexedSeq

  private def f(s: String) = StructField(s, StringType)
  private def l(s: String) = StructField(s, LongType)
  private def i(s: String) = StructField(s, IntegerType)
  private def d(s: String) = StructField(s, DoubleType)
  private def t(s: String) = StructField(s, TimestampNTZType)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  def write(spark: SparkSession, dir: String, scale: Scale = Default, seed: Long = 42L): Unit = {
    val r = new SplittableRandom(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)

    save("region", StructType(Seq(i("r_regionkey"), f("r_name"))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map {
        case (n, k) => Row(k, n) })
    save("nation", StructType(Seq(i("n_nationkey"), f("n_name"), i("n_regionkey"))),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))
    save("customer", StructType(Seq(l("c_custkey"), f("c_name"), i("c_nationkey"),
      d("c_acctbal"), f("c_mktsegment"))),
      (0 until scale.customers).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.size)))))
    save("supplier", StructType(Seq(l("s_suppkey"), f("s_name"), i("s_nationkey"), d("s_acctbal"))),
      (0 until scale.suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    save("part", StructType(Seq(l("p_partkey"), f("p_name"), f("p_brand"), f("p_type"),
      i("p_size"), d("p_retailprice"))),
      (0 until scale.parts).map(k => Row(k.toLong,
        s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        Types(r.nextInt(Types.size)), 1 + r.nextInt(50), 900.0 + (k % 1000) / 10.0)))
    val orderDates = new Array[LocalDateTime](scale.orders)
    save("orders", StructType(Seq(l("o_orderkey"), l("o_custkey"), f("o_orderstatus"),
      d("o_totalprice"), t("o_orderdate"), f("o_orderpriority"))),
      (0 until scale.orders).map { k =>
        orderDates(k) = day(r, epoch, 2405)
        Row(k.toLong, r.nextInt(scale.customers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
          money(r, 1000, 500000), orderDates(k), Priorities(r.nextInt(Priorities.size)))
      })
    save("lineitem", StructType(Seq(l("l_orderkey"), l("l_partkey"), l("l_suppkey"),
      i("l_linenumber"), d("l_quantity"), d("l_extendedprice"), d("l_discount"), d("l_tax"),
      f("l_returnflag"), f("l_linestatus"), t("l_shipdate"))),
      (0 until scale.lineitems).map { k =>
        val o = r.nextInt(scale.orders)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(scale.parts).toLong, r.nextInt(scale.suppliers).toLong,
          1 + k % 7, qty, math.round(money(r, 900, 2100) * qty * 50) / 100.0, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          orderDates(o).plusDays(1 + r.nextInt(120).toLong))
      })
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    save("events", StructType(Seq(l("event_id"), t("ts"), l("user_id"), f("event_type"),
      d("value"), f("props"))),
      (0 until scale.events).map { k =>
        val micros = evStart + (r.nextDouble() * 30 * 86400e6).toLong
        Row(k.toLong, LocalDateTime.ofEpochSecond(micros / 1000000, (micros % 1000000).toInt * 1000,
          ZoneOffset.UTC), r.nextInt(150).toLong, EventTypes(r.nextInt(5)),
          money(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
      })
    save("documents", StructType(Seq(l("doc_id"), f("text"), f("lang"), f("source"), l("n_chars"))),
      (0 until scale.documents).map { k =>
        val text = (0 until 10 + r.nextInt(90)).map(_ => DocWords(r.nextInt(DocWords.size))).mkString(" ")
        Row(k.toLong, text, Seq("en", "en", "en", "de", "es", "fr", "zh")(r.nextInt(7)),
          s"src${k % 20}", text.length.toLong)
      })
    save("embeddings", StructType(Seq(l("vec_id"), StructField("embedding", ArrayType(FloatType)),
      i("label"))),
      (0 until scale.documents).map { k =>
        Row(k.toLong, Gen.unitVector(r, 64).toSeq, r.nextInt(10))
      })
  }
}
