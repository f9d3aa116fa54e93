package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Small TPC-H-shaped tables with the schemas the relational queries read
  * (region, nation, customer, supplier, part, orders, lineitem, events,
  * documents, embeddings), one `<name>.parquet` directory each.
  *
  * The generator seed is fixed, not the run's seed: the query_sweep
  * reference result hashes hold for exactly these tables. The tables are
  * small on purpose, so a query's time is Catalyst, codegen and the fixed
  * cost per Spark job. */
object Fixtures {
  val Seed = 20240101L
  val Customers = 300
  val Suppliers = 20
  val Parts = 400
  val Orders = 3000
  val Events = 4000
  val Documents = 400
  val Vectors = 400
  val Dim = 64

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Array("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1,
    "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4, "VIETNAM" -> 2,
    "RUSSIA" -> 3, "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val Statuses = Array("O", "F", "P")
  private val ReturnFlags = Array("R", "A", "N")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val TypeSizes = Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Finishes = Array("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val Metals = Array("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val Colors = Array("almond", "antique", "azure", "beige", "bisque", "black",
    "blue", "blush", "brown", "burlywood", "chartreuse", "coral", "cream", "cyan",
    "forest", "frosted", "ghost", "green", "honeydew", "ivory")
  private val EventTypes = Array("signup", "purchase", "view", "error", "click")
  private val Langs = Array("en", "es", "de", "fr", "zh")

  private val Day = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z
  private val Epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def field(name: String, t: DataType) = StructField(name, t)

  /** Every table: name, schema and rows, all from [[Seed]]. */
  def tables(): Seq[(String, StructType, IndexedSeq[Row])] = {
    val r = new SplittableRandom(Seed)
    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = Nations.indices.map(i => Row(i, Nations(i)._1, Nations(i)._2))
    val customer = (1 to Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(Nations.length), money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length))))
    val supplier = (1 to Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(Nations.length), money(r, -999.99, 9999.99)))
    val part = (1 to Parts).map { i =>
      Row(i.toLong, (0 until 3).map(_ => Colors(r.nextInt(Colors.length))).mkString(" "),
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        s"${TypeSizes(r.nextInt(TypeSizes.length))} ${Finishes(r.nextInt(Finishes.length))} " +
          Metals(r.nextInt(Metals.length)),
        1 + r.nextInt(50), money(r, 900, 2000))
    }
    val orders = IndexedSeq.newBuilder[Row]
    val lineitem = IndexedSeq.newBuilder[Row]
    (1 to Orders).foreach { i =>
      val day = Epoch1992 + r.nextInt(2405) * Day
      val lines = 1 + r.nextInt(7)
      var total = 0.0
      (1 to lines).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * money(r, 9, 105) * 100) / 100.0
        total += price
        val ship = day + (1 + r.nextInt(121)) * Day
        lineitem += Row(i.toLong, 1L + r.nextInt(Parts), 1L + r.nextInt(Suppliers), ln, qty,
          price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          ReturnFlags(r.nextInt(3)),
          if (ship < 802000000000L) "F" else "O", new Timestamp(ship))
      }
      orders += Row(i.toLong, 1L + r.nextInt(Customers), Statuses(r.nextInt(3)),
        math.round(total * 100) / 100.0, new Timestamp(day), Priorities(r.nextInt(Priorities.length)))
    }
    var ts = Epoch2024
    val events = (0 until Events).map { i =>
      ts += r.nextInt(60000)
      // a sixth of the customers never have an event (anti joins, EXCEPT)
      Row(i.toLong, new Timestamp(ts), 1L + r.nextInt(Customers * 5 / 6),
        EventTypes(r.nextInt(EventTypes.length)), money(r, 0, 500),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    // word salad over a seeded vocabulary; a tenth of the documents copy
    // an earlier one exactly and a tenth with two words swapped, so the
    // dedup queries have duplicates to find
    val vocab = (0 until 2000).map(_ => (0 until 3 + r.nextInt(6))
      .map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    val texts = mutable.ArrayBuffer.empty[String]
    val documents = (1 to Documents).map { i =>
      val roll = r.nextInt(10)
      val text =
        if (texts.nonEmpty && roll == 0) texts(r.nextInt(texts.size))
        else if (texts.nonEmpty && roll == 1) {
          val ws = texts(r.nextInt(texts.size)).split(' ')
          (0 until 2).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size)))
          ws.mkString(" ")
        } else (0 until 20 + r.nextInt(60)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(5)}",
        (text.length + r.nextInt(3)).toLong)
    }
    val embeddings = (1 to Vectors).map { i =>
      Row(i.toLong, (0 until Dim).map(_ => r.nextGaussian().toFloat), r.nextInt(10))
    }
    Seq(
      ("region", StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))), region),
      ("nation", StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
        field("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
        field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
        field("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
        field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampType), field("o_orderpriority", StringType))), orders.result()),
      ("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampType))), lineitem.result()),
      ("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampType),
        field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))), events),
      ("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType)), field("label", IntegerType))), embeddings))
  }

  /** Writes every table under `dir`; returns the tables and the sha256 of
    * their rows. */
  def write(spark: SparkSession, dir: String): (Seq[(String, StructType, IndexedSeq[Row])], String) = {
    val ts = tables()
    ts.foreach { case (name, schema, rows) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$dir/$name.parquet")
    }
    (ts, Workload.sha256(ts.iterator.flatMap { case (name, _, rows) =>
      rows.iterator.map(row => s"$name|${row.toSeq.map {
        case s: Seq[_] => s.mkString(",")
        case x => String.valueOf(x)
      }.mkString("|")}")
    }))
  }
}
