package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The star-schema tables the query families read (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings), generated from a seed in the layout and value
  * distributions of the project's test data: same column names and
  * physical types, uniform keys, a 31-word document vocabulary with about
  * 5% near-duplicate documents, and unit-norm 64-d embeddings around ten
  * label centroids. Row counts scale with `sf` as in the test data. */
final class TpchGen(val seed: Long, val sf: Double) {
  import TpchGen._

  private def n(base: Int): Int = math.max(1, math.round(base * sf).toInt)
  val customers: Int = n(15000)
  val suppliers: Int = n(1000)
  val parts: Int = n(20000)
  val orders: Int = n(150000)
  val lineitems: Int = n(600000)
  val events: Int = n(1000000)
  val users: Int = n(15000)
  val documents: Int = math.max(500, n(50000))
  val embeddings: Int = math.max(500, n(20000))

  private def u(stream: Long, i: Long): Double = Rng.unit(seed, stream, i)
  private def pick(stream: Long, i: Long, k: Int): Int = Rng.below(seed, stream, i, k)
  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0
  private def day(from: LocalDate, days: Int, stream: Long, i: Long): LocalDateTime =
    from.plusDays(pick(stream, i, days).toLong).atStartOfDay()

  def tables: Seq[(String, StructType, Int, Int => Row)] = Seq(
    ("region", struct("r_regionkey" -> IntegerType, "r_name" -> StringType), 5,
      i => Row(i, Regions(i))),
    ("nation", struct("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), 25, i => Row(i, s"NATION_$i", i % 5)),
    ("customer", struct("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType), customers,
      i => Row(i.toLong, f"Customer#$i%09d", pick(10, i, 25),
        cents(-999.99 + 10999.98 * u(11, i)), Segments(pick(12, i, Segments.size)))),
    ("supplier", struct("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), suppliers,
      i => Row(i.toLong, f"Supplier#$i%09d", pick(20, i, 25),
        cents(-999.99 + 10999.98 * u(21, i)))),
    ("part", struct("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType), parts,
      i => Row(i.toLong, s"${Adjectives(pick(30, i, 8))} ${Nouns(pick(31, i, 8))}",
        s"Brand#${1 + pick(32, i, 25)}", PartTypes(pick(33, i, PartTypes.size)),
        1 + pick(34, i, 50), 900.0 + (i % 1000) / 10.0)),
    ("orders", struct("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders,
      i => Row(i.toLong, pick(40, i, customers).toLong, Statuses(pick(41, i, 3)),
        cents(1000 + 499000 * u(42, i)), day(OrderStart, OrderDays, 43, i),
        Priorities(pick(44, i, 5)))),
    ("lineitem", struct("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), lineitems,
      i => Row(pick(50, i, orders).toLong, pick(51, i, parts).toLong,
        pick(52, i, suppliers).toLong, 1 + pick(53, i, 7), (1 + pick(54, i, 50)).toDouble,
        cents(900 + 104100 * u(55, i)), pick(56, i, 11) / 100.0, pick(57, i, 9) / 100.0,
        Flags(pick(58, i, 3)), LineStatus(pick(59, i, 2)), day(ShipStart, ShipDays, 60, i))),
    ("events", struct("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType), events,
      i => Row(i.toLong, eventTime(i), pick(70, i, users).toLong,
        EventTypes(pick(71, i, EventTypes.size)),
        math.max(0.01, cents(-50 * math.log1p(-u(72, i)))), s"""{"k": ${pick(73, i, 100)}}""")),
    ("documents", struct("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), documents,
      i => { val t = docText(i); Row(i.toLong, t, lang(i), s"src${i % 20}", t.length.toLong) }),
    ("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      embeddings, i => {
        val label = pick(90, i, 10)
        Row(i.toLong, embedding(i, label).toSeq, label)
      }))

  /** Arrival times spread evenly over January 2024 with jitter, in id order. */
  private def eventTime(i: Int): LocalDateTime = {
    val span = 30L * 86400L * 1000000L
    val micros = ((i + u(74, i)) / events * span).toLong
    EventStart.plusNanos(micros * 1000L)
  }

  private def lang(i: Int): String = {
    val x = u(80, i)
    if (x < 0.44) "en" else Langs(((x - 0.44) / 0.14).toInt.min(Langs.size - 1))
  }

  /** 10–99 vocabulary words; one document in twenty repeats an earlier
    * document's text with a trailing "dup" token (a near-duplicate). */
  def docText(i: Int): String =
    if (i > 0 && u(81, i) < 0.05) docText(pick(82, i, i)) + " dup"
    else {
      val words = 10 + pick(83, i, 90)
      (0 until words).map(k => Vocabulary(pick(84, i.toLong * 128 + k, Vocabulary.size)))
        .mkString(" ")
    }

  private def gauss(stream: Long, i: Long): Double =
    math.sqrt(-2 * math.log1p(-u(stream, i))) * math.cos(2 * math.Pi * u(stream + 1, i))

  private def embedding(i: Int, label: Int): Array[Float] = {
    val v = Array.tabulate(64)(d => gauss(100, label * 64 + d) + 1.5 * gauss(102, i.toLong * 64 + d))
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def write(spark: SparkSession, dir: String): Unit =
    tables.foreach { case (name, schema, rows, row) =>
      val data = (0 until rows).map(row)
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

object TpchGen {
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Vector("red", "small", "hot", "old", "large", "blue", "cold", "new")
  private val Nouns = Vector("plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil")
  private val PartTypes = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Statuses = Vector("F", "O", "P")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Flags = Vector("A", "N", "R")
  private val LineStatus = Vector("F", "O")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Langs = Vector("zh", "de", "fr", "es")
  private val Vocabulary = Vector("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the")
  private val OrderStart = LocalDate.of(1995, 1, 1)
  private val OrderDays = 2404
  private val ShipStart = LocalDate.of(1995, 1, 2)
  private val ShipDays = 2499
  private val EventStart = LocalDateTime.of(2024, 1, 1, 0, 0)
}
