package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The static corpus the query door, the facade and the registry read: the
  * TPC-H-shaped star schema plus the `events` table the weather queries
  * treat as readings (`user_id` is the station). Column names, types and
  * value domains follow the testdata contract the registry's oracles were
  * written against (TESTDATA.md); sizes are those of its sf0.01 tables,
  * except `events`, which has the sf0.1 shape (1,500 stations over the 30
  * days of January 2024) so every station has a `customer` row to join.
  *
  * The generator seed is FIXED: the registry goldens are hashes over this
  * exact corpus. The run seed only picks keys, schedules and orders.
  */
object Corpus {
  val Stations = 1500
  val Days = 30
  val Events = 100000
  val Year = 2024
  val Month = 1
  private val Seed = 20240101L

  /** One reading of the events table, kept in memory for the answer
    * key. `value` has two decimals, as in the testdata. */
  final case class Event(id: Long, micros: Long, station: Int, kind: String, value: Double)

  final case class Customer(key: Long, name: String, nation: Int)

  final case class Data(events: Array[Event], customers: Array[Customer],
      nationNames: Array[String], nationRegion: Array[Int], regionNames: Array[String])

  val RegionNames = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "red", "shiny", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))
  private def day(r: SplittableRandom, from: LocalDateTime, span: Int): LocalDateTime =
    from.plusDays(r.nextInt(span).toLong)

  /** `Corpus <work> <dir>` writes the corpus to `<dir>`, with the session
    * recipe's scratch directories under `<work>`. The benchmark does this
    * once per checkout, before the timed runs: the corpus is the
    * benchmark's input, not work the program does. */
  def main(args: Array[String]): Unit = {
    val Array(work, dir) = args
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work)
    load(spark, dir, write = true)
    spark.stop()
  }

  /** Generate every table, and if `write`, write each as
    * `<dir>/<name>.parquet`. Returns the in-memory copy of what the answer
    * key needs. */
  def load(spark: SparkSession, dir: String, write: Boolean): Data = {
    def save(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (write) spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    // one generator per table, so skipping a table's rows never shifts another's
    def rng(table: Int) = new SplittableRandom(Seed + table)
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      RegionNames.indices.map(i => Row(i, RegionNames(i))))
    val nationNames = Array.tabulate(25)(i => s"NATION_$i")
    val nationRegion = Array.tabulate(25)(_ % 5)
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      nationNames.indices.map(i => Row(i, nationNames(i), nationRegion(i))))

    var r = rng(1)
    val customers = Array.tabulate(Stations)(i =>
      Customer(i.toLong, f"Customer#$i%09d", r.nextInt(25)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      customers.map(c => Row(c.key, c.name, c.nation,
        cents(-999.99 + r.nextDouble() * 10999.98), pick(r, Segments))).toSeq)

    r = rng(2)
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999.99 + r.nextDouble() * 10999.98))))

    r = rng(3)
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 2000).map(i => Row(i.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
        900.0 + r.nextInt(1000) / 10.0)))

    r = rng(4)
    val orderBase = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until 15000).map(i => Row(i.toLong, r.nextInt(Stations).toLong,
        pick(r, Array("F", "O", "P")), cents(1000.0 + r.nextDouble() * 499000.0),
        day(r, orderBase, 2404), pick(r, Priorities))))

    r = rng(5)
    val shipBase = LocalDateTime.of(1995, 1, 2, 0, 0)
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 60000).map(_ => Row(r.nextInt(15000).toLong, r.nextInt(2000).toLong,
        r.nextInt(100).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        cents(900.0 + r.nextDouble() * 104100.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
        day(r, shipBase, 2499))))

    // readings: uniform over the month, value ~ exponential(mean 50),
    // event_id in time order (as in the testdata)
    r = rng(6)
    val monthStart = LocalDateTime.of(Year, Month, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val spanMicros = Days.toLong * 86400L * 1000000L
    val micros = Array.fill(Events)(monthStart + r.nextLong(spanMicros))
    java.util.Arrays.sort(micros)
    val events = Array.tabulate(Events)(i => Event(i.toLong, micros(i), r.nextInt(Stations),
      pick(r, EventTypes), math.max(0.01, cents(-50.0 * math.log(1.0 - r.nextDouble())))))
    val props = Array.fill(Events)(s"""{"k": ${r.nextInt(100)}}""")
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      events.indices.map { i =>
        val e = events(i)
        Row(e.id, LocalDateTime.ofEpochSecond(e.micros / 1000000L,
          ((e.micros % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
          e.station.toLong, e.kind, e.value, props(i))
      })

    Data(events, customers, nationNames, nationRegion, RegionNames)
  }
}
