package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's 13-column weather wire format (FIXTURES.md §1; reference
  * sample `data/load/sf-2008.csv.gz`, parser `Weather.scala:78-94`), decoded
  * honestly:
  *
  *  - no `sky_condition_text` column exists on the wire — the reference
  *    parser double-reads field 11 into it (`Weather.scala:91-92`, the
  *    self-labeled "Tech debt"); here the column simply doesn't exist
  *    (SURVEY §1.4 decision).
  *  - malformed fields become NULL (PERMISSIVE mode with a corrupt-record
  *    column), not a thrown cast — the reference's
  *    `Option(array(12).toDouble).getOrElse(0)` null-guard never actually
  *    guarded (`toDouble` throws before `Option` wraps, `Weather.scala:93`).
  *  - `withPrecipDefaults` then applies the reference's INTENDED semantics
  *    (missing precip = 0.0) as an explicit, documented coalesce.
  *
  * Catalyst does all coercion: the same schema drives the batch reader
  * (`read`), the string-decode path (`parseLines`, for a streaming source
  * of raw lines — ref S1/S2), and `from_csv`.
  */
object WeatherCsv {

  val schema: StructType = StructType(Seq(
    StructField("wsid", StringType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("day", IntegerType),
    StructField("hour", IntegerType),
    StructField("temperature", DoubleType),
    StructField("dewpoint", DoubleType),
    StructField("pressure", DoubleType),
    StructField("wind_direction", IntegerType),
    StructField("wind_speed", DoubleType),
    StructField("sky_condition", IntegerType),
    StructField("one_hour_precip", DoubleType),
    StructField("six_hour_precip", DoubleType)))

  private val withCorrupt = schema.add("_corrupt_record", StringType)

  /** Batch file reader (ref S11/S12: gz-transparent load path). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Decode raw lines (the streaming path: a Kafka/socket/file source of
    * text lines — ref S2's `map(_.split(","))` + positional apply). Each
    * row keeps its source line as `line`, for [[rejected]]; [[valid]] drops
    * it. */
  def parseLines(lines: Dataset[String]): DataFrame =
    lines.select(from_csv(col("value"), withCorrupt,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"),
      col("value").as("line"))
      .select(col("r.*"), col("line"))

  /** All KEY fields parsed. */
  private val keyed: Column = col("wsid").isNotNull && col("year").isNotNull &&
    col("month").isNotNull && col("day").isNotNull && col("hour").isNotNull

  /** Usable rows: all KEY fields parsed. A row with a malformed measurement
    * (e.g. non-numeric temperature) keeps its identity and the other
    * measurements — the bad field is null and the raw line is still
    * captured in `_corrupt_record` for auditing. Only rows whose key can't
    * be trusted (short/garbled, or a key field left empty) are excluded.
    * Key values are not range-checked: `month=13, day=45` parses as written
    * and is kept, as the reference's positional parser kept it. */
  def valid(parsed: DataFrame): DataFrame =
    parsed.filter(keyed).drop("_corrupt_record", "line")

  /** The quarantine of [[parseLines]]' rows: every row that is corrupt or
    * that [[valid]] drops, as its source `line`. */
  def rejected(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull || !keyed).select(col("line"))

  /** Parse with data-quality counters riding the SAME pass
    * (Dataset.observe — accumulator-backed, so the audit adds zero extra
    * scans; at 100 TB a second "count the bad rows" pass is a second read
    * of the corpus). The Observation yields, after the first action on the
    * returned frame: n_rows, n_corrupt (unparseable line), n_keyless
    * (parsed but untrusted key), n_null_precip. */
  def parseWithAudit(lines: Dataset[String]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("weather_csv_audit")
    val parsed = parseLines(lines).observe(obs,
      count(lit(1)).as("n_rows"),
      count(col("_corrupt_record")).as("n_corrupt"),
      sum(when(!keyed, 1L).otherwise(0L)).as("n_keyless"),
      sum(when(col("one_hour_precip").isNull, 1L).otherwise(0L)).as("n_null_precip"))
    (parsed, obs)
  }

  /** The reference's intended missing-precip semantics, made explicit. */
  def withPrecipDefaults(df: DataFrame): DataFrame =
    df.withColumn("one_hour_precip", coalesce(col("one_hour_precip"), lit(0.0)))
      .withColumn("six_hour_precip", coalesce(col("six_hour_precip"), lit(0.0)))

  /** P7 grouping-key derivation (`Day`, Weather.scala:104-116). */
  def dayKey(df: DataFrame): DataFrame =
    df.select(col("wsid"), col("year"), col("month"), col("day"))

  /** A1 daily stats over wire rows — max/min/avg/var_pop/stddev_pop, the
    * StatCounter-population semantics (TemperatureActor.scala:87-103). */
  def dailyTemperatureStats(df: DataFrame): DataFrame =
    df.groupBy("wsid", "year", "month", "day")
      .agg(max("temperature").as("high"), min("temperature").as("low"),
        avg("temperature").as("mean"),
        var_pop("temperature").as("variance"),
        stddev_pop("temperature").as("stdev"))
}
