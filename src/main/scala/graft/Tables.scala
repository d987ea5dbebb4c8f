package graft

import org.apache.spark.sql.{Column, DataFrame, GraftPlanDoor, SparkSession}

/** Parquet-backed table layer. Stands in for the reference's Cassandra
  * keyspace (ref: data/create-timeseries.cql) — each logical table is one
  * parquet dataset under the scale-factor directory.
  *
  * Scale notes: at 100 TB these would be partitioned/bucketed datasets
  * (e.g. lineitem bucketed by l_orderkey, events partitioned by date and
  * bucketed by user_id) so the joins/aggregations below co-locate without a
  * shuffle. Locally the driver-generated single files are read as-is;
  * Catalyst still gets filter pushdown + column pruning into the parquet
  * scans, which is the same mechanism partition pruning uses at scale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache, weak-keyed by session: every uncached
    * `spark.read.parquet` re-lists files and re-reads footers for schema —
    * pure metadata overhead when dozens of queries share ten static
    * testdata tables. This is exactly what a table catalog provides;
    * DataFrames are immutable plans, so sharing them is safe. The WeakHashMap
    * key lets a stopped session (and everything it pins) be GC'd. NOTE:
    * cached entries pin the first file listing — correct for the immutable
    * driver testdata this layer serves; a mutable table would need catalog
    * invalidation, which is out of scope here. */
  private val cache =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; cache.put(spark, m) }
      m
    }
    perSession.getOrElseUpdate(s"$dir/$name.parquet",
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Guide §2.5's "unsplittable input" fix, scale-gated. The local
    * testdata tables are single-file, single-row-group parquet, so every
    * scan stage is ONE task and a per-row-heavy pipeline (md5 checksums,
    * rolling hashes, regex tokenizers) serializes on one of the
    * session's cores. Where a query's floor is dominated by such
    * compute, `spread` hash-repartitions the narrow input to the
    * session's core count — one tiny local exchange that buys
    * full-width compute downstream.
    *
    * Scale gate: when the plan's estimated input size already yields at
    * least `defaultParallelism` scan splits under the session's
    * `maxPartitionBytes` (any real multi-file deployment, 100 TB
    * trivially), this is the IDENTITY — the extra shuffle can never
    * appear where data volume would make it expensive; the scan's own
    * parallelism is then the spread. Hash (not round-robin)
    * partitioning on a caller-named high-cardinality key: deterministic
    * under task retry (the SPARK-38388 class the guide warns about —
    * round-robin re-draws assignments on replay) and skew-free for the
    * unique/near-unique keys callers pass. Results are partitioning-
    * invariant by the registry's exact-arithmetic discipline
    * (INVARIANCE.json), so this is a latency knob, never a semantics
    * change. */
  def spread(s: SparkSession, df: DataFrame, keys: Column*): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (cores > 1 && bytes < BigInt(maxPart) * cores)
      df.repartition(cores, keys: _*)
    else df
  }

  /** The dual of `spread`: keep a one-split input in one task. Where the
    * planned scan of `table` has exactly one input partition, the returned
    * function marks a frame over it as one partition (`coalesce(1)`, no
    * shuffle). Its output is then `SinglePartition`, so the aggregates and
    * sorts above need no exchange, and a keyed lookup runs as one stage
    * and one task instead of shuffling a few hundred filtered rows into
    * `spark.sql.shuffle.partitions`. The split count is read once, from a
    * transient copy of the table's plan: an executed plan cached on the
    * shared frame would stay live as long as the session.
    *
    * Scale gate: a table of more than one split (several files, or a file
    * above the session's split size) gets the IDENTITY, and the scan's own
    * parallelism feeds the distributed plan. The mark never changes an
    * answer: a coalesced frame holds the same rows, and a table that grows
    * past one split after the count only loses parallelism. */
  def narrow(s: SparkSession, table: DataFrame): DataFrame => DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val planned = GraftPlanDoor.ofRows(s, table.queryExecution.analyzed)
      .queryExecution.sparkPlan
    val splits = planned.collectLeaves().map {
      case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
      case _ => -1
    }
    if (splits == Seq(1)) _.coalesce(1) else identity
  }

  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")

  /** events.parquet has shipped with two different `ts` encodings across
    * testdata generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects — [PARQUET_TYPE_ILLEGAL] — unless read as raw long under the
    * legacy conf) and native TIMESTAMP(MICROS) (scanned as TIMESTAMP_NTZ).
    * Branch on the *scanned* dtype so either generation normalizes to the
    * same session-TZ TimestampType at µs precision; sessions run UTC, so
    * wall-clock semantics are identical on both paths. The legacy conf is
    * only set when a plain read actually rejects the file. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // CIVIL-TIME CONTRACT (fail-fast):
    // every calendar derivation over `ts` — to_date, weekday names, day
    // windows — uses Spark's SESSION timezone, so a non-UTC session
    // silently shifts daily rollups, sessions, and retention cohorts
    // against the corpus's UTC-defined semantics (measured: 54 registry
    // queries move under America/New_York). The scan layer owns the one
    // timestamp column, so it pins the contract ONCE instead of 54
    // queries each hedging: event queries require a UTC session; every
    // non-event table and all epoch-microsecond arithmetic are
    // timezone-free and unaffected. Round11OpsSpec sweeps the registry
    // under America/New_York and asserts identical-results-or-this-error.
    val tz = s.conf.get("spark.sql.session.timeZone")
    val zoneIsUtc =
      try {
        val rules = java.time.ZoneId.of(tz).getRules
        rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
      } catch { case _: Exception => false }
    // escape hatch for DELIBERATE session-local calendar analysis
    // ("my daily rollups should follow Tokyo days"): the override makes
    // the choice explicit and auditable in the session conf instead of
    // an easy-to-miss cluster default — opting in accepts that civil-
    // time results then follow the session zone, not the oracle pin
    val overridden = s.conf
      .get("spark.graft.events.allowNonUtcSession", "false").toBoolean
    require(zoneIsUtc || overridden,
      s"the events table carries civil-time (calendar) semantics defined " +
        s"in UTC; got spark.sql.session.timeZone='$tz'. Set it to UTC — " +
        "session-zoned date derivations (to_date, date_format, day " +
        "windows) would otherwise silently shift results against the " +
        "corpus contract. To deliberately compute session-local " +
        "calendars, set spark.graft.events.allowNonUtcSession=true")
    val raw =
      try apply(s, d, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          apply(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-int64: truncate to µs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ wall clock is UTC by the corpus contract (the oracle
        // reads the same raw micros as naive epoch). A bare cast would
        // interpret it in the SESSION zone — every downstream epoch
        // derivation would then move with a config knob. Cast is a
        // TimeZoneAwareExpression, so pin ITS zone to UTC explicitly:
        // instants are identical under any session timeZone (the
        // registry-wide invariance spec in Round11OpsSpec rides on this).
        {
          import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression}
          val lp = raw.queryExecution.analyzed
          val projected: Seq[NamedExpression] = lp.output.map { a =>
            if (a.name == "ts") Alias(Cast(a, TimestampType, Some("UTC")), "ts")()
            else a
          }
          org.apache.spark.sql.GraftPlanDoor.ofRows(s,
            org.apache.spark.sql.catalyst.plans.logical.Project(projected, lp))
        }
      case _ => raw // already instant-typed TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register tables as temp views for the `spark.sql` query path
    * (ref: SampleJoin.scala:40-48 uses a SQL context over named tables).
    * Prefer the selective form — every registration is a parquet
    * footer/schema read, and SQL entries rarely need all ten tables. */
  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names)
}
