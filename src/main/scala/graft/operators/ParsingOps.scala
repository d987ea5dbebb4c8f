package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions.{centi, fround}

/** Wire-format parsing, semi-structured decode, date construction, SQL-entry
  * joins, and the materialized-rollup cascade — the reference's ingest-side
  * and examples-module surface (SURVEY §2.1 S2/S13/S14, §2.8 F4-F7, §3.2).
  */
object ParsingOps {

  /** S2: the CSV wire-format decode (Weather.scala:78-94 parses positional
    * CSV into case classes; honest nulls, not the reference's tech-debt
    * double-read — SURVEY §1.4). Round-trips events through CSV text and
    * aggregates the PARSED columns, so the oracle (aggregating the base
    * table directly) proves the parse was lossless. */
  private val csvRoundtrip = GraftQuery(
    "csv_parse_roundtrip",
    "S2 positional CSV decode via from_csv, proven lossless by the oracle",
    (s, d) => {
      val lines = Tables.events(s, d).select(
        concat_ws(",", col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("string")).as("line"))
      val parsed = lines.select(from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"),
        Map("mode" -> "PERMISSIVE")).as("r"))
        .select(col("r.*"))
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          fround(sum(graft.functions.GraftFunctions.centi(col("value")))
            .cast("double") / 100.0, 2).as("total"),
          max("event_id").as("max_id"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS cnt, floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total, max(event_id) AS max_id FROM events GROUP BY 1 ORDER BY 1"""))

  /** S14: typed JSON decode — from_json into a struct (the reference's
    * json4s `extract[MonthlyCommits]` in KafkaStreamingJson2.scala:53-56). */
  private val jsonStruct = GraftQuery(
    "json_struct_decode",
    "S14 from_json struct decode + aggregate on the decoded field",
    (s, d) => Tables.events(s, d)
      .select(col("value"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
      .groupBy((col("p.k") % 5).as("kbucket"))
      .agg(count(lit(1)).as("cnt"), fround(max("value"), 2).as("max_val"))
      .orderBy("kbucket"),
    Some("""SELECT TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 5 AS kbucket, count(*) AS cnt, floor(max(value) * 100.0 + 0.5) / 100.0 AS max_val FROM events GROUP BY 1 ORDER BY 1"""))

  /** S13: JSON source with INFERRED schema — the reference's
    * `sqlContext.jsonRDD(rdd)` + SQL-over-inferred-columns path
    * (KafkaStreamingJson.scala:64-68, SampleJson.scala:45-47). The schema
    * (`k: bigint`) is discovered from the JSON text, not declared.
    * Scale note: inference is a separate sampling pass over the input —
    * at 100 TB you'd cap it (`samplingRatio`) or pin the schema after first
    * discovery; here the full inference pass IS the demonstrated surface. */
  private val jsonInferred = GraftQuery(
    "json_inferred_schema",
    "S13 schema-inferred JSON read + SQL aggregate over discovered fields",
    (s, d) => {
      import s.implicits._
      val inferred = s.read.json(Tables.events(s, d).select("props").as[String])
      assert(inferred.schema.fieldNames.contains("k"), "inference must discover k")
      inferred.groupBy((col("k") % 7).as("kbucket"))
        .agg(count(lit(1)).as("cnt"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("kbucket")
    },
    Some("""SELECT TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 7 AS kbucket, count(*) AS cnt, min(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS min_k, max(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k FROM events GROUP BY 1 ORDER BY 1"""))

  /** F4/F5/F7: date construction/arithmetic — make_date, last_day,
    * +1 month, ISO week (AggregationActor.scala:52-60's joda surface). */
  private val dateConstruct = GraftQuery(
    "date_construction",
    "F4/F7 make_date, last_day, month arithmetic, ISO week per event month",
    (s, d) => Tables.events(s, d)
      .select(year(col("ts")).as("yr"), month(col("ts")).as("mon"))
      .distinct()
      .select(col("yr"), col("mon"),
        make_date(col("yr"), col("mon"), lit(1)).as("month_start"),
        last_day(make_date(col("yr"), col("mon"), lit(1))).as("month_end"),
        add_months(make_date(col("yr"), col("mon"), lit(1)), 1).as("next_month"),
        dayofmonth(last_day(make_date(col("yr"), col("mon"), lit(1)))).as("days_in_month"),
        weekofyear(make_date(col("yr"), col("mon"), lit(1))).as("iso_week"))
      .orderBy("yr", "mon"),
    Some("""SELECT yr, mon, month_start, last_day(month_start) AS month_end, CAST(month_start + INTERVAL 1 MONTH AS DATE) AS next_month, CAST(day(last_day(month_start)) AS INTEGER) AS days_in_month, CAST(weekofyear(month_start) AS INTEGER) AS iso_week FROM (SELECT DISTINCT CAST(year(ts) AS INTEGER) AS yr, CAST(month(ts) AS INTEGER) AS mon, make_date(year(ts), month(ts), 1) AS month_start FROM events) ORDER BY 1, 2"""))

  /** J1: multi-key equi join through the spark.sql entry path (the
    * reference's CassandraSQLContext join, SampleJoin.scala:39-50). */
  private val sqlMultikeyJoin = GraftQuery(
    "sql_multikey_join",
    "J1 SQL-entry multi-key equi self-join: same-day click+purchase pairs",
    (s, d) => {
      Tables.register(s, d, Seq("events"))
      s.sql("""
        SELECT c.user_id, CAST(c.ts AS DATE) AS dy, count(*) AS pairs
        FROM events c JOIN events p
          ON c.user_id = p.user_id AND CAST(c.ts AS DATE) = CAST(p.ts AS DATE)
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1, 2""")
    },
    Some("""SELECT c.user_id, CAST(c.ts AS DATE) AS dy, count(*) AS pairs FROM events c JOIN events p ON c.user_id = p.user_id AND CAST(c.ts AS DATE) = CAST(p.ts AS DATE) WHERE c.event_type = 'click' AND p.event_type = 'purchase' GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** S10/S12/§3.2: the materialized-rollup cascade — persist the daily
    * rollup, serve the monthly query from the rollup table (the reference's
    * TemperatureActor write-back + read-back). */
  private val mvCascade = GraftQuery(
    "mv_rollup_cascade",
    "S10 write-back daily rollup table, monthly aggregate served from it",
    (s, d) => {
      val out = java.nio.file.Files.createTempDirectory("daily-rollup").toString
      new graft.api.WeatherQueries(s, d).materializeDaily(out)
      new graft.api.WeatherQueries(s, d).monthlyFromRollup(out)
        .toDF("station_id", "yr", "mon", "hi", "lo")
        .orderBy("station_id", "yr", "mon")
    },
    Some("""SELECT user_id AS station_id, yr, mon, max(high) AS hi, min(low) AS lo FROM (SELECT user_id, CAST(year(ts) AS INTEGER) AS yr, CAST(month(ts) AS INTEGER) AS mon, max(value) AS high, min(value) AS low FROM events GROUP BY user_id, yr, mon, day(ts)) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** S15: create-table-as-write (SaveAsApi.scala:26-31's
    * saveAsCassandraTableEx — DDL + write in one step). CTAS into the
    * session catalog, then query the created table; DROP first so the
    * entry is rerunnable. */
  private val sqlCtas = GraftQuery(
    "sql_ctas",
    "S15 CREATE TABLE AS SELECT into the catalog, read back",
    (s, d) => {
      Tables.register(s, d, Seq("customer", "nation"))
      graft.sources.Layouts.dropTableAndLocation(s, "graft_ctas_nation_customers")
      // CAST the stored column to DOUBLE: Spark types floor(...)/100.0 as
      // DECIMAL (decimal literal division) while the DuckDB oracle emits
      // DOUBLE — numerically equal but a schema/hash mismatch at the gate.
      s.sql("""CREATE TABLE graft_ctas_nation_customers USING parquet AS
               SELECT n_name, count(*) AS cnt,
                 CAST(floor(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE) AS total_bal
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               GROUP BY n_name""")
      s.sql("SELECT * FROM graft_ctas_nation_customers ORDER BY n_name")
    },
    Some("""SELECT n_name, count(*) AS cnt, floor(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_bal FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"""))

  /** S7/S10 at scale: the write side of a time-partitioned table and the
    * partition-PRUNED read-back. The rollup is written partitionBy(dy) —
    * at 100 TB this is the layout decision that turns "scan a month" into
    * "list ten directories": the read-back's dy <= 10 filter is resolved
    * against the file index (PartitionFilters in the scan, asserted by
    * PartitionPrunedSpec), so unselected days contribute zero I/O. */
  /** One write-back per (JVM, corpus dir): without the memo every builder
    * invocation created a fresh temp dir and rewrote the rollup — orphaned
    * parquet dirs accumulating across bench/verify iterations. Same
    * immutable-corpus-dir assumption as [[graft.Tables]]/[[graft.PersistCache]];
    * the lock makes the write-once atomic across racing threads. */
  private val writebackMemo = scala.collection.concurrent.TrieMap[String, String]()
  private val writebackLock = new Object

  /** The dy-partitioned daily rollup layout for corpus `d`, written once
    * per JVM (shared by the static-pruning and dynamic-pruning queries). */
  def dailyRollupLayout(s: SparkSession, d: String): String =
    writebackLock.synchronized {
      writebackMemo.getOrElseUpdate(d, {
        val o = java.nio.file.Files.createTempDirectory("part-writeback").toString
        Tables.events(s, d)
          .withColumn("dy", dayofmonth(col("ts")).cast("int"))
          .groupBy("dy", "user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(graft.functions.GraftFunctions.centi(col("value"))).as("vc"))
          // cluster rows by partition key before the partitioned write: one
          // file per day instead of (shuffle-partitions × days) small files —
          // at scale the small-file explosion is what kills partitioned
          // tables (file-listing cost grows with file count, not data size)
          .repartition(col("dy"))
          .write.mode("overwrite").partitionBy("dy").parquet(o)
        o
      })
    }

  private val partitionPruned = GraftQuery(
    "w_partition_pruned",
    "partitioned parquet write-back, partition-pruned daily read",
    (s, d) => {
      val out = dailyRollupLayout(s, d)
      s.read.parquet(out)
        .filter(col("dy") <= 10)
        .groupBy("dy")
        .agg(count(lit(1)).as("n_users"), sum("cnt").as("n_events"),
          fround(sum("vc").cast("double") / 100.0, 2).as("total_value"))
        .orderBy("dy")
    },
    Some("""SELECT dy, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS n_events, floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM (SELECT CAST(day(ts) AS INTEGER) AS dy, user_id, count(*) AS cnt, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc FROM events GROUP BY 1, 2) WHERE dy <= 10 GROUP BY dy ORDER BY dy"""))

  /** Dynamic partition pruning — the runtime counterpart of the static
    * dy <= 10 prune above, and the star-schema pattern that matters at
    * 100 TB: "join the fact to a filtered dim" must not scan every fact
    * partition, but the qualifying partition set (here: the top-3 purchase
    * days) is only known once the dim runs. Catalyst injects a
    * dynamicpruningexpression that REUSES the dim's broadcast as a
    * partition filter on the fact scan, so only 3 of ~30 day directories
    * are read (PartitionFilters plan-asserted in PartitionPrunedSpec).
    * The dim's top-3 is an exact-centi total with a dy tie-break —
    * deterministic in both engines. */
  private val dppPrune = GraftQuery(
    "j_dpp_prune",
    "dynamic partition pruning: top-3 purchase-day dim prunes the dy-partitioned rollup at runtime",
    (s, d) => {
      val fact = s.read.parquet(dailyRollupLayout(s, d))
      val dim = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(dayofmonth(col("ts")).cast("int").as("dy"))
        .agg(sum(graft.functions.GraftFunctions.centi(col("value"))).as("tot"))
        .orderBy(desc("tot"), col("dy")).limit(3)
      fact.join(broadcast(dim), Seq("dy"))
        .groupBy("dy")
        .agg(count(lit(1)).as("n_users"), sum("cnt").as("n_events"),
          fround(sum("vc").cast("double") / 100.0, 2).as("total_value"))
        .orderBy("dy")
    },
    Some("""WITH r AS (SELECT CAST(day(ts) AS INTEGER) AS dy, user_id, count(*) AS cnt, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc FROM events GROUP BY 1, 2), dim AS (SELECT CAST(day(ts) AS INTEGER) AS dy, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS tot FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY tot DESC, dy LIMIT 3) SELECT r.dy, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS n_events, floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM r JOIN dim ON r.dy = dim.dy GROUP BY r.dy ORDER BY r.dy"""))

  /** SCD type-2 dimension merge — the warehouse temporal-versioning verb:
    * an incoming change batch closes the current version of each changed
    * key (valid_to = effective date) and opens a new current version;
    * unchanged keys pass through untouched. The change set here is
    * simulated deterministically (every 7th customer moves to segment
    * 'PROMO' effective 2024-06-01), which keeps the merge ONE narrow pass
    * (version rows emitted per dimension row via a single explode — no
    * shuffle until the presentation sort). A real change batch is
    * increment-sized and joins in first — broadcast while it fits, never
    * hard-hinted at dimension scale. At 100 TB the dimension rewrite
    * would go through a table merged on read, as the streaming
    * `KeyedTable` does: each change batch published as one delta, the
    * rewrite paid only at a fold. */
  private val scd2Merge = GraftQuery(
    "mv_scd2_merge",
    "SCD type-2 merge: close changed versions, open new current rows",
    (s, d) => {
      // the change "batch" is derived in-row here (simulated), so the whole
      // merge is ONE narrow pass: each dimension row emits its version
      // array (1 row unchanged, 2 rows changed) through a single explode —
      // no union of re-evaluated subplans (which would re-scan the
      // dimension per branch) and no join at all. A real increment-sized
      // change batch joins in first (broadcast while it fits); the
      // emit-versions shape below is unchanged by that.
      val changed = col("c_custkey") % 7 === 0
      val mk = (ver: Column, seg: Column, from: String, to: Column, cur: Column) =>
        struct(ver.as("version"), seg.as("segment"),
          lit(from).cast("date").as("valid_from"), to.as("valid_to"),
          cur.as("is_current"))
      Tables.customer(s, d)
        .select(col("c_custkey"),
          explode(when(changed, array(
              mk(lit(1), col("c_mktsegment"), "2024-01-01",
                lit("2024-06-01").cast("date"), lit(0)),
              mk(lit(2), lit("PROMO"), "2024-06-01",
                lit("9999-12-31").cast("date"), lit(1))))
            .otherwise(array(
              mk(lit(1), col("c_mktsegment"), "2024-01-01",
                lit("9999-12-31").cast("date"), lit(1))))).as("v"))
        .select(col("c_custkey"), col("v.version").as("version"),
          col("v.segment").as("segment"), col("v.valid_from").as("valid_from"),
          col("v.valid_to").as("valid_to"), col("v.is_current").as("is_current"))
        .orderBy("c_custkey", "version")
    },
    Some("""WITH dim AS (SELECT c_custkey, c_mktsegment FROM customer), ch AS (SELECT c_custkey, 'PROMO' AS new_segment FROM dim WHERE c_custkey % 7 = 0), m AS (SELECT dim.c_custkey, dim.c_mktsegment, ch.new_segment FROM dim LEFT JOIN ch USING (c_custkey)), v1 AS (SELECT c_custkey, 1 AS version, c_mktsegment AS segment, DATE '2024-01-01' AS valid_from, CASE WHEN new_segment IS NOT NULL THEN DATE '2024-06-01' ELSE DATE '9999-12-31' END AS valid_to, CASE WHEN new_segment IS NOT NULL THEN 0 ELSE 1 END AS is_current FROM m), v2 AS (SELECT c_custkey, 2 AS version, new_segment AS segment, DATE '2024-06-01' AS valid_from, DATE '9999-12-31' AS valid_to, 1 AS is_current FROM m WHERE new_segment IS NOT NULL) SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) ORDER BY c_custkey, version"""))

  /** Stored base MV for [[mvIncrementalAgg]]: the per-customer rollup of
    * every order BEFORE the 1997-01-01 watermark, materialized once per
    * (session, corpus) — the analog of the IVF/graph stored artifacts (a
    * deployment refreshes against yesterday's MV, it does not rebuild it). */
  private[graft] def baseOrderMv(s: SparkSession, d: String) =
    graft.PersistCache.getOrBuild(s, s"base-order-mv:$d") {
      import graft.functions.GraftFunctions.centi
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1997-01-01"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum(centi(col("o_totalprice"))).as("sc"),
          max(centi(col("o_totalprice"))).as("mx"))
    }

  /** Incremental aggregate maintenance (IVM) — the refresh shape that makes
    * a 100 TB rollup sustainable: the per-customer order aggregate is kept
    * as a stored MV; a refresh aggregates ONLY the incoming delta batch and
    * merges the two states (count+count, sum+sum, max+max — every metric
    * here is decomposable, which is WHY these metrics and not, say, exact
    * median). The base table is never rescanned: refresh cost is
    * O(delta + |MV|) regardless of history size. Stand-in split: orders
    * before 1997-01-01 are the stored base (bench-setup materialized),
    * the rest is the delta. The oracle recomputes the rollup from scratch
    * over ALL orders — equality of merged-vs-recomputed IS the IVM
    * correctness proof. */
  private val mvIncrementalAgg = GraftQuery(
    "mv_incremental_agg",
    "incremental MV refresh: delta-only aggregation merged with stored state",
    (s, d) => {
      import graft.functions.GraftFunctions.centi
      val delta = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum(centi(col("o_totalprice"))).as("sc"),
          max(centi(col("o_totalprice"))).as("mx"))
      baseOrderMv(s, d).unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum("n").as("n_orders"),
          fround(sum("sc").cast("double") / 100.0, 2).as("total_price"),
          fround(max("mx").cast("double") / 100.0, 2).as("max_price"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, count(*) AS n_orders, floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_price, floor(CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS max_price FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Order-independent table checksums — the anti-entropy primitive for
    * verifying two replicas / two snapshots / an engine migration hold the
    * same data WITHOUT shipping rows: per table, XOR-fold a hash of each
    * row's canonical string. XOR is commutative+associative, so the fold
    * is partition-mergeable with no ordering or shuffle requirement (one
    * narrow scan + a 1-row combine per table) and any ODD number of
    * changed rows flips the checksum. The XOR fold's known blind spots are
    * accepted and bounded: an even multiplicity of IDENTICAL changes
    * cancels (countered in practice by including a unique key column in
    * every canonical string, as all four legs here do), and concat_ws
    * would canonicalize NULL and absent identically, so only non-null
    * separator-free key/code columns belong in the string. Two independent
    * 32-bit md5 words give a 64-bit effective check (a production run
    * widens to 128 the same way). Doubles never enter the canonical string
    * (their decimal rendering is engine-specific) — numeric content rides
    * as centi BIGINTs. This query IS the engine-vs-oracle membership proof the
    * hash-compare gate approximates row-by-row. */
  private val qaTableChecksum = GraftQuery(
    "qa_table_checksum",
    "anti-entropy XOR row-hash checksums per table (order-independent)",
    (s, d) => {
      import graft.functions.GraftFunctions.{centi, xorChecksum}
      // md5-per-row dominates this floor; each leg's scan is one task on
      // the single-file local tables, so the hash fold ran on one core.
      // Tables.spread (scale-gated, identity at real input sizes) spreads
      // each leg across the session's cores on its key column before the
      // fold — XOR is commutative, so the fold is partition-invariant by
      // construction.
      def legDf(name: String, t: org.apache.spark.sql.DataFrame,
          key: Column, canon: Column) =
        xorChecksum(Tables.spread(s, t, key), canon)
          .select(lit(name).as("table_name"), col("n_rows"),
            col("xor_hi"), col("xor_lo"))
      legDf("customer", Tables.customer(s, d), col("c_custkey"),
          concat_ws("|", col("c_custkey"), col("c_mktsegment")))
        .unionByName(legDf("documents", Tables.documents(s, d), col("doc_id"),
          concat_ws("|", col("doc_id"), col("lang"))))
        .unionByName(legDf("lineitem", Tables.lineitem(s, d), col("l_orderkey"),
          concat_ws("|", col("l_orderkey"), col("l_suppkey"),
            centi(col("l_quantity")))))
        .unionByName(legDf("orders", Tables.orders(s, d), col("o_orderkey"),
          concat_ws("|", col("o_orderkey"), col("o_orderstatus"))))
        .orderBy("table_name")
    },
    Some {
      import graft.functions.GraftFunctions.md5u32Sql
      def leg(name: String, table: String, canon: String) = {
        val hi = md5u32Sql(s"md5($canon)")
        val lo = md5u32Sql(s"substr(md5($canon), 9, 8)")
        s"SELECT '$name' AS table_name, count(*) AS n_rows, bit_xor($hi) AS xor_hi, bit_xor($lo) AS xor_lo FROM $table"
      }
      Seq(
        leg("customer", "customer", "concat_ws('|', c_custkey, c_mktsegment)"),
        leg("documents", "documents", "concat_ws('|', doc_id, lang)"),
        leg("lineitem", "lineitem",
          "concat_ws('|', l_orderkey, l_suppkey, CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))"),
        leg("orders", "orders", "concat_ws('|', o_orderkey, o_orderstatus)"))
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name")
    })

  /** One (table, key) leg of [[qaKeySkew]]: group sizes, then two tiny
    * passes over the key-count table. The count subplan appears twice
    * (stats + hot-key filter) with an identical canonical form, so
    * Catalyst reuses its shuffle (ReusedExchange — plan-asserted in the
    * spec): the fact is scanned and shuffled ONCE, everything after runs
    * over |keys| rows. The hot-key test multiplies instead of dividing
    * (sz * n_keys > 2 * n_rows) so it stays in exact BIGINTs. */
  private def skewProfile(df: DataFrame, tbl: String, keyCol: String): DataFrame = {
    val g = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("sz"))
    val stats = g.agg(sum("sz").as("n_rows"), count(lit(1)).as("n_keys"),
      max("sz").as("max_sz"))
    // exact 128-bit compare: sz * n_keys can pass 2^63 at plausible scale
    // (1e9-row key x 1e10 keys); LONG would wrap SILENTLY (non-ANSI) and
    // drop the hottest keys from the list. DECIMAL(38,0) is the exact
    // wide-integer twin of the oracle's HUGEINT (the emb_dim_profile sm2
    // discipline).
    val hot = g.crossJoin(broadcast(stats))
      .filter(col("sz").cast("decimal(38,0)") * col("n_keys") >
        col("n_rows").cast("decimal(38,0)") * lit(2L))
      .agg(count(lit(1)).as("n_hot"))
    stats.crossJoin(hot)
      .select(lit(tbl).as("tbl"), lit(keyCol).as("key_col"),
        col("n_rows"), col("n_keys"), col("max_sz"),
        // BIGINT is exact here while max_sz < 9.2e12 — a single join key
        // with nine trillion rows is beyond any real table; the hot-key
        // compare above is the one that overflows at plausible scale.
        expr("(max_sz * 1000000L) DIV n_rows").as("top_ppm"),
        fround(col("n_rows").cast("double") / col("n_keys"), 4).as("avg_sz"),
        col("n_hot"))
  }

  private def skewSql(tbl: String, keyCol: String): String = {
    val g = s"SELECT count(*) AS sz FROM $tbl GROUP BY $keyCol"
    s"SELECT '$tbl' AS tbl, '$keyCol' AS key_col, s.n_rows, s.n_keys, s.max_sz, (s.max_sz * 1000000) // s.n_rows AS top_ppm, floor(CAST(s.n_rows AS DOUBLE) / s.n_keys * 10000.0 + 0.5) / 10000.0 AS avg_sz, h.n_hot FROM (SELECT CAST(sum(sz) AS BIGINT) AS n_rows, count(*) AS n_keys, max(sz) AS max_sz FROM ($g)) s CROSS JOIN (SELECT count(*) AS n_hot FROM ($g) g CROSS JOIN (SELECT CAST(sum(sz) AS BIGINT) AS n_rows, count(*) AS n_keys FROM ($g)) s2 WHERE CAST(g.sz AS HUGEINT) * s2.n_keys > 2 * CAST(s2.n_rows AS HUGEINT)) h"
  }

  /** JOIN-KEY SKEW PROFILE — the diagnostic that decides the shuffle
    * strategy BEFORE a 100 TB join runs: per (table, key), total rows,
    * distinct keys, the largest group, its corpus share in exact ppm
    * (integer division — never a float ratio), the exact-rational mean
    * group size, and how many keys exceed 2x the mean (the salting
    * candidates — AQE's skew-join split and manual salting both want
    * exactly this list). Profiles the three join keys the engine's own
    * query plane hits hardest: lineitem.l_orderkey (the fact-fact edge),
    * orders.o_custkey (Q13's distribution), events.user_id (the
    * sessionization key). */
  private val qaKeySkew = GraftQuery(
    "qa_key_skew",
    "per join-key group-size skew profile: max/top-share/hot-key counts",
    (s, d) => skewProfile(Tables.lineitem(s, d), "lineitem", "l_orderkey")
      .unionByName(skewProfile(Tables.orders(s, d), "orders", "o_custkey"))
      .unionByName(skewProfile(Tables.events(s, d), "events", "user_id"))
      .orderBy("tbl"),
    Some(Seq(("lineitem", "l_orderkey"), ("orders", "o_custkey"),
        ("events", "user_id"))
      .map { case (t, k) => skewSql(t, k) }
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY tbl")))

  /** CDC log compaction: latest-writer-wins per key with DELETE
    * tombstones — the lakehouse merge-on-read compaction kernel (Delta/
    * Iceberg/Hudi snapshot reads all do exactly this). The events stream
    * is read as a change log on user_id ('error' rows are tombstones,
    * everything else an upsert carrying value); the compacted snapshot is
    * the newest row per key by (ts, event_id), DROPPED if that newest row
    * is a tombstone. The change count per key rides the same partition
    * window, so one keyed shuffle serves ranking, counting, and the
    * filter. Scale: at 100 TB the log is date-partitioned and compaction
    * runs per partition; the per-key window state is one row (rank-1
    * short-circuit), and AQE handles hot keys. */
  private val mvCompactCdc = GraftQuery(
    "mv_compact_cdc",
    "CDC compaction: latest-per-key snapshot with delete tombstones",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val wOrd = w.orderBy(desc("ts"), desc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          centi(col("value")).as("vc"),
          (col("event_type") === "error").cast("int").as("is_del"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n_changes", count(lit(1)).over(w))
        .filter(col("rn") === 1 && col("is_del") === 0)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("vc").as("last_value_c"), col("n_changes"))
        .orderBy("user_id")
    },
    Some("""WITH log AS (SELECT user_id, ts, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del FROM events), r AS (SELECT user_id, event_id, vc, is_del, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes FROM log) SELECT user_id, event_id AS last_event_id, vc AS last_value_c, n_changes FROM r WHERE rn = 1 AND is_del = 0 ORDER BY user_id"""))

  /** Perceptual-hash near-dup over the media table: 64-bit pHash (from
    * the stub resize grid) split into four 16-bit bands; candidates are
    * pairs sharing ANY band bucket (the Hamming-space LSH guarantee:
    * distance ≤ 3 forces a band collision), verified by exact Hamming
    * distance ≤ 6, then folded to a per-media near-dup degree. The same
    * band-bucket + verify discipline as dedup_minhash — never all-pairs —
    * including the hot-bucket cutoff (bucket > 64 members is boilerplate
    * banding, dropped before the join) that keeps a constant-band corpus
    * from going quadratic. Scale: one typed decode pass, banded
    * self-join, pair-bounded verify against the broadcast-sized hash
    * table. */
  private lazy val mmPhash = GraftQuery(
    "mm_phash_dedup",
    "multimodal: banded pHash near-dup candidates, Hamming-verified",
    (s, d) => {
      val ph = graft.PersistCache.getOrBuild(s, s"mm_phash:$d") {
        graft.multimodal.Multimodal.phashBands(
          graft.multimodal.Multimodal.mediaTable(s, d))
      }
      val bands = ph.select(col("media_id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
        .toDF("media_id", "bj", "bv")
      val ok = bands.groupBy("bj", "bv").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= 64).select("bj", "bv")
      val bb = bands.join(ok, Seq("bj", "bv"))
      val cand = bb.toDF("bj", "bv", "ma")
        .join(bb.toDF("bj", "bv", "mb"), Seq("bj", "bv"))
        .filter(col("ma") < col("mb")).select("ma", "mb").distinct()
      val hd = cand
        .join(ph.toDF("ma", "a0", "a1", "a2", "a3"), Seq("ma"))
        .join(ph.toDF("mb", "c0", "c1", "c2", "c3"), Seq("mb"))
        .filter(
          bit_count(col("a0").bitwiseXOR(col("c0"))) +
            bit_count(col("a1").bitwiseXOR(col("c1"))) +
            bit_count(col("a2").bitwiseXOR(col("c2"))) +
            bit_count(col("a3").bitwiseXOR(col("c3"))) <= 6)
      val near = hd.select(col("ma").as("media_id"))
        .union(hd.select(col("mb").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("n_near"))
      ph.join(near, Seq("media_id"), "left")
        .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy("media_id")
    },
    Some("""WITH d AS (SELECT doc_id AS media_id, text, length(text) AS len FROM documents), smp AS (SELECT media_id, k, CAST(CASE WHEN len = 0 THEN 0 ELSE ascii(substring(text, CAST((k * len) // 64 AS INTEGER) + 1, 1)) END AS BIGINT) AS v FROM d, (SELECT unnest(generate_series(0, 63)) AS k)), tot AS (SELECT media_id, sum(v) AS s FROM smp GROUP BY 1), bits AS (SELECT smp.media_id, k, CASE WHEN v * 64 > s THEN 1 ELSE 0 END AS bit FROM smp JOIN tot USING (media_id)), bands AS (SELECT media_id, CAST(k // 16 AS INTEGER) AS bj, CAST(sum(bit * (1 << CAST(k % 16 AS INTEGER))) AS INTEGER) AS bv FROM bits GROUP BY 1, 2), ph AS (SELECT media_id, max(CASE WHEN bj = 0 THEN bv END) AS b0, max(CASE WHEN bj = 1 THEN bv END) AS b1, max(CASE WHEN bj = 2 THEN bv END) AS b2, max(CASE WHEN bj = 3 THEN bv END) AS b3 FROM bands GROUP BY 1), ok AS (SELECT bj, bv FROM bands GROUP BY 1, 2 HAVING count(*) <= 64), bb AS (SELECT bands.* FROM bands JOIN ok USING (bj, bv)), cand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb FROM bb a JOIN bb b ON a.bj = b.bj AND a.bv = b.bv AND a.media_id < b.media_id), hd AS (SELECT ma, mb FROM cand JOIN ph pa ON pa.media_id = ma JOIN ph pb ON pb.media_id = mb WHERE bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1)) + bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3)) <= 6), nn AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_near FROM (SELECT ma AS media_id FROM hd UNION ALL SELECT mb FROM hd) GROUP BY 1) SELECT ph.media_id, b0, b1, b2, b3, coalesce(nn.n_near, 0) AS n_near FROM ph LEFT JOIN nn USING (media_id) ORDER BY media_id"""))

  /** The stored batch half of the lambda serving view: daily per-type
    * rollup over everything BEFORE the watermark day — a deployment
    * refreshes this nightly; queries never recompute it. */
  private[graft] def batchDailyMv(s: SparkSession, d: String) =
    graft.PersistCache.getOrBuild(s, s"lambda-daily-mv:$d") {
      import graft.functions.GraftFunctions.centi
      Tables.events(s, d)
        .filter(col("ts") < lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(centi(col("value"))).as("vcs"))
    }

  /** Lambda-architecture serving view: the batch layer (stored daily MV
    * over history, [[batchDailyMv]]) UNION'd with the speed layer (the
    * same rollup computed from raw events AFTER the watermark) — the
    * read path that makes a 100 TB history queryable at streaming
    * freshness. Day grains never straddle the watermark, so the union
    * needs no key-level merge (contrast mv_incremental_agg, which merges
    * decomposable states); each row carries which layer served it. The
    * oracle recomputes both layers from scratch — equality proves the
    * stored-batch + fresh-delta composition loses nothing. Scale: the
    * speed scan's `ts >= watermark` predicate is exactly what a
    * date-partitioned events table prunes to a few partitions; history
    * cost is |MV|, not |raw|. */
  private lazy val mvLambdaServing = GraftQuery(
    "mv_lambda_serving",
    "lambda serving view: stored batch daily MV ∪ post-watermark speed layer",
    (s, d) => {
      import graft.functions.GraftFunctions.centi
      val speed = Tables.events(s, d)
        .filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(centi(col("value"))).as("vcs"))
      batchDailyMv(s, d).withColumn("served_from", lit("batch"))
        .unionByName(speed.withColumn("served_from", lit("speed")))
        .select(col("event_type"), col("day"), col("n").as("n_events"),
          fround(col("vcs").cast("double") / 100.0, 2).as("total_value"),
          col("served_from"))
        .orderBy("event_type", "day")
    },
    Some("""WITH r AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events, floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value, CASE WHEN CAST(ts AS DATE) < DATE '2024-01-25' THEN 'batch' ELSE 'speed' END AS served_from FROM events GROUP BY 1, 2, 5) SELECT event_type, day, n_events, total_value, served_from FROM r ORDER BY 1, 2"""))

  /** RECURSIVE-HIERARCHY rollup — the engine's answer to WITH RECURSIVE
    * (which Spark SQL lacks): every customer is placed in a synthetic
    * containment hierarchy (parent = id div 10, roots are the single-digit
    * ids) and revenue rolls up to (root, depth). The traversal is POINTER
    * DOUBLING, fully declarative: three unrolled self-joins, each doubling
    * the ancestor distance (roots are 0-step fixpoints so distances sum
    * exactly), covering depth ≤ 8 — log₂(depth) keyed self-joins of a
    * node-sized table instead of a depth-long iteration; the same shape
    * scales to a billion-node hierarchy. The oracle IS DuckDB's native
    * WITH RECURSIVE — engine parity proven against the real thing.
    * Revenue joins on the customer key and aggregates map-side before the
    * tiny (root, depth) grid. */
  private lazy val sqlRecursiveHierarchy = GraftQuery(
    "sql_recursive_hierarchy",
    "pointer-doubling root/depth resolution + rollup vs WITH RECURSIVE",
    (s, d) => {
      val l1 = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        when(col("c_custkey") < 10, col("c_custkey"))
          .otherwise(expr("c_custkey div 10")).as("anc"),
        when(col("c_custkey") < 10, lit(0L)).otherwise(lit(1L)).as("dist"))
      def dbl(l: DataFrame): DataFrame =
        l.as("a").join(l.as("b"), col("a.anc") === col("b.id"))
          .select(col("a.id").as("id"), col("b.anc").as("anc"),
            (col("a.dist") + col("b.dist")).as("dist"))
      // each doubling level is memoized (kcoreEdges discipline): a naive
      // dbl(dbl(dbl(l1))) embeds 2^3−1 = 7 joins and scans the dimension
      // 8× — with per-level materialization the plan is 3 joins over
      // cached leaves (PlanQualitySpec pins the join count)
      val l2 = graft.PersistCache.getOrMaterialize(s, s"hier:l2:$d")(dbl(l1))
      val l4 = graft.PersistCache.getOrMaterialize(s, s"hier:l4:$d")(dbl(l2))
      val resolved = dbl(l4) // 2^3 = 8 >= max chain length
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("id"))
        .agg(count(lit(1)).as("n_ord"), sum(centi(col("o_totalprice"))).as("pc"))
      resolved.join(rev, Seq("id"), "left")
        .groupBy(col("anc").as("root"), col("dist").as("depth"))
        .agg(count(lit(1)).as("n_customers"),
          sum(coalesce(col("n_ord"), lit(0L))).as("n_orders"),
          fround(sum(coalesce(col("pc"), lit(0L))).cast("double") / 100.0, 2)
            .as("revenue"))
        .orderBy("root", "depth")
    },
    Some("""WITH RECURSIVE walk AS (SELECT c_custkey AS id, c_custkey AS cur, CAST(0 AS BIGINT) AS depth FROM customer UNION ALL SELECT id, cur // 10, depth + 1 FROM walk WHERE cur >= 10), res AS (SELECT id, cur AS root, depth FROM walk WHERE cur < 10), rev AS (SELECT o_custkey AS id, count(*) AS n_ord, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS pc FROM orders GROUP BY 1) SELECT root, depth, count(*) AS n_customers, CAST(sum(coalesce(n_ord, 0)) AS BIGINT) AS n_orders, floor(CAST(sum(coalesce(pc, 0)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue FROM res LEFT JOIN rev USING (id) GROUP BY 1, 2 ORDER BY 1, 2"""))

  val all: Seq[GraftQuery] = Seq(
    csvRoundtrip, jsonStruct, jsonInferred, dateConstruct, sqlMultikeyJoin,
    mvCascade, sqlCtas, partitionPruned, dppPrune, scd2Merge,
    mvIncrementalAgg, qaTableChecksum, qaKeySkew, mvCompactCdc, scd2Asof,
    mmPhash, mvLambdaServing, sqlRecursiveHierarchy)

  /** Time-travel READ over the SCD2 dimension — "the dimension as of
    * 2024-07-01": for each key, exactly the one version whose
    * [valid_from, valid_to) window contains the cutoff. The validity
    * filter rides the same narrow emit-versions pass as mv_scd2_merge
    * (no join); on a stored SCD2 table this is a filter the parquet scan
    * absorbs, which is the entire point of range-versioned dimensions —
    * temporal reads cost a scan, not a reconstruction. After the June
    * change, every %7 key must read PROMO at version 2. */
  private lazy val scd2Asof = GraftQuery(
    "mv_scd2_asof",
    "as-of read of the SCD2 dimension (state at 2024-07-01)",
    (s, d) => {
      val cut = lit("2024-07-01").cast("date")
      val changed = col("c_custkey") % 7 === 0
      val mk = (ver: Column, seg: Column, from: String, to: Column) =>
        struct(ver.as("version"), seg.as("segment"),
          lit(from).cast("date").as("valid_from"), to.as("valid_to"))
      Tables.customer(s, d)
        .select(col("c_custkey"),
          explode(when(changed, array(
              mk(lit(1), col("c_mktsegment"), "2024-01-01",
                lit("2024-06-01").cast("date")),
              mk(lit(2), lit("PROMO"), "2024-06-01",
                lit("9999-12-31").cast("date"))))
            .otherwise(array(
              mk(lit(1), col("c_mktsegment"), "2024-01-01",
                lit("9999-12-31").cast("date"))))).as("v"))
        .filter(col("v.valid_from") <= cut && cut < col("v.valid_to"))
        .select(col("c_custkey"), col("v.version").as("version"),
          col("v.segment").as("segment"))
        .orderBy("c_custkey")
    },
    Some("""WITH dim AS (SELECT c_custkey, c_mktsegment FROM customer), ch AS (SELECT c_custkey, 'PROMO' AS new_segment FROM dim WHERE c_custkey % 7 = 0), m AS (SELECT dim.c_custkey, dim.c_mktsegment, ch.new_segment FROM dim LEFT JOIN ch USING (c_custkey)), v AS (SELECT c_custkey, 1 AS version, c_mktsegment AS segment, DATE '2024-01-01' AS valid_from, CASE WHEN new_segment IS NOT NULL THEN DATE '2024-06-01' ELSE DATE '9999-12-31' END AS valid_to FROM m UNION ALL SELECT c_custkey, 2, new_segment, DATE '2024-06-01', DATE '9999-12-31' FROM m WHERE new_segment IS NOT NULL) SELECT c_custkey, version, segment FROM v WHERE valid_from <= DATE '2024-07-01' AND DATE '2024-07-01' < valid_to ORDER BY c_custkey"""))
}
