package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions.{centi, fround, md5u32}

/** Analytic capability extras a production engine needs beyond the
  * reference's surface (SURVEY §2.5 declares windows as parity extras; the
  * training-data-pipeline brief adds TF-IDF-style text weighting):
  * sessionization, lag/lead deltas, percentiles, correlation, skew-aware
  * joins, and TF-IDF term weighting.
  *
  * Determinism across engines follows the repo-wide rules (GraftFunctions):
  * every comparison-relevant sum is an exact integer (centi units or µs),
  * every division-derived double is floor-rounded, and window orderings
  * always carry a unique tiebreaker column.
  */
object AnalyticsOps {

  /** Sessionization: a new session starts after a >30-min silence. The
    * classic two-window formulation — lag to flag gaps, running sum to
    * number sessions — keyed entirely on exact integer microseconds
    * (unix_micros both engines) so session boundaries are bit-identical.
    * Scale: both windows partition by user_id — ONE shuffle, reused by both
    * window operators and the final groupBy (same key, Catalyst keeps the
    * partitioning). No global ordering anywhere. */
  private val winSession = GraftQuery(
    "win_session",
    "sessionization via lag + running-sum windows (30-min gap rule)",
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          centi(col("value")).as("vc"))
      ev.withColumn("prev", lag("us", 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum("new_s").over(byUser))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"),
          ((max("us") - min("us")) / lit(1000000L)).as("dur_s"),
          sum("vc").as("vcs"))
        .select(col("user_id"), col("sess"), col("n_events"),
          col("start_us"), fround(col("dur_s"), 3).as("dur_s"),
          fround(col("vcs").cast("double") / 100.0, 2).as("total_value"))
        .orderBy("user_id", "sess")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), o AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev), m AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s FROM o), x AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM m) SELECT user_id, sess, count(*) AS n_events, min(us) AS start_us, floor((max(us) - min(us)) / 1000000.0 * 1000.0 + 0.5) / 1000.0 AS dur_s, floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM x GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Lag/lead value deltas per user's purchase sequence: the spend-trend
    * query. Deltas are integer centi-unit differences, so their distributed
    * sum is exact. Single shuffle on user_id shared by window + groupBy. */
  private val winLagLead = GraftQuery(
    "win_lag_lead",
    "lag/lead deltas over each user's purchase sequence",
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          centi(col("value")).as("vc"))
      p.withColumn("dc", col("vc") - lag("vc", 1).over(byUser))
        .filter(col("dc").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_deltas"),
          sum("dc").as("dcs"),
          max("dc").as("max_dc"),
          min("dc").as("min_dc"))
        .select(col("user_id"), col("n_deltas"),
          fround(col("dcs").cast("double") / col("n_deltas") / 100.0, 4).as("avg_delta"),
          fround(col("max_dc").cast("double") / 100.0, 2).as("max_delta"),
          fround(col("min_dc").cast("double") / 100.0, 2).as("min_delta"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events WHERE event_type = 'purchase'), dl AS (SELECT user_id, vc - lag(vc) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dc FROM p) SELECT user_id, count(*) AS n_deltas, floor(CAST(sum(dc) AS DOUBLE) / count(*) / 100.0 * 10000.0 + 0.5) / 10000.0 AS avg_delta, floor(CAST(max(dc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS max_delta, floor(CAST(min(dc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS min_delta FROM dl WHERE dc IS NOT NULL GROUP BY 1 ORDER BY 1"""))

  /** Interpolated quartiles per event type. Both engines use the same
    * linear-interpolation definition (Spark `percentile`, DuckDB
    * `quantile_cont`) over centi-unit integers, so the interpolation inputs
    * are identical integers and the arithmetic identical doubles.
    * Scale: percentile is a sort-based agg within each group — fine at 3
    * groups; per-key percentiles at high cardinality would switch to
    * approx_percentile (t-digest). */
  private val aggPercentiles = GraftQuery(
    "agg_percentiles",
    "exact interpolated p25/p50/p75 of value per event type",
    (s, d) => Tables.events(s, d)
      .select(col("event_type"), centi(col("value")).as("vc"))
      .groupBy("event_type")
      .agg(
        percentile(col("vc"), lit(0.25)).as("p25c"),
        percentile(col("vc"), lit(0.5)).as("p50c"),
        percentile(col("vc"), lit(0.75)).as("p75c"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"),
        fround(col("p25c") / 100.0, 4).as("p25"),
        fround(col("p50c") / 100.0, 4).as("p50"),
        fround(col("p75c") / 100.0, 4).as("p75"),
        col("cnt"))
      .orderBy("event_type"),
    Some("""SELECT event_type, floor(quantile_cont(vc, 0.25) / 100.0 * 10000.0 + 0.5) / 10000.0 AS p25, floor(quantile_cont(vc, 0.5) / 100.0 * 10000.0 + 0.5) / 10000.0 AS p50, floor(quantile_cont(vc, 0.75) / 100.0 * 10000.0 + 0.5) / 10000.0 AS p75, count(*) AS cnt FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events) GROUP BY 1 ORDER BY 1"""))

  /** Pearson correlation + population covariance of (value, hour-of-day)
    * per event type — computed FROM EXACT INTEGER MOMENTS (Σx, Σy, Σxy,
    * Σx², Σy² over centi-values and hours), not the engines' float corr():
    * integer sums are order-independent, so both engines derive the final
    * doubles from bit-identical inputs. This is the distributed-determinism
    * pattern for any second-moment statistic. */
  private val aggCorr = GraftQuery(
    "agg_corr_exact",
    "correlation/covariance from exact integer moments per event type",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), centi(col("value")).as("x"),
          hour(col("ts")).cast("long").as("y"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          fround(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
            6).as("corr"),
          fround(
            (col("sxy").cast("double") / col("n") -
              col("sx").cast("double") / col("n") * (col("sy").cast("double") / col("n"))) / 100.0,
            4).as("covar_pop"))
        .orderBy("event_type")
    },
    Some("""WITH m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x, CAST(hour(ts) AS BIGINT) AS y FROM events) GROUP BY 1) SELECT event_type, n, floor(CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS corr, floor((CAST(sxy AS DOUBLE)/n - CAST(sx AS DOUBLE)/n * (CAST(sy AS DOUBLE)/n)) / 100.0 * 10000.0 + 0.5) / 10000.0 AS covar_pop FROM m ORDER BY 1"""))

  /** Skew-aware fact⋈dim join via salting: the fact side's hot keys are
    * spread over SALT buckets (salt = event_id % SALT, deterministic) and
    * the dim side is exploded SALT× so every (key, salt) pair matches. The
    * oracle is the PLAIN join — proving salting changes the plan, not the
    * answer. At 100 TB this is the manual fallback when AQE skew-join can't
    * kick in (e.g. the skewed side feeds a window, not a join). The exploded
    * dim stays broadcast-sized (|dim| × SALT). */
  private val jSkewSalted = GraftQuery(
    "j_skew_salted",
    "salted join (8 salts) over skewed user activity; oracle is plain join",
    (s, d) => {
      val SALT = 8
      val fact = Tables.events(s, d)
        .select(col("user_id"), centi(col("value")).as("vc"),
          pmod(col("event_id"), lit(SALT.toLong)).as("salt"))
      val dim = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
        .withColumn("salt", explode(array((0 until SALT).map(i => lit(i.toLong)): _*)))
      fact.join(broadcast(dim),
          fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"),
          fround(sum("vc").cast("double") / 100.0, 2).as("total_value"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, count(*) AS cnt, floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM events JOIN customer ON user_id = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1"""))

  /** The one-pass StatsAggregator (§2.10's custom-Aggregator surface; the
    * distributed StatCounter replacement) as a registered capability.
    * Oracle determinism split: the aggregator's EXACT fields
    * (count/min/max — order-independent for doubles) face the oracle
    * directly; the oracle-facing mean/var_pop derive from exact centi
    * integer moments (the w_daily_stats spelling) because the
    * aggregator's Welford/Chan floats are merge-order-dependent in the
    * last ulps and ROUNDING CANNOT FIX THAT — a value ulps from a
    * floor(x·1e4+0.5) boundary flips per partitioning and fails the
    * driver's hash gate spuriously. The aggregator's full-precision
    * mean/variance stay pinned against Spark's built-ins (1e-9) in
    * StatsAggregatorSpec. The 5-row join of the two aggregates is
    * dimension-sized. The QUERY therefore scans events twice — the
    * AGGREGATOR is the one-pass capability (its single buffer carries
    * all five statistics); the second scan exists purely to hand the
    * oracle deterministic floats and would not ship in a production
    * pipeline (which would read the aggregator's floats directly). */
  private val aggStatsOnepass = GraftQuery(
    "agg_stats_onepass",
    "one-pass typed Aggregator (the capability) + exact-moment twin for deterministic oracle floats",
    (s, d) => {
      import s.implicits._
      import graft.functions.StatsAggregator
      val stats = Tables.events(s, d)
        .select(col("event_type"), col("value")).as[(String, Double)]
        .groupByKey(_._1)
        .agg(StatsAggregator[(String, Double)](_._2).toColumn.name("stats"))
        .select(col("key").as("event_type"),
          col("stats.count").as("cnt"), col("stats.min").as("mn"),
          col("stats.max").as("mx"))
      val exact = Tables.events(s, d)
        .withColumn("iv", centi(col("value")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("iv").as("s1"),
          sum(col("iv") * col("iv")).as("s2"))
      val varScaled = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1") / col("n")) / col("n")
      stats.join(exact, "event_type")
        .select(col("event_type"), col("cnt"), col("mn"), col("mx"),
          fround(col("s1").cast("double") / col("n") / 100.0, 4).as("mean"),
          fround(varScaled / 10000.0, 4).as("var_pop"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(n AS BIGINT) AS cnt, mn, mx, floor(CAST(s1 AS DOUBLE) / n / 100.0 * 1e4 + 0.5) / 1e4 AS mean, floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n / 10000.0 * 1e4 + 0.5) / 1e4 AS var_pop FROM (SELECT event_type, count(*) AS n, CAST(sum(iv) AS BIGINT) AS s1, CAST(sum(iv * iv) AS BIGINT) AS s2, min(value) AS mn, max(value) AS mx FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS iv FROM events) GROUP BY 1) ORDER BY 1"""))

  /** Pivot: long→wide reshape, one centi-exact value column per event
    * type. The explicit value list keeps it one pass (no extra distinct
    * job to discover columns) — at scale you ALWAYS pass the list. Oracle:
    * conditional-aggregation spelling, the engine-portable equivalent. */
  private val aggPivot = GraftQuery(
    "agg_pivot",
    "pivot event_type to wide per-user value-sum columns",
    (s, d) => {
      val kinds = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), centi(col("value")).as("vc"))
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(sum("vc"))
        // coalesce AFTER the pivot: PivotFirst leaves a missing (user, type)
        // slot NULL (an inner coalesce never sees it), while the oracle's
        // CASE WHEN sum emits 0 — without this, any user lacking one event
        // type would hash-mismatch
        .select(col("user_id") +: kinds.map(k =>
          fround(coalesce(col(k), lit(0L)).cast("double") / 100.0, 2).as(s"${k}_total")): _*)
        .orderBy("user_id")
    },
    Some("""SELECT user_id, floor(CAST(sum(CASE WHEN event_type = 'click' THEN vc ELSE 0 END) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS click_total, floor(CAST(sum(CASE WHEN event_type = 'error' THEN vc ELSE 0 END) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS error_total, floor(CAST(sum(CASE WHEN event_type = 'purchase' THEN vc ELSE 0 END) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS purchase_total, floor(CAST(sum(CASE WHEN event_type = 'signup' THEN vc ELSE 0 END) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS signup_total, floor(CAST(sum(CASE WHEN event_type = 'view' THEN vc ELSE 0 END) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS view_total FROM (SELECT user_id, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events) GROUP BY 1 ORDER BY 1"""))

  /** Native session_window (the built-in that replaces the two-window
    * formulation of win_session; also valid in streaming groupBy). Boundary
    * semantics, pinned by Round7OpsSpec's microsecond probes: an arrival at
    * EXACTLY last+gap still merges (touching windows merge; the split needs
    * a strictly larger gap) — the same `>` membership rule as win_session's
    * lag formulation, so the two forms agree on membership everywhere and
    * differ only in the reported session end (last+gap vs max(ts)). An
    * earlier revision documented the boundary as exclusive and split the
    * oracle on >=; that was wrong and latent (µs-resolution data never hits
    * an exact-gap pair). */
  private val winSessionNative = GraftQuery(
    "win_session_native",
    "built-in session_window(ts, 30 min) per user, session stats",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(centi(col("value"))).as("vcs"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"),
        fround(col("vcs").cast("double") / 100.0, 2).as("total_value"))
      .orderBy("user_id", "start_us"),
    Some("""WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), o AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM ev), m AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s FROM o), x AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM m) SELECT user_id, min(us) AS start_us, max(us) + 1800 * 1000000 AS end_us, count(*) AS n_events, floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM x GROUP BY user_id, sess ORDER BY 1, 2"""))

  /** The sketch path for percentiles: approx_percentile (KLL-style,
    * mergeable, constant memory) next to the exact values — at 100 TB the
    * exact sort-based percentile is per-group O(n log n) and the sketch is
    * the only option for high-cardinality keys. No SQL oracle (DuckDB's
    * approx sketch differs); OperatorSpec bounds the rank error against
    * the exact quartiles. */
  private val aggApproxPercentile = GraftQuery(
    "agg_approx_percentile",
    "approx_percentile sketch next to exact quartiles per event type",
    (s, d) => Tables.events(s, d)
      .select(col("event_type"), centi(col("value")).as("vc"))
      .groupBy("event_type")
      .agg(
        approx_percentile(col("vc"), lit(0.5), lit(10000)).as("p50_approx"),
        percentile(col("vc"), lit(0.5)).as("p50_exact"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type"),
    None, boundedBy = Some("OperatorSpec"))

  /** Built-in argmax/argmin (max_by/min_by; the declarative A9 form next to
    * the typed OrderedAggregators). The ordering key packs (centi value,
    * event_id) into one exact BIGINT — vc·2³² + id stays under 2⁶² and
    * orders by value with a unique id tie-break, so both engines pick the
    * same row even under duplicate values. */
  private val aggArgExtremes = GraftQuery(
    "agg_arg_extremes",
    "max_by/min_by: the event id carrying each type's extreme value",
    (s, d) => {
      val key = col("vc") * lit(4294967296L) + col("event_id")
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), centi(col("value")).as("vc"))
        .groupBy("event_type")
        .agg(
          max_by(col("event_id"), key).as("max_value_event"),
          min_by(col("event_id"), key).as("min_value_event"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, arg_max(event_id, vc * 4294967296 + event_id) AS max_value_event, arg_min(event_id, vc * 4294967296 + event_id) AS min_value_event, count(*) AS cnt FROM (SELECT event_type, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events) GROUP BY 1 ORDER BY 1"""))

  /** Map-typed column surface: per-user event_type→count built as a real
    * MapType (map_from_entries over the grouped counts), consumed through
    * map HOFs (map_filter drops singleton types, element_at probes a key),
    * then exploded back to rows for the oracle. The map stays inside one
    * keyed aggregation + narrow maps — building maps never adds a shuffle
    * beyond the groupBy that feeds them. */
  private val aggMapHistogram = GraftQuery(
    "agg_map_histogram",
    "MapType build (map_from_entries) + map_filter/element_at + explode back",
    (s, d) => {
      val counts = Tables.events(s, d)
        .filter(col("user_id") < 40)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      val maps = counts.groupBy("user_id")
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("event_type"), col("n"))))).as("hist"))
        .select(col("user_id"),
          map_filter(col("hist"), (_, v) => v > 1).as("hist"),
          coalesce(element_at(col("hist"), "click"), lit(0L)).as("clicks"))
      maps.select(col("user_id"), col("clicks"),
          explode(col("hist")).as(Seq("event_type", "n")))
        .orderBy("user_id", "event_type")
    },
    Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events WHERE user_id < 40 GROUP BY 1, 2), cl AS (SELECT user_id, coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0) AS clicks FROM c GROUP BY 1) SELECT c.user_id, cl.clicks, c.event_type, c.n FROM c JOIN cl ON c.user_id = cl.user_id WHERE c.n > 1 ORDER BY c.user_id, c.event_type"""))

  /** Multiple DISTINCT aggregates in one pass — Catalyst plans this via
    * Expand (one row replica per distinct group), a genuinely different
    * aggregation strategy from plain hash-agg: the shuffle carries
    * |aggs|× the rows but each replica deduplicates on its own key, and
    * the alternative (N separate queries + join) would scan the fact N
    * times. The collect_set leg is made deterministic by sort_array before
    * join — never compare raw collection order. */
  private val aggMultiDistinct = GraftQuery(
    "agg_multi_distinct",
    "two DISTINCT aggregates + ordered collect_set in one Expand-planned pass",
    (s, d) => Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events"),
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"))
      .orderBy("day"),
    Some("""SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types, count(*) AS n_events, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types FROM events GROUP BY 1 ORDER BY 1"""))

  /** Mergeable-sketch rollup — THE 100 TB distinct-count pattern: per-day
    * HLL sketches (Apache DataSketches, via the built-in hll_sketch_agg)
    * are built in one partial-aggregatable pass, stored sketch-sized, and
    * MERGED (hll_union_agg) to any coarser grain without re-touching raw
    * data — unlike exact countDistinct, whose Expand-based plan must
    * re-shuffle the full key set per grain. The query rolls per-(type, day)
    * sketches up to type grain and reports the merged estimate next to the
    * single-pass direct estimate and the exact count. No SQL oracle
    * (sketch binaries are engine-internal); OperatorSpec asserts
    * merged == direct (same lgK ⇒ identical registers) and both within 5%
    * of exact. */
  private val aggHllRollup = GraftQuery(
    "agg_hll_rollup",
    "per-day HLL sketches merged to type grain vs direct sketch vs exact",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("merged_users"),
          count(lit(1)).as("n_days"))
      val direct = Tables.events(s, d).groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("direct_users"),
          countDistinct(col("user_id")).as("exact_users"))
      // event_type-grain aggregates are bounded by the type ENUM at any
      // corpus size — static broadcast (the latency-profile bench runs
      // AQE-off, so the runtime tiny-side broadcast must be declared)
      broadcast(merged).join(direct, Seq("event_type")).orderBy("event_type")
    },
    None, boundedBy = Some("OperatorSpec"))

  /** Cohort retention: users bucketed by first-active day, retention =
    * share of the cohort active again N days later. The classic
    * product-analytics matrix, and a single-fact-table plan:
    * (user, day) distinct → cohort via a min-window over the SAME user_id
    * partitioning (no self-join back to a first-seen table — the window
    * reuses the exchange), → one keyed aggregation on (cohort, offset).
    * Cohort sizes come from a window over the AGGREGATED frame (cohort
    * cardinality ≈ days, tiny), not a second scan: offset 0 is by
    * construction every cohort's full size (the min-day user is active on
    * the min day). Retention doubles divide exact integer counts. */
  private val evtRetention = GraftQuery(
    "evt_retention",
    "cohort retention matrix: first-active-day cohorts × day offset",
    (s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val coh = act
        .withColumn("cohort", min("day").over(Window.partitionBy("user_id")))
        .withColumn("day_offset", datediff(col("day"), col("cohort")))
      val ret = coh.groupBy("cohort", "day_offset")
        .agg(count(lit(1)).as("n_active"))
      ret.withColumn("cohort_size",
          max(when(col("day_offset") === 0, col("n_active")))
            .over(Window.partitionBy("cohort")))
        .select(col("cohort"), col("day_offset"), col("n_active"),
          col("cohort_size"),
          fround(col("n_active").cast("double") / col("cohort_size"), 4)
            .as("retention"))
        .orderBy("cohort", "day_offset")
    },
    Some("""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort FROM act), o AS (SELECT cohort, CAST(date_diff('day', cohort, day) AS INTEGER) AS day_offset, count(*) AS n_active FROM c GROUP BY 1, 2), w AS (SELECT *, max(CASE WHEN day_offset = 0 THEN n_active END) OVER (PARTITION BY cohort) AS cohort_size FROM o) SELECT cohort, day_offset, n_active, cohort_size, floor(CAST(n_active AS DOUBLE) / cohort_size * 10000.0 + 0.5) / 10000.0 AS retention FROM w ORDER BY 1, 2"""))

  /** The z-score computation over a `(event_type, day, cnt)` daily-count
    * frame — public so the STREAMING monitoring pipeline can run the exact
    * same analytics over a durably-sinked streamed rollup (StreamZscoreSpec
    * proves stream-fed ≡ batch). */
  def zscoreOverDaily(daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    // moments in DECIMAL(38,0): cnt² of a billion-events/day key would
    // overflow LongType silently, while the DuckDB oracle promotes to
    // HUGEINT — both engines now carry the exact integer value and cast
    // to double only at the final (correctly-rounded) divisions
    val dec = col("cnt").cast("decimal(38,0)")
    daily
      .withColumn("s1", sum(dec).over(w))
      .withColumn("s2", sum(dec * dec).over(w))
      .withColumn("nw", count(lit(1)).over(w).cast("decimal(38,0)"))
      .withColumn("mu", col("s1").cast("double") / col("nw").cast("double"))
      .withColumn("sg", sqrt(
        (col("nw") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("nw") * col("nw")).cast("double")))
      .select(col("event_type"), col("day"), col("cnt"),
        fround(col("mu"), 4).as("mu"),
        fround(col("sg"), 4).as("sigma"),
        fround(when(col("sg") > 0,
          (col("cnt") - col("mu")) / col("sg")).otherwise(lit(0.0)), 4)
          .as("z"))
      .orderBy("event_type", "day")
  }

  /** Trailing-window z-score anomaly detection over the event stream —
    * the volume-spike monitor every ingest pipeline runs per key. The
    * moments come from INTEGER window sums (Σx, Σx², n over the trailing 7
    * days), so μ and σ² are exact rationals and z is a deterministic IEEE
    * composite — never stddev_samp/avg over doubles, whose merge order
    * Spark does not fix. One shuffle (daily rollup), one window sort per
    * event_type partition; the window never exceeds 7 rows per frame. */
  private val evtZscore = GraftQuery(
    "evt_zscore_anomaly",
    "trailing-7-day z-score per (event_type, day) from integer-exact moments",
    (s, d) => zscoreOverDaily(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))),
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt FROM events GROUP BY 1, 2), w AS (SELECT event_type, day, cnt, sum(CAST(cnt AS HUGEINT)) OVER tw AS s1, sum(CAST(cnt AS HUGEINT) * cnt) OVER tw AS s2, count(*) OVER tw AS nw FROM daily WINDOW tw AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)), m AS (SELECT event_type, day, cnt, CAST(s1 AS DOUBLE) / nw AS mu, sqrt(CAST(nw * s2 - s1 * s1 AS DOUBLE) / CAST(nw * nw AS DOUBLE)) AS sg FROM w) SELECT event_type, day, cnt, floor(mu * 10000.0 + 0.5) / 10000.0 AS mu, floor(sg * 10000.0 + 0.5) / 10000.0 AS sigma, floor((CASE WHEN sg > 0 THEN (cnt - mu) / sg ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS z FROM m ORDER BY 1, 2"""))

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral-model fit (and sequence-data sanity check) next to the
    * funnel/retention/session family: P(next = b | cur = a) from lag pairs.
    * One user-keyed window shuffle produces the consecutive pairs, one
    * small keyed aggregation counts them; row probabilities divide exact
    * integer counts inside a window over the (|types|²)-row aggregate.
    * Deterministic ordering: (ts, event_id) tie-break inside each user's
    * sequence, spelled identically in the oracle. */
  private val evtTransitions = GraftQuery(
    "evt_transition_matrix",
    "first-order Markov transitions: P(next event type | current) per pair",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
      pairs
        .withColumn("row_total",
          sum("cnt").over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("cnt"),
          fround(col("cnt").cast("double") / col("row_total"), 4).as("p"))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH seq AS (SELECT user_id, event_type, lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), pairs AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS cnt FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2), w AS (SELECT *, sum(cnt) OVER (PARTITION BY from_type) AS row_total FROM pairs) SELECT from_type, to_type, cnt, floor(CAST(cnt AS DOUBLE) / row_total * 10000.0 + 0.5) / 10000.0 AS p FROM w ORDER BY 1, 2"""))

  /** DYADIC EWMA — per-user exponentially-weighted moving average of
    * event value, the smoother a monitoring/feature pipeline runs per
    * entity. The usual recursive form (s_t = a*x_t + (1-a)*s_{t-1}) is a
    * float recurrence whose rounding depends on history length, so two
    * engines (or a replay) can disagree in the last ulp. This one is
    * EXACT: decay a = 1/2 over a trailing 16-event window, values in
    * centi-units, so the weighted numerator sum v_i * 2^(i-1) and the
    * normalizer 2^L - 1 are both BIGINTs; the only float ops are two
    * correctly-rounded divisions performed in the SAME order in both
    * engines. (Bounding the window is what real EWMA features do anyway —
    * 2^-16 has decayed to noise — and is also what keeps the integer
    * numerator < 2^40.)
    *
    * Scale shape: one window shuffle keyed on user_id (the same partition
    * a per-entity feature store would already have), ROWS-frame
    * collect_list is 16 elements max, and the weighted fold is a codegen'd
    * zip_with/aggregate HOF — no UDF, no second shuffle. */
  private val evtEwma = GraftQuery(
    "evt_ewma",
    "per-user dyadic EWMA (alpha=1/2, trailing 16 events, exact integer weights)",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), centi(col("value")).as("v"))
        .withColumn("lst", collect_list("v").over(w))
        .selectExpr("user_id", "event_id",
          """aggregate(zip_with(lst, sequence(1, size(lst)),
            |  (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i - 1)),
            |  CAST(0 AS BIGINT), (a, x) -> a + x) AS num""".stripMargin,
          "shiftleft(CAST(1 AS BIGINT), size(lst)) - 1 AS den")
        .select(col("user_id"), col("event_id"),
          fround(col("num").cast("double") / col("den") / 100.0, 4).as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH v AS (SELECT user_id, event_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events), l AS (SELECT user_id, event_id, list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst FROM v), f AS (SELECT user_id, event_id, list_sum(list_transform(list_zip(lst, generate_series(1, len(lst))), s -> s[1] * CAST(pow(2, s[2] - 1) AS BIGINT))) AS num, CAST(pow(2, len(lst)) AS BIGINT) - 1 AS den FROM l) SELECT user_id, event_id, floor(CAST(num AS DOUBLE) / den / 100.0 * 10000.0 + 0.5) / 10000.0 AS ewma FROM f ORDER BY 1, 2"""))

  /** Run-length encoding of event sequences: collapse consecutive repeats
    * of the same event_type per user into runs, then histogram run lengths
    * per type — the burst-detection / repeated-action profile (and the
    * sequence-compression stat an RLE-aware encoder would ask for). Runs
    * are numbered with the lag-change + running-sum idiom; the order
    * carries (ts, event_id) so ties are pinned and run boundaries are
    * bit-deterministic. Scale: both windows and the first groupBy key on
    * user_id — ONE keyed shuffle — and the run table (≤ input rows)
    * reduces before the tiny (type, len) histogram shuffle. */
  private val evtRunLengths = GraftQuery(
    "evt_run_lengths",
    "run-length encoding of per-user event-type sequences, length histogram",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val prev = lag("event_type", 1).over(w)
      Tables.events(s, d)
        .withColumn("chg", when(prev.isNull || col("event_type") =!= prev, 1L).otherwise(0L))
        .withColumn("run_id", sum("chg").over(w))
        .groupBy(col("user_id"), col("run_id"), col("event_type"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("event_type"), col("len"))
        .agg(count(lit(1)).as("n_runs"))
        .orderBy("event_type", "len")
    },
    Some("""WITH m AS (SELECT user_id, ts, event_id, event_type, CASE WHEN lag(event_type) OVER w IS NULL OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), r AS (SELECT user_id, event_type, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM m), g AS (SELECT user_id, run_id, event_type, CAST(count(*) AS BIGINT) AS len FROM r GROUP BY 1, 2, 3) SELECT event_type, len, CAST(count(*) AS BIGINT) AS n_runs FROM g GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Trailing-5 rolling MEDIAN per user — the robust (outlier-immune)
    * complement to win_moving_avg. Spark has no exact percentile window
    * function, so the frame is materialized as a sorted 5-element array
    * (collect_list over ROWS 4 PRECEDING) and the median read off by
    * index; to stay integer-exact across engines the output is TWICE the
    * median in centi units (odd frame: 2·mid; even frame: the two middle
    * values' sum — exactly what DuckDB's interpolating median() doubles
    * to). Scale: the window partitions by user_id (one keyed shuffle) and
    * the per-row state is a bounded 5-element array — O(1) memory per row
    * regardless of corpus size. */
  private val winRollingMedian = GraftQuery(
    "win_rolling_median",
    "trailing-5 exact rolling median (2x, centi units) per user",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), centi(col("value")).as("vc"))
        .withColumn("arr", sort_array(collect_list("vc").over(w)))
        .withColumn("n", size(col("arr")))
        .select(col("user_id"), col("event_id"),
          when(col("n") % 2 === 1,
            element_at(col("arr"), ((col("n") + 1) / 2).cast("int")) * 2)
            .otherwise(
              element_at(col("arr"), (col("n") / 2).cast("int")) +
                element_at(col("arr"), (col("n") / 2 + 1).cast("int")))
            .as("med2c"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH v AS (SELECT user_id, event_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events) SELECT user_id, event_id, CAST(floor(2 * median(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 0.5) AS BIGINT) AS med2c FROM v ORDER BY 1, 2"""))

  /** Exact distinct users per event type via the mergeable BITMAP aggregate
    * (functions/expressions/BitmapDistinct.scala) — one pass, map-side
    * combined, partials at most maxId/8 bytes. The scale contrast:
    * count(DISTINCT) re-shuffles the corpus keyed on (group, id) via
    * Expand; approx_count_distinct (agg_hll_rollup) is one-pass but
    * estimates; dictionary-encoded bounded ids deserve one-pass AND exact.
    * The oracle is plain COUNT(DISTINCT) — exactness is the whole claim. */
  private val aggBitmapDistinct = GraftQuery(
    "agg_bitmap_distinct",
    "exact one-pass distinct users per event type via mergeable bitmap agg",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("graft_bitmap_distinct(user_id, 4194304)").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, count(*) AS n_events FROM events GROUP BY 1 ORDER BY 1"""))

  /** Seasonality profile: the 7×24 (day-of-week × hour) grid of event
    * count, average value, and the cell count's z-score against the grid
    * — the load-shape fingerprint behind anomaly baselines. Day-of-week
    * is derived by PORTABLE integer arithmetic on epoch days
    * ((days+4) mod 7, Sunday=0) rather than engine dayofweek conventions,
    * and the z-score is formed from exact integer grid sums
    * ((k·cnt−S1)/√(k·S2−S1²)) so no float accumulates across rows.
    * Scale: one 168-group map-side-combined agg over the fact, then a
    * broadcast scalar join. */
  private lazy val calSeasonality = GraftQuery(
    "cal_seasonality",
    "dow×hour event-count/value grid with exact-integer z-scores",
    (s, d) => {
      val us = unix_micros(col("ts"))
      val cells = Tables.events(s, d)
        .select(((floor(us / lit(86400000000L)) + 4) % 7).cast("int").as("dow"),
          (floor(us / lit(3600000000L)) % 24).cast("int").as("hr"),
          centi(col("value")).as("vc"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("vcs"))
      val tot = cells.agg(count(lit(1)).as("k"), sum("cnt").as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hr"), col("cnt"),
          fround(col("vcs").cast("double") / col("cnt") / 100.0, 4)
            .as("avg_value"),
          fround((col("k") * col("cnt") - col("s1")).cast("double") /
            sqrt((col("k") * col("s2") - col("s1") * col("s1")).cast("double")),
            4).as("count_z"))
        .orderBy("dow", "hr")
    },
    Some("""WITH ev AS (SELECT CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS INTEGER) AS dow, CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS INTEGER) AS hr, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), c AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(vc) AS BIGINT) AS vcs FROM ev GROUP BY 1, 2), t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(cnt) AS BIGINT) AS s1, CAST(sum(cnt * cnt) AS BIGINT) AS s2 FROM c) SELECT dow, hr, cnt, floor(CAST(vcs AS DOUBLE) / cnt / 100.0 * 1e4 + 0.5) / 1e4 AS avg_value, floor(CAST(k * cnt - s1 AS DOUBLE) / sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS count_z FROM c CROSS JOIN t ORDER BY 1, 2"""))

  /** Seasonal anomaly top-20: each event scored against ITS (dow, hour)
    * cell's mean/σ (the cal_seasonality baseline applied back to the
    * stream), ranked by |z|. The cell stats are exact integer sums
    * broadcast into the scoring pass, so every z is the same double in
    * both engines; the top-k is a TakeOrderedAndProject heap, never a
    * global sort. The anomaly-detection READ path over the profile the
    * grid query materializes. */
  private lazy val calSeasonalAnomaly = GraftQuery(
    "cal_seasonal_anomaly",
    "top-20 |z| events vs their dow×hour seasonal cell baseline",
    (s, d) => {
      val us = unix_micros(col("ts"))
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          ((floor(us / lit(86400000000L)) + 4) % 7).cast("int").as("dow"),
          (floor(us / lit(3600000000L)) % 24).cast("int").as("hr"),
          centi(col("value")).as("vc"))
      // a cell is a usable baseline only with ≥4 samples and positive
      // variance (integer-exact test); sparse-SF cells would otherwise
      // divide by σ=0
      val cells = ev.groupBy("dow", "hr")
        .agg(count(lit(1)).as("n"), sum("vc").as("s1"),
          sum(col("vc") * col("vc")).as("s2"))
        .filter(col("n") >= 4 &&
          col("n") * col("s2") > col("s1") * col("s1"))
      val mean = col("s1").cast("double") / col("n")
      ev.join(broadcast(cells), Seq("dow", "hr"))
        .select(col("event_id"), col("dow"), col("hr"),
          fround(col("vc").cast("double") / 100.0, 2).as("value"),
          fround((col("vc") - mean) /
            sqrt(col("s2").cast("double") / col("n") - mean * mean), 4)
            .as("z"))
        .orderBy(abs(col("z")).desc, col("event_id"))
        .limit(20)
    },
    Some("""WITH ev AS (SELECT event_id, CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS INTEGER) AS dow, CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS INTEGER) AS hr, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), c AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS n, CAST(sum(vc) AS BIGINT) AS s1, CAST(sum(vc * vc) AS BIGINT) AS s2 FROM ev GROUP BY 1, 2 HAVING count(*) >= 4 AND count(*) * sum(vc * vc) > sum(vc) * sum(vc)) SELECT * FROM (SELECT event_id, dow, hr, floor(CAST(vc AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS value, floor((vc - CAST(s1 AS DOUBLE) / n) / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) * 1e4 + 0.5) / 1e4 AS z FROM ev JOIN c USING (dow, hr)) ORDER BY abs(z) DESC, event_id LIMIT 20"""))

  /** WEIGHTED median per group (weight = the props JSON k field): the
    * smallest value whose cumulative weight reaches half the group's
    * total — the percentile family's missing member when rows carry
    * unequal mass (token counts, sampling weights). Selection compares
    * 2·cum ≥ total on exact integer weights over a (value, id) total
    * order, so the chosen row is engine-independent even through ties.
    * One group-keyed shuffle shared by both windows and the rank. */
  private lazy val aggWeightedMedian = GraftQuery(
    "agg_weighted_median",
    "per-type weighted median of value (weight = JSON props k)",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"), centi(col("value")).as("vc"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("wt"))
      val ord = Window.partitionBy("event_type").orderBy("vc", "event_id")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy("event_type")
      ev.withColumn("cw", sum("wt").over(cum))
        .withColumn("tot", sum("wt").over(whole))
        .filter(col("cw") * 2 >= col("tot"))
        .withColumn("rn", row_number().over(ord))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          fround(col("vc").cast("double") / 100.0, 2).as("w_median"),
          col("tot").as("total_weight"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc, TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS wt FROM events), c AS (SELECT *, sum(wt) OVER (PARTITION BY event_type ORDER BY vc, event_id ROWS UNBOUNDED PRECEDING) AS cw, sum(wt) OVER (PARTITION BY event_type) AS tot FROM ev), f AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vc, event_id) AS rn FROM c WHERE cw * 2 >= tot) SELECT event_type, floor(CAST(vc AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS w_median, CAST(tot AS BIGINT) AS total_weight FROM f WHERE rn = 1 ORDER BY 1"""))

  /** THEIL-T inequality decomposition of customer revenue by nation — the
    * additively decomposable inequality index (within + between sums to
    * total, which the spec verifies): per nation g, T_g = Σ_{i∈g}
    * (x_i/X_g)·ln(x_i·N_g/X_g), plus the nation's between-group term
    * (X_g/X)·ln((X_g/N_g)/(X/N)). The training-data relevance: the same
    * index audits token-contribution concentration across sources. The
    * per-customer Σ x·ln(·) rides as DECIMAL(38,0) micro-nat sums (x_i
    * reaches 1e8 centi-units, so BIGINT would overflow near sf1 — same
    * 128-bit pattern as the other wide micro sums); ln args are ratios of exact
    * integer products. Scale: one keyed rollup orders→customer (the
    * dominant shuffle), one customer→nation rollup, broadcast totals. */
  private lazy val aggTheil = GraftQuery(
    "agg_theil_decomposition",
    "Theil-T revenue inequality per nation: within + between components",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(sum(centi(col("o_totalprice"))).as("x"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("ng")),
          Seq("o_custkey"))
      val grp = cust.groupBy("ng")
        .agg(count(lit(1)).as("n_g"), sum("x").as("x_g"))
      val terms = cust.join(broadcast(grp), Seq("ng"))
        .select(col("ng"),
          floor(col("x") * log((col("x") * col("n_g")).cast("double") /
            col("x_g").cast("double")) * 1e4 + 0.5).cast("decimal(38,0)")
            .as("tm"))
        .groupBy("ng").agg(sum("tm").as("tsum"))
      val tot = grp.agg(sum("n_g").as("nn"), sum("x_g").as("xx"))
      grp.join(terms, Seq("ng")).crossJoin(broadcast(tot))
        .select(col("ng").as("nation"), col("n_g").as("n_customers"),
          fround(col("x_g").cast("double") / 100.0, 2).as("revenue"),
          fround(col("tsum").cast("double") / col("x_g").cast("double") / 1e4, 6)
            .as("theil_within"),
          fround((col("x_g").cast("double") / col("xx").cast("double")) *
            log((col("x_g") * col("nn")).cast("double") /
              (col("n_g") * col("xx")).cast("double")), 6).as("theil_between_term"))
        .orderBy("nation")
    },
    Some("""WITH cu AS (SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1), cust AS (SELECT cu.o_custkey, cu.x, c.c_nationkey AS ng FROM cu JOIN customer c ON c.c_custkey = cu.o_custkey), grp AS (SELECT ng, count(*) AS n_g, CAST(sum(x) AS BIGINT) AS x_g FROM cust GROUP BY 1), terms AS (SELECT ng, sum(CAST(floor(x * ln(CAST(x * n_g AS DOUBLE) / CAST(x_g AS DOUBLE)) * 1e4 + 0.5) AS HUGEINT)) AS tsum FROM cust JOIN grp USING (ng) GROUP BY 1), tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(x_g) AS BIGINT) AS xx FROM grp) SELECT ng AS nation, n_g AS n_customers, floor(CAST(x_g AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue, floor(CAST(tsum AS DOUBLE) / CAST(x_g AS DOUBLE) / 1e4 * 1e6 + 0.5) / 1e6 AS theil_within, floor((CAST(x_g AS DOUBLE) / CAST(xx AS DOUBLE)) * ln(CAST(x_g * nn AS DOUBLE) / CAST(n_g * xx AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS theil_between_term FROM grp JOIN terms USING (ng) CROSS JOIN tot ORDER BY 1"""))

  /** GINI COEFFICIENT of customer revenue per nation — the Lorenz-curve
    * concentration index next to agg_theil_decomposition's entropy one
    * (the two disagree-by-design on where inequality "lives"; shipping
    * both is the point). Rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n
    * over ascending revenue with the customer key as tiebreak, so the
    * rank-weighted sum is a DECIMAL(38,0) exact integer (i·x reaches
    * ~1e14 per row; BIGINT sums overflow near sf1) and the only float is
    * the final ratio. Scale: the per-customer rollup is the dominant
    * keyed shuffle; ranking partitions by nation. */
  private lazy val aggGini = GraftQuery(
    "agg_gini_coefficient",
    "per-nation Gini coefficient of customer revenue from exact rank sums",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(sum(centi(col("o_totalprice"))).as("x"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("ng")),
          Seq("o_custkey"))
      val w = Window.partitionBy("ng").orderBy(col("x"), col("o_custkey"))
      cust.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("ng")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("i").cast("decimal(38,0)") * col("x")).as("six"))
        .select(col("ng").as("nation"), col("n").as("n_customers"),
          fround(col("sx").cast("double") / 100.0, 2).as("revenue"),
          fround(lit(2.0) * col("six").cast("double") /
            (col("n") * col("sx")).cast("double") -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6)
            .as("gini"))
        .orderBy("nation")
    },
    Some("""WITH cu AS (SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1), cust AS (SELECT cu.o_custkey, cu.x, c.c_nationkey AS ng FROM cu JOIN customer c ON c.c_custkey = cu.o_custkey), rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY ng ORDER BY x, o_custkey) AS BIGINT) AS i FROM cust) SELECT ng AS nation, count(*) AS n_customers, floor(CAST(sum(x) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue, floor((2.0 * CAST(sum(CAST(i * x AS HUGEINT)) AS DOUBLE) / CAST(count(*) * sum(x) AS DOUBLE) - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gini FROM rk GROUP BY 1 ORDER BY 1"""))

  /** EXACT MEDIAN WITHOUT A GLOBAL SORT — the two-pass order-statistic
    * plan a distributed engine uses when `percentile_approx` isn't enough
    * and a full sort of the fact is unaffordable: pass 1 builds a coarse
    * bucket HISTOGRAM (one map-side-combinable agg) whose cumulative
    * counts locate the bucket holding each target rank; pass 2 ranks ONLY
    * the candidate bucket's rows (≈ n / n_buckets of the data) and reads
    * the k-th order statistic as bucket_offset + in-bucket row_number.
    * Medians are quantile_cont semantics: even-n groups average the two
    * middle values — both rank targets fall out of the same pass. Exact
    * centi-integer values end-to-end; only the final /100 rounds. */
  private val aggMedianTwopass = GraftQuery(
    "agg_median_twopass",
    "exact per-group median via bucket histogram + in-bucket rank only",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
        centi(col("l_extendedprice")).as("pc"))
      val withB = li.withColumn("b", expr("pc div 100000"))
      val hist = withB.groupBy("flag", "b").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("flag").orderBy("b")
      val cum = hist.withColumn("hi", sum("c").over(wc))
        .withColumn("lo", col("hi") - col("c"))
      val tot = hist.groupBy("flag").agg(sum("c").as("n"))
        .withColumn("k1", expr("(n + 1) div 2"))
        .withColumn("k2", expr("(n + 2) div 2"))
      // flag is an enum: tot is ≤|flags| rows at any scale — static hint
      val cand = cum.join(broadcast(tot.select("flag", "k1", "k2")), Seq("flag"))
        .filter((col("k1") > col("lo") && col("k1") <= col("hi")) ||
          (col("k2") > col("lo") && col("k2") <= col("hi")))
        .select(col("flag"), col("b"), col("lo"))
      val wr = Window.partitionBy("flag", "b").orderBy("pc")
      val picked = withB.join(broadcast(cand), Seq("flag", "b"))
        .withColumn("rk", col("lo") + row_number().over(wr))
        .join(broadcast(tot), Seq("flag"))
        .filter(col("rk") === col("k1") || col("rk") === col("k2"))
      picked.groupBy(col("flag"), col("n"))
        .agg(sum("pc").as("sv"), count(lit(1)).as("m"))
        .select(col("flag"), col("n"),
          fround(col("sv").cast("double") / col("m") / 100.0, 4)
            .as("median_price"))
        .orderBy("flag")
    },
    Some("""SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n, floor(median(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 * 1e4 + 0.5) / 1e4 AS median_price FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** CUPED variance reduction — the experimentation-stack workhorse
    * (Deng et al.'s controlled-experiment pre-period adjustment): each
    * user's post-period metric Y is debiased by their PRE-period metric
    * X via Y* = Y − θ(X − X̄), θ = cov(X,Y)/var(X), shrinking the
    * comparison's variance by exactly ρ² without touching the treatment
    * contrast. Assignment is the deterministic md5 coin; θ and ρ² come
    * from EXACT integer user-level moments (decimal-widened products, a
    * float appears only in the final divisions), so both engines land
    * the identical adjusted means. One user-keyed aggregation + two
    * tiny moment rollups. */
  private val evtUpliftCuped = GraftQuery(
    "evt_uplift_cuped",
    "CUPED adjusted variant means + realized variance reduction (rho^2)",
    (s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          sum(when(col("ts") < cut, centi(col("value"))).otherwise(0L)).as("x"),
          sum(when(col("ts") >= cut, centi(col("value"))).otherwise(0L)).as("y"))
        .withColumn("variant",
          (md5u32(col("user_id").cast("string")) % 2).cast("int"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val g = users.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
      val cov = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
        .cast("double")
      val vx = (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
        .cast("double")
      val vy = (dec(col("n")) * col("syy") - dec(col("sy")) * col("sy"))
        .cast("double")
      val gg = g.select(col("n"), col("sx"),
        (cov / vx).as("theta"), (cov * cov / (vx * vy)).as("rho2"))
      users.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("x").as("sxv"),
          sum("y").as("syv"))
        .crossJoin(broadcast(gg))
        .select(col("variant"), col("n_users"),
          fround(col("syv").cast("double") / col("n_users") / 100.0, 4)
            .as("mean_y"),
          fround((col("syv").cast("double") / col("n_users") -
            col("theta") * (col("sxv").cast("double") / col("n_users") -
              col("sx").cast("double") / col("n"))) / 100.0, 4)
            .as("mean_y_adj"),
          fround(col("theta"), 6).as("theta"),
          fround(col("rho2"), 6).as("var_reduction"))
        .orderBy("variant")
    },
    Some(s"""WITH u AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y, CAST(${graft.functions.GraftFunctions.md5u32Sql("md5(CAST(user_id AS VARCHAR))")} % 2 AS INTEGER) AS variant FROM events GROUP BY user_id), g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy FROM u), gg AS (SELECT n, sx, CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS theta, CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) * CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS rho2 FROM g), v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users, CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv FROM u GROUP BY 1) SELECT variant, n_users, floor(CAST(syv AS DOUBLE) / n_users / 100.0 * 1e4 + 0.5) / 1e4 AS mean_y, floor((CAST(syv AS DOUBLE) / n_users - theta * (CAST(sxv AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n)) / 100.0 * 1e4 + 0.5) / 1e4 AS mean_y_adj, floor(theta * 1e6 + 0.5) / 1e6 AS theta, floor(rho2 * 1e6 + 0.5) / 1e6 AS var_reduction FROM v, gg ORDER BY variant"""))

  /** QUANTILE SEMANTICS side-by-side — percentile_disc (the smallest
    * actual value whose cumulative share reaches q) vs percentile_cont
    * (linear interpolation), both spelled EXPLICITLY from ranks so the
    * semantics are pinned rather than inherited from either engine's
    * builtin: disc = value at rank ⌈q·n⌉; cont interpolates ranks
    * ⌊(n−1)q⌋+1 and its successor with the EXACT integer remainder
    * (v_lo·(100−rem) + v_hi·rem)/100 — no float position arithmetic, so
    * the 4dp outputs are bit-stable. One keyed window ranks each type's
    * values; the three target ranks join back broadcast. */
  private val aggQuantileSemantics = GraftQuery(
    "agg_quantile_semantics",
    "percentile_disc vs percentile_cont per type, exact rank arithmetic",
    (s, d) => {
      import s.implicits._
      // De-bulked r15 (guide §2.3 aggregate-before-shuffle): ranking
      // every ROW to pick 9 order statistics shuffled and sorted the
      // whole fact; value-at-rank r is equally the unique v whose
      // cumulative count first reaches r, so rank over the DISTINCT
      // (type, value) table with per-value counts — the window input
      // shrinks from corpus rows to bounded distinct values (~2x here,
      // unbounded-vs-bounded at scale) and the map-side combine does the
      // heavy lifting in the scan stage. Same outputs bit-for-bit: the
      // cum-interval predicate (cum-cnt < r <= cum) selects exactly the
      // rank-r value the row_number filter selected.
      val ev = Tables.events(s, d)
        .select(col("event_type"), centi(col("value")).as("v"))
      val byV = ev.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byV.withColumn("cum", sum("cnt").over(wCum))
      val counts = byV.groupBy("event_type").agg(sum("cnt").as("n"))
      val targets = counts
        .crossJoin(broadcast(Seq(25, 50, 75).toDF("q")))
        .withColumn("disc_rank", expr("(q * n + 99) div 100"))
        .withColumn("lo_rank", expr("((n - 1) * q) div 100 + 1"))
        .withColumn("rem", expr("((n - 1) * q) % 100"))
        .withColumn("hi_rank",
          col("lo_rank") + when(col("rem") > 0, 1L).otherwise(0L))
      def atRank(r: Column): Column =
        min(when(col("cum") - col("cnt") < r && col("cum") >= r, col("v")))
      cum.join(broadcast(targets), Seq("event_type"))
        .groupBy("event_type", "q", "rem")
        .agg(
          atRank(col("disc_rank")).as("vd"),
          atRank(col("lo_rank")).as("vlo"),
          atRank(col("hi_rank")).as("vhi"))
        .select(col("event_type"), col("q"),
          fround(col("vd").cast("double") / 100.0, 4).as("disc_value"),
          fround((col("vlo") * (lit(100L) - col("rem")) +
            col("vhi") * col("rem")).cast("double") / 100.0 / 100.0, 4)
            .as("cont_value"))
        .orderBy("event_type", "q")
    },
    Some("""WITH ev AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events), rk AS (SELECT event_type, v, CAST(row_number() OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS rn FROM ev), c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1), tg AS (SELECT event_type, q, (q * n + 99) // 100 AS disc_rank, ((n - 1) * q) // 100 + 1 AS lo_rank, ((n - 1) * q) % 100 AS rem, ((n - 1) * q) // 100 + 1 + (CASE WHEN ((n - 1) * q) % 100 > 0 THEN 1 ELSE 0 END) AS hi_rank FROM c, (SELECT unnest([25, 50, 75]) AS q)), j AS (SELECT rk.event_type, q, rem, min(CASE WHEN rn = disc_rank THEN v END) AS vd, min(CASE WHEN rn = lo_rank THEN v END) AS vlo, min(CASE WHEN rn = hi_rank THEN v END) AS vhi FROM rk JOIN tg ON rk.event_type = tg.event_type AND (rn = disc_rank OR rn = lo_rank OR rn = hi_rank) GROUP BY 1, 2, 3) SELECT event_type, CAST(q AS INTEGER) AS q, floor(CAST(vd AS DOUBLE) / 100.0 * 1e4 + 0.5) / 1e4 AS disc_value, floor(CAST(vlo * (100 - rem) + vhi * rem AS DOUBLE) / 100.0 / 100.0 * 1e4 + 0.5) / 1e4 AS cont_value FROM j ORDER BY 1, 2"""))

  val all: Seq[GraftQuery] = Seq(
    aggMedianTwopass, evtUpliftCuped, aggQuantileSemantics, calSeasonality,
    calSeasonalAnomaly, aggWeightedMedian, winSession, winLagLead,
    aggPercentiles, aggCorr, jSkewSalted, aggStatsOnepass, aggPivot,
    winSessionNative, aggApproxPercentile, aggArgExtremes, aggMapHistogram,
    aggMultiDistinct, aggHllRollup, evtRetention, evtZscore, evtTransitions,
    evtEwma, evtRunLengths, winRollingMedian, aggBitmapDistinct,
    aggBitmapOverlap, aggTheil, aggGini, winRollingCorr,
    winSessionSensitivity, calWeekOverWeek, aggParetoRatio, aggAnovaF,
    aggSkewKurtosis, aggPythagoreanMeans, winOnlineScaling,
    evtPeriodicityAcf, evtRetentionHalflife, aggHhi)

  /** HERFINDAHL-HIRSCHMAN INDEX of supplier revenue concentration per
    * nation — the antitrust-style market-structure read next to the
    * household-style Gini/Theil/Pareto: HHI = Σ shareᵢ² over each
    * nation's suppliers, in the conventional 0–10,000 points. Shares
    * square as exact integer basis points BEFORE the sum (Σ(bp)²/1e4
    * instead of float share sums), so the index is bit-stable; the
    * equivalent-competitor count 1/HHI comes free. Supplier revenue =
    * lineitem extendedprice rolled to l_suppkey — the same fact shuffle
    * the TPC-H supplier queries pay. */
  private lazy val aggHhi = GraftQuery(
    "agg_hhi_market",
    "per-nation supplier-revenue HHI (points) + equivalent competitors",
    (s, d) => {
      val supRev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(centi(col("l_extendedprice"))).as("rev"))
        .join(Tables.supplier(s, d)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("ng")),
          Seq("l_suppkey"))
      val tot = supRev.groupBy("ng").agg(sum("rev").as("trev"))
      val bp = supRev.join(broadcast(tot), Seq("ng"))
        .select(col("ng"),
          expr("(rev * 10000) div trev").as("bp")) // share in basis points
      bp.groupBy("ng")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("bp") * col("bp")).as("sbp2"))
        .select(col("ng").as("nation"), col("n_suppliers"),
          fround(col("sbp2").cast("double") / 1e4, 2).as("hhi_points"),
          when(col("sbp2") > 0,
            fround(lit(1e8) / col("sbp2").cast("double"), 2))
            .as("equiv_competitors"))
        .orderBy("nation")
    },
    Some("""WITH sr AS (SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev FROM lineitem GROUP BY 1), an AS (SELECT sr.l_suppkey, sr.rev, s.s_nationkey AS ng FROM sr JOIN supplier s ON s.s_suppkey = sr.l_suppkey), t AS (SELECT ng, CAST(sum(rev) AS BIGINT) AS trev FROM an GROUP BY 1), bp AS (SELECT an.ng, (rev * 10000) // trev AS bp FROM an JOIN t ON an.ng = t.ng) SELECT ng AS nation, count(*) AS n_suppliers, floor(CAST(sum(bp * bp) AS DOUBLE) / 1e4 * 1e2 + 0.5) / 1e2 AS hhi_points, CASE WHEN sum(bp * bp) > 0 THEN floor(1e8 / CAST(sum(bp * bp) AS DOUBLE) * 1e2 + 0.5) / 1e2 END AS equiv_competitors FROM bp GROUP BY 1 ORDER BY 1"""))

  /** RETENTION HALF-LIFE: fit ln(retention) = α − λ·offset over the
    * pooled day-offset retention rates (offsets ≥ 1, rate > 0) and
    * report λ and t½ = ln 2/λ — the one-number summary of the whole
    * retention matrix (evt_retention is the full triangle; this is the
    * model fit a dashboard headline shows). Per-offset rates come from
    * exact integer active/cohort counts; ln terms micro-floor before
    * the ≤|max offset| OLS sums. */
  private lazy val evtRetentionHalflife = GraftQuery(
    "evt_retention_halflife",
    "exponential-decay fit of pooled retention: lambda + half-life days",
    (s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val coh = act
        .withColumn("cohort", min("day").over(Window.partitionBy("user_id")))
        .withColumn("off", datediff(col("day"), col("cohort")).cast("long"))
      val pooled = coh.groupBy("off").agg(count(lit(1)).as("n_active"))
      val base = pooled.filter(col("off") === 0)
        .select(col("n_active").as("n0"))
      val pts = pooled.filter(col("off") >= 1).crossJoin(broadcast(base))
        .filter(col("n_active") > 0)
        .select(col("off").as("x"),
          floor(log(col("n_active").cast("double") / col("n0").cast("double")) *
            1e6 + 0.5).cast("long").as("ym"))
      val fit = pts.agg(count(lit(1)).as("m"), sum("x").as("sx"),
          sum("ym").as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("ym")).as("sxy"))
        .select(col("m").as("n_offsets"),
          fround(-(col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double") / 1e6, 6)
            .as("lambda_per_day"))
      fit.select(col("n_offsets"), col("lambda_per_day"),
        when(col("lambda_per_day") > 0,
          fround(lit(math.log(2.0)) / col("lambda_per_day"), 2))
          .as("half_life_days"))
    },
    Some(s"""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort FROM act), o AS (SELECT CAST(date_diff('day', cohort, day) AS BIGINT) AS off, count(*) AS n_active FROM c GROUP BY 1), b AS (SELECT n_active AS n0 FROM o WHERE off = 0), p AS (SELECT off AS x, CAST(floor(ln(CAST(n_active AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ym FROM o CROSS JOIN b WHERE off >= 1 AND n_active > 0), f AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(ym) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * ym) AS BIGINT) AS sxy FROM p), l AS (SELECT m AS n_offsets, floor(-CAST(m * sxy - sx * sy AS DOUBLE) / CAST(m * sxx - sx * sx AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS lambda_per_day FROM f) SELECT n_offsets, lambda_per_day, CASE WHEN lambda_per_day > 0 THEN floor(${math.log(2.0)} / lambda_per_day * 1e2 + 0.5) / 1e2 END AS half_life_days FROM l"""))

  /** ONLINE MIN-MAX SCALING — the leakage-free feature-normalization a
    * streaming feature store applies: each event's value scaled by the
    * min/max of the user's OWN HISTORY UP TO THAT EVENT (expanding
    * frame), never by future data — the train-serving-skew-safe form of
    * batch normalization. First events (degenerate range) surface NULL.
    * Output is the per-user audit (events, distinct scaled values, mean
    * scaled) rather than 100k scaled rows. Everything before the final
    * ratio is integer; the scaled mean rides micro-int sums. */
  private lazy val winOnlineScaling = GraftQuery(
    "win_online_scaling",
    "expanding-window min-max scaling audit per user (leakage-free)",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scaled = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          centi(col("value")).as("x"))
        .withColumn("mn", min("x").over(w))
        .withColumn("mx", max("x").over(w))
        .withColumn("sc", when(col("mx") > col("mn"),
          floor((col("x") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * 1e6 + 0.5).cast("long")))
      scaled.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("sc").isNull, 1L).otherwise(0L)).as("n_degenerate"),
          sum(coalesce(col("sc"), lit(0L))).as("ss"))
        .select(col("user_id"), col("n_events"), col("n_degenerate"),
          fround(col("ss").cast("double") /
            ((col("n_events") - col("n_degenerate")) * 1e6), 4)
            .as("mean_scaled"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events), r AS (SELECT *, min(x) OVER w AS mn, max(x) OVER w AS mx FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), sc AS (SELECT user_id, CASE WHEN mx > mn THEN CAST(floor(CAST(x - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END AS sc FROM r) SELECT user_id, count(*) AS n_events, CAST(sum(CASE WHEN sc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate, floor(CAST(sum(coalesce(sc, 0)) AS DOUBLE) / ((count(*) - sum(CASE WHEN sc IS NULL THEN 1 ELSE 0 END)) * 1000000.0) * 1e4 + 0.5) / 1e4 AS mean_scaled FROM sc GROUP BY 1 ORDER BY 1"""))

  /** PERIODICITY DETECTION via the autocorrelation function of the daily
    * value series at lags 1–14: the argmax lag (ties to the smaller lag)
    * is the detected period — evt_autocorr's single lag swept into a
    * spectrum. The daily series is ~|corpus days| rows, so the lag
    * "join" is a broadcast self-meet of a tiny table; all Pearson
    * moments are exact integers per lag. */
  private lazy val evtPeriodicityAcf = GraftQuery(
    "evt_periodicity_acf",
    "ACF over lags 1-14 of daily totals + detected period (argmax lag)",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("t"))
        .agg(sum(centi(col("value"))).as("y"))
      val lags = daily.select(col("t"), col("y"))
        .withColumn("lag", explode(sequence(lit(1L), lit(14L))))
        .select(col("lag"), (col("t") + col("lag")).as("t"), col("y").as("x"))
      val paired = lags.join(daily, Seq("t"))
      val acf = paired.groupBy("lag")
        .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .withColumn("rm",
          floor((col("m") * col("sxy") - col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
            sqrt((col("m") * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx")).cast("double") *
              (col("m") * col("syy") - col("sy").cast("decimal(38,0)") * col("sy")).cast("double")) * 1e6 + 0.5)
            .cast("long"))
      acf
        .withColumn("is_peak", row_number().over(
          Window.orderBy(desc("rm"), col("lag"))) === 1)
        .select(col("lag"), col("m").as("n_pairs"),
          fround(col("rm").cast("double") / 1e6, 6).as("acf"),
          col("is_peak"))
        .orderBy("lag")
    },
    Some("""WITH daily AS (SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1), lg AS (SELECT l AS lag, t + l AS t, y AS x FROM daily, (SELECT unnest(generate_series(1, 14)) AS l)), pr AS (SELECT lg.lag, lg.x, d.y FROM lg JOIN daily d USING (t)), a AS (SELECT lag, CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(y AS HUGEINT) * y) AS syy FROM pr GROUP BY 1), r AS (SELECT lag, m, CAST(floor(CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / sqrt(CAST(m * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * CAST(m * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rm FROM a) SELECT lag, m AS n_pairs, floor(CAST(rm AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS acf, row_number() OVER (ORDER BY rm DESC, lag) = 1 AS is_peak FROM r ORDER BY lag"""))

  /** The three PYTHAGOREAN MEANS per event type — arithmetic (exact
    * centi), geometric (exp of the mean micro-nat ln — rate-of-change
    * averaging), harmonic (reciprocal micro-units — rate averaging) —
    * with the AM ≥ GM ≥ HM inequality as the spec's invariant. Zero and
    * negative values are excluded (GM/HM domain) and counted. ln and 1/x
    * ride per-row floor-rounded integers before EXACT sums (lpPerDoc
    * discipline; same accepted libm-ulp note), so partial-aggregation
    * order never shows. */
  private lazy val aggPythagoreanMeans = GraftQuery(
    "agg_pythagorean_means",
    "arithmetic/geometric/harmonic means per type from exact integer sums",
    (s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"), centi(col("value")).as("x"))
        .filter(col("x") > 0)
        .select(col("event_type"), col("x"),
          floor(log(col("x").cast("double") / 100.0) * 1e6 + 0.5).cast("long")
            .as("lnm"),
          floor(lit(1e9) / (col("x").cast("double") / 100.0) + 0.5).cast("long")
            .as("invn"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("lnm").as("sl"),
          sum("invn").as("si"))
      g.select(col("event_type"), col("n").as("n_pos"),
        fround(col("sx").cast("double") / col("n") / 100.0, 4).as("mean_arith"),
        fround(exp(col("sl").cast("double") / (col("n") * 1e6)), 4).as("mean_geom"),
        fround(col("n").cast("double") * 1e9 / col("si").cast("double"), 4)
          .as("mean_harmonic"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(CAST(floor(ln(CAST(x AS DOUBLE) / 100.0) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sl, CAST(sum(CAST(floor(1000000000.0 / (CAST(x AS DOUBLE) / 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS si FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events) WHERE x > 0 GROUP BY 1) SELECT event_type, n AS n_pos, floor(CAST(sx AS DOUBLE) / n / 100.0 * 1e4 + 0.5) / 1e4 AS mean_arith, floor(exp(CAST(sl AS DOUBLE) / (n * 1000000.0)) * 1e4 + 0.5) / 1e4 AS mean_geom, floor(CAST(n AS DOUBLE) * 1000000000.0 / CAST(si AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_harmonic FROM g ORDER BY 1"""))

  /** SKEWNESS and EXCESS KURTOSIS per event type — the 3rd/4th
    * standardized moments completing the moment family (mean/variance in
    * agg_stats_onepass, correlation in agg_corr_exact): heavy-tail and
    * asymmetry detection for value distributions. All four raw power sums
    * ride exact integers (x³/x⁴ in DECIMAL(38,0) — centi values to the
    * 4th power clear 2^63 immediately), central moments come from the
    * standard raw-to-central identities spelled in ONE fixed operand
    * order, floats only at the edge. One map-side-combined pass. */
  private lazy val aggSkewKurtosis = GraftQuery(
    "agg_skew_kurtosis",
    "per-type skewness + excess kurtosis from exact integer power sums",
    (s, d) => {
      val x = col("x").cast("decimal(38,0)")
      val g = Tables.events(s, d)
        .select(col("event_type"), centi(col("value")).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s1"),
          sum(x * col("x")).as("s2"), sum(x * col("x") * col("x")).as("s3"),
          sum(x * col("x") * col("x") * col("x")).as("s4"))
      val n = col("n").cast("double")
      val m1 = col("s1").cast("double") / n
      val m2 = col("s2").cast("double") / n - m1 * m1
      val m3 = col("s3").cast("double") / n - lit(3.0) * m1 * (col("s2").cast("double") / n) +
        lit(2.0) * m1 * m1 * m1
      val m4 = col("s4").cast("double") / n - lit(4.0) * m1 * (col("s3").cast("double") / n) +
        lit(6.0) * m1 * m1 * (col("s2").cast("double") / n) - lit(3.0) * m1 * m1 * m1 * m1
      g.select(col("event_type"), col("n").as("n_events"),
        fround(m3 / sqrt(m2 * m2 * m2), 6).as("skewness"),
        fround(m4 / (m2 * m2) - lit(3.0), 6).as("excess_kurtosis"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s1, sum(CAST(x AS HUGEINT) * x) AS s2, sum(CAST(x AS HUGEINT) * x * x) AS s3, sum(CAST(x AS HUGEINT) * x * x * x) AS s4 FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events) GROUP BY 1), m AS (SELECT event_type, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1, CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2, CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3, CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM g), c AS (SELECT event_type, n, r2 - m1 * m1 AS m2, r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3, r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 - 3.0 * m1 * m1 * m1 * m1 AS m4 FROM m) SELECT event_type, n AS n_events, floor(m3 / sqrt(m2 * m2 * m2) * 1e6 + 0.5) / 1e6 AS skewness, floor((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6 AS excess_kurtosis FROM c ORDER BY 1"""))

  /** ONE-WAY ANOVA of value by event type — the between/within variance
    * decomposition and its F statistic, the mean-difference test next to
    * the distribution-level KS/PSI/χ² drift family. Each group's
    * (Σx)²/n_g term is an exact-rational double floored to integer
    * deci-micro units BEFORE the cross-group sum (5-term float addition
    * has no fixed order in a distributed agg; integer sums do). η² =
    * SSB/SST reports effect size alongside F. */
  private lazy val aggAnovaF = GraftQuery(
    "agg_anova_f",
    "one-way ANOVA F and eta-squared of value across event types",
    (s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"), centi(col("value")).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum("x").as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      val terms = g.select(col("ng"), col("sx"), col("sxx"),
        floor((col("sx").cast("decimal(38,0)") * col("sx")).cast("double") /
          col("ng").cast("double") * 1e4 + 0.5).cast("decimal(38,0)").as("tm"))
      terms
        .agg(count(lit(1)).as("k"), sum("ng").as("nn"), sum("sx").as("sxt"),
          sum("sxx").as("sxxt"), sum("tm").as("tms"))
        .select(col("k"), col("nn").as("n_rows"),
          fround({
            val sst = col("sxxt").cast("double") -
              (col("sxt").cast("decimal(38,0)") * col("sxt")).cast("double") /
                col("nn").cast("double")
            val ssb = col("tms").cast("double") / 1e4 -
              (col("sxt").cast("decimal(38,0)") * col("sxt")).cast("double") /
                col("nn").cast("double")
            val ssw = col("sxxt").cast("double") - col("tms").cast("double") / 1e4
            (ssb / (col("k") - 1).cast("double")) /
              (ssw / (col("nn") - col("k")).cast("double"))
          }, 4).as("f_stat"),
          fround({
            val sst = col("sxxt").cast("double") -
              (col("sxt").cast("decimal(38,0)") * col("sxt")).cast("double") /
                col("nn").cast("double")
            val ssb = col("tms").cast("double") / 1e4 -
              (col("sxt").cast("decimal(38,0)") * col("sxt")).cast("double") /
                col("nn").cast("double")
            ssb / sst
          }, 6).as("eta_squared"))
    },
    Some("""WITH g AS (SELECT event_type, count(*) AS ng, CAST(sum(x) AS BIGINT) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events) GROUP BY 1), t AS (SELECT ng, sx, sxx, CAST(floor(CAST(CAST(sx AS HUGEINT) * sx AS DOUBLE) / CAST(ng AS DOUBLE) * 1e4 + 0.5) AS HUGEINT) AS tm FROM g), a AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS nn, CAST(sum(sx) AS BIGINT) AS sxt, sum(sxx) AS sxxt, sum(tm) AS tms FROM t) SELECT k, nn AS n_rows, floor(((CAST(tms AS DOUBLE) / 1e4 - CAST(CAST(sxt AS HUGEINT) * sxt AS DOUBLE) / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) / ((CAST(sxxt AS DOUBLE) - CAST(tms AS DOUBLE) / 1e4) / CAST(nn - k AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS f_stat, floor((CAST(tms AS DOUBLE) / 1e4 - CAST(CAST(sxt AS HUGEINT) * sxt AS DOUBLE) / CAST(nn AS DOUBLE)) / (CAST(sxxt AS DOUBLE) - CAST(CAST(sxt AS HUGEINT) * sxt AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS eta_squared FROM a"""))

  /** PARETO concentration read: the revenue share held by the top 10% and
    * top 20% of customers — the canonical "80/20" statement next to the
    * Gini/Theil indexes. Rank cutoffs are ceil(k·n/10) spelled with
    * positive-only integer division; cumulative and total sums are exact
    * BIGINTs off ONE ranked window pass; shares are the only floats.
    * The global ranking runs over the customer rollup (orders of
    * magnitude below the fact). */
  private lazy val aggParetoRatio = GraftQuery(
    "agg_pareto_ratio",
    "revenue share of the top-10% and top-20% customers (exact rank sums)",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(sum(centi(col("o_totalprice"))).as("x"))
      val w = Window.orderBy(desc("x"), col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = cust.agg(count(lit(1)).as("n"), sum("x").as("xx"))
      cust
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("x"), col("o_custkey"))).cast("long"))
        .withColumn("cum", sum("x").over(w))
        .crossJoin(broadcast(tot))
        .groupBy("n", "xx")
        .agg(max(when(col("rk") === expr("(n + 9) div 10"), col("cum")))
          .as("c10"),
          max(when(col("rk") === expr("(2 * n + 9) div 10"), col("cum")))
            .as("c20"))
        .select(col("n").as("n_customers"),
          fround(col("xx").cast("double") / 100.0, 2).as("revenue"),
          fround(col("c10").cast("double") / col("xx").cast("double"), 4)
            .as("top10_share"),
          fround(col("c20").cast("double") / col("xx").cast("double"), 4)
            .as("top20_share"))
    },
    Some("""WITH cu AS (SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1), rk AS (SELECT *, CAST(row_number() OVER (ORDER BY x DESC, o_custkey) AS BIGINT) AS rk, CAST(sum(x) OVER (ORDER BY x DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, CAST(count(*) OVER () AS BIGINT) AS n, CAST(sum(x) OVER () AS BIGINT) AS xx FROM cu) SELECT n AS n_customers, floor(CAST(xx AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue, floor(CAST(max(CASE WHEN rk = (n + 9) // 10 THEN cum END) AS DOUBLE) / CAST(xx AS DOUBLE) * 1e4 + 0.5) / 1e4 AS top10_share, floor(CAST(max(CASE WHEN rk = (2 * n + 9) // 10 THEN cum END) AS DOUBLE) / CAST(xx AS DOUBLE) * 1e4 + 0.5) / 1e4 AS top20_share FROM rk GROUP BY n, xx"""))

  /** SESSION-GAP sensitivity curve: session counts and mean lengths at
    * gap thresholds 5/15/30/60 min from ONE user-keyed lag pass — the
    * dedup_threshold_curve pattern applied to sessionization (pick the
    * gap by reading the curve, not by re-running the pipeline per
    * candidate). Each threshold's session count is just the sum of
    * integer new-session indicators over the SAME gap column; no window
    * or shuffle is repeated per threshold. */
  private lazy val winSessionSensitivity = {
    val gapsMin = Seq(5L, 15L, 30L, 60L)
    GraftQuery(
      "win_session_sensitivity",
      "session count/mean-length at 5/15/30/60-min gaps from one lag pass",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val lagged = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("gap", col("us") - lag("us", 1).over(w))
        val n = lagged.agg(count(lit(1)).as("n_events"))
        val curves = gapsMin.map { g =>
          lagged.agg(sum(when(col("gap").isNull ||
              col("gap") > g * 60L * 1000000L, 1L).otherwise(0L)).as("n_sessions"))
            .crossJoin(broadcast(n))
            .select(lit(g).as("gap_min"), col("n_sessions"),
              fround(col("n_events").cast("double") / col("n_sessions"), 3)
                .as("mean_events_per_session"))
        }
        curves.reduce(_.unionByName(_)).orderBy("gap_min")
      },
      Some("WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), l AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM ev), t AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM l) " +
        gapsMin.map(g =>
          s"SELECT CAST($g AS BIGINT) AS gap_min, CAST(sum(CASE WHEN gap IS NULL OR gap > ${g * 60L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, floor(CAST((SELECT n_events FROM t) AS DOUBLE) / sum(CASE WHEN gap IS NULL OR gap > ${g * 60L * 1000000L} THEN 1 ELSE 0 END) * 1e3 + 0.5) / 1e3 AS mean_events_per_session FROM l")
          .mkString(" UNION ALL ") + " ORDER BY gap_min"))
  }

  /** Week-over-week change: weekly per-type event counts and value totals
    * with the previous week's via lag, the growth-rate read every metrics
    * dashboard serves. Weeks are Monday-anchored date_trunc in BOTH
    * engines; first weeks surface NULL change. One keyed rollup + one
    * type-partitioned lag. */
  private lazy val calWeekOverWeek = GraftQuery(
    "cal_week_over_week",
    "weekly per-type totals with week-over-week percent change",
    (s, d) => {
      val weekly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"), sum(centi(col("value"))).as("vc"))
      val w = Window.partitionBy("event_type").orderBy("week")
      weekly
        .withColumn("pn", lag("n", 1).over(w))
        .withColumn("pv", lag("vc", 1).over(w))
        .select(col("event_type"), col("week"), col("n").as("n_events"),
          fround(col("vc").cast("double") / 100.0, 2).as("total_value"),
          fround((col("n") - col("pn")).cast("double") /
            col("pn").cast("double") * 100.0, 4).as("wow_count_pct"),
          fround((col("vc") - col("pv")).cast("double") /
            col("pv").cast("double") * 100.0, 4).as("wow_value_pct"))
        .orderBy("event_type", "week")
    },
    Some("""WITH wk AS (SELECT event_type, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week, count(*) AS n, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc FROM events GROUP BY 1, 2), l AS (SELECT *, lag(n) OVER w AS pn, lag(vc) OVER w AS pv FROM wk WINDOW w AS (PARTITION BY event_type ORDER BY week)) SELECT event_type, week, n AS n_events, floor(CAST(vc AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value, floor(CAST(n - pn AS DOUBLE) / CAST(pn AS DOUBLE) * 100.0 * 1e4 + 0.5) / 1e4 AS wow_count_pct, floor(CAST(vc - pv AS DOUBLE) / CAST(pv AS DOUBLE) * 100.0 * 1e4 + 0.5) / 1e4 AS wow_value_pct FROM l ORDER BY 1, 2"""))

  /** 7-day ROLLING correlation between the click and purchase daily value
    * series — "are these metrics moving together this week" — from exact
    * integer sums inside one ROWS frame (count, Σx, Σy, Σxy, Σx², Σy²
    * over centi-units), the windowed form of agg_corr_exact/evt_autocorr:
    * the Pearson ratio is the only float, spelled identically in both
    * engines, and undefined windows (zero variance) surface as NULL. The
    * frame runs over the ~|corpus days| daily table (audited-benign
    * unpartitioned window — the day series is one global sequence). */
  private lazy val winRollingCorr = GraftQuery(
    "win_rolling_corr",
    "7-day rolling Pearson r between click and purchase daily totals",
    (s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", centi(col("value")))
          .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", centi(col("value")))
            .otherwise(0L)).as("y"))
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      // second moments in DECIMAL(38,0): daily centi-totals square past
      // 2^63 around sf100 (the repo-wide windowed-moment rule)
      def dec(c: Column) = c.cast("decimal(38,0)")
      val num = (dec(col("m")) * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
      val den = sqrt((dec(col("m")) * col("sxx") - dec(col("sx")) * col("sx")).cast("double") *
        (dec(col("m")) * col("syy") - dec(col("sy")) * col("sy")).cast("double"))
      daily
        .withColumn("m", count(lit(1)).over(w))
        .withColumn("sx", sum("x").over(w)).withColumn("sy", sum("y").over(w))
        .withColumn("sxy", sum(dec(col("x")) * col("y")).over(w))
        .withColumn("sxx", sum(dec(col("x")) * col("x")).over(w))
        .withColumn("syy", sum(dec(col("y")) * col("y")).over(w))
        .filter(col("m") === 7)
        .select(col("day"), col("m").as("n_days"),
          when(den > 0, fround(num / den, 6)).as("r7"))
        .orderBy("day")
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(sum(CASE WHEN event_type = 'click' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), r AS (SELECT day, CAST(count(*) OVER w AS HUGEINT) AS m, CAST(sum(x) OVER w AS HUGEINT) AS sx, CAST(sum(y) OVER w AS HUGEINT) AS sy, CAST(sum(CAST(x AS HUGEINT) * y) OVER w AS HUGEINT) AS sxy, CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS sxx, CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS syy FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) SELECT day, CAST(m AS BIGINT) AS n_days, CASE WHEN sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)) > 0 THEN floor(CAST(m * sxy - sx * sy AS DOUBLE) / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6 END AS r7 FROM r WHERE m = 7 ORDER BY day"""))

  /** Exact AUDIENCE OVERLAP matrix across event-type segments via bitmap
    * intersection: each segment's user bitmap is built in the same single
    * corpus pass as agg_bitmap_distinct (graft_bitmap_agg emits the
    * serialized bitmap instead of its cardinality), then every pairwise
    * |A ∩ B| is a bitwise AND on the 5 aggregated rows — the "how many
    * users did both X and Y" primitive that otherwise costs a
    * distinct-pair self-join of the corpus per segment pair. Scale: one
    * corpus pass total; the pair matrix is segments², corpus-free. */
  private lazy val aggBitmapOverlap = GraftQuery(
    "agg_bitmap_overlap",
    "exact audience overlap across event-type segments via bitmap AND",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      val segs = Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("graft_bitmap_agg(user_id, 4194304)").as("bm"),
          expr("graft_bitmap_distinct(user_id, 4194304)").as("n"))
      val a = segs.select(col("event_type").as("t1"), col("bm").as("b1"),
        col("n").as("n1"))
      val b = segs.select(col("event_type").as("t2"), col("bm").as("b2"),
        col("n").as("n2"))
      a.join(b, col("t1") < col("t2"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          expr("graft_bitmap_and_count(b1, b2)").as("n_overlap"))
        .orderBy("t1", "t2")
    },
    Some("""WITH s AS (SELECT DISTINCT event_type, user_id FROM events), c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1), ov AS (SELECT a.event_type AS t1, b.event_type AS t2, CAST(count(*) AS BIGINT) AS n_overlap FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2) SELECT t1, t2, c1.n AS n1, c2.n AS n2, ov.n_overlap FROM ov JOIN c c1 ON c1.event_type = ov.t1 JOIN c c2 ON c2.event_type = ov.t2 ORDER BY 1, 2"""))
}
