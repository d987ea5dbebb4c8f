package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions.{centi, fround}

/** Temporal/event-history operators beyond the reference's rollups (the
  * reference's surface stops at per-key daily/monthly/annual aggregates —
  * ref: killrweather-app/src/main/scala/com/datastax/killrweather/
  * TemperatureActor.scala:61-75): rolling distinct-user reach, marketing
  * attribution, ordered first/last extraction, and snapshot diffing — the
  * queries an events table actually serves in production.
  *
  * Determinism follows the repo-wide rules: value sums in exact centi
  * integers, orderings carry unique tiebreakers, doubles only appear
  * fround-ed at the output edge.
  */
object TemporalOps {

  /** 7-day rolling distinct users (weekly active users per day), computed
    * WITHOUT a distinct-over-range window: each distinct (day, user) pair
    * is exploded to the ≤7 report days it can contribute to, then ONE
    * mixed aggregate per report day gets both metrics — dau7 as the
    * single-column countDistinct(user) (two-phase hash aggregate, NO
    * Expand for one distinct group) and dau as the plain
    * sum(off = 0), exact because du is already distinct: each user
    * contributes the off=0 row to a report day iff they were active ON
    * that day. `dau > 0` keeps exactly the observed days (every observed
    * day has ≥ 1 off=0 user; phantom trailing days have none), replacing
    * the former days-dim broadcast AND the dau1⋈dau7 join. Scale: ONE
    * scan + three keyed shuffles (the du distinct, the mixed aggregate's
    * (day,user) dedup, the per-day rollup), each linear in |day×user|
    * (bounded by 7× the daily-active table, NOT by raw events) — down
    * from the former five-shuffle two-branch join shape; the
    * alternative — countDistinct over a range self-join — rescans the
    * fact per window day. */
  private val rollingDau = GraftQuery(
    "evt_rolling_dau",
    "per-day DAU + trailing-7-day rolling distinct users",
    (s, d) => {
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      du.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .groupBy(date_add(col("day"), col("off")).as("day"))
        .agg(sum(when(col("off") === 0, 1L).otherwise(0L)).as("dau"),
          countDistinct(col("user_id")).as("dau7"))
        .filter(col("dau") > 0)
        .orderBy("day")
    },
    Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), days AS (SELECT DISTINCT day FROM du), contrib AS (SELECT DISTINCT du.day + CAST(o AS INTEGER) AS day, du.user_id FROM du, (SELECT unnest(generate_series(0, 6)) AS o)), d7 AS (SELECT c.day, count(*) AS dau7 FROM contrib c JOIN days USING (day) GROUP BY 1), d1 AS (SELECT day, count(*) AS dau FROM du GROUP BY 1) SELECT day, dau, dau7 FROM d1 JOIN d7 USING (day) ORDER BY day"""))

  /** Last-touch attribution: each purchase is credited to the most recent
    * PRIOR event of any other type by the same user ('direct' when there is
    * none). The carry-forward is `last(..., ignoreNulls)` over an
    * UNBOUNDED PRECEDING .. 1 PRECEDING frame — running state per user, no
    * self-join. Scale: one shuffle on user_id shared by the window and
    * nothing else; the final channel rollup is 5 groups. */
  private val attribution = GraftQuery(
    "evt_attribution",
    "last-touch purchase attribution to the preceding event type",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), centi(col("value")).as("vc"))
        .withColumn("src",
          when(col("event_type") =!= "purchase", col("event_type")))
        .withColumn("channel",
          coalesce(last("src", ignoreNulls = true).over(w), lit("direct")))
        .filter(col("event_type") === "purchase")
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), sum("vc").as("vcs"))
        .select(col("channel"), col("n_purchases"),
          fround(col("vcs").cast("double") / 100.0, 2).as("total_value"))
        .orderBy("channel")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), m AS (SELECT *, CASE WHEN event_type <> 'purchase' THEN event_type END AS src FROM ev), a AS (SELECT *, coalesce(last_value(src IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS channel FROM m) SELECT channel, count(*) AS n_purchases, floor(CAST(sum(vc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_value FROM a WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""))

  /** first_value / nth_value / last_value over a full-partition frame — the
    * three frame-extraction forms win_lag_lead doesn't cover (ref parity:
    * the reference's "latest reading" is LIMIT 1 per key —
    * killrweather-core TimeSeries queries — this is the windowed
    * generalization that gets first AND last in one pass). One row per
    * user: first/second/last event type plus the partition count. Scale:
    * one shuffle on user_id; the distinct collapses the per-row window
    * output without a second shuffle (same key). */
  private val firstLast = GraftQuery(
    "win_first_last",
    "first/second/last event type per user via full-frame window extraction",
    (s, d) => {
      val full = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
        .withColumn("first_type", first("event_type").over(full))
        .withColumn("second_type", nth_value(col("event_type"), 2).over(full))
        .withColumn("last_type", last("event_type").over(full))
        .withColumn("n_events", count(lit(1)).over(full))
        .select("user_id", "first_type", "second_type", "last_type", "n_events")
        .distinct()
        .orderBy("user_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events) SELECT DISTINCT user_id, first_value(event_type) OVER w AS first_type, nth_value(event_type, 2) OVER w AS second_type, last_value(event_type) OVER w AS last_type, count(*) OVER w AS n_events FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY user_id"""))

  /** Snapshot diff: the per-user rollup MV materialized at two cutoffs,
    * keyed-diffed into added / changed / unchanged — the audit that
    * validates an incremental MV refresh against a full rebuild (the
    * checking complement to mv_incremental_agg). Events are append-only so
    * 'removed' cannot occur; a mutable source would full-outer-join
    * instead of left. Scale: both snapshots aggregate map-side before the
    * single user_id-keyed join — the diff never touches raw-event-sized
    * data twice. */
  private val snapshotDiff = GraftQuery(
    "mv_snapshot_diff",
    "keyed diff of the per-user rollup at two time cutoffs",
    (s, d) => {
      def snap(cut: String) = Tables.events(s, d)
        .filter(col("ts") < lit(cut).cast("timestamp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(centi(col("value"))).as("vcs"))
      val a = snap("2024-01-20 00:00:00")
      val b = snap("2024-01-30 00:00:00")
      b.as("b").join(a.as("a"), Seq("user_id"), "left_outer")
        .select(col("user_id"),
          when(col("a.n").isNull, lit("added"))
            .when(col("a.n") === col("b.n") && col("a.vcs") === col("b.vcs"),
              lit("unchanged"))
            .otherwise(lit("changed")).as("status"),
          coalesce(col("a.n"), lit(0L)).as("old_n"),
          col("b.n").as("new_n"),
          fround((col("b.vcs") - coalesce(col("a.vcs"), lit(0L))).cast("double") / 100.0, 2)
            .as("delta_value"))
        .orderBy("user_id")
    },
    Some("""WITH a AS (SELECT user_id, count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vcs FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1), b AS (SELECT user_id, count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vcs FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-30 00:00:00' GROUP BY 1) SELECT b.user_id, CASE WHEN a.n IS NULL THEN 'added' WHEN a.n = b.n AND a.vcs = b.vcs THEN 'unchanged' ELSE 'changed' END AS status, coalesce(a.n, 0) AS old_n, b.n AS new_n, floor(CAST(b.vcs - coalesce(a.vcs, 0) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS delta_value FROM b LEFT JOIN a USING (user_id) ORDER BY user_id"""))

  /** Cohort revenue triangle: customers are bucketed by the month of their
    * FIRST order, then every order contributes to (cohort_month,
    * months-since-cohort). The classic retention/LTV view the reference's
    * fixed per-key rollups (ref: TemperatureActor.scala:65-69 monthly
    * rollup) cannot express because the grouping key is itself derived
    * from an aggregate. The cohort month is a window min over the
    * customer partition — the same single o_custkey shuffle the rollup
    * needs anyway, so the whole query is ONE keyed shuffle plus a
    * map-side-combined final agg on the tiny (month×age) grid. Revenue
    * sums in exact centi integers. */
  private val cohortRevenue = GraftQuery(
    "evt_cohort_revenue",
    "first-order-month cohort × month-age revenue triangle over orders",
    (s, d) => {
      // De-shuffled r15: the grid's countDistinct(o_custkey) planned as
      // the 2-exchange distinct rewrite over every order row. Pre-
      // aggregating to (custkey, cohort, om) first costs NO exchange —
      // the window already hash-partitioned by o_custkey and the groupBy
      // keys contain it — and within a customer om↔age_months is a
      // bijection (both month-truncated), so each customer lands at most
      // once per (cohort, age) cell: distinct customers = plain count of
      // pre-aggregate rows. Same numbers, one small plain aggregate
      // instead of a corpus-row distinct.
      val w = Window.partitionBy("o_custkey")
      Tables.orders(s, d)
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("om"),
          centi(col("o_totalprice")).as("pc"))
        .withColumn("cohort_month", min("om").over(w))
        .groupBy("o_custkey", "cohort_month", "om")
        .agg(count(lit(1)).as("n"), sum("pc").as("pcs1"))
        .withColumn("age_months",
          months_between(col("om"), col("cohort_month")).cast("int"))
        .groupBy("cohort_month", "age_months")
        .agg(count(lit(1)).as("n_customers"),
          sum("n").as("n_orders"), sum("pcs1").as("pcs"))
        .select(col("cohort_month"), col("age_months"), col("n_customers"),
          col("n_orders"),
          fround(col("pcs").cast("double") / 100.0, 2).as("revenue"))
        .orderBy("cohort_month", "age_months")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS om, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc FROM orders), c AS (SELECT *, min(om) OVER (PARTITION BY o_custkey) AS cohort_month FROM o) SELECT cohort_month, CAST(datediff('month', cohort_month, om) AS INTEGER) AS age_months, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders, floor(CAST(sum(pc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue FROM c GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** RFM segmentation: per customer recency (days since last order at the
    * corpus max date), frequency (order count), monetary (exact centi
    * revenue), each scored into quintiles, then the 5×5×5 segment grid
    * with counts and revenue. ntile needs a total order to be
    * deterministic, so every ORDER BY carries the o_custkey tiebreak —
    * identical rule in the oracle. Scale: the per-customer rollup is one
    * keyed shuffle over the fact; the three ntiles then sort only the
    * CUSTOMER dimension (3+ orders of magnitude below the fact). At true
    * 100 TB you'd swap exact ntile for approx_percentile thresholds; the
    * exact form is the oracle-able anchor. */
  private val rfmSegments = GraftQuery(
    "pipe_rfm_segments",
    "recency/frequency/monetary quintile segmentation of customers",
    (s, d) => {
      val rolled = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
          centi(col("o_totalprice")).as("pc"))
        .groupBy("o_custkey")
        .agg(max("od").as("last_od"), count(lit(1)).as("freq"),
          sum("pc").as("mc"))
      val maxd = rolled.agg(max("last_od").as("maxd"))
      val perCust = rolled.crossJoin(broadcast(maxd))
        .withColumn("recency_days", datediff(col("maxd"), col("last_od")))
      val scored = perCust
        .withColumn("r_score", ntile(5).over(
          Window.orderBy(col("recency_days"), col("o_custkey"))))
        .withColumn("f_score", ntile(5).over(
          Window.orderBy(col("freq").desc, col("o_custkey"))))
        .withColumn("m_score", ntile(5).over(
          Window.orderBy(col("mc").desc, col("o_custkey"))))
      scored.groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"), sum("mc").as("mcs"))
        .select(col("r_score"), col("f_score"), col("m_score"),
          col("n_customers"),
          fround(col("mcs").cast("double") / 100.0, 2).as("revenue"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some("""WITH pc AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_od, count(*) AS freq, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mc FROM orders GROUP BY 1), r AS (SELECT *, datediff('day', last_od, max(last_od) OVER ()) AS recency_days FROM pc), sc AS (SELECT *, ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score, ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score, ntile(5) OVER (ORDER BY mc DESC, o_custkey) AS m_score FROM r) SELECT r_score, f_score, m_score, count(*) AS n_customers, floor(CAST(sum(mc) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS revenue FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** PAA + SAX symbolization: each user's time-ordered value series is
    * compressed to 4 equal segments (Piecewise Aggregate Approximation)
    * and each segment mean mapped to a letter, yielding a 4-char SAX word
    * per user — the discretization that turns per-entity time series into
    * joinable/groupable motifs (Lin et al., "Symbolic Aggregate
    * approXimation", DMKD 2007). Letter boundaries compare SCALED
    * INTEGERS (vcs < 2500·n ⟺ mean < 25) so no float ever decides a
    * boundary. Scale: one user-keyed shuffle shared by the window and the
    * two same-key aggregations; state per row is O(1). */
  private val paaSax = GraftQuery(
    "evt_paa_sax",
    "4-segment PAA + SAX word per user's value series",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wc = Window.partitionBy("user_id")
      val seg = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          centi(col("value")).as("vc"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wc))
        .withColumn("seg", floor((col("rn") - 1) * 4 / col("cnt")).cast("int"))
        .groupBy("user_id", "seg")
        .agg(count(lit(1)).as("n"), sum("vc").as("vcs"))
        .withColumn("letter",
          when(col("vcs") < lit(2500L) * col("n"), "a")
            .when(col("vcs") < lit(5000L) * col("n"), "b")
            .when(col("vcs") < lit(7500L) * col("n"), "c")
            .otherwise("d"))
      seg.groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("seg"), col("letter")))),
          x => x("letter")), "").as("sax_word"),
          sum("n").as("n_events"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), o AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn, count(*) OVER (PARTITION BY user_id) AS cnt FROM ev), sg AS (SELECT user_id, CAST(((rn - 1) * 4) // cnt AS INTEGER) AS seg, count(*) AS n, CAST(sum(vc) AS BIGINT) AS vcs FROM o GROUP BY 1, 2), lt AS (SELECT user_id, seg, n, CASE WHEN vcs < 2500 * n THEN 'a' WHEN vcs < 5000 * n THEN 'b' WHEN vcs < 7500 * n THEN 'c' ELSE 'd' END AS letter FROM sg) SELECT user_id, string_agg(letter, '' ORDER BY seg) AS sax_word, CAST(sum(n) AS BIGINT) AS n_events FROM lt GROUP BY 1 ORDER BY 1"""))

  /** Turning-point census: per user, how many events are strict local
    * minima (both neighbors higher) or maxima (both neighbors lower) in
    * the time-ordered value series — the MATCH_RECOGNIZE-lite shape
    * detection (V / peak patterns) done with one lag + one lead over one
    * user-keyed shuffle. Comparisons are on exact centi integers; series
    * edges (NULL neighbor) count as no turn. */
  private val turningPoints = GraftQuery(
    "win_turning_points",
    "per-user strict local-minima/maxima census of the value series",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          centi(col("value")).as("vc"))
        .withColumn("pv", lag("vc", 1).over(w))
        .withColumn("nx", lead("vc", 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("pv") > col("vc") && col("nx") > col("vc"), 1L)
            .otherwise(0L)).as("n_valleys"),
          sum(when(col("pv") < col("vc") && col("nx") < col("vc"), 1L)
            .otherwise(0L)).as("n_peaks"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events), o AS (SELECT *, lag(vc) OVER w AS pv, lead(vc) OVER w AS nx FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) SELECT user_id, count(*) AS n_events, CAST(sum(CASE WHEN pv > vc AND nx > vc THEN 1 ELSE 0 END) AS BIGINT) AS n_valleys, CAST(sum(CASE WHEN pv < vc AND nx < vc THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks FROM o GROUP BY 1 ORDER BY 1"""))

  /** Stationary distribution of the event-type Markov chain: the 5×5
    * transition matrix (from consecutive same-user event pairs — one
    * corpus-wide window pass) power-iterated 8 steps from the uniform
    * vector, ENTIRELY inside one declarative plan. The matrix collapses
    * to a single row of 25 exact-count columns, so each iteration is a
    * projection over that row — no driver collect, no loop of jobs — and
    * both engines evaluate the SAME generated expression text
    * (term-order-identical double arithmetic), which is what makes an
    * iterated float computation hash-stable. Scale: the only corpus-sized
    * work is the pair extraction; 8 iterations on a 1-row frame are free. */
  private val markovStationary = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val n = types.size
    val cTerms = (for (i <- 0 until n; j <- 0 until n) yield
      s"sum(CASE WHEN a = '${types(i)}' AND b = '${types(j)}' THEN 1 ELSE 0 END) AS c_${i}_$j") ++
      (0 until n).map(i => s"sum(CASE WHEN a = '${types(i)}' THEN 1 ELSE 0 END) AS r_$i")
    val pTerms = for (i <- 0 until n; j <- 0 until n) yield
      s"CAST(c_${i}_$j AS DOUBLE) / r_$i AS p_${i}_$j"
    def iter(k: Int): String = {
      def prev(i: Int) = if (k == 1) "0.2" else s"pi${k - 1}_$i"
      val cols = (0 until n).map(j =>
        (0 until n).map(i => s"${prev(i)} * p_${i}_$j").mkString(" + ") +
          s" AS pi${k}_$j")
      s"i$k AS (SELECT *, ${cols.mkString(", ")} FROM ${if (k == 1) "p" else s"i${k - 1}"})"
    }
    // Final unpivot differs by engine ON PURPOSE: a UNION ALL of 5 selects
    // over the CTE would be INLINED 5× by Catalyst (5 corpus scans), so
    // the Spark side rides stack() over one i8 row; the rounding
    // arithmetic text is identical, so the values still match the
    // oracle's UNION ALL form bit-for-bit.
    def rounded(j: Int) = s"floor(pi8_$j * 1e6 + 0.5) / 1e6"
    val sparkFinal = "SELECT event_type, pi FROM (SELECT stack(" + n + ", " +
      (0 until n).map(j => s"'${types(j)}', ${rounded(j)}").mkString(", ") +
      ") AS (event_type, pi) FROM i8) ORDER BY event_type"
    val duckFinal = "SELECT * FROM (" +
      (0 until n).map(j =>
        s"SELECT '${types(j)}' AS event_type, ${rounded(j)} AS pi FROM i8")
        .mkString(" UNION ALL ") + ") ORDER BY event_type"
    def sql(us: String, finalSel: String): String =
      s"WITH ev AS (SELECT user_id, event_id, $us AS us, event_type FROM events), " +
        "pr AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS a, event_type AS b FROM ev), " +
        s"c AS (SELECT ${cTerms.mkString(", ")} FROM pr WHERE a IS NOT NULL), " +
        s"p AS (SELECT ${pTerms.mkString(", ")} FROM c), " +
        (1 to 8).map(iter).mkString(", ") + " " + finalSel
    GraftQuery(
      "evt_markov_stationary",
      "8-step power iteration to the event-type chain's stationary vector",
      (s, d) => { Tables.register(s, d, Seq("events"))
        s.sql(sql("unix_micros(ts)", sparkFinal)) },
      Some(sql("epoch_us(CAST(ts AS TIMESTAMP))", duckFinal)))
  }

  /** Offline single-changepoint locator per event type: the day t*
    * maximizing |S_t − (t/N)·S_N| over the daily-total series (the CUSUM
    * deviation-from-trend statistic), computed scale-free as the INTEGER
    * |N·S_t − t·S_N| so the argmax never compares floats. One keyed
    * day-rollup, one per-type cumulative window, one top-1 per type
    * (row_number, day tiebreak). The reported magnitude is normalized
    * back to value units only at the output edge. */
  private val changepoint = GraftQuery(
    "evt_changepoint",
    "per-type CUSUM changepoint day over daily value totals",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day"))
        .agg(sum(centi(col("value"))).as("vc"))
      val wc = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("event_type")
      val scored = daily
        .withColumn("t", row_number().over(
          Window.partitionBy("event_type").orderBy("day")))
        .withColumn("st", sum("vc").over(wc))
        .withColumn("nn", count(lit(1)).over(wt))
        .withColumn("sn", sum("vc").over(wt))
        .withColumn("dev", abs(col("nn") * col("st") - col("t") * col("sn")))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("dev"), col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          fround(col("dev").cast("double") / col("nn") / col("nn") / 100.0, 4)
            .as("cusum_stat"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc FROM events GROUP BY 1, 2), c AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS t, sum(vc) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS st, count(*) OVER (PARTITION BY event_type) AS nn, sum(vc) OVER (PARTITION BY event_type) AS sn FROM daily), s AS (SELECT *, abs(nn * st - t * sn) AS dev FROM c), r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev DESC, day) AS rk FROM s) SELECT event_type, day AS cp_day, floor(CAST(dev AS DOUBLE) / nn / nn / 100.0 * 1e4 + 0.5) / 1e4 AS cusum_stat FROM r WHERE rk = 1 ORDER BY 1"""))

  /** Lag-1 autocorrelation of each event type's time-ordered value
    * series — the "is this metric momentum or noise" diagnostic — via the
    * exact-sufficient-statistics discipline (integer moment sums): lag
    * pairs from ONE type-keyed window pass, six integer sums, float math
    * only in the final Pearson ratio. */
  private val autocorr = GraftQuery(
    "evt_autocorr",
    "per-type lag-1 autocorrelation from exact integer sums",
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("us", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"), centi(col("value")).as("y"))
        .withColumn("x", lag("y", 1).over(w))
        .filter(col("x").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("m"),
          fround((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("m") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r1"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events), l AS (SELECT event_type, y, lag(y) OVER (PARTITION BY event_type ORDER BY us, event_id) AS x FROM ev), g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(y * y) AS BIGINT) AS syy FROM l WHERE x IS NOT NULL GROUP BY 1) SELECT event_type, m, floor(CAST(m * sxy - sx * sy AS DOUBLE) / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS r1 FROM g ORDER BY 1"""))

  /** Inter-arrival-gap histogram: per-user event gaps bucketed into 7
    * fixed log-ish time bands (<1s … ≥6h) with count and exact-mean gap —
    * the burstiness fingerprint behind rate limiting and session-gap
    * tuning (the 30-min session threshold in win_session sits between
    * bands 4 and 5). Gaps are integer microseconds off one user-keyed
    * lag pass; bucketing is pure integer comparison. Scale: one keyed
    * shuffle, then a 7-group rollup. */
  private val gapHistogram = {
    val edges = Seq(1000000L, 10000000L, 60000000L, 600000000L,
      3600000000L, 21600000000L)
    val labels = Seq("lt_1s", "lt_10s", "lt_1m", "lt_10m", "lt_1h", "lt_6h",
      "ge_6h")
    GraftQuery(
      "evt_gap_histogram",
      "per-user inter-arrival gaps bucketed into 7 time bands",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val gaps = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("gap", col("us") - lag("us", 1).over(w))
          .filter(col("gap").isNotNull)
        val bucket = edges.zipWithIndex.foldRight(
          lit(edges.size).cast("int")) { case ((e, i), rest) =>
          when(col("gap") < e, lit(i).cast("int")).otherwise(rest)
        }
        val label = labels.zipWithIndex
          .foldLeft(lit(""): Column) { case (acc, (l, i)) =>
            when(col("bucket") === i, lit(l)).otherwise(acc)
          }
        gaps.withColumn("bucket", bucket)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_gaps"), sum("gap").as("gap_us"))
          .withColumn("band", label)
          .select(col("bucket"), col("band"), col("n_gaps"),
            fround(col("gap_us").cast("double") / col("n_gaps") / 1000000.0, 3)
              .as("mean_gap_s"))
          .orderBy("bucket")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), g AS (SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM ev), b AS (SELECT CASE ${edges.zipWithIndex.map { case (e, i) => s"WHEN gap < $e THEN $i" }.mkString(" ")} ELSE ${edges.size} END AS bucket, gap FROM g WHERE gap IS NOT NULL) SELECT bucket, CASE ${labels.zipWithIndex.map { case (l, i) => s"WHEN bucket = $i THEN '$l'" }.mkString(" ")} END AS band, count(*) AS n_gaps, floor(CAST(sum(gap) AS DOUBLE) / count(*) / 1000000.0 * 1e3 + 0.5) / 1e3 AS mean_gap_s FROM b GROUP BY 1 ORDER BY 1"""))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per user
    * (the streak census behind engagement/retention dashboards) via the
    * classic dayidx − row_number island key — consecutive days share a
    * constant difference, so one keyed window pass labels every island
    * with no self-join and no gap explode. Distinct from evt_run_lengths
    * (runs of same event TYPE within the raw sequence): this operates on
    * the distinct-day calendar grid. Everything is integer arithmetic on
    * day indexes. Scale: the distinct collapses raw events to ≤|user×day|
    * rows, then one user-keyed shuffle serves the window and both rollups
    * (same key, no re-shuffle). */
  private val islands = GraftQuery(
    "win_islands",
    "per-user consecutive-active-day islands: count, longest, total days",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("dayidx")
      val isl = Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("dayidx"))
        .distinct()
        .withColumn("grp", col("dayidx") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
      isl.groupBy("user_id")
        .agg(sum("len").as("n_active_days"), count(lit(1)).as("n_islands"),
          max("len").as("longest_streak"))
        .orderBy("user_id")
    },
    Some("""WITH du AS (SELECT DISTINCT user_id, CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS dayidx FROM events), g AS (SELECT user_id, dayidx, dayidx - row_number() OVER (PARTITION BY user_id ORDER BY dayidx) AS grp FROM du), isl AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2) SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, count(*) AS n_islands, CAST(max(len) AS BIGINT) AS longest_streak FROM isl GROUP BY 1 ORDER BY 1"""))

  /** Kaplan-Meier survival curve over user lifetimes (days between first
    * and last event), with right-censoring for users still active near
    * corpus end (last event within 3 days of the corpus max — their true
    * lifetime is only known to be ≥ observed). Convention: removals
    * happen AT their time, so the at-risk set at t includes both deaths
    * and censorings recorded at t (deaths-before-censoring tie rule).
    * The product Π(1 − dᵢ/nᵢ) is computed as the EXACT BIGINT cumulative
    * sum of floor-rounded micro-nat ln((n−d)/n) terms — per-row window
    * cumulation over the ~|distinct lifetimes| table, so no float ever
    * accumulates; exp() is applied once per output row to the exact
    * rational cum/1e6 (an accepted libm-ulp risk, absorbed by
    * fround 4). Scale: one user-keyed
    * rollup over the corpus; everything after is |distinct lifetimes|
    * rows (≤ corpus day span), where the unpartitioned windows are
    * audited-benign. */
  private val survivalKm = GraftQuery(
    "evt_survival_km",
    "Kaplan-Meier survival over user lifetimes with end-of-corpus censoring",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
      val maxd = perUser.agg(max("l").as("maxd"))
      val u = perUser.crossJoin(broadcast(maxd))
        .select(datediff(col("l"), col("f")).cast("long").as("t"),
          when(datediff(col("maxd"), col("l")) <= 2, 1L).otherwise(0L)
            .as("cen"))
      val byT = u.groupBy("t")
        .agg(sum(lit(1L) - col("cen")).as("d"), sum("cen").as("c"))
      val tot = byT.agg(sum(col("d") + col("c")).as("ntot"))
      val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT.crossJoin(broadcast(tot))
        .withColumn("n_at_risk",
          col("ntot") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .withColumn("lnm", // d = n (whole risk set dies) ⇒ S hits exact 0;
          // ln(0) is -inf, so pin a finite micro-nat that exp+fround
          // renders as 0.0000 — identical constant in the oracle
          when(col("n_at_risk") > col("d"),
            floor(log((col("n_at_risk") - col("d")).cast("double") /
              col("n_at_risk").cast("double")) * 1e6 + 0.5).cast("long"))
            .otherwise(lit(-20000000L)))
        .withColumn("cum", sum("lnm").over(wCum))
        .select(col("t").as("t_day"), col("n_at_risk"),
          col("d").as("n_deaths"), col("c").as("n_censored"),
          fround(exp(col("cum").cast("double") / 1e6), 4).as("survival"))
        .orderBy("t_day")
    },
    Some("""WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l FROM events GROUP BY 1), mx AS (SELECT max(l) AS maxd FROM pu), u AS (SELECT CAST(datediff('day', f, l) AS BIGINT) AS t, CASE WHEN datediff('day', l, maxd) <= 2 THEN 1 ELSE 0 END AS cen FROM pu CROSS JOIN mx), bt AS (SELECT t, CAST(sum(1 - cen) AS BIGINT) AS d, CAST(sum(cen) AS BIGINT) AS c FROM u GROUP BY 1), tt AS (SELECT CAST(sum(d + c) AS BIGINT) AS ntot FROM bt), r AS (SELECT *, CAST(ntot - coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk FROM bt CROSS JOIN tt), s AS (SELECT *, CASE WHEN n_at_risk > d THEN CAST(floor(ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) ELSE -20000000 END AS lnm FROM r), cm AS (SELECT *, CAST(sum(lnm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM s) SELECT t AS t_day, n_at_risk, d AS n_deaths, c AS n_censored, floor(exp(CAST(cum AS DOUBLE) / 1000000.0) * 1e4 + 0.5) / 1e4 AS survival FROM cm ORDER BY 1"""))

  /** Entropy RATE of the event-type chain: the conditional entropy
    * H(next | prev) over same-user consecutive pairs, next to the marginal
    * H(next) — their gap is the mutual information the previous event
    * carries about the next one ("how predictable is the stream"), the
    * sequence-level complement of evt_transition_matrix /
    * evt_markov_stationary. Integer micro-nat discipline: per-cell n·ln(·) terms floor to BIGINTs over the
    * 25-cell (and 5-row) tables, so no float ever accumulates. Scale: one
    * user-keyed window pass for the pairs, then constant-size rollups. */
  private val entropyRate = GraftQuery(
    "evt_entropy_rate",
    "event-type chain entropy rate vs marginal entropy (predictability gain)",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pr = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type").as("b"))
        .withColumn("a", lag("b", 1).over(w))
        .filter(col("a").isNotNull)
      val cells = pr.groupBy("a", "b").agg(count(lit(1)).as("nij"))
      val rowT = cells.groupBy("a").agg(sum("nij").as("ni"))
      val colT = cells.groupBy("b").agg(sum("nij").as("nj"))
      val tot = cells.agg(sum("nij").as("nn"))
      def microSum(df: org.apache.spark.sql.DataFrame, term: Column, as: String) =
        df.agg(sum(floor(term * 1e6 + 0.5).cast("long")).as(as))
      val hc = microSum(cells.join(broadcast(rowT), "a"),
        -col("nij") * log(col("nij").cast("double") / col("ni").cast("double")),
        "hc")
      val hm = microSum(colT.crossJoin(broadcast(tot)),
        -col("nj") * log(col("nj").cast("double") / col("nn").cast("double")),
        "hm")
      hc.crossJoin(hm).crossJoin(tot)
        .select(col("nn").as("n_transitions"),
          fround(col("hc").cast("double") / (col("nn") * 1e6), 6)
            .as("h_cond_nats"),
          fround(col("hm").cast("double") / (col("nn") * 1e6), 6)
            .as("h_marginal_nats"),
          fround((col("hm") - col("hc")).cast("double") / (col("nn") * 1e6), 6)
            .as("predictability_gain"))
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type AS b FROM events), pr AS (SELECT lag(b) OVER (PARTITION BY user_id ORDER BY us, event_id) AS a, b FROM ev), cells AS (SELECT a, b, count(*) AS nij FROM pr WHERE a IS NOT NULL GROUP BY 1, 2), rt AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ni FROM cells GROUP BY 1), ct AS (SELECT b, CAST(sum(nij) AS BIGINT) AS nj FROM cells GROUP BY 1), t AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM cells), hc AS (SELECT CAST(sum(CAST(floor(-nij * ln(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS hc FROM cells JOIN rt USING (a)), hm AS (SELECT CAST(sum(CAST(floor(-nj * ln(CAST(nj AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS hm FROM ct CROSS JOIN t) SELECT nn AS n_transitions, floor(CAST(hc AS DOUBLE) / (nn * 1000000.0) * 1e6 + 0.5) / 1e6 AS h_cond_nats, floor(CAST(hm AS DOUBLE) / (nn * 1000000.0) * 1e6 + 0.5) / 1e6 AS h_marginal_nats, floor(CAST(hm - hc AS DOUBLE) / (nn * 1000000.0) * 1e6 + 0.5) / 1e6 AS predictability_gain FROM hc CROSS JOIN hm CROSS JOIN t"""))

  /** TIME-TO-CONVERT order statistics: for users whose first 'purchase'
    * follows their first 'signup', the delay distribution as EXACT order
    * statistics — lower median (the ⌈n/2⌉-th smallest) and p90 (the
    * ⌈0.9·n⌉-th) picked by row_number over integer seconds, so no
    * interpolation and no float ever decides a rank (the discrete
    * complement to agg_percentiles' interpolated form). One conditional
    * min-aggregation pass per user (the evt_funnel shape — never a
    * self-join per stage), then rank-picks over the conversion-sized
    * table. */
  private val timeToConvert = GraftQuery(
    "evt_time_to_convert",
    "signup→purchase delay: exact lower-median and p90 order statistics",
    (s, d) => {
      val fu = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("su"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("pu"))
        .filter(col("su").isNotNull && col("pu").isNotNull && col("pu") >= col("su"))
        .select(col("user_id"), expr("(pu - su) div 1000000").as("delay_s"))
      val n = fu.agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("delay_s"), col("user_id"))
      fu.withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(n))
        .groupBy("n")
        // ceil spelled (9n+9) div 10 — positive operands only, where
        // Spark's truncating div and DuckDB's floor // agree
        .agg(max(when(col("rk") === expr("(n + 1) div 2"), col("delay_s")))
          .as("median_s"),
          max(when(col("rk") === expr("(9 * n + 9) div 10"), col("delay_s")))
            .as("p90_s"),
          min("delay_s").as("min_s"), max("delay_s").as("max_s"))
        .select(col("n").as("n_converted"), col("median_s"), col("p90_s"),
          col("min_s"), col("max_s"))
    },
    Some("""WITH fu AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS su, min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS pu FROM events GROUP BY 1), cv AS (SELECT user_id, (pu - su) // 1000000 AS delay_s FROM fu WHERE su IS NOT NULL AND pu IS NOT NULL AND pu >= su), rk AS (SELECT *, CAST(row_number() OVER (ORDER BY delay_s, user_id) AS BIGINT) AS rk, CAST(count(*) OVER () AS BIGINT) AS n FROM cv) SELECT n AS n_converted, max(CASE WHEN rk = (n + 1) // 2 THEN delay_s END) AS median_s, max(CASE WHEN rk = (9 * n + 9) // 10 THEN delay_s END) AS p90_s, CAST(min(delay_s) AS BIGINT) AS min_s, CAST(max(delay_s) AS BIGINT) AS max_s FROM rk GROUP BY 1"""))

  /** MAXIMUM DRAWDOWN of each event type's cumulative daily value series —
    * the peak-to-trough risk statistic (largest drop from a running high),
    * read here as "how far below its best day-total pace has this metric
    * sunk". Pure integer window arithmetic: cumulative centi sum, running
    * max, drawdown = peak − cum; the argmax row_number ties break on the
    * earlier day. One event_type-keyed shuffle serves all three window
    * passes and the rollup. */
  private val maxDrawdown = GraftQuery(
    "evt_max_drawdown",
    "per-type maximum drawdown of the cumulative daily value series",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(centi(col("value"))).as("vc"))
      val wc = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = daily
        .withColumn("cum", sum("vc").over(wc))
        .withColumn("peak", max("cum").over(wc))
        .withColumn("dd", col("peak") - col("cum"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("dd"), col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("trough_day"),
          fround(col("dd").cast("double") / 100.0, 2).as("max_drawdown"),
          fround(col("peak").cast("double") / 100.0, 2).as("peak_cum"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc FROM events GROUP BY 1, 2), c AS (SELECT *, CAST(sum(vc) OVER w AS BIGINT) AS cum FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)), p AS (SELECT *, CAST(max(cum) OVER w AS BIGINT) AS peak FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)), dd AS (SELECT *, peak - cum AS dd FROM p), rk AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dd DESC, day) AS rk FROM dd) SELECT event_type, day AS trough_day, floor(CAST(dd AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS max_drawdown, floor(CAST(peak AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS peak_cum FROM rk WHERE rk = 1 ORDER BY 1"""))

  /** FORECAST BACKTEST: the two baseline forecasters every real model
    * must beat — naive (ŷ_t = y_{t−1}) and trailing-7-day mean — scored
    * by MAE over the per-type daily value series, one row per (type,
    * method). Exactness: the MA7 error is kept as the scaled integer
    * |7·y_t − Σ₇| (never divide before comparing), so both methods' error
    * sums are exact BIGINTs and the final MAE division is the only
    * float. Evaluation starts at day 8 so both methods score the SAME
    * days. One type-keyed window pass serves both forecasts. */
  private val forecastBacktest = GraftQuery(
    "evt_forecast_backtest",
    "MAE backtest of naive vs trailing-7-mean daily forecasts per type",
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w7 = w.rowsBetween(-7, -1)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(centi(col("value"))).as("y"))
      val scored = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("prev", lag("y", 1).over(w))
        .withColumn("s7", sum("y").over(w7))
        .filter(col("rn") >= 8)
      val res = scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("y") - col("prev"))).as("e1"),
          sum(abs(col("y") * 7 - col("s7"))).as("e7"))
      res.select(col("event_type"), lit("naive").as("method"), col("n_days"),
          fround(col("e1").cast("double") / col("n_days") / 100.0, 2).as("mae"))
        .unionByName(res.select(col("event_type"), lit("ma7").as("method"),
          col("n_days"),
          fround(col("e7").cast("double") / (col("n_days") * 7) / 100.0, 2)
            .as("mae")))
        .orderBy("event_type", "method")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1, 2), sc AS (SELECT *, row_number() OVER w AS rn, lag(y) OVER w AS prev, CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s7 FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)), f AS (SELECT event_type, count(*) AS n_days, CAST(sum(abs(y - prev)) AS BIGINT) AS e1, CAST(sum(abs(y * 7 - s7)) AS BIGINT) AS e7 FROM sc WHERE rn >= 8 GROUP BY 1) SELECT event_type, method, n_days, mae FROM (SELECT event_type, 'naive' AS method, n_days, floor(CAST(e1 AS DOUBLE) / n_days / 100.0 * 100.0 + 0.5) / 100.0 AS mae FROM f UNION ALL SELECT event_type, 'ma7', n_days, floor(CAST(e7 AS DOUBLE) / (n_days * 7) / 100.0 * 100.0 + 0.5) / 100.0 FROM f) ORDER BY 1, 2"""))

  /** BEHAVIORAL-DIVERSITY profile: each user's event-type Shannon entropy
    * (0 = monomaniac, ln 5 = uniform over the five types) bucketed into
    * quarter-nat bands — the per-entity entropy histogram behind bot
    * detection and engagement segmentation (the per-USER complement to
    * the corpus-level evt_entropy_rate). Per-user entropies ride the
    * micro-nat integer discipline; banding is integer comparison on the
    * micro value. One user-keyed rollup of the (user, type) counts. */
  private val userEntropyProfile = GraftQuery(
    "evt_user_entropy_profile",
    "histogram of per-user event-type entropy in 0.02-nat bands",
    (s, d) => {
      val ut = Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val tot = ut.groupBy("user_id").agg(sum("c").as("n"))
      val hm = ut.join(tot, Seq("user_id"))
        .groupBy("user_id", "n")
        .agg(sum(floor(-col("c") * log(col("c").cast("double") /
          col("n").cast("double")) * 1e6 + 0.5).cast("long")).as("hs"))
        .select(col("user_id"), col("n"),
          expr("(hs div n) div 20000").as("band"))
      hm.groupBy("band")
        .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
        .select(col("band"),
          fround(col("band").cast("double") * 0.02, 2).as("entropy_from"),
          col("n_users"), col("n_events"))
        .orderBy("band")
    },
    Some("""WITH ut AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2), t AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM ut GROUP BY 1), h AS (SELECT ut.user_id, t.n, CAST(sum(CAST(floor(-c * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS hs FROM ut JOIN t USING (user_id) GROUP BY 1, 2), b AS (SELECT user_id, n, (hs // n) // 20000 AS band FROM h) SELECT band, floor(CAST(band AS DOUBLE) * 0.02 * 1e2 + 0.5) / 1e2 AS entropy_from, count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events FROM b GROUP BY 1 ORDER BY 1"""))

  /** FANO FACTOR (index of dispersion, var/mean of per-day event counts
    * over ACTIVE days) per user — the burstiness classifier: ≈1 is
    * Poisson-like arrival, ≫1 is bursty, <1 is regular/clocked. The
    * top-20 burstiest users (Fano desc, user-id tiebreak) with their
    * dispersion, from exact integer count moments — the ratio
    * (n·Σc² − (Σc)²)/(n·Σc) divides exact integers once at the edge.
    * Users need ≥2 active days for a defined variance. */
  private val fanoFactor = GraftQuery(
    "evt_fano_factor",
    "top-20 burstiest users by Fano factor of daily event counts",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val m = daily.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("c").as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .filter(col("n") >= 2)
        .select(col("user_id"), col("n").as("n_active_days"), col("s1").as("n_events"),
          fround((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * col("s1")).cast("double"), 4).as("fano"))
      m.orderBy(desc("fano"), col("user_id")).limit(20)
    },
    Some("""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2), m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2 FROM daily GROUP BY 1) SELECT user_id, n AS n_active_days, s1 AS n_events, floor(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * s1 AS DOUBLE) * 1e4 + 0.5) / 1e4 AS fano FROM m WHERE n >= 2 ORDER BY fano DESC, user_id LIMIT 20"""))

  /** CLASSICAL SEASONAL DECOMPOSITION (STL-lite) of the daily total:
    * trend = centered 7-day moving mean, seasonal = day-of-week mean of
    * the detrended series, residual = remainder — additive decomposition
    * with every intermediate an EXACT integer: the trend rides as
    * 7·trend (the frame sum itself), detrended as 7y − Σ₇ (never divide
    * before aggregating), and the seasonal means clear denominators the
    * same way; the three reported components divide exact integers once
    * each, with residual = y − trend − seasonal spelled identically in
    * both engines. Edge days (incomplete frame) are excluded from both
    * the seasonal fit and the output. */
  private val seasonalDecompose = GraftQuery(
    "evt_seasonal_decompose",
    "additive trend/seasonal/residual decomposition of daily totals",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(centi(col("value"))).as("y"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val tr = daily
        .withColumn("s7", sum("y").over(w))
        .withColumn("m7", count(lit(1)).over(w))
        .filter(col("m7") === 7) // complete centered frames only
        .withColumn("dt7", col("y") * 7 - col("s7")) // 7*(y - trend), exact
        .withColumn("dow", (dayofweek(col("day")) + lit(5)) % 7)
      val seas = tr.groupBy("dow")
        .agg(sum("dt7").as("sd"), count(lit(1)).as("nd"))
      tr.join(broadcast(seas), Seq("dow"))
        .select(col("day"),
          fround(col("y").cast("double") / 100.0, 2).as("value"),
          fround(col("s7").cast("double") / 7.0 / 100.0, 2).as("trend"),
          fround(col("sd").cast("double") / (col("nd") * 7) / 100.0, 2)
            .as("seasonal"),
          fround((col("y").cast("double") - col("s7").cast("double") / 7.0 -
            col("sd").cast("double") / (col("nd") * 7)) / 100.0, 2)
            .as("residual"))
        .orderBy("day")
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1), tr AS (SELECT *, CAST(sum(y) OVER w AS BIGINT) AS s7, CAST(count(*) OVER w AS BIGINT) AS m7 FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), f AS (SELECT day, y, s7, y * 7 - s7 AS dt7, CAST(isodow(day) - 1 AS BIGINT) AS dow FROM tr WHERE m7 = 7), seas AS (SELECT dow, CAST(sum(dt7) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS nd FROM f GROUP BY 1) SELECT day, floor(CAST(y AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS value, floor(CAST(s7 AS DOUBLE) / 7.0 / 100.0 * 100.0 + 0.5) / 100.0 AS trend, floor(CAST(sd AS DOUBLE) / (nd * 7) / 100.0 * 100.0 + 0.5) / 100.0 AS seasonal, floor((CAST(y AS DOUBLE) - CAST(s7 AS DOUBLE) / 7.0 - CAST(sd AS DOUBLE) / (nd * 7)) / 100.0 * 100.0 + 0.5) / 100.0 AS residual FROM f JOIN seas USING (dow) ORDER BY day"""))

  /** CIRCADIAN PROFILE via circular statistics: hour-of-day is an ANGLE
    * (23:00 and 01:00 are 2h apart, not 22), so each type's typical hour
    * is the circular mean atan2(Σsin, Σcos) and its concentration the
    * mean resultant length R̄ — the correct "when does this event happen"
    * statistic a linear mean gets wrong at midnight wrap. cos/sin of the
    * 24 possible hour angles micro-floor to integers per row, sums are
    * exact; atan2/fround at the edge only (accepted libm-ulp class). */
  private val circadianProfile = GraftQuery(
    "evt_circadian_profile",
    "per-type circular mean hour + concentration of event times",
    (s, d) => {
      val theta = col("h").cast("double") * (2.0 * math.Pi / 24.0)
      val hr = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("h"))
        .select(col("event_type"),
          floor(cos(theta) * 1e6 + 0.5).cast("long").as("cm"),
          floor(sin(theta) * 1e6 + 0.5).cast("long").as("sm"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cm").as("sc"), sum("sm").as("ss"))
      hr.select(col("event_type"), col("n").as("n_events"),
        fround((atan2(col("ss").cast("double"), col("sc").cast("double")) *
          (24.0 / (2.0 * math.Pi)) + 24.0) % 24.0, 3).as("mean_hour"),
        fround(sqrt((col("sc").cast("decimal(38,0)") * col("sc") +
          col("ss").cast("decimal(38,0)") * col("ss")).cast("double")) /
          (col("n") * 1e6), 4).as("concentration"))
        .orderBy("event_type")
    },
    Some(s"""WITH hr AS (SELECT event_type, CAST(floor(cos(CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) * ${2.0 * math.Pi / 24.0}) * 1000000.0 + 0.5) AS BIGINT) AS cm, CAST(floor(sin(CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) * ${2.0 * math.Pi / 24.0}) * 1000000.0 + 0.5) AS BIGINT) AS sm FROM events), g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(cm) AS BIGINT) AS sc, CAST(sum(sm) AS BIGINT) AS ss FROM hr GROUP BY 1) SELECT event_type, n AS n_events, floor(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) * ${24.0 / (2.0 * math.Pi)}) + 24.0) % 24.0 * 1e3 + 0.5) / 1e3 AS mean_hour, floor(sqrt(CAST(CAST(sc AS HUGEINT) * sc + CAST(ss AS HUGEINT) * ss AS DOUBLE)) / (n * 1000000.0) * 1e4 + 0.5) / 1e4 AS concentration FROM g ORDER BY 1"""))

  /** BURST DETECTION (threshold-automaton lite): a day is bursting when
    * its event count exceeds 2× the trailing-14-day mean — compared as
    * the EXACT integers 14·c > 2·Σ₁₄ (never a float mean) — and
    * consecutive burst days merge into episodes via the gaps-and-islands
    * key (win_islands discipline). Per type: episode count, longest, and
    * total burst days. Warm-up days (incomplete trailing frame) can't
    * burst. One type-keyed shuffle serves both windows and the rollup. */
  private val burstDetection = GraftQuery(
    "evt_burst_detection",
    "per-type burst episodes: days above 2x the trailing-14-day mean",
    (s, d) => {
      val w14 = Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(-14, -1)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("t"))
        .agg(count(lit(1)).as("c"))
      val flagged = daily
        .withColumn("s14", sum("c").over(w14))
        .withColumn("m14", count(lit(1)).over(w14))
        .filter(col("m14") === 14)
        .withColumn("burst", col("c") * 14 > col("s14") * 2)
      val isl = flagged.filter(col("burst"))
        .withColumn("grp", col("t") - row_number().over(
          Window.partitionBy("event_type").orderBy("t")))
        .groupBy("event_type", "grp").agg(count(lit(1)).as("len"))
      val perType = isl.groupBy("event_type")
        .agg(count(lit(1)).as("n_episodes"), max("len").as("longest"),
          sum("len").as("burst_days"))
      daily.select("event_type").distinct()
        .join(perType, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("n_episodes"), lit(0L)).as("n_episodes"),
          coalesce(col("longest"), lit(0L)).as("longest"),
          coalesce(col("burst_days"), lit(0L)).as("burst_days"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t, count(*) AS c FROM events GROUP BY 1, 2), f AS (SELECT *, CAST(sum(c) OVER w AS BIGINT) AS s14, CAST(count(*) OVER w AS BIGINT) AS m14 FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY t ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)), b AS (SELECT event_type, t FROM f WHERE m14 = 14 AND c * 14 > s14 * 2), g AS (SELECT event_type, t - row_number() OVER (PARTITION BY event_type ORDER BY t) AS grp FROM b), isl AS (SELECT event_type, grp, count(*) AS len FROM g GROUP BY 1, 2), pt AS (SELECT event_type, count(*) AS n_episodes, CAST(max(len) AS BIGINT) AS longest, CAST(sum(len) AS BIGINT) AS burst_days FROM isl GROUP BY 1) SELECT d.event_type, coalesce(pt.n_episodes, 0) AS n_episodes, coalesce(pt.longest, 0) AS longest, coalesce(pt.burst_days, 0) AS burst_days FROM (SELECT DISTINCT event_type FROM daily) d LEFT JOIN pt USING (event_type) ORDER BY 1"""))

  /** HAAR WAVELET energy spectrum of the daily total: detail energy at
    * dyadic scales 2/4/8 days — the multi-resolution read of WHERE the
    * series' variance lives (day-to-day noise vs week-scale swings). All
    * transform coefficients stay EXACT integers: level-k details are
    * differences of adjacent 2^(k−1)-day block SUMS (never averages —
    * the 2^k scaling folds into one normalization at the edge:
    * energy_k = Σd²/2^k). Incomplete trailing blocks are dropped per
    * level. Everything after the daily rollup is ≤|corpus days| rows. */
  private val haarEnergy = {
    GraftQuery(
      "evt_haar_energy",
      "Haar detail energy of daily totals at 2/4/8-day scales",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("t"))
          .agg(sum(centi(col("value"))).as("y"))
        val legs = Seq(1, 2, 3).map { k =>
          val half = 1L << (k - 1)
          val blocks = daily
            .withColumn("blk", expr(s"t div $half"))
            .groupBy("blk")
            .agg(sum("y").as("s"), count(lit(1)).as("m"))
            .filter(col("m") === half) // complete half-blocks only
          val pairs = blocks
            .withColumn("pair", expr("blk div 2"))
            .withColumn("side", col("blk") % 2)
            .groupBy("pair")
            .agg(count(lit(1)).as("np"),
              sum(when(col("side") === 0, col("s")).otherwise(-col("s")))
                .as("det"))
            .filter(col("np") === 2)
          pairs.agg(count(lit(1)).as("n_coeffs"),
            sum((col("det") * col("det")).cast("decimal(38,0)")).as("e"))
            .select(lit(k).as("scale_level"), lit(2L << (k - 1)).as("scale_days"),
              col("n_coeffs"),
              fround(col("e").cast("double") / lit((1L << k).toDouble) /
                1e4, 2).as("detail_energy"))
        }
        legs.reduce(_.unionByName(_)).orderBy("scale_level")
      },
      Some("WITH daily AS (SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1) " +
        Seq(1, 2, 3).map { k =>
          val half = 1L << (k - 1)
          s"SELECT CAST($k AS INTEGER) AS scale_level, CAST(${2L << (k - 1)} AS BIGINT) AS scale_days, count(*) AS n_coeffs, floor(CAST(sum(CAST(det AS HUGEINT) * det) AS DOUBLE) / ${1L << k} / 1e4 * 1e2 + 0.5) / 1e2 AS detail_energy FROM (SELECT pair, CAST(sum(CASE WHEN side = 0 THEN s ELSE -s END) AS BIGINT) AS det FROM (SELECT blk // 2 AS pair, blk % 2 AS side, s FROM (SELECT t // $half AS blk, CAST(sum(y) AS BIGINT) AS s, count(*) AS m FROM daily GROUP BY 1) WHERE m = $half) GROUP BY pair HAVING count(*) = 2)"
        }.mkString(" UNION ALL ") + " ORDER BY scale_level"))
  }

  /** USER-JOURNEY TRIGRAMS: the top-15 three-step event-type sequences
    * across all user histories — the journey-mining read behind funnel
    * design ("what do users actually do in order"), one step up from
    * evt_transition_matrix's bigrams. Two leads over one user-keyed
    * window pass; trigrams never straddle users; ranking is
    * (count desc, pattern) deterministic. */
  private val journeyTrigrams = GraftQuery(
    "evt_journey_trigrams",
    "top-15 user-journey event-type trigrams with corpus share",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val tri = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type").as("a"))
        .withColumn("b", lead("a", 1).over(w))
        .withColumn("c", lead("a", 2).over(w))
        .filter(col("b").isNotNull && col("c").isNotNull)
        .select(concat_ws(">", col("a"), col("b"), col("c")).as("pattern"))
      val counts = tri.groupBy("pattern").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum("n").as("nn"))
      counts.crossJoin(broadcast(tot))
        .select(col("pattern"), col("n"),
          fround(col("n").cast("double") / col("nn"), 4).as("share"))
        .orderBy(desc("n"), col("pattern")).limit(15)
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type AS a FROM events), tr AS (SELECT a, lead(a, 1) OVER w AS b, lead(a, 2) OVER w AS c FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), pat AS (SELECT a || '>' || b || '>' || c AS pattern FROM tr WHERE b IS NOT NULL AND c IS NOT NULL), ct AS (SELECT pattern, count(*) AS n FROM pat GROUP BY 1), t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct) SELECT pattern, n, floor(CAST(n AS DOUBLE) / nn * 1e4 + 0.5) / 1e4 AS share FROM ct CROSS JOIN t ORDER BY n DESC, pattern LIMIT 15"""))

  /** TIME-CONSTRAINED FUNNEL: signup → purchase conversion with and
    * without a 7-day completion window — evt_funnel counts any later
    * purchase; real funnel reporting caps the clock, and the gap between
    * the two numbers is the "slow converter" mass. One conditional
    * min-aggregation pass per user (no per-stage self-join); the window
    * test compares exact integer microseconds. */
  private val funnelConstrained = GraftQuery(
    "evt_funnel_constrained",
    "signup→purchase funnel: anytime vs within-7-days conversion",
    (s, d) => {
      val week = 7L * 86400L * 1000000L
      val fu = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("su"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("pu"))
        .filter(col("su").isNotNull)
      fu.agg(count(lit(1)).as("n_signups"),
          sum(when(col("pu").isNotNull && col("pu") >= col("su"), 1L)
            .otherwise(0L)).as("conv_any"),
          sum(when(col("pu").isNotNull && col("pu") >= col("su") &&
            col("pu") < col("su") + week, 1L).otherwise(0L)).as("conv_7d"))
        .select(col("n_signups"), col("conv_any"), col("conv_7d"),
          fround(col("conv_any").cast("double") / col("n_signups"), 4)
            .as("rate_any"),
          fround(col("conv_7d").cast("double") / col("n_signups"), 4)
            .as("rate_7d"))
    },
    Some(s"""WITH fu AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS su, min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS pu FROM events GROUP BY 1), f AS (SELECT * FROM fu WHERE su IS NOT NULL) SELECT count(*) AS n_signups, CAST(sum(CASE WHEN pu IS NOT NULL AND pu >= su THEN 1 ELSE 0 END) AS BIGINT) AS conv_any, CAST(sum(CASE WHEN pu IS NOT NULL AND pu >= su AND pu < su + ${7L * 86400L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS conv_7d, floor(CAST(sum(CASE WHEN pu IS NOT NULL AND pu >= su THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS rate_any, floor(CAST(sum(CASE WHEN pu IS NOT NULL AND pu >= su AND pu < su + ${7L * 86400L * 1000000L} THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS rate_7d FROM f"""))

  /** ATTRIBUTION MODEL COMPARISON: every purchase credited under BOTH
    * first-touch (the earliest prior non-purchase event) and last-touch
    * (evt_attribution's rule) in ONE user-keyed window pass — two carries
    * over the same frame — with per-channel credit counts side by side
    * and the share of purchases the two models credit differently. The
    * model-choice sensitivity read marketing reporting runs before
    * standardizing on either. */
  private val attributionCompare = GraftQuery(
    "evt_attribution_compare",
    "first-touch vs last-touch purchase credit per channel + disagreement",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val credited = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
        .withColumn("src",
          when(col("event_type") =!= "purchase", col("event_type")))
        .withColumn("first_ch",
          coalesce(first("src", ignoreNulls = true).over(w), lit("direct")))
        .withColumn("last_ch",
          coalesce(last("src", ignoreNulls = true).over(w), lit("direct")))
        .filter(col("event_type") === "purchase")
      credited.groupBy(col("first_ch").as("channel"))
        .agg(count(lit(1)).as("n_first_touch"),
          sum(when(col("first_ch") =!= col("last_ch"), 1L).otherwise(0L))
            .as("n_disagree_as_first"))
        .join(credited.groupBy(col("last_ch").as("channel"))
          .agg(count(lit(1)).as("n_last_touch")), Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
          coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"),
          coalesce(col("n_disagree_as_first"), lit(0L)).as("n_disagree_as_first"))
        .orderBy("channel")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events), m AS (SELECT *, CASE WHEN event_type <> 'purchase' THEN event_type END AS src FROM ev), a AS (SELECT *, coalesce(first_value(src IGNORE NULLS) OVER w, 'direct') AS first_ch, coalesce(last_value(src IGNORE NULLS) OVER w, 'direct') AS last_ch FROM m WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), p AS (SELECT * FROM a WHERE event_type = 'purchase'), f AS (SELECT first_ch AS channel, count(*) AS n_first_touch, CAST(sum(CASE WHEN first_ch <> last_ch THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree_as_first FROM p GROUP BY 1), l AS (SELECT last_ch AS channel, count(*) AS n_last_touch FROM p GROUP BY 1) SELECT channel, coalesce(f.n_first_touch, 0) AS n_first_touch, coalesce(l.n_last_touch, 0) AS n_last_touch, coalesce(f.n_disagree_as_first, 0) AS n_disagree_as_first FROM f FULL JOIN l USING (channel) ORDER BY channel"""))

  /** GROWTH ACCOUNTING: every day's active users decomposed into NEW
    * (first-ever day), RETAINED (also active yesterday), and RESURRECTED
    * (seen before, but not yesterday), with CHURNED (active yesterday,
    * absent today) attributed to today — the identity
    * DAU_t = DAU_{t−1} + new + resurrected − churned that every growth
    * team reports (spec verifies it telescopes exactly). One user-keyed
    * window pass over the distinct user-day table classifies every
    * active day; churn is the same lag information read from the NEXT
    * day's side (lead), so no second scan. */
  private val growthAccounting = GraftQuery(
    "evt_growth_accounting",
    "daily new/retained/resurrected/churned decomposition of active users",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      val du = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("prev", lag("day", 1).over(w))
        .withColumn("nxt", lead("day", 1).over(w))
        .withColumn("cls",
          when(col("prev").isNull, "new")
            .when(datediff(col("day"), col("prev")) === 1, "retained")
            .otherwise("resurrected"))
      val active = du.groupBy("day")
        .agg(count(lit(1)).as("dau"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      // churned ON day d+1: active on d with no activity on d+1
      val churn = du
        .filter(col("nxt").isNull || datediff(col("nxt"), col("day")) > 1)
        .groupBy(date_add(col("day"), 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("day"), "left")
        .select(col("day"), col("dau"), col("n_new"), col("n_retained"),
          col("n_resurrected"), coalesce(col("n_churned"), lit(0L))
            .as("n_churned"))
        .orderBy("day")
    },
    Some("""WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), l AS (SELECT *, lag(day) OVER w AS prev, lead(day) OVER w AS nxt FROM du WINDOW w AS (PARTITION BY user_id ORDER BY day)), cls AS (SELECT *, CASE WHEN prev IS NULL THEN 'new' WHEN datediff('day', prev, day) = 1 THEN 'retained' ELSE 'resurrected' END AS cls FROM l), act AS (SELECT day, count(*) AS dau, CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new, CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected FROM cls GROUP BY 1), ch AS (SELECT day + 1 AS day, count(*) AS n_churned FROM l WHERE nxt IS NULL OR datediff('day', day, nxt) > 1 GROUP BY 1) SELECT act.day, dau, n_new, n_retained, n_resurrected, coalesce(ch.n_churned, 0) AS n_churned FROM act LEFT JOIN ch ON act.day = ch.day ORDER BY act.day"""))

  /** EVENT-PATTERN MATCHING (the MATCH_RECOGNIZE surface Spark SQL lacks,
    * spelled with windows): find V-REVERSALS in each type's daily value
    * series — a decline run of ≥ 2 days immediately followed by a rise
    * run of ≥ 2 days. Runs come from the gaps-and-islands double
    * row_number (one keyed shuffle); run adjacency is a lead() over the
    * run table (run-count-sized). Per episode: bottom day, run lengths,
    * exact centi decline/recovery amounts. The same skeleton spells any
    * A+B+C* pattern — runs ARE the compiled NFA states. */
  private val patternVshape = GraftQuery(
    "evt_pattern_vshape",
    "MATCH_RECOGNIZE stand-in: >=2-down-then->=2-up V-reversals per type",
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(centi(col("value"))).as("y"))
      val dz = daily.withColumn("delta", col("y") - lag("y", 1).over(w))
        .filter(col("delta").isNotNull)
        .withColumn("sgn", when(col("delta") > 0, 1)
          .when(col("delta") < 0, -1).otherwise(0))
      val runs = dz
        .withColumn("grp", row_number().over(w) - row_number().over(
          Window.partitionBy("event_type", "sgn").orderBy("day")))
        .groupBy("event_type", "sgn", "grp")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"),
          max("day").as("end_day"), sum("delta").as("tot"))
      val wr = Window.partitionBy("event_type").orderBy("start_day")
      runs
        .withColumn("nsgn", lead("sgn", 1).over(wr))
        .withColumn("nlen", lead("len", 1).over(wr))
        .withColumn("ntot", lead("tot", 1).over(wr))
        .filter(col("sgn") === -1 && col("len") >= 2 &&
          col("nsgn") === 1 && col("nlen") >= 2)
        .select(col("event_type"), col("end_day").as("bottom_day"),
          col("len").as("decline_days"), col("nlen").as("rise_days"),
          fround(-col("tot").cast("double") / 100.0, 2).as("decline_amt"),
          fround(col("ntot").cast("double") / 100.0, 2).as("recovery_amt"))
        .orderBy("event_type", "bottom_day")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1, 2), dd AS (SELECT *, y - lag(y) OVER (PARTITION BY event_type ORDER BY day) AS delta FROM daily), dz AS (SELECT event_type, day, delta, CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1 ELSE 0 END AS sgn FROM dd WHERE delta IS NOT NULL), rr AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - row_number() OVER (PARTITION BY event_type, sgn ORDER BY day) AS grp FROM dz), runs AS (SELECT event_type, sgn, grp, CAST(count(*) AS BIGINT) AS len, min(day) AS start_day, max(day) AS end_day, CAST(sum(delta) AS BIGINT) AS tot FROM rr GROUP BY 1, 2, 3), seq AS (SELECT *, lead(sgn) OVER w AS nsgn, lead(len) OVER w AS nlen, lead(tot) OVER w AS ntot FROM runs WINDOW w AS (PARTITION BY event_type ORDER BY start_day)) SELECT event_type, end_day AS bottom_day, len AS decline_days, nlen AS rise_days, floor(CAST(-tot AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS decline_amt, floor(CAST(ntot AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS recovery_amt FROM seq WHERE sgn = -1 AND len >= 2 AND nsgn = 1 AND nlen >= 2 ORDER BY 1, 2"""))

  /** INTERRUPTED TIME SERIES (segmented regression) — the
    * quasi-experimental read when there's no control group: fit separate
    * OLS lines to the daily value series BEFORE and AFTER an
    * intervention date (Jan 16) and report the level jump at the cutoff
    * and the slope change — the two coefficients an ITS analysis
    * publishes. Both fits come from exact integer sufficient statistics
    * (integer moment sums) per event type; the only floats are
    * the final coefficient divisions. One daily rollup + one type-keyed
    * agg per segment. */
  private val interruptedTs = GraftQuery(
    "evt_interrupted_ts",
    "segmented regression: level + slope change at the Jan 16 intervention",
    (s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"),
          (col("ts") >= cut).as("post"))
        .agg(sum(centi(col("value"))).as("y"))
        .withColumn("t", datediff(col("day"),
          when(col("post"), lit("2024-01-16").cast("date"))
            .otherwise(lit("2024-01-01").cast("date"))).cast("long"))
      val seg = daily.groupBy("event_type", "post")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("y").as("sy"),
          sum(col("t") * col("y")).as("sty"),
          sum(col("t") * col("t")).as("stt"))
        .withColumn("slope",
          (col("n") * col("sty") - col("st") * col("sy")).cast("double") /
            (col("n") * col("stt") - col("st") * col("st")).cast("double"))
        .withColumn("icept",
          (col("sy").cast("double") -
            col("slope") * col("st").cast("double")) / col("n"))
      val pre = seg.filter(!col("post"))
        .select(col("event_type"), col("n").as("n_pre"),
          col("slope").as("b1"), col("icept").as("a1"))
      val post = seg.filter(col("post"))
        .select(col("event_type"), col("n").as("n_post"),
          col("slope").as("b2"), col("icept").as("a2"))
      pre.join(post, Seq("event_type"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          fround(col("b1") / 100.0, 4).as("slope_pre"),
          fround(col("b2") / 100.0, 4).as("slope_post"),
          // pre-model projection onto the first post day is a1 + b1*15
          fround((col("a2") - (col("a1") + col("b1") * 15.0)) / 100.0, 4)
            .as("level_change"),
          fround((col("b2") - col("b1")) / 100.0, 4).as("slope_change"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, ts >= TIMESTAMP '2024-01-16 00:00:00' AS post, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y FROM events GROUP BY 1, 2, 3), tt AS (SELECT event_type, post, CAST(date_diff('day', CASE WHEN post THEN DATE '2024-01-16' ELSE DATE '2024-01-01' END, day) AS BIGINT) AS t, y FROM daily), seg AS (SELECT event_type, post, CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * y) AS BIGINT) AS sty, CAST(sum(t * t) AS BIGINT) AS stt FROM tt GROUP BY 1, 2), co AS (SELECT event_type, post, n, CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) AS slope, (CAST(sy AS DOUBLE) - (CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE)) * CAST(st AS DOUBLE)) / n AS icept FROM seg) SELECT p.event_type, p.n AS n_pre, q.n AS n_post, floor(p.slope / 100.0 * 1e4 + 0.5) / 1e4 AS slope_pre, floor(q.slope / 100.0 * 1e4 + 0.5) / 1e4 AS slope_post, floor((q.icept - (p.icept + p.slope * 15.0)) / 100.0 * 1e4 + 0.5) / 1e4 AS level_change, floor((q.slope - p.slope) / 100.0 * 1e4 + 0.5) / 1e4 AS slope_change FROM co p JOIN co q ON p.event_type = q.event_type AND NOT p.post AND q.post ORDER BY 1"""))

  val all: Seq[GraftQuery] =
    Seq(patternVshape, interruptedTs, rollingDau, attribution, firstLast, snapshotDiff, cohortRevenue,
      rfmSegments, paaSax, turningPoints, markovStationary, changepoint,
      autocorr, gapHistogram, islands, survivalKm, entropyRate,
      timeToConvert, maxDrawdown, forecastBacktest, userEntropyProfile,
      fanoFactor, seasonalDecompose, circadianProfile, burstDetection,
      haarEnergy, journeyTrigrams, funnelConstrained, attributionCompare,
      growthAccounting)
}
