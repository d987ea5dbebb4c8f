package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 additions: the graph family's node-sized broadcast gate
  * (`spark.graft.graph.broadcastNodes`, mirroring the decontam eval gate),
  * DecimalType band joins, the pointer-doubled BFS, and the
  * encoding-advisor HLL twin.
  */
class Round11OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("graph broadcastNodes knob: results byte-identical with hints dropped") {
    // the knob moves PLAN shape only (forced broadcast → shuffle + AQE
    // discretion); the exact-integer arithmetic contract means the
    // results must not move by a single byte
    val key = "spark.graft.graph.broadcastNodes"
    val qs = Seq("graph_pagerank", "graph_bfs_distance",
      "graph_neighbor_jaccard", "graph_modularity")
    val before = qs.map(q => run(q).collect().map(_.toString).toSeq)
    spark.conf.set(key, "false")
    val after = try {
      // the hint gate must actually have fired: pagerank's analyzed plan
      // keeps ONLY 1-row-aggregate hints under the knob (the full-family
      // sweep lives in PlanQualitySpec)
      import org.apache.spark.sql.catalyst.plans.logical.{
        Aggregate, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
      def oneRow(p: LogicalPlan): Boolean = p match {
        case a: Aggregate => a.groupingExpressions.isEmpty
        case pr: Project => oneRow(pr.child)
        case sa: SubqueryAlias => oneRow(sa.child)
        case _ => false
      }
      val hints = run("graph_pagerank").queryExecution.analyzed
        .collect { case h: ResolvedHint => h }
      assert(hints.forall(h => oneRow(h.child)),
        "pagerank keeps a corpus-proportional hint under the knob")
      qs.map(q => run(q).collect().map(_.toString).toSeq)
    } finally spark.conf.unset(key)
    assert(after == before, "the broadcastNodes knob must never change results")
  }

  test("BandJoinRewrite decimal path ≡ brute force on boundary-adversarial data") {
    // decimal arithmetic is exact, so the adversaries are values sitting
    // EXACTLY at distance ε (inclusive boundary), one scale-ulp inside and
    // outside it, negatives, and an ε of FINER scale than the operands
    // (exercising the CEILING lift: ε' > ε admits candidates the kept
    // original predicate must then reject)
    import spark.implicits._
    val cases = Seq( // (operand scale as cast type, eps literal)
      ("decimal(12,2)", BigDecimal("500.00")), // same scale
      ("decimal(12,2)", BigDecimal("499.995")), // finer ε → ceiling lift
      ("decimal(10,0)", BigDecimal("37")), // integer money
      ("decimal(18,4)", BigDecimal("0.0003"))) // near-max precision
    val rnd = new scala.util.Random(1111L)
    for (((dt, eps), ci) <- cases.zipWithIndex) {
      val scale = dt.split("[(,)]")(2).trim.toInt
      val ulp = BigDecimal(1, scale)
      def gen(n: Int) = (0 until n).map { i =>
        val base = eps * BigDecimal(rnd.nextInt(41) - 20)
        val v = rnd.nextInt(4) match {
          case 0 => base
          case 1 => base + ulp
          case 2 => base - ulp
          case _ => base + ulp * BigDecimal(rnd.nextInt(2000) - 1000)
        }
        (v.setScale(scale, BigDecimal.RoundingMode.HALF_UP), i.toLong)
      }
      val xs = gen(250); val ys = gen(150)
      val l = xs.toDF("x", "i")
        .select(col("x").cast(dt).as("x"), col("i")).repartition(3)
      val r = ys.toDF("y", "j")
        .select(col("y").cast(dt).as("y"), col("j")).repartition(2)
      val joined = l.join(r, abs(col("x") - col("y")) <= lit(eps))
        .select("i", "j")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"case $ci ($dt, eps=$eps): decimal band rewrite did not fire:\n${p.take(1200)}")
      val got = joined.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      val want = (for {
        (x, i) <- xs; (y, j) <- ys if (x - y).abs <= eps
      } yield (i, j)).toSet
      assert(got == want,
        s"case $ci ($dt, eps=$eps): missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("pointer-doubled BFS: log2 rounds, census identical to the unrolled form") {
    // depth 3 must complete in 2 rounds (covered radius 1 then 3); the
    // census must hash-match the unrolled variant (both share the DuckDB
    // oracle — this pins them against each other locally too)
    val unrolled = run("graph_bfs_distance").collect().map(_.toString).toSeq
    val doubled = run("graph_bfs_doubling").collect().map(_.toString).toSeq
    assert(doubled == unrolled,
      "doubling must be pure plan shape: census moved")
    // round-count law: ceil(log2(depth+1)) — asserted through the helper
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L))
    val symDf = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val seed = Seq((1L, 0L)).toDF("id", "dist")
    for ((depth, wantRounds) <- Seq(1 -> 1, 2 -> 2, 3 -> 2, 4 -> 3, 7 -> 3)) {
      val (dist, rounds) = graft.operators.GraphOps.bfsDoubled(symDf, seed, depth)
      assert(rounds == wantRounds, s"depth $depth: $rounds rounds")
      val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (1L to 8L).map(i => i -> (i - 1)).filter(_._2 <= depth).toMap
      assert(got == want, s"depth $depth: $got")
    }
  }

  test("BandJoinRewrite date path ≡ brute force on boundary-adversarial dates") {
    // DateType is epoch days — exact arithmetic, so the adversaries are
    // dates exactly AT the band boundary, one day inside/outside, and
    // pre-1970 (negative epoch days, exercising the pmod spelling)
    import spark.implicits._
    val rnd = new scala.util.Random(1112L)
    for ((eps, ci) <- Seq(1, 7, 30).zipWithIndex) {
      def gen(n: Int) = (0 until n).map { i =>
        val base = (rnd.nextInt(200) - 100) * eps // straddles 1970
        val d = rnd.nextInt(4) match {
          case 0 => base
          case 1 => base + 1
          case 2 => base - 1
          case _ => base + rnd.nextInt(4 * eps) - 2 * eps
        }
        (java.time.LocalDate.ofEpochDay(d.toLong), i.toLong)
      }
      val xs = gen(250); val ys = gen(150)
      val l = xs.toDF("x", "i").repartition(3)
      val r = ys.toDF("y", "j").repartition(2)
      val joined = l.join(r, abs(datediff(col("x"), col("y"))) <= lit(eps))
        .select("i", "j")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"case $ci (eps=$eps days): date band rewrite did not fire:\n${p.take(1200)}")
      val got = joined.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      val want = (for {
        (x, i) <- xs; (y, j) <- ys
        if math.abs(x.toEpochDay - y.toEpochDay) <= eps
      } yield (i, j)).toSet
      assert(got == want,
        s"case $ci (eps=$eps): missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("j_band_date matches a brute-force cross join at sf0.001 and never nested-loops") {
    val df = run("j_band_date")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(1200))
    val out = df.collect()
    assert(out.nonEmpty, "j_band_date degenerated to zero rows at sf0.001")
    val ords = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("dy")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate.toEpochDay))
    val as = ords.filter(_._2 < 50); val bs = ords.filter(t => t._2 >= 50 && t._2 < 100)
    val want = (for {
      (ka, _, da) <- as; (kb, _, db) <- bs if math.abs(da - db) <= 1
    } yield (ka, kb, math.abs(da - db))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
  }

  test("BandJoinRewrite timestamp path ≡ brute force on boundary-adversarial instants") {
    // intervals and timestamps are exact Long microseconds — the
    // adversaries are instants exactly AT the band boundary and one
    // microsecond inside/outside it, pre-1970 included
    import spark.implicits._
    val rnd = new scala.util.Random(1113L)
    val epsUs = 90L * 1000000L // 90 seconds
    def gen(n: Int) = (0 until n).map { i =>
      val base = (rnd.nextInt(400) - 200).toLong * epsUs
      val us = rnd.nextInt(4) match {
        case 0 => base
        case 1 => base + 1L
        case 2 => base - 1L
        case _ => base + rnd.nextLong(4 * epsUs) - 2 * epsUs
      }
      (java.time.Instant.EPOCH.plus(java.time.Duration.ofNanos(us * 1000)), i.toLong)
    }
    val xs = gen(250); val ys = gen(150)
    val l = xs.toDF("x", "i").repartition(3)
    val r = ys.toDF("y", "j").repartition(2)
    val joined = l.join(r,
        abs(col("x") - col("y")) <= lit(java.time.Duration.ofSeconds(90)))
      .select("i", "j")
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"timestamp band rewrite did not fire:\n${p.take(1200)}")
    val got = joined.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    def us(t: java.time.Instant) = t.getEpochSecond * 1000000L + t.getNano / 1000L
    val want = (for {
      (x, i) <- xs; (y, j) <- ys if math.abs(us(x) - us(y)) <= epsUs
    } yield (i, j)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("timestamp band also fires on NTZ operands (UTC-pinned internal micros)") {
    // TimestampNTZ is wall-clock micros internally; the bucket goes
    // through an explicitly UTC-zoned cast, so it must fire and be exact
    // regardless of the session zone
    import spark.implicits._
    val mk = (s: String) => java.time.LocalDateTime.parse(s)
    val xs = Seq((mk("2024-01-01T00:00:00"), 1L), (mk("2024-01-01T00:02:00"), 2L),
      (mk("1969-12-31T23:59:00"), 3L))
    val ys = Seq((mk("2024-01-01T00:01:00"), 10L), (mk("1970-01-01T00:00:00"), 11L))
    val l = xs.toDF("x", "i")
    val r = ys.toDF("y", "j")
    assert(l.schema("x").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val joined = l.join(r,
        abs(col("x") - col("y")) <= lit(java.time.Duration.ofSeconds(60)))
      .select("i", "j")
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(1000))
    assert(joined.collect().map(rw => (rw.getLong(0), rw.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 10L), (3L, 11L)))
  }

  test("j_band_timestamp matches a brute-force cross join at sf0.001 and never nested-loops") {
    val df = run("j_band_timestamp")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(1200))
    val out = df.collect()
    assert(out.nonEmpty, "j_band_timestamp degenerated to zero rows at sf0.001")
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val as = evs.filter(_._2 == "purchase"); val bs = evs.filter(_._2 == "error")
    val want = (for {
      (ka, _, ua) <- as; (kb, _, ub) <- bs
      if math.abs(ua - ub) <= 120000000L
    } yield (ka, kb, math.abs(ua - ub))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
  }

  test("graft_lower_bound ≡ the HOF linear scan; rel_range_boundaries rides it in codegen") {
    import spark.implicits._
    graft.functions.expressions.GraftExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(1114L)
    // arrays with duplicates, empty arrays, values at/below/above bounds
    val rows = (0 until 400).map { i =>
      val n = rnd.nextInt(20) // 0..19 elements
      val arr = Seq.fill(n)(rnd.nextInt(100) - 50L).sorted
      val v = rnd.nextInt(120) - 60L
      (arr, v, i.toLong)
    }
    val df = rows.toDF("bs", "v", "i")
    val got = df.selectExpr("i", "graft_lower_bound(bs, v) AS lb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the interpreted linear-scan spelling
    val ref = df.selectExpr("i",
        "aggregate(bs, 0L, (acc, b) -> acc + IF(v > b, 1L, 0L)) AS lb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    // the range-boundary query must carry the primitive (not the HOF) and
    // keep it inside whole-stage codegen
    val p = run("rel_range_boundaries").queryExecution.executedPlan.toString
    assert(p.contains("graft_lower_bound"), p.take(2000))
    assert(!p.toLowerCase.contains("lambdafunction"),
      "interpreted HOF survived in the range-boundary hot path")
    // null ELEMENTS are malformed input (ArrayData.getLong on a null slot
    // reads garbage): a probed null slot must surface as an error, not a
    // wrong partition id — in both codegen and interpreted eval
    val bad = Seq((Seq[java.lang.Long](1L, null, 9L), 5L)).toDF("bs", "v")
    val eCg = intercept[Exception] {
      bad.selectExpr("graft_lower_bound(bs, v)").collect()
    }
    assert(eCg.toString.contains("null element") ||
      Option(eCg.getCause).exists(_.toString.contains("null element")),
      eCg.toString)
    val litLb = graft.functions.expressions.LowerBound(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](1L, null, 9L)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true)),
      org.apache.spark.sql.catalyst.expressions.Literal(5L))
    val eEval = intercept[IllegalArgumentException] { litLb.eval(null) }
    assert(eEval.getMessage.contains("null element"), eEval.getMessage)
  }

  test("events UTC guard: fail-fast message is actionable, override knob opts in explicitly") {
    val tzKey = "spark.sql.session.timeZone"
    val okKey = "spark.graft.events.allowNonUtcSession"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, sf)
      }
      assert(e.getMessage.contains("UTC") && e.getMessage.contains(okKey),
        "the error must name both the contract and the escape hatch")
      spark.conf.set(okKey, "true")
      try assert(Tables.events(spark, sf).count() > 0,
        "explicit opt-in must allow session-local calendar analysis")
      finally spark.conf.unset(okKey)
    } finally spark.conf.set(tzKey, saved)
  }

  test("decimal band precision > 18 falls back (no unscaled-long overflow)") {
    // DECIMAL(20,2) can't ride an unscaled long — the rewrite must NOT
    // fire, and the nested-loop fallback must still be correct
    import spark.implicits._
    val l = Seq((BigDecimal("12345678901234567.89"), 1L),
      (BigDecimal("-12345678901234567.89"), 2L))
      .toDF("x", "i").select(col("x").cast("decimal(20,2)").as("x"), col("i"))
    val r = Seq((BigDecimal("12345678901234568.00"), 3L))
      .toDF("y", "j").select(col("y").cast("decimal(20,2)").as("y"), col("j"))
    val joined = l.join(r, abs(col("x") - col("y")) <= lit(BigDecimal("1.00")))
      .select("i", "j")
    assert(joined.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "p>18 must fall back to the nested loop, not risk unscaled overflow")
    assert(joined.collect().map(rw => (rw.getLong(0), rw.getLong(1))).toSet ==
      Set((1L, 3L)))
  }

  test("TopKPerKey.of self-heals on a session without GraftExtensions (idempotently)") {
    // the explicit door on an extensions-less session used to die at
    // plan time with Spark's opaque INTERNAL_ERROR "No plan for
    // TopKPerKey" — it now registers TopKStrategy via the public
    // ExperimentalMethods registry, exactly once
    import org.apache.spark.sql.SparkSession
    val base = spark
    val savedActive = SparkSession.getActiveSession
    val savedDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val bare = try SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    finally {
      savedDefault.foreach(SparkSession.setDefaultSession)
      savedActive.foreach(SparkSession.setActiveSession)
    }
    val want = run("rel_topk_native").collect().map(_.toString).sorted.toSeq
    val got = SparkEntry.queries("rel_topk_native")(bare, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // second invocation must not stack a duplicate strategy
    SparkEntry.queries("rel_topk_native")(bare, sf).collect()
    assert(bare.experimental.extraStrategies
      .count(_ eq graft.plans.TopKStrategy) == 1,
      "self-heal must be idempotent")
    assert(base.experimental.extraStrategies.isEmpty ||
      !base.experimental.extraStrategies.exists(_ eq graft.plans.TopKStrategy),
      "extensions-installed session must not need the experimental fallback")
  }

  test("registry TZ invariance: every query matches its UTC result under America/New_York") {
    // the engine's semantics are pinned to UTC at the SCAN layer
    // (Tables.events carries an explicit UTC-zoned cast), so results
    // must not move with spark.sql.session.timeZone — a config knob
    // changing answers is the silent-reproducibility hazard class. A
    // query may alternatively refuse non-UTC sessions with the
    // documented fail-fast (IllegalArgumentException naming UTC, the
    // Tables.events contract).
    import org.apache.spark.sql.SparkSession
    val base = spark
    val utc = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      n -> fn(base, sf).collect().map(_.toString).sorted.toSeq
    }
    val savedActive = SparkSession.getActiveSession
    val savedDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val ny = try SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "America/New_York")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    finally {
      savedDefault.foreach(SparkSession.setDefaultSession)
      savedActive.foreach(SparkSession.setActiveSession)
    }
    try {
      val diverged = utc.flatMap { case (n, want) =>
        try {
          val got = SparkEntry.queries(n)(ny, sf)
            .collect().map(_.toString).sorted.toSeq
          if (got == want) None
          else Some(s"$n: values differ under America/New_York " +
            s"(first diff: ${got.zipAll(want, "<missing>", "<missing>")
              .find(p => p._1 != p._2).getOrElse(("", ""))})")
        } catch {
          case e: IllegalArgumentException
              if String.valueOf(e.getMessage).contains("UTC") =>
            None // documented fail-fast
          case e: Throwable =>
            Some(s"$n: ${e.getClass.getSimpleName} " +
              String.valueOf(e.getMessage).take(160))
        }
      }
      assert(diverged.isEmpty,
        s"${diverged.size} queries depend on the session timeZone:\n" +
          diverged.mkString("\n"))
    } finally {
      // child sessions share the warehouse dir: layout queries may have
      // rebuilt managed tables on disk — refresh the shared session's
      // file listings (same hygiene as Round10's config-only test)
      base.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_"))
        .foreach { t =>
          try base.sql(s"REFRESH TABLE $t") catch { case _: Throwable => () }
        }
    }
  }

  test("j_band_decimal matches a brute-force cross join at sf0.001 and never nested-loops") {
    val df = run("j_band_decimal")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p.take(1200))
    val out = df.collect()
    assert(out.nonEmpty, "j_band_decimal degenerated to zero rows at sf0.001")
    val cents = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_acctbal").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    val want = (for {
      (ka, ca) <- cents; (kb, cb) <- cents
      if ka < kb && math.abs(ca - cb) <= 50000L
    } yield (ka, kb, math.abs(ca - cb))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
  }
}
