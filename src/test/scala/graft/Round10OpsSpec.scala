package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 additions: contract hardening on the custom-operator doors
  * (TopKPerKey.of rejects non-scalar key/order expressions with the
  * documented exception) and the generalized band-join surface.
  */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("TopKPerKey.of rejects an aggregate smuggled in as key/order with IllegalArgumentException") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 1L), (1L, 3.0, 2L)).toDF("k", "v", "id")
    // an aggregate function as the KEY analyzes to an Aggregate plan, not
    // a Project — must land on the documented IllegalArgumentException,
    // never a raw ClassCastException
    val e1 = intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.of(df, Seq(sum(col("k"))), Seq(col("v")), 2)
    }
    assert(e1.getMessage.contains("TopKPerKey"))
    // and as the ORDER column (Sort over an aggregate analyzes away from
    // the expected bare Sort shape or fails analysis — either way the
    // door's contract is the same exception type)
    val e2 = intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.of(df, Seq(col("k")), Seq(max(col("v")).desc), 2)
    }
    assert(e2.getMessage.contains("TopKPerKey"))
    // unresolvable column: same contract
    val e3 = intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.of(df, Seq(col("nope")), Seq(col("v")), 2)
    }
    assert(e3.getMessage.contains("TopKPerKey"))
  }

  test("BandJoinRewrite double path ≡ brute force on boundary-adversarial data") {
    // the DoubleType band buckets via floor(x/ε) with a ±2 explode reach;
    // the hazard class is a quotient within half an ulp of an integer
    // flooring to the wrong bucket. Fuzz exactly that: values seeded ON
    // ε-multiples and one ulp to either side, negatives included, random
    // ε across four orders of magnitude, all compared against a local
    // brute force of the same IEEE predicate.
    import spark.implicits._
    val rnd = new scala.util.Random(1010L)
    for (trial <- 1 to 5) {
      val eps = math.pow(10.0, rnd.nextInt(4) - 2) * (1.0 + rnd.nextDouble())
      def gen(n: Int) = (0 until n).map { i =>
        val base = (rnd.nextInt(400) - 200) * eps
        val v = rnd.nextInt(4) match {
          case 0 => base                           // exactly on a bucket boundary
          case 1 => base + eps * rnd.nextDouble()  // interior
          case 2 => base + math.ulp(base)          // one ulp above the boundary
          case _ => base - math.ulp(base)          // one ulp below
        }
        (v, i.toLong)
      }
      val xs = gen(300)
      val ys = gen(200)
      val l = xs.toDF("x", "i").repartition(3)
      val r = ys.toDF("y", "j").repartition(2)
      val joined = l.join(r, abs(col("x") - col("y")) <= lit(eps)).select("i", "j")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"trial $trial (eps=$eps): double-band rewrite did not fire:\n${p.take(1200)}")
      val got = joined.collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      val want = (for {
        (x, i) <- xs; (y, j) <- ys if math.abs(x - y) <= eps
      } yield (i, j)).toSet
      assert(got == want,
        s"trial $trial (eps=$eps): missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("j_band_double matches a brute-force cross join at sf0.001") {
    // sanity at the smallest SF (the DuckDB oracle pins sf0.01; this
    // catches data-dependent degeneracy — the band must be non-empty)
    val out = run("j_band_double").collect()
    assert(out.nonEmpty, "j_band_double degenerated to zero rows at sf0.001")
    val bal = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = (for {
      (ka, va) <- bal; (kb, vb) <- bal
      if ka < kb && math.abs(va - vb) <= 500.0
    } yield (ka, kb)).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("decontam eval broadcast: hint pinned to the eval side, knob drops it, results identical") {
    // the eval-side broadcast is contractual (eval sets are
    // benchmark-sized) — the guard asserts the hint sits ONLY on the
    // eval-derived relation, and spark.graft.decontam.broadcastEval=false
    // must drop it (for oversized eval sets) without moving a single row
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val key = "spark.graft.decontam.broadcastEval"
    val qs = Seq("txt_decontaminate", "txt_decontaminate_bloom")
    for (q <- qs) {
      val hints = run(q).queryExecution.analyzed
        .collect { case h: ResolvedHint => h }
      assert(hints.size == 1,
        s"$q: expected exactly the eval-side broadcast hint, got ${hints.size}")
      assert(hints.head.child.schema.fieldNames.sameElements(
          Array("eval_id", "sh")),
        s"$q: the hinted side must be the eval split, got schema " +
          hints.head.child.schema.fieldNames.mkString(","))
    }
    val before = qs.map(q => run(q).collect().map(_.toString).sorted.toSeq)
    spark.conf.set(key, "false")
    val after = try {
      for (q <- qs) {
        val hints = run(q).queryExecution.analyzed
          .collect { case h: ResolvedHint => h }
        assert(hints.isEmpty,
          s"$q: $key=false must drop the eval broadcast hint (AQE still " +
            "free to runtime-broadcast from observed sizes)")
      }
      qs.map(q => run(q).collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.unset(key)
    assert(after == before, "the broadcast knob must never change results")
  }

  test("registry contract: every query has an oracle XOR a declared bounding suite") {
    // a no-oracle query with no bounded_by is UNVERIFIED; an oracled query
    // with one is a stale annotation — both are registry bugs
    val bad = SparkEntry.registry.filter(q => q.oracle.isDefined == q.boundedBy.isDefined)
    assert(bad.isEmpty,
      s"oracle XOR boundedBy violated by: ${bad.map(_.name).mkString(", ")}")
    // the declared suites must exist as test sources (typo guard). The
    // test-source dir is resolved from a stable anchor — user.dir walked
    // up to build.sbt — and the guard FAILS when it can't be located: a
    // silently-skipped typo check in a rooted/forked runner is how a
    // misspelled boundedBy would reach the driver unverified.
    var root = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    while (root != null && !new java.io.File(root, "build.sbt").isFile)
      root = root.getParentFile
    assert(root != null,
      "cannot locate repo root (no build.sbt above user.dir) — the " +
        "bounded_by typo guard must run, not silently skip")
    val testDir = new java.io.File(root, "src/test/scala/graft")
    assert(testDir.isDirectory, s"$testDir missing — typo guard cannot run")
    val suites = testDir.list().toSet
    SparkEntry.boundedBy.values.toSet.foreach { (s: String) =>
      assert(suites.contains(s + ".scala"),
        s"bounded_by suite $s has no source file under src/test/scala/graft")
    }
  }

  test("full registry resolves on a config-only extensions session, one fresh session per query") {
    // NOTE (round 11): spark.sql.extensions is a STATIC conf — on a
    // builder that reuses this JVM's existing SparkContext it is
    // silently ignored (proven empirically: a TopKPerKey node planned
    // on such a session found no strategy until TopKPerKey.of learned
    // to self-heal). So what this test actually proves is STRONGER than
    // config parity: every registered query resolves on a session with
    // NO graft extensions at all — the per-query self-registration path
    // alone suffices for analysis. A FRESH child session per query
    // means one query's internal self-registration can never mask a
    // registration gap in another (the round-8 LayoutOps bug class,
    // caught structurally instead of per-module).
    import org.apache.spark.sql.SparkSession
    val base = spark // force the shared session first
    val savedActive = SparkSession.getActiveSession
    val savedDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val configOnly = try
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    finally {
      savedDefault.foreach(SparkSession.setDefaultSession)
      savedActive.foreach(SparkSession.setActiveSession)
    }
    assert(configOnly ne base, "builder must not reuse the shared session")
    try {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val s = configOnly.newSession() // fresh SessionState, extensions re-applied
        try { fn(s, sf).schema; None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
        }
      }
      assert(failures.isEmpty,
        s"${failures.size} queries failed to resolve on a config-only session:\n" +
          failures.mkString("\n"))
    } finally {
      // configOnly carries its OWN SharedState (fresh in-memory catalog over
      // the same warehouse dir), so layout query fns may have dropped and
      // rebuilt the managed bucketed tables ON DISK — the shared test
      // session's cached file listings then point at deleted part files.
      // Refresh every managed graft table in the shared session so later
      // suites read the rebuilt files, not the stale listing.
      base.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_"))
        .foreach { t =>
          try base.sql(s"REFRESH TABLE $t")
          catch { case _: Throwable => () }
        }
    }
  }
}
