package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariant + independent-reimplementation checks for the round-8
  * operators. */
class Round8OpsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---- duplicated-span detection -------------------------------------------

  test("dedup_dup_spans: every reported span is a genuine verbatim token match") {
    val spans = run("dedup_dup_spans").collect()
    assert(spans.nonEmpty && spans.forall(_.getLong(2) >= 8L),
      "spans shorter than the gram size are impossible")
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    spans.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (len, sa, sb) = (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4).toInt)
      val sliceA = texts(a).slice(sa, sa + len)
      val sliceB = texts(b).slice(sb, sb + len)
      assert(sliceA == sliceB, s"span ($a,$b,$len,$sa,$sb) is not verbatim")
    }
  }

  test("dedup_dup_spans: spans are maximal (not extendable on either side)") {
    val spans = run("dedup_dup_spans").collect()
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    spans.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (len, sa, sb) = (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4).toInt)
      val (ta, tb) = (texts(a), texts(b))
      val leftExt = sa > 0 && sb > 0 && ta(sa - 1) == tb(sb - 1)
      val rightExt = sa + len < ta.length && sb + len < tb.length &&
        ta(sa + len) == tb(sb + len)
      assert(!leftExt && !rightExt, s"span ($a,$b,$len,$sa,$sb) is extendable")
    }
  }

  // ---- two-pass exact median ------------------------------------------------

  test("agg_median_twopass matches a direct in-memory median per group") {
    val got = run("agg_median_twopass").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val raw = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    raw.foreach { case (flag, sortedPc) =>
      val n = sortedPc.length
      val med = (sortedPc((n - 1) / 2) + sortedPc(n / 2)) / 2.0 / 100.0
      val (gn, gmed) = got(flag)
      assert(gn == n.toLong)
      assert(math.abs(gmed - math.floor(med * 1e4 + 0.5) / 1e4) < 1e-9,
        s"$flag: got $gmed want $med")
    }
  }

  // ---- ALL-quantified subquery ---------------------------------------------

  test("sq_all_quantified equals the brute per-customer ALL evaluation") {
    val got = run("sq_all_quantified").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byCust = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("pc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val qualifying = byCust.filter { case (_, pcs) => pcs.forall(_ >= 5000000L) }
    val seg = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = qualifying.toSeq.groupBy { case (ck, _) => seg(ck) }
      .map { case (sg, xs) =>
        sg -> (xs.size.toLong, xs.map(_._2.size.toLong).sum) }
    assert(got == want)
  }

  // ---- layout audits --------------------------------------------------------

  test("rel_zorder_layout: matched counts are layout-independent and zorder prunes the partkey-only box better") {
    val out = run("rel_zorder_layout").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    (1 to 3).foreach { b =>
      assert(out(("linear", b))._4 == out(("zorder", b))._4,
        s"box $b matched differs by layout")
    }
    // box 1 constrains only partkey: a date-linear layout cannot prune it
    assert(out(("zorder", 1))._1 < out(("linear", 1))._1,
      "zorder must scan fewer files for the partkey-only box")
  }

  test("rel_compaction_plan: bins are contiguous, ordered, and conserve rows") {
    val out = run("rel_compaction_plan").collect()
    val total = Tables.lineitem(spark, sf).count()
    assert(out.map(_.getLong(4)).sum == total, "row conservation")
    assert(out.map(_.getLong(0)).toSeq == out.indices.map(_.toLong),
      "bin ids are consecutive from 0")
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) < b.getLong(1), "file ranges strictly ordered")
      case _ => ()
    }
  }

  // ---- MortonZ native expression --------------------------------------------

  test("graft_zvalue equals the HOF interleave and stays in whole-stage codegen") {
    import spark.implicits._
    val grid = (for (x <- 0L to 255L by 17L; y <- 0L to 255L by 13L)
      yield (x, y)) :+ ((0L, 0L)) :+ ((255L, 255L))
    val df = grid.toDF("px", "dyb")
    val hof =
      """aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) ->
         acc + CAST((((px div shiftleft(1, i)) % 2) +
                     2 * ((dyb div shiftleft(1, i)) % 2)) AS BIGINT)
               * shiftleft(1, 2 * i))"""
    val both = df.selectExpr("px", "dyb", s"graft_zvalue(px, dyb) AS zn", s"$hof AS zh")
    assert(both.filter(col("zn") =!= col("zh")).count() == 0L)
    // inverse property: de-interleaving z recovers both coordinates
    val z = both.selectExpr("px", "dyb", "zn").collect()
    z.foreach { r =>
      val (px, dyb, zv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val rx = (0 until 8).map(i => ((zv >> (2 * i)) & 1L) << i).sum
      val ry = (0 until 8).map(i => ((zv >> (2 * i + 1)) & 1L) << i).sum
      assert(rx == px && ry == dyb)
    }
    // the primitive must not fall out of whole-stage codegen (a local
    // literal table constant-folds to LocalTableScan, so assert over a
    // real parquet scan)
    val plan = Tables.lineitem(spark, sf)
      .selectExpr("graft_zvalue(l_orderkey % 256, l_suppkey % 256) AS z")
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen-compiled operator; a
    // CodegenFallback expression would render a bare Project instead
    assert(plan.contains("*(1) Project [graft_zvalue"), plan)
  }

  // ---- JL distortion --------------------------------------------------------

  test("sim_rank_spearman: rho bounded and exact for one probe recomputed in memory") {
    val out = run("sim_rank_spearman").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty && out.values.forall(v => v >= -1.0 && v <= 1.0))
    // brute recompute for the first probe
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val qid = out.keys.min
    val qv = vecs(qid)
    def cos(a: Array[Double], b: Array[Double], dims: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val full = vecs.filter(_._1 != qid).map { case (id, v) => (id, cos(qv, v, 64)) }
      .toSeq.sortBy { case (id, c) => (-math.floor(c * 1e6 + 0.5), id) }
    val top = full.take(20).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val pre = top.keys.toSeq.map { id => (id, cos(qv, vecs(id), 16)) }
      .sortBy { case (id, c) => (-math.floor(c * 1e6 + 0.5), id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val k = top.size
    val sd2 = top.map { case (id, r) => { val dd = (r - pre(id)).toLong; dd * dd } }.sum
    val rho = 1.0 - 6.0 * sd2 / (k.toLong * (k.toLong * k - 1))
    assert(math.abs(out(qid) - math.floor(rho * 1e4 + 0.5) / 1e4) < 1e-9)
  }

  // ---- LSH power eval -------------------------------------------------------

  test("dedup_lsh_power_eval: probabilities bounded, theory monotone, exact dups always collide") {
    val out = run("dedup_lsh_power_eval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, th, re) =>
      assert(n > 0 && th >= 0.0 && th <= 1.0 && re >= 0.0 && re <= 1.0)
    }
    val sorted = out.sortBy(_._1)
    sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
      assert(a._3 <= b._3 + 1e-9,
        "mean theory must be monotone in the Jaccard bucket")
    }
    // j = 1 exact-duplicate bucket: identical shingle sets give identical
    // signatures, so realized collision is certain
    sorted.find(_._1 == 10L).foreach { case (_, _, _, re) =>
      assert(re == 1.0, "identical sets must always share a band")
    }
  }

  // ---- V-shape pattern matching ---------------------------------------------

  test("evt_pattern_vshape matches an in-memory NFA over the daily series") {
    val got = run("evt_pattern_vshape").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val want: Seq[(String, String, Long, Long)] =
      daily.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
        val ys: Seq[(String, String, Long)] = rows.toSeq.sortBy(_._2)
        val deltas: Seq[(String, Long)] = ys.zip(ys.drop(1))
          .map { case ((_, _, y0), (_, d1, y1)) => (d1, y1 - y0) }
        // run-length encode the delta signs
        val runs = scala.collection.mutable.ArrayBuffer[(Int, List[(String, Long)])]()
        deltas.foreach { case (day, dl) =>
          val sg = java.lang.Long.signum(dl)
          if (runs.nonEmpty && runs.last._1 == sg)
            runs(runs.length - 1) = (sg, runs.last._2 :+ ((day, dl)))
          else runs += ((sg, List((day, dl))))
        }
        runs.toList.zip(runs.toList.drop(1)).collect {
          case ((-1, down), (1, up)) if down.length >= 2 && up.length >= 2 =>
            (et, down.last._1, down.length.toLong, up.length.toLong)
        }
      }
    assert(got.sortBy(t => (t._1, t._2)).toSeq ==
      want.sortBy(t => (t._1, t._2)))
  }

  // ---- band join ------------------------------------------------------------

  test("j_band_bucketed equals the brute-force band filter") {
    val got = run("j_band_bucketed").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bals = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), floor(col("s_acctbal") * 100 + 0.5).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, ba) <- bals; (b, bb) <- bals
      if a < b && math.abs(ba - bb) <= 10000L
    } yield (a, b)).toSet
    assert(got == want)
  }

  // ---- PMI collocations -----------------------------------------------------

  test("txt_pmi_collocations: support floor respected, top PMI recomputed in memory") {
    val out = run("txt_pmi_collocations").collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) >= 5L))
    val toks = Tables.documents(spark, sf)
      .select(split(lower(col("text")), " ").as("t")).collect()
      .map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = toks.map(_.size.toLong).sum
    val bi = toks.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val top = out.head
    val Array(w1, w2) = top.getString(0).split(" ")
    val want = math.log(bi((w1, w2)).toDouble * n / (uni(w1) * uni(w2)))
    assert(math.abs(top.getDouble(2) - math.floor(want * 1e4 + 0.5) / 1e4) < 1e-9)
    // and nothing with higher PMI was left out of the top-30
    val best = bi.filter(_._2 >= 5L).map { case ((a, b), c) =>
      math.floor(math.log(c.toDouble * n / (uni(a) * uni(b))) * 1e4 + 0.5) / 1e4
    }.max
    assert(top.getDouble(2) == best)
  }

  // ---- 4-4-5 fiscal calendar ------------------------------------------------

  test("cal_fiscal_445: order conservation and period arithmetic consistent") {
    val out = run("cal_fiscal_445").collect()
    val total = Tables.orders(spark, sf).count()
    assert(out.map(_.getLong(3)).sum == total, "every order lands in one period")
    out.foreach { r =>
      val (q, p) = (r.getLong(1), r.getLong(2))
      assert(p >= 1 && p <= 12 && q >= 1 && q <= 4)
      assert((p - 1) / 3 + 1 == q, s"period $p not inside quarter $q")
    }
  }

  // ---- minhash estimator error ----------------------------------------------

  test("dedup_minhash_error_eval: bounded error, zero for identical sets") {
    val out = run("dedup_minhash_error_eval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, e) => assert(n > 0 && e >= 0.0 && e <= 1.0) }
    out.find(_._1 == 10L).foreach { case (_, _, e) =>
      assert(e == 0.0, "identical shingle sets have identical signatures")
    }
  }

  // ---- temporal split audit -------------------------------------------------

  // ---- CUPED ----------------------------------------------------------------

  test("evt_uplift_cuped: theta and adjusted means replay from user moments") {
    val out = run("evt_uplift_cuped").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out.size == 2)
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    def u32(sx: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val users = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1).map { case (uid, evs) =>
        val x = evs.filter(_._2.before(cut)).map(_._3).sum
        val y = evs.filterNot(_._2.before(cut)).map(_._3).sum
        (uid, x, y, (u32(uid.toString) % 2).toInt)
      }.toSeq
    val n = users.size.toDouble
    val (sx, sy) = (users.map(_._2).sum.toDouble, users.map(_._3).sum.toDouble)
    val sxy = users.map(u => BigInt(u._2) * BigInt(u._3)).sum
    val sxx = users.map(u => BigInt(u._2) * BigInt(u._2)).sum
    val cov = n * sxy.toDouble - sx * sy
    val vx = n * sxx.toDouble - sx * sx
    val theta = cov / vx
    out.values.foreach { case (_, _, _, _, vr) =>
      assert(vr >= 0.0 && vr <= 1.0)
    }
    assert(math.abs(out(0)._4 - math.floor(theta * 1e6 + 0.5) / 1e6) < 1e-6)
    // adjusted means: variant delta must equal raw delta shifted by
    // theta * (variant pre-period mean difference)
    Seq(0, 1).foreach { v =>
      val grp = users.filter(_._4 == v)
      val my = grp.map(_._3).sum.toDouble / grp.size / 100.0
      val mx = grp.map(_._2).sum.toDouble / grp.size
      val adj = my - theta * (mx - sx / n) / 100.0
      assert(math.abs(out(v)._3 - math.floor(adj * 1e4 + 0.5) / 1e4) < 1e-6,
        s"variant $v adjusted mean")
    }
  }

  // ---- quantile semantics ---------------------------------------------------

  test("agg_quantile_semantics matches in-memory disc and cont quantiles") {
    val out = run("agg_quantile_semantics").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    vals.foreach { case (et, sorted) =>
      val n = sorted.length.toLong
      Seq(25, 50, 75).foreach { q =>
        val disc = sorted(((q * n + 99) / 100 - 1).toInt) / 100.0
        val loR = ((n - 1) * q) / 100
        val rem = ((n - 1) * q) % 100
        val vlo = sorted(loR.toInt)
        val vhi = sorted((loR + (if (rem > 0) 1 else 0)).toInt)
        val cont = (vlo * (100 - rem) + vhi * rem) / 100.0 / 100.0
        val (gd, gc) = out((et, q))
        assert(gd == math.floor(disc * 1e4 + 0.5) / 1e4, s"$et q$q disc")
        assert(gc == math.floor(cont * 1e4 + 0.5) / 1e4, s"$et q$q cont")
      }
    }
  }

  // ---- cross-source duplication matrix --------------------------------------

  test("dedup_cross_source_matrix replays from component labels + sources") {
    val got = run("dedup_cross_source_matrix").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val srcs = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val comps: Seq[Seq[String]] =
      SparkEntry.queries("dedup_components")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
        .groupBy(_._2).values.toSeq
        .map(_.map(x => srcs(x._1)).distinct.sorted)
    val want = comps.flatMap { ss =>
      for (a <- ss; b <- ss if a <= b) yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
  }

  // ---- slice finder ---------------------------------------------------------

  // ---- shot boundaries ------------------------------------------------------

  // ---- recall curve ---------------------------------------------------------

  test("sim_recall_curve: monotone-bounded, recall@3 consistent with sim_recall_eval") {
    val out = run("sim_recall_curve").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(1, 3, 5, 10))
    out.values.foreach { case (np, nc, mr) =>
      assert(np > 0 && nc <= 10 * np && mr >= 0.0 && mr <= 1.0)
    }
    val evalAvg = run("sim_recall_eval").collect()
      .map(_.getLong(3)).sum // total common at k=3
    assert(out(3)._2 == evalAvg,
      "recall@3 common count must match sim_recall_eval's")
  }

  // ---- interrupted time series ----------------------------------------------

  test("evt_interrupted_ts: slope_change is exactly post minus pre slope") {
    val out = run("evt_interrupted_ts").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (sp, sq, sc) = (r.getDouble(3), r.getDouble(4), r.getDouble(6))
      assert(math.abs(sc - (sq - sp)) < 2e-4, "slope change consistency")
      assert(r.getLong(1) == 15L && r.getLong(2) == 15L,
        "Jan 1-15 pre and Jan 16-30 post, both 15 daily points")
    }
  }

  // ---- grouping_id ----------------------------------------------------------

  test("agg_grouping_id: bitmask levels partition the rollup and censuses add up") {
    val out = run("agg_grouping_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5)))
    val total = Tables.lineitem(spark, sf).count()
    assert(out.filter(_._3 == 0L).map(_._4).sum == total)
    assert(out.filter(_._3 == 1L).map(_._4).sum == total)
    assert(out.filter(_._3 == 3L).map(_._4).sum == total)
    assert(out.count(_._3 == 3L) == 1, "one grand-total row")
    assert(out.filter(_._3 == 1L).forall(_._2 == "~"),
      "gid=1 rows have linestatus grouped out")
  }

  // ---- band-join auto rewrite -----------------------------------------------

  test("j_band_auto: BandJoinRewrite turns the theta join into a bucketed equi join") {
    val plan = SparkEntry.queries("j_band_auto")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band theta join must not plan as a nested loop:\n$plan")
    assert(plan.contains("Generate explode"), plan)
    val auto = run("j_band_auto").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hand = run("j_band_bucketed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == hand, "rewrite must be results-identical")
  }

  test("BandJoinRewrite leaves equi joins with a residual band filter alone") {
    import spark.implicits._
    val l = Seq((1L, 10L), (2L, 20L)).toDF("k", "x")
    val r = Seq((1L, 12L), (2L, 99L)).toDF("k", "y")
    val joined = l.join(r, l("k") === r("k") &&
      abs(l("x") - r("y")) <= lit(5L))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate explode"),
      s"equi join must not gain band fan-out:\n$plan")
    assert(joined.count() == 1L)
  }

  // ---- custom TopKPerKey operator -------------------------------------------

  test("rel_topk_native plans through TopKPerKeyExec with no window sort") {
    val qe = SparkEntry.queries("rel_topk_native")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), s"the heap operator must replace the window:\n$plan")
    // partial-before-shuffle: the map-side pass sits BELOW the keyed
    // exchange, the final pass above it — partial-aggregation shape
    val partialIdx = plan.indexOf("TopKPerKeyPartial")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val finalIdx = plan.indexOf("TopKPerKey ")
    assert(partialIdx > 0 && exchangeIdx > 0 && finalIdx >= 0,
      s"expected final/exchange/partial pipeline:\n$plan")
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"partial must be below the exchange, final above:\n$plan")
  }

  test("TopKPerKey is partitioning-invariant and equals the window spelling") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 5.0), (1L, 11L, 7.0), (1L, 12L, 7.0), (1L, 13L, 3.0),
      (2L, 20L, 1.0), (2L, 21L, 2.0),
      (3L, 30L, 9.0)
    ).toDF("k", "id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.plans.TopKPerKey.of(d, "k", "v", "id", 2)
        .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
    assert(run(df) == want)
    assert(run(df.repartition(7)) == want, "partitioning must not change results")
    assert(run(df.repartition(1)) == want)
  }

  test("TopKPerKey ranks null ord NULLS-LAST (desc default) like row_number") {
    import spark.implicits._
    val df = Seq((1L, 1L, Some(5.0)), (1L, 2L, None), (1L, 3L, Some(6.0)))
      .toDF("k", "id", "v")
    val got = graft.plans.TopKPerKey.of(df, "k", "v", "id", 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L),
      "desc default NULLS LAST: the null-v row ranks 3rd, outside k=2")
    // with k covering the group the null row IS kept — nulls rank, they
    // are not dropped (exact row_number parity)
    val all = graft.plans.TopKPerKey.of(df, "k", "v", "id", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L), "null ord ranks last, not dropped")
  }

  test("TopKPerKey takes arbitrary key types and NaN ord ranks above reals") {
    import spark.implicits._
    // string keys — the round-8 operator rejected these; the generic
    // grouping projection must handle any key type (incl. a null key
    // forming its own group, as window partitionBy does)
    val df = Seq(
      (Some("a"), 1L, 1.0), (Some("a"), 2L, Double.NaN), (Some("a"), 3L, 2.0),
      (None, 4L, 9.0), (None, 5L, 1.0)
    ).toDF("k", "id", "v")
    val got = graft.plans.TopKPerKey.of(df, "k", "v", "id", 1)
      .select("id").collect().map(_.getLong(0)).toSet
    // Spark sort semantics: NaN > every real double, so NaN wins in "a";
    // the null-key group is a real group and its max (id=4) is kept
    assert(got == Set(2L, 4L))
    // unorderable order column must be rejected loudly
    val bad = Seq((1L, 1L, Map(1 -> 2))).toDF("k", "id", "v")
    intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.of(bad, "k", "v", "id", 2)
    }
  }

  test("win_topk_auto: declarative row_number spelling auto-lowers to the heap") {
    val df = SparkEntry.queries("win_topk_auto")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"),
      s"WindowTopKRewrite must lower the window spelling:\n$plan")
    assert(!plan.contains("Window"),
      s"no Window machinery may remain after the rewrite:\n$plan")
    // and it is bit-identical to the explicit-door spelling
    val native = SparkEntry.queries("rel_topk_native")(spark, sf)
    assert(df.collect().toSeq == native.collect().toSeq)
  }

  test("WindowTopKRewrite leaves rank-keeping and rank() plans alone") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 2.0)).toDF("k", "id", "v")
    val w = Window.partitionBy("k").orderBy(desc("v"))
    // user KEEPS the rank column -> the window must stay
    val kept = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 1)
    assert(kept.queryExecution.executedPlan.toString.contains("Window"))
    assert(kept.collect().map(_.getLong(1)).toSet == Set(2L))
    // rank() has tie semantics a heap cannot honor -> never rewritten
    val ranked = df.withColumn("rn", rank().over(w)).filter($"rn" <= 1).drop("rn")
    assert(ranked.queryExecution.executedPlan.toString.contains("Window"))
  }

  // ---- symmetric difference -------------------------------------------------

  test("set_symdiff row count equals |A∪B| − |A∩B| and sides are disjoint") {
    val out = run("set_symdiff").collect()
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("dy"), col("event_type"))
    val a = ev.filter(col("event_type") === "click")
      .select("user_id", "dy").distinct()
    val b = ev.filter(col("event_type") === "purchase")
      .select("user_id", "dy").distinct()
    val union = a.union(b).distinct().count()
    val inter = a.intersect(b).count()
    assert(out.length.toLong == union - inter)
    val keys = out.map(r => (r.getLong(0), r.getDate(1).toString))
    assert(keys.distinct.length == keys.length, "a key appears on both sides")
  }
}
