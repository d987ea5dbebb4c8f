package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** Value-exact and invariant checks for the registered operators on the
  * fixed sf0.001 data (seed=42, read-only → goldens are stable). */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every registered query name is unique and has a runnable fn") {
    // null first: a GraftQuery val declared AFTER its module's `all` list
    // initializes to null inside that list (Scala val init order) and then
    // NPEs at Verify startup — killing the whole correctness artifact, not
    // one query. Fail here by position instead.
    val nulls = SparkEntry.registry.zipWithIndex.filter(_._1 == null).map(_._2)
    assert(nulls.isEmpty,
      s"null registry entries at positions $nulls — a query val is declared after its `all` list; make it lazy or move it up")
    assert(SparkEntry.registry.map(_.name).distinct.size == SparkEntry.registry.size)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("w_count_raw: golden lineitem count") {
    assert(run("w_count_raw").collect().head.getLong(0) == 6000L)
  }

  test("q1_pricing: golden first group (A,F)") {
    val r = run("q1_pricing").collect().head
    assert(r.getString(0) == "A" && r.getString(1) == "F")
    assert(r.getDouble(2) == 13096.0)       // sum_qty
    assert(r.getLong(9) == 510L)            // cnt
  }

  test("w_daily_stats: golden stats for user 0, 2024-01-01 (2 readings)") {
    val r = run("w_daily_stats")
      .filter("user_id = 0 AND yr = 2024 AND mon = 1 AND dy = 1").collect().head
    assert(r.getDouble(4) == 143.51)                    // high
    assert(r.getDouble(5) == 29.61)                     // low
    assert(math.abs(r.getDouble(6) - 86.56) < 1e-9)     // mean
    assert(math.abs(r.getDouble(7) - 3243.3025) < 1e-9) // population variance
  }

  test("w_daily_stats invariants: low <= mean <= high, variance >= 0") {
    val rows = run("w_daily_stats").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(5) <= r.getDouble(6) + 1e-9 &&
        r.getDouble(6) <= r.getDouble(4) + 1e-9 && r.getDouble(7) >= 0.0)
    }
  }

  test("w_monthly_hilo: hi >= lo everywhere, consistent with daily") {
    assert(run("w_monthly_hilo").collect()
      .forall(r => r.getDouble(3) >= r.getDouble(4)))
  }

  test("w_topk_precip: exactly 10 rows, non-increasing") {
    val v = run("w_topk_precip").collect().map(_.getDouble(2))
    assert(v.length == 10 && v.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("w_latest_reading: one row per station, max event_id per station") {
    val rows = run("w_latest_reading").collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val maxIds = Tables.events(spark, sf).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("event_id").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == maxIds(r.getLong(0))))
  }

  test("set ops: except rows truly lack a purchase on that user-day") {
    val purchaseDays = Tables.events(spark, sf)
      .filter("event_type = 'purchase'")
      .selectExpr("user_id", "CAST(ts AS DATE) AS dy").collect()
      .map(r => (r.getLong(0), r.getDate(1))).toSet
    val exc = run("set_except").collect().map(r => (r.getLong(0), r.getDate(1)))
    assert(exc.nonEmpty)
    exc.foreach(k => assert(!purchaseDays.contains(k), s"$k purchased that day"))
  }

  test("agg_rollup: grand total row equals table count") {
    val all = run("agg_rollup").collect()
      .find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    assert(all.getLong(2) == 6000L)
  }

  test("agg_approx_distinct: HLL estimate within 10% of exact") {
    run("agg_approx_distinct").collect().foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(approx - exact) / exact < 0.10)
    }
  }

  test("j_asof: every matched signup precedes its purchase for same user") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    run("j_asof").collect().foreach { r =>
      val (u, p, sid) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(sid < p && ev(sid) == u && ev(p) == u)
    }
  }

  test("cal_daily_counts: contiguous date spine, counts sum to event total") {
    val rows = run("cal_daily_counts").collect()
    val days = rows.map(_.getDate(0).toLocalDate)
    assert(days.sliding(2).forall(p => p(1) == p(0).plusDays(1)))
    assert(rows.map(_.getLong(1)).sum == 1000L)
  }

  test("entry: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("agg_approx_percentile: sketch median within 2% of exact") {
    run("agg_approx_percentile").collect().foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getDouble(2))
      assert(math.abs(approx - exact) <= math.max(0.02 * math.abs(exact), 2.0),
        s"${r.getString(0)}: $approx vs $exact")
    }
  }

  test("agg_hll_rollup: merged sketch == direct sketch, both near exact") {
    run("agg_hll_rollup").collect().foreach { r =>
      val (merged, direct, exact) =
        (r.getLong(1), r.getLong(3), r.getLong(4))
      // same lgK ⇒ the union of per-day sketches has identical registers to
      // the single-pass sketch: merging loses NOTHING — the property that
      // makes sketch rollups valid at any grain
      assert(merged == direct, s"${r.getString(0)}: $merged vs $direct")
      assert(math.abs(merged - exact).toDouble / exact < 0.05,
        s"${r.getString(0)}: est $merged vs exact $exact")
    }
  }

  test("dedup_containment: containment >= jaccard on shared pairs, bounded by 1") {
    val cont = run("dedup_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.nonEmpty)
    assert(cont.values.forall(c => c >= 0.6 && c <= 1.0 + 1e-9))
    // containment |A∩B|/min(|A|,|B|) dominates jaccard |A∩B|/|A∪B| for the
    // SAME pair — every Jaccard-detected pair that clears the containment
    // threshold must score at least its jaccard value
    val jac = run("dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = jac.keySet.intersect(cont.keySet)
    assert(shared.nonEmpty, "expected overlap between jaccard and containment pairs")
    shared.foreach { k =>
      assert(cont(k) >= jac(k) - 1e-9, s"pair $k: containment ${cont(k)} < jaccard ${jac(k)}")
    }
  }

  test("graph_triangles: census matches a brute-force count of the pair set") {
    val r = run("graph_triangles").collect().head
    val (nodes, edges, tris, wedges, gcc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    // brute-force replay over the (small, near-dup-sized) edge list
    val pairs = run("dedup_ngram_jaccard").collect()
      .map(rr => (rr.getLong(0), rr.getLong(1))).toSet
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    assert(nodes == adj.size && edges == pairs.size)
    val bruteTris = pairs.toSeq.map { case (a, b) =>
      adj(a).intersect(adj(b)).count(c => c > b)
    }.sum
    assert(tris == bruteTris, s"triangles $tris vs brute $bruteTris")
    val bruteWedges = adj.values.map(n => n.size.toLong * (n.size - 1) / 2).sum
    assert(wedges == bruteWedges)
    assert(gcc >= 0.0 && gcc <= 1.0 + 1e-9)
  }

  test("mv_incremental_agg: merged MV state equals a from-scratch recompute") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{centi, fround}
    val merged = run("mv_incremental_agg").collect()
    val direct = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        fround(sum(centi(col("o_totalprice"))).cast("double") / 100.0, 2).as("total_price"),
        fround(max(centi(col("o_totalprice"))).cast("double") / 100.0, 2).as("max_price"))
      .orderBy("o_custkey").collect()
    assert(merged.length == direct.length && merged.nonEmpty)
    merged.zip(direct).foreach { case (m, d) =>
      assert(m == d, s"IVM merge diverged from recompute: $m vs $d")
    }
  }

  test("samp_weighted_reservoir: selection replays exactly and biases toward weight") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.md5u32
    val sel = run("samp_weighted_reservoir").collect()
    assert(sel.length == 100 && sel.map(_.getLong(0)).distinct.length == 100)
    // replay A-ES keys over the full corpus and confirm the query picked
    // exactly the top-100
    val keys = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        (log((md5u32(concat(lit("res:"), col("doc_id").cast("string")))
          .cast("double") + lit(0.5)) / lit(4294967296.0)) / col("n_chars")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = keys.sortBy(t => (-t._3, t._1)).take(100).map(_._1).toSet
    assert(sel.map(_.getLong(0)).toSet == expect)
    // A-ES draws ∝ weight: the selected docs' mean length must exceed the
    // corpus mean (the whole point of weighting by n_chars)
    val meanSel = sel.map(_.getLong(1)).sum.toDouble / sel.length
    val meanAll = keys.map(_._2).sum.toDouble / keys.length
    assert(meanSel > meanAll, s"selected mean $meanSel not above corpus mean $meanAll")
  }

  test("win_percent_rank: ratios are in [0,1]; cume_dist tops out at 1 per partition") {
    val rows = run("win_percent_rank").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 &&
        r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    rows.groupBy(_.getString(1)).foreach { case (p, g) =>
      assert(g.map(_.getDouble(3)).max == 1.0, s"partition $p: max cume_dist != 1")
      assert(g.map(_.getDouble(2)).min == 0.0, s"partition $p: min percent_rank != 0")
    }
  }

  test("txt_novelty: fully-contained docs have (near-)zero novelty") {
    val novRows = run("txt_novelty").collect()
    val nov = novRows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val nSh = novRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nov.nonEmpty && nov.values.forall(v => v >= 0.0 && v <= 1.0))
    // a doc FULLY CONTAINED in another shares every shingle with its
    // container, so none of its shingles is corpus-unique. The containment
    // column is fround(·, 4), so a displayed 1.0 only guarantees true
    // containment >= 0.99995 — up to 0.005% of the smaller side's shingles
    // may be unshared (and possibly unique). Bound novelty accordingly
    // instead of demanding exactly 0 (which would fail on correct data).
    val contained = run("dedup_containment").collect()
      .filter(_.getDouble(2) == 1.0)
      .map(r => if (nSh(r.getLong(0)) <= nSh(r.getLong(1))) r.getLong(0)
                else r.getLong(1))
    assert(contained.nonEmpty, "testdata should contain containment-1.0 pairs")
    contained.foreach { id =>
      assert(nov(id) <= 0.00005 + 1e-4, s"contained doc $id has novelty ${nov(id)}")
    }
  }

  test("qa_table_checksum: partition-order invariant and single-row sensitive") {
    import org.apache.spark.sql.functions._
    val out = run("qa_table_checksum").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set("customer", "documents", "lineitem", "orders"))
    // replay the customer leg under a hostile repartitioning: XOR folding
    // must be bit-identical regardless of partition count or row order
    def word(c: org.apache.spark.sql.Column, from: Int) =
      conv(substring(md5(c), from, 8), 16, 10).cast("long")
    val canon = concat_ws("|", col("c_custkey"), col("c_mktsegment"))
    val replay = Tables.customer(spark, sf).repartition(7).sortWithinPartitions(desc("c_name"))
      .select(word(canon, 1).as("hi"), word(canon, 9).as("lo"))
      .agg(count(lit(1)), expr("bit_xor(hi)"), expr("bit_xor(lo)"))
      .collect().head
    assert((replay.getLong(0), replay.getLong(1), replay.getLong(2)) == out("customer"))
    // ...and flipping a single row's content must change the checksum
    val tampered = Tables.customer(spark, sf)
      .withColumn("c_mktsegment",
        when(col("c_custkey") === 1, lit("TAMPERED")).otherwise(col("c_mktsegment")))
    val tam = tampered
      .select(word(canon, 1).as("hi"), word(canon, 9).as("lo"))
      .agg(expr("bit_xor(hi)"), expr("bit_xor(lo)")).collect().head
    assert((tam.getLong(0), tam.getLong(1)) != (out("customer")._2, out("customer")._3))
  }

  test("emb_centroids: full label x dim grid, counts consistent, means replayed") {
    import org.apache.spark.sql.functions._
    val rows = run("emb_centroids").collect()
    val labels = Tables.embeddings(spark, sf).groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.length == labels.size * 64, "expected |labels| x 64 grid")
    rows.foreach { r =>
      assert(r.getLong(2) == labels(r.getInt(0)), "n must equal the label's vector count")
    }
    // replay one cell exactly: label with the smallest id, dim 1
    val l0 = labels.keySet.min
    val direct = Tables.embeddings(spark, sf).filter(col("label") === l0)
      .select(floor(element_at(col("embedding"), 1).cast("double") * 1000000.0 + 0.5)
        .cast("long").as("m"))
      .agg(sum("m"), count(lit(1))).collect().head
    val expect = math.floor(direct.getLong(0).toDouble / direct.getLong(1) / 1000000.0
      * 1000000.0 + 0.5) / 1000000.0
    val got = rows.find(r => r.getInt(0) == l0 && r.getLong(1) == 1L).get.getDouble(3)
    assert(got == expect, s"centroid cell mismatch: $got vs $expect")
  }

  test("j_fuzzy_match: pairs verified by a reference DP, blocked set is complete") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    val got = run("j_fuzzy_match").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(got.nonEmpty)
    got.foreach { case ((a, b), d) =>
      assert(d == lev(a, b), s"($a, $b): reported $d, DP says ${lev(a, b)}")
      assert(a.split(" ").last == b.split(" ").last, "pair must share its block key")
    }
    // completeness WITHIN the blocking scheme: brute-force every same-noun
    // name pair and confirm the query found exactly the distance<=2 ones
    val names = Tables.part(spark, sf).select("p_name").distinct()
      .collect().map(_.getString(0))
    val brute = (for {
      a <- names; b <- names
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(got.keySet == brute, s"missing: ${brute -- got.keySet}, extra: ${got.keySet -- brute}")
  }

  test("pipe_token_budget: greedy fill replayed exactly, kept tokens within budget") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.tokens
    val got = run("pipe_token_budget").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ntok"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    docs.groupBy(_._1).foreach { case (src, rows) =>
      val ordered = rows.sortBy(t => (-t._2, t._3)).map(_._4)
      val total = ordered.sum
      val budget = total * 6 / 10
      val cum = ordered.scanLeft(0L)(_ + _).tail
      val kept = cum.count(_ <= budget)
      val (nDocs, totalTok, budgetTok, nKept, tokKept) = got(src)
      assert(nDocs == rows.length && totalTok == total && budgetTok == budget)
      assert(nKept == kept && tokKept == cum.take(kept).lastOption.getOrElse(0L),
        s"$src: greedy replay diverged")
      assert(tokKept <= budgetTok)
    }
  }

  test("txt_ppl_buckets: terciles partition each language, head outranks tail") {
    import org.apache.spark.sql.functions._
    val rows = run("txt_ppl_buckets").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val perLang = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      // n=1 yields only a head row, n=2 head+middle — guard so a sparse
      // language fails with a diagnostic, not a bare NoSuchElementException
      def bucket(b: String) = rows.getOrElse((lang, b),
        fail(s"$lang (n=$n docs): missing '$b' tercile row"))
      val h = bucket("head"); val m = bucket("middle"); val t = bucket("tail")
      assert(h._1 + m._1 + t._1 == n, s"$lang: buckets must partition the language")
      assert(h._1 == (n + 2) / 3, s"$lang: head tercile size")
      assert(h._2 >= m._2 && m._2 >= t._2,
        s"$lang: bucket means must be ordered head >= middle >= tail")
    }
  }

  test("dedup_keep_longest: representative is the longest member of each component") {
    val comps = run("dedup_components").collect()
      .map(r => (r.getLong(0), r.getLong(1)))               // (doc_id, comp)
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byComp = comps.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val rows = run("dedup_keep_longest").collect()
    assert(rows.length == byComp.size, "one row per component")
    rows.foreach { r =>
      val (comp, nm, total, keep, kc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val members = byComp(comp)
      assert(members.length.toLong == nm, s"comp $comp: member count")
      assert(total == members.map(chars).sum, s"comp $comp: total chars")
      val best = members.sortBy(id => (-chars(id), id)).head
      assert(keep == best && kc == chars(best),
        s"comp $comp: expected representative $best (${chars(best)} chars), got $keep ($kc)")
    }
  }

  test("emb_dim_profile: full dim grid, moments replayed on one dimension") {
    val rows = run("emb_dim_profile").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 64L), "one row per dim, ordered")
    val nVec = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) == nVec, s"dim ${r.getLong(0)}: n must equal corpus size")
      assert(r.getDouble(6) >= 0.0, s"dim ${r.getLong(0)}: variance must be >= 0")
      assert(r.getLong(3) <= r.getLong(4), s"dim ${r.getLong(0)}: min <= max")
    }
    // replay dim 1 from raw vectors with the same micro arithmetic
    val micros = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(r => math.floor(r.getSeq[Float](0).head.toDouble * 1e6 + 0.5).toLong)
    val d1 = rows.head
    assert(d1.getLong(2) == micros.count(m => math.abs(m) <= 1000L), "near-zero count")
    assert(d1.getLong(3) == micros.min && d1.getLong(4) == micros.max)
    val mean = micros.sum.toDouble / micros.length / 1e6
    assert(d1.getDouble(5) == math.floor(mean * 1e6 + 0.5) / 1e6, "dim-1 mean replays")
  }

  test("emb_assign_purity: confusion matrix replays a brute-force exact argmin") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray))
    val cents = vecs.groupBy(_._2).view.mapValues { vs =>
      val dims = vs.head._3.length
      Array.tabulate(dims) { i =>
        math.floor(vs.map(_._3(i)).sum.toDouble / vs.length + 0.5).toLong
      }
    }.toMap
    val expected = vecs
      .map { case (_, label, m) =>
        val assigned = cents.toSeq
          .map { case (cl, c) =>
            (m.indices.map(i => (m(i) - c(i)) * (m(i) - c(i))).sum, cl)
          }
          .minBy(identity)._2                     // min d2, ties to smaller label
        (label, assigned)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val out = run("emb_assign_purity").collect()
    val got = out.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expected, "confusion cells must match the brute-force replay")
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0),
      "shares in [0,1]")
    got.groupBy(_._1._1).foreach { case (label, cells) =>
      assert(cells.values.sum == vecs.count(_._2 == label),
        s"label $label: cells partition the label")
    }
  }

  test("txt_char_entropy: bounded by ln(alphabet) and replays exactly on raw text") {
    val rows = run("txt_char_entropy").collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // empty docs yield no histogram, hence no row (in both engines)
    assert(rows.length == texts.count(_._2.nonEmpty), "one row per non-empty doc")
    rows.foreach { r =>
      val (id, n, nd, h) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(h >= 0.0 && h <= math.log(nd.toDouble) + 1e-4,
        s"doc $id: H=$h outside [0, ln($nd)]")
      // replay with the query's exact arithmetic (micro-unit ln, floor
      // round) over CODE POINTS — the regex matches per code point, so a
      // UTF-16 char-based replay would split astral chars into surrogates
      val cnts = texts(id).codePoints().toArray.toSeq
        .groupBy(identity).view.mapValues(_.length.toLong)
      assert(n == cnts.values.sum && nd == cnts.size.toLong, s"doc $id: counts")
      val sMicro = cnts.values
        .map(c => c * math.floor(math.log(c.toDouble / n) * 1e6 + 0.5).toLong).sum
      val expected = math.floor(-sMicro.toDouble / (n * 1e6) * 1e4 + 0.5) / 1e4
      assert(h == expected, s"doc $id: entropy $h != replayed $expected")
    }
  }

  test("pipe_audit_trail: per-doc trail folds back to the funnel's per-source counts") {
    val trail = run("pipe_audit_trail").collect()
      .map(r => (r.getString(1), r.getString(3), r.getString(4),
        r.getInt(5), r.getString(6), r.getLong(2)))
    // verdict must be the FIRST non-kept stage in dedup -> gate -> sampling order
    trail.foreach { case (_, ded, gate, samp, verdict, _) =>
      val expected =
        if (ded != "kept") ded
        else if (gate != "kept") gate
        else if (samp == 0) "sampled_out"
        else "kept"
      assert(verdict == expected, s"cascade order: ($ded, $gate, $samp) -> $verdict")
    }
    // fold the row-level trail into the funnel's aggregate and compare
    val funnel = run("pipe_curation_funnel").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    trail.groupBy(_._1).foreach { case (src, rows) =>
      val dedupKept = rows.filter(_._2 == "kept")
      val gateKept = dedupKept.filter(_._3 == "kept")
      val finalKept = gateKept.filter(_._4 == 1)
      val folded = (rows.length.toLong, dedupKept.length.toLong,
        gateKept.length.toLong, finalKept.length.toLong, finalKept.map(_._6).sum)
      assert(folded == funnel(src), s"$src: trail fold $folded != funnel ${funnel(src)}")
    }
  }

  test("dedup_semantic: brute-force replay of bucket assignment + greedy prune") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    // micro-quantized per-label centroids, exact integer arithmetic
    val micro = vecs.map { case (id, l, v) =>
      (id, l, v.map(x => math.floor(x * 1e6 + 0.5).toLong))
    }
    val cents = micro.groupBy(_._2).map { case (l, g) =>
      val dims = g.map(_._3)
      l -> Array.tabulate(dims(0).length)(i =>
        math.floor(dims.map(_(i)).sum.toDouble / dims.length + 0.5).toLong)
    }
    val cluster = micro.map { case (id, _, m) =>
      id -> cents.toSeq.map { case (l, c) =>
        (m.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, l)
      }.min._2
    }.toMap
    val norm = vecs.map { case (id, _, v) =>
      id -> (v, math.sqrt(v.map(x => x * x).sum))
    }.toMap
    val ids = vecs.map(_._1).sorted
    val expected = ids.map { b =>
      val dupOf = ids.filter(a => a < b && cluster(a) == cluster(b)).find { a =>
        val (va, na) = norm(a); val (vb, nb) = norm(b)
        val cos = va.zip(vb).map { case (x, y) => x * y }.sum / (na * nb)
        math.floor(cos * 1e6 + 0.5).toLong >= 280000L
      }
      (b, cluster(b), dupOf, dupOf.isEmpty)
    }
    val got = run("dedup_semantic").collect().map(r =>
      (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getInt(3) == 1))
    assert(got.toSeq == expected.toSeq)
    val dropped = got.count(!_._4)
    assert(dropped > 0 && dropped < got.length, s"degenerate: $dropped dropped")
  }

  test("qa_key_skew: brute-force replay of the events.user_id leg") {
    val uids = Tables.events(spark, sf).select("user_id").collect()
      .map(_.getLong(0))
    val g = uids.groupBy(identity).map(_._2.length.toLong).toSeq
    val (nRows, nKeys, maxSz) = (uids.length.toLong, g.size.toLong, g.max)
    val r = run("qa_key_skew").filter("tbl = 'events'").collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((nRows, nKeys, maxSz)))
    assert(r.getLong(5) == maxSz * 1000000L / nRows)       // top_ppm
    assert(r.getDouble(6) ==
      math.floor(nRows.toDouble / nKeys * 1e4 + 0.5) / 1e4) // avg_sz
    assert(r.getLong(7) == g.count(sz => sz * nKeys > 2L * nRows).toLong)
  }

  test("emb_prototypicality: brute-force replay of own-centroid distances") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)))
    val cents = vecs.groupBy(_._2).map { case (l, g) =>
      l -> Array.tabulate(g.head._3.length)(i =>
        math.floor(g.map(_._3(i)).sum.toDouble / g.length + 0.5).toLong)
    }
    val expected = vecs.map { case (id, l, m) =>
      (id, l, m.zip(cents(l)).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (id, _, d2) => (-d2, id) }.take(20).zipWithIndex
      .map { case ((id, l, d2), i) => (i + 1, id, l, d2) }
    val got = run("emb_prototypicality").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("samp_cluster_split: no component straddles a split boundary") {
    import org.apache.spark.sql.functions._
    // the structural property the operator exists for: replay the split
    // decision per doc from the components output and check every near-dup
    // component lands wholly on one side
    val comp = run("dedup_components").select("doc_id", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def md(grp: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(grp.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 10
    }
    def splitOf(m: Long) = if (m <= 7) "train" else if (m == 8) "val" else "test"
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val assigned = docs.map { case (id, nc) =>
      val grp = comp.getOrElse(id, id)
      (splitOf(md(grp)), grp, nc, comp.contains(id))
    }
    // zero leakage: all members of a component share the split
    assert(assigned.groupBy(_._2).forall(_._2.map(_._1).distinct.size == 1))
    val expected = assigned.groupBy(_._1).map { case (sp, g) =>
      sp -> (g.length.toLong, g.map(_._2).distinct.length.toLong,
        g.map(_._3).sum, g.count(_._4).toLong)
    }
    val got = run("samp_cluster_split").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    assert(got.values.map(_._4).sum > 0, "no clustered docs: split degenerate")
  }

  test("sim_hubness: in-degree mass accounting and brute replay") {
    val hist = run("sim_hubness").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val nProbes = vecs.count(_._1 % 10 == 0)
    // mass accounting: every probe contributes exactly 5 retrievals, and
    // the histogram (including the 0 bucket) partitions the corpus
    assert(hist.map { case (d, n) => d * n }.sum == 5L * nProbes)
    assert(hist.values.sum == vecs.length.toLong)
    // brute replay of the reverse-kNN degrees
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val vm = vecs.toMap
    val deg = new scala.collection.mutable.HashMap[Long, Long]()
    vecs.filter(_._1 % 10 == 0).foreach { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (cid, cv) =>
        (math.floor(dot(qv, cv) / (nrm(qid) * nrm(cid)) * 1e6 + 0.5), cid)
      }.sortBy { case (c, id) => (-c, id) }.take(5)
        .foreach { case (_, id) => deg(id) = deg.getOrElse(id, 0L) + 1L }
    }
    val expected = deg.values.groupBy(identity).map { case (d, g) => d -> g.size.toLong }
      .toMap + (0L -> (vecs.length - deg.size).toLong)
    assert(hist == expected.filter { case (d, n) => n > 0 || d == 0 })
  }

  test("sim_hard_negatives: brute-force replay of cross-label top-3") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val nrm = vecs.map { case (id, _, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val expected = vecs.filter(_._1 % 25 == 0).sortBy(_._1).flatMap {
      case (qid, qlab, qv) =>
        vecs.filter(_._2 != qlab).map { case (cid, clab, cv) =>
          val cos = dot(qv, cv) / (nrm(qid) * nrm(cid))
          (math.floor(cos * 1e6 + 0.5).toLong, cid, clab, cos)
        }.sortBy { case (key, id, _, _) => (-key, id) }.take(3).zipWithIndex
          .map { case ((_, cid, clab, cos), i) =>
            (qid, qlab, cid, clab, math.floor(cos * 1e4 + 0.5) / 1e4, i + 1) }
    }
    val got = run("sim_hard_negatives").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
    assert(got.toSeq == expected.toSeq)
    assert(expected.forall { case (_, ql, _, nl, _, _) => ql != nl })
  }

  test("rel_skyline: naive dominance replay") {
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong,
        r.getInt(2)))
    val frontier = parts.filter { case (_, pc, sz) =>
      !parts.exists { case (_, pc2, sz2) =>
        pc2 <= pc && sz2 >= sz && (pc2 < pc || sz2 > sz) }
    }.sortBy(p => (p._2, p._1))
    val got = run("rel_skyline").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == frontier.toSeq)
    assert(got.nonEmpty)
  }

  test("evt_ewma: dyadic fold replay over trailing-16 windows") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (uid, g) =>
      val sorted = g.sortWith { (a, b) =>
        val c = a._3.compareTo(b._3); c < 0 || (c == 0 && a._2 < b._2) }
      sorted.indices.map { i =>
        val win = sorted.slice(math.max(0, i - 15), i + 1).map(_._4)
        val num = win.zipWithIndex.map { case (v, j) => v << j }.sum
        val den = (1L << win.length) - 1
        ((uid, sorted(i)._2),
          math.floor(num.toDouble / den / 100.0 * 1e4 + 0.5) / 1e4)
      }
    }.toMap
    val got = run("evt_ewma").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.length == expected.size)
    assert(got.forall { case (k, v) => expected(k) == v })
  }

  test("no degenerate operators: every registered query returns rows at sf0.001") {
    // catches data-dependent degeneracy (empty thresholds, over-filtering)
    // across the whole registry in one sweep — the driver only smoke-checks
    // `entry`, so this is the local guard.
    val empty = SparkEntry.registry.filter { q =>
      q.fn(spark, sf).limit(1).collect().isEmpty
    }.map(_.name)
    assert(empty.isEmpty, s"degenerate (0 rows): $empty")
  }
}
