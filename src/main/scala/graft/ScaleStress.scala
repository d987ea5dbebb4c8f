package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic 10× scale-stress of the worst bench floors — the empirical leg
  * of the 100 TB story that sf0.1 testdata can't provide: replicate the
  * fact tables REP× (union-generated with SHIFTED primary keys, one-off
  * temp data, never committed), run the most expensive min-floor queries at
  * 1× and REP×, and record (a) the runtime ratio against ~linear scaling
  * and (b) the physical plan shape at both scales — a query whose plan
  * flips to BroadcastNestedLoopJoin/CartesianProduct at 10×, or whose
  * runtime grows superlinearly, has a scale bug no sf0.1 number would show.
  *
  * Key shifts keep the replicas semantically distinct (10× corpus growth,
  * not 10 byte-copies): l_orderkey/o_orderkey shift TOGETHER by the order
  * span so the lineitem↔orders join stays consistent; documents shift
  * doc_id AND rotate letters (replica-disjoint shingle spaces —
  * byte-identical texts would quadratically inter-match inside LSH
  * buckets); events shift event_id, user_id AND the clock (10× keyed-state
  * NDV, constant temporal density), with the customer (user) dimension
  * grown in lockstep on a shared span so fact⋈dim joins on user_id keep a
  * matched 10× workload. Catalog dimensions (supplier/part/nation/region)
  * and embeddings stay as-is — corpus facts and the user base grow,
  * reference data doesn't (so e.g. the trade graph, built from
  * o_custkey/l_suppkey edges, keeps its node set and gains 10× edge
  * observations).
  *
  * Stored artifacts (graph caches, near-dup pipeline, layouts) are built
  * for the stress corpus through the same [[Bench.setup]] the bench uses —
  * setup is table-creation-time work and is reported separately, so each
  * query measures serving cost at both scales under identical rules.
  *
  * Output: SCALE_STRESS.json — per query: base/stress floor seconds
  * (min-of-REPS), ratio, ratio-per-× , plan-node multiset diff, and the
  * two verdict flags (linear_ok: ratio ≤ rep × 1.5; plan_flip: a
  * nested-loop/cartesian node appeared only at stress scale).
  *
  * Round-14 axes on top of the 10× uniform point:
  *  - pass-1 (build-inclusive) times per leg → `first_ratio` /
  *    `build_linear_ok`, auditing the PersistCache-memoized corpus-sized
  *    builds the min-floor deliberately excludes;
  *  - a SECOND stress point (rep2, default 30×) for the riskiest
  *    families → fitted growth exponent e = ln(t₂/t₁)/ln(rep2/rep),
  *    gated at 1.15 (exactly-linear = 1.0), so the 100 TB extrapolation
  *    rests on a measured exponent, not one ratio;
  *  - a Zipf-SKEW corpus (one user / one 8-gram owns ~20% of the
  *    corpus) for the keyed-window / df-capped / salted-join / skew-
  *    profile queries → worst-task byte share, gated relative to the
  *    uniform corpus (skew may add its own share, never amplify).
  */
object ScaleStress {
  private[graft] val DefaultQueries = Seq(
    // tier 1: the worst committed min3 floors (round 11)
    "qa_split_contamination", "mm_phash_dedup", "txt_novelty",
    "txt_tfidf_pair_cosine", "graph_kcore", "graph_bfs_distance",
    "rel_sweep_concurrency", "dedup_minhash_error_eval", "dedup_lsh_power_eval",
    // tier 2: structurally quadratic-risk families (pair machinery, skew
    // join, iterative graph, sessionize, stratified ranking) — cheap at
    // sf0.1, exactly where a hidden all-pairs/broadcast-OOM shape would
    // surface at 10×
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_components", "graph_pagerank", "j_skew_salted", "win_session",
    "samp_stratified", "evt_retention",
    // tier 3 (round 13): the custom-plan / optimizer-rule surfaces under
    // growth — the heap top-k lowering with its codegen build (run in the
    // cap-flush regime, see the partialMaxKeys config below), the native
    // TopKPerKey spelling, and the band-join rewrite's bucket fan-out
    // under 10x event density
    "win_topk_auto", "rel_topk_native", "j_band_timestamp",
    // round 13 cont.: the DSIR scorer — its memoized (doc,bucket) feature
    // build keys on the corpus dir, so the stress leg builds its OWN 10×
    // feature table in pass 1 and the floor measures scoring over it; the
    // corpus-sized tokenize+bigram BUILD is audited by the pass-1
    // first_ratio/build_linear_ok fields (round 14), the floor by the
    // usual linear gate; the closed 64-bucket model must stay a broadcast
    // at any corpus size
    "samp_dsir",
    // round 14: the Zipf-skew targets that weren't already here — the
    // df-capped positioned-gram self-join (a hot gram must be SHED as
    // boilerplate, never paired) and the skew PROFILE itself (map-side
    // partial combine bounds a hot key's reduce row to one per task);
    // both also get uniform 10× rows like everything else
    "dedup_dup_spans", "qa_key_skew")

  /** Default second-stress-point (rep2) families: the highest 10× ratios
    * from round 13 among the registered rows. */
  private[graft] val Rep2Queries = Seq("dedup_minhash", "j_skew_salted",
    "mm_phash_dedup", "txt_novelty")

  /** Default third-stress-point (rep3) probe: the family whose exponent
    * sat closest to 1 (txt_novelty, 0.965 in r14). */
  private[graft] val Rep3Queries = Seq("txt_novelty")

  /** Default Zipf-skew corpus targets. */
  private[graft] val SkewQueries = Seq("win_session", "dedup_dup_spans",
    "qa_key_skew", "j_skew_salted")

  /** Build the rep× stress corpus into a fresh temp dir and return its
    * path. Extracted from [[main]] so the corpus-construction invariants
    * — matched user dimension, replica-disjoint shingle spaces,
    * consistent order keys, constant temporal density — are spec-testable
    * (StressCorpusSpec): the receipts in SCALE_STRESS.json are only as
    * honest as this corpus. */
  /** Share of the corpus the hot key owns in the [[buildStressCorpus]]
    * `hotSkew` variant: hotReps = ⌈rep·HotFrac⌉ replicas are re-keyed to
    * ONE user (events) / ONE 8-gram (documents). */
  val HotFrac = 0.2

  /** Multipliers coprime to 26 — the `a` of the affine letter cipher. */
  private val AffineA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Replicas the letter-permutation family keeps pairwise distinct:
    * 12 coprime multipliers × 26 shifts. Past this, replica texts repeat
    * byte-identically and near-dup receipts go dishonest. */
  val MaxRep: Int = AffineA.length * 26 // 312

  /** The replica-`i` letter permutation as a `translate` (from, to) pair,
    * upper and lower case together: σ_i(c) = a_i·c + b_i (mod 26) with
    * a_i = AffineA(i/26 mod 12), b_i = i mod 26. Distinct (a, b) give
    * distinct permutations, so replicas 0 until [[MaxRep]] are pairwise
    * distinct on any letter-bearing text (NO reliance on digits — this
    * corpus has none); i = 0 is the identity, so replica 0 stays the
    * untouched base corpus. Spec-pinned by StressCorpusSpec. */
  private[graft] def letterPerm(i: Int): (String, String) = {
    val a = AffineA((i / 26) % AffineA.length)
    val b = i % 26
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val to = lower.map(c => ('a' + ((c - 'a') * a + b) % 26).toChar).mkString
    (lower + lower.toUpperCase, to + to.toUpperCase)
  }

  /** @param onlyTables when set, only these fact tables are replicated —
    *   the rest are copied from the base corpus as-is. For NARROW probes
    *   (the 100× rep3 point) that touch one table, replicating every fact
    *   ×100 would pay GBs of corpus-construction for tables the probe
    *   never reads. The copied tables keep the directory a complete
    *   corpus, so Tables works; they are base-scale, which is exactly why
    *   a probe must only read its declared tables. */
  def buildStressCorpus(spark: SparkSession, sfDir: String, rep: Int,
      hotSkew: Boolean = false, onlyTables: Option[Set[String]] = None): String = {
    // checked before any replica is written: the bound is known up front
    require(rep <= MaxRep,
      s"rep=$rep > $MaxRep: the affine letter-permutation family would " +
        "repeat and replicas i and i+312 would be byte-identical " +
        "(cross-replica LSH inter-matching) — extend the family first")
    def want(t: String) = onlyTables.forall(_.contains(t))
    val stress = Files.createTempDirectory(
      if (hotSkew) "skew-corpus" else "stress-corpus").toString
    // Zipf-skew axis (round 14): uniform replication grows volume but
    // leaves every key's share constant; real 100 TB corpora concentrate.
    // With hotSkew, replicas 1..hotReps keep their key/clock shifts but
    // are RE-KEYED to a single hot identity — one user owns ~20% of all
    // events (the sessionize / salted-join / skew-profile stress), and
    // one 8-gram owns ~20% of the positioned-gram table (the df-cap
    // stress: dedup_dup_spans must SHED it as boilerplate, not pair it).
    // Replica 0 and the remaining replicas stay uniform, so every other
    // invariant (matched dimension, disjoint clocks, disjoint shingle
    // spaces for the non-hot replicas) is unchanged.
    val hotReps = if (hotSkew) math.max(1, math.ceil(rep * HotFrac).toInt) else 0
    def isHot(i: Int) = hotSkew && i >= 1 && i <= hotReps
    def read(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def writeRep(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$stress/$t.parquet")
    def replicate(t: String, key: String, span: Long): Unit =
      writeRep(t, (0 until rep).map(i =>
        read(t).withColumn(key, col(key) + lit(i * span)))
        .reduce(_.unionByName(_)))
    def copyBase(t: String): Unit =
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$stress/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    if (want("orders") || want("lineitem")) {
      val orderSpan = read("orders").agg(max("o_orderkey")).head.getLong(0) + 1
      replicate("orders", "o_orderkey", orderSpan)
      replicate("lineitem", "l_orderkey", orderSpan) // same span: join stays consistent
    } else { copyBase("orders"); copyBase("lineitem") }
    // documents replicas shift CONTENT as well as the key: the near-dup
    // family (minhash/simhash/ngram/novelty) matches on SHINGLE identity,
    // and byte-identical replica texts would quadratically inter-match
    // inside every LSH bucket (10x corpus => up to 100x candidate pairs)
    // — a corpus-construction artifact of the same class as the events
    // clock shift below, not a plan property (measured: dedup_minhash
    // 12.0x at 10x from cross-replica pairs alone). A per-replica letter
    // rotation keeps length, token boundaries, and every per-doc
    // statistic identical while making each replica's shingle space
    // disjoint — 10 distinct rotations for rep<=10, replica 0 untouched.
    // Per-replica LETTER PERMUTATION: the collision bound must hold on
    // the LETTERS ALONE — this corpus's texts carry no digits (sampled:
    // 0 of 2000 sf0.1 docs contain one), so a digit-rotation term in the
    // bound is vacuous and plain 26-letter rotations would repeat at
    // rep 26 (the round-14 rep2=30 run briefly built replicas 26-29
    // byte-identical to 0-3 — exactly the cross-replica LSH
    // inter-matching artifact this transform exists to prevent). The
    // affine family σ(c) = a·c + b (mod 26) with a coprime to 26 gives
    // 12 × 26 = 312 pairwise-distinct letter permutations (distinct
    // (a, b) ⇒ distinct map; [[ScaleStress.letterPerm]] is spec-pinned
    // for injectivity and replica-0 identity). Digits still rotate for
    // corpora that have them; both transforms preserve length and token
    // boundaries.
    val rotDigit = "0123456789"
    def rot(a: String, i: Int) = a.drop(i % a.length) + a.take(i % a.length)
    val docSpan = read("documents").agg(max("doc_id")).head.getLong(0) + 1
    // hot replicas: every text becomes the same one-token repetition, so
    // every 8-gram in them is ONE gram ("grafthot" x8) — ~hotFrac of the
    // whole positioned-gram table lands on a single gram key (length
    // chosen ~ the corpus's mean token count so the gram-table share
    // matches the replica share)
    val hotText = Seq.fill(200)("grafthot").mkString(" ")
    if (want("documents")) writeRep("documents", (0 until rep).map { i =>
      val r = read("documents")
        .withColumn("doc_id", col("doc_id") + lit(i * docSpan))
      val (permFrom, permTo) = letterPerm(i)
      if (isHot(i)) r.withColumn("text", lit(hotText))
      else r.withColumn("text", translate(col("text"),
        permFrom + rotDigit, permTo + rot(rotDigit, i)))
    }.reduce(_.unionByName(_)))
    else copyBase("documents")
    // events replicas shift EVERY growth-relevant axis (round 13): the
    // event key, the user key (so keyed-state NDV — sessionize windows,
    // top-k heap maps — genuinely grows 10x, not just 10x rows over the
    // same keys), and the CLOCK (each replica lands in its own disjoint
    // time window, so temporal density stays constant — real growth is
    // new users in new time, and without the shift a time-band self-join
    // would quadratically inter-match byte-identical replica timestamps,
    // a corpus-construction artifact rather than a plan property).
    if (want("events") || want("customer")) {
    val ev = read("events")
      .agg(max("event_id"), max("user_id"), datediff(max("ts"), min("ts")))
      .head
    val evSpan = ev.getLong(0) + 1
    val daySpan = ev.getInt(2).toLong + 2
    // The user key shifts by a span shared with the customer dimension:
    // customer keys outnumber event users, so shifting each side by its
    // OWN max would collide replica i's custkeys with replica i+1's
    // (duplicate keys => inflated join multiplicity, a superlinear
    // corpus-construction artifact).
    val custSpan = read("customer").agg(max("c_custkey")).head.getLong(0) + 1
    val userSpan = math.max(ev.getLong(1) + 1, custSpan)
    // hot replicas: all events re-keyed to ONE existing base user (so the
    // fact⋈dim join still matches — the hot user has a customer row in
    // replica 0); event_id and clock shifts stay, so only the KEY
    // concentrates, not time density. lazy: uniform builds never pay the
    // min() job.
    lazy val hotUser = read("events").agg(min("user_id")).head.getLong(0)
    writeRep("events", (0 until rep).map { i =>
      read("events")
        .withColumn("event_id", col("event_id") + lit(i * evSpan))
        .withColumn("user_id",
          if (isHot(i)) lit(hotUser) else col("user_id") + lit(i * userSpan))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * daySpan} DAYS"))
    }.reduce(_.unionByName(_)))
    // The user dimension grows WITH its users: each shifted user_id
    // replica gets a matching customer row (same span, nation mix
    // unchanged), so fact⋈dim joins on user_id (j_skew_salted) keep a
    // 10x MATCHED workload — without this the shifted replicas dangle
    // against an as-is dimension and the inner join's real work stays at
    // base scale while the artifact claims 10x coverage. Catalog dims
    // (nation/region/part/supplier) stay fixed: reference data doesn't
    // grow with the corpus.
    replicate("customer", "c_custkey", userSpan)
    } else { copyBase("events"); copyBase("customer") }
    for (t <- Seq("region", "nation", "supplier", "part", "embeddings"))
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$stress/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

    stress
  }

  def main(args: Array[String]): Unit = {
    val cpus = Sessions.cores
    val rep = sys.env.getOrElse("SPARK_GRAFT_STRESS_REP", "10").toInt
    // min-of-3 floors: at min-of-2 a single load spike on either scale
    // flips ratios by 2x (a 19.6x dedup_minhash reading re-measured
    // isolated at its stable 8.7x), and a false all_ok=false poisons the
    // committed artifact
    // clamped to >= 1 (Bench's contract): reps=0 would leave the
    // interleaved timing map empty and the audit must fail loudly on a
    // missing sample, not fabricate one
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "3").toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")

    val spark = Sessions.start(Sessions.Scale)
    // run the top-k partial pass in its FLUSH-DEGRADED regime: the
    // default 256k key cap never fills at these corpus sizes, so without
    // this the stress run would certify a code path (heap-map flush →
    // spillable buffer → final re-merge) that 100 TB NDV actually
    // exercises. The cap must sit UNDER the per-task key NDV: the corpus
    // has 1500 users per replica and stress replicas align with input
    // files, so each task still sees ~1500 keys — 512 guarantees real
    // flushes at both scales (measured 159 base / 1590 stress, linear in
    // total NDV); the numCapFlushes metric is read back into the
    // artifact as proof. A runtime conf: the planner reads it per query.
    spark.conf.set(graft.plans.TopKPerKeyExec.PartialMaxKeysKey,
      sys.env.getOrElse("SPARK_GRAFT_STRESS_TOPK_CAP", "512"))

    // --- second stress point (round 14): the structurally riskiest
    // families re-run at rep2 (default 30×) so the growth EXPONENT
    // between 10× and 30× is measured, not extrapolated — Rep2Queries
    // unless the caller names its own
    val rep2 = sys.env.getOrElse("SPARK_GRAFT_STRESS_REP2", "30").toInt
    val risky = sys.env.get("SPARK_GRAFT_STRESS_REP2_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Rep2Queries)
      .filter(names.contains)
    val doRep2 = rep2 > rep && risky.nonEmpty
    // --- THIRD stress point (round 15): the 100 TB extrapolation rested
    // on exponents fitted at 10×/30×; push the family whose exponent sat
    // closest to 1 (txt_novelty, 0.965 in r14) to 100× and REFIT between
    // 30× and 100×. The probe is narrow by construction: its corpus
    // replicates ONLY the tables the probe reads (documents — txt_novelty
    // is one shingle pass + a gram-df self-join), and no stored-artifact
    // setup runs against it — the probe builds its shingle table lazily
    // via PersistCache in pass 1, which the first_* audit covers.
    val rep3 = sys.env.getOrElse("SPARK_GRAFT_STRESS_REP3", "100").toInt
    val rep3Q = sys.env.get("SPARK_GRAFT_STRESS_REP3_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Rep3Queries)
      .filter(n => names.contains(n) && risky.contains(n))
    val rep3Tables = sys.env.getOrElse("SPARK_GRAFT_STRESS_REP3_TABLES",
      "documents").split(',').map(_.trim).filter(_.nonEmpty).toSet
    val doRep3 = doRep2 && rep3 > rep2 && rep3Q.nonEmpty
    // --- Zipf-skew axis (round 14): one hot key owns ~HotFrac of the
    // corpus; the receipt is the worst-task byte share staying bounded
    // by (uniform share + hot share) — skew carried, never amplified
    val skewQ = sys.env.get("SPARK_GRAFT_STRESS_SKEW")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SkewQueries)
      .filter(names.contains)
    val doSkew = skewQ.nonEmpty

    // --- build the stress corpora -------------------------------------
    val stress = buildStressCorpus(spark, sfDir, rep)
    val stress2 = if (doRep2) buildStressCorpus(spark, sfDir, rep2) else ""
    val stress3 = if (doRep3)
      buildStressCorpus(spark, sfDir, rep3, onlyTables = Some(rep3Tables)) else ""
    val skewDir = if (doSkew) buildStressCorpus(spark, sfDir, rep, hotSkew = true) else ""

    // --- identical table-creation-time setup at every scale -----------
    val setupBase = Bench.setup(spark, sfDir, Some(names.toSet))
    val setupStress = Bench.setup(spark, stress, Some(names.toSet))
    val setupStress2 = if (doRep2) Bench.setup(spark, stress2, Some(risky.toSet)) else 0.0
    val setupSkew = if (doSkew) Bench.setup(spark, skewDir, Some(skewQ.toSet)) else 0.0

    // --- measure ------------------------------------------------------
    def nodes(df: DataFrame): Map[String, Int] = {
      val line = "(?m)^[\\s:+\\-*!=>()\\d]*([A-Za-z][A-Za-z0-9]*)".r
      // an EXECUTED AdaptiveSparkPlan prints "== Final Plan ==" AND
      // "== Initial Plan ==" sections; only the final section is what
      // ran — counting the initial one could flag a node AQE replaced
      // as a stress-scale flip (a false all_ok=false)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      line.findAllMatchIn(plan)
        .map(_.group(1)).toSeq.groupBy(identity).view.mapValues(_.size).toMap
    }
    // sum of the TopKPerKeyPartial numCapFlushes metric across the plan
    // (descending through AQE wrappers) — the proof the stress run
    // exercised the heap map's flush→spill-buffer regime, not just the
    // never-fills happy path
    def capFlushes(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      var sum = 0L
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case t: graft.plans.TopKPerKeyExec if t.partial =>
            sum += t.metrics("numCapFlushes").value
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(plan)
      sum
    }
    // Timing runs as INTERLEAVED full passes over every (query, corpus)
    // leg — not back-to-back reps per leg (Bench round 13 rationale): a
    // multi-second host stall spans all back-to-back samples of whichever
    // leg it lands on and survives the min, faking the ratio in EITHER
    // direction — an inflated base floor masks a genuinely superlinear
    // stress row, an inflated stress floor poisons all_ok with a false
    // alarm. Spread samples can lose at most one pass to a burst.
    val legs = (for (n <- names; dir <- Seq(sfDir, stress)) yield (n, dir)) ++
      (if (doRep2) risky.map(n => (n, stress2)) else Nil) ++
      (if (doRep3) rep3Q.map(n => (n, stress3)) else Nil) ++
      (if (doSkew) skewQ.map(n => (n, skewDir)) else Nil)
    // plain map, no default: floor() indexing a leg the timing loop never
    // ran must crash, not serve a fabricated sample
    val legTimes = scala.collection.mutable.Map.empty[(String, String), Double]
    // PASS-1 times ride alongside the floors as the BUILD-INCLUSIVE
    // audit (ADVICE r13): several queries serve from PersistCache-
    // memoized artifacts (samp_dsir's (doc,bucket) feature table,
    // graph_bfs_distance's distance table, the near-dup frames) whose
    // one corpus-sized build is paid exactly once per (session, corpus)
    // — i.e. in pass 1 — and then never survives the min. The floor
    // audits SERVING scalability; first_ratio audits the build too
    // (single-sample, so its linear gate is looser).
    val firstTimes = scala.collection.mutable.Map.empty[(String, String), Double]
    for (pass <- 1 to reps; (n, dir) <- legs) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      if (pass == 1) firstTimes((n, dir)) = sec
      legTimes((n, dir)) =
        math.min(legTimes.getOrElse((n, dir), Double.MaxValue), sec)
    }
    def floor(name: String, dir: String): (Double, Map[String, Int], Long) = {
      val fn = SparkEntry.queries(name)
      // Plan-shape evidence must come from an EXECUTED QueryExecution
      // (ADVICE r12): under AQE a never-executed plan prints the INITIAL
      // plan, hiding exactly the nested-loop flips this flag exists to
      // catch (and the noop writes above run their own separate command
      // QueryExecutions). toRdd.foreach executes THIS QueryExecution —
      // finalizing its adaptive stages — without collecting rows to the
      // driver, so the capture stays safe at any output size.
      val df = fn(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      (legTimes((name, dir)), nodes(df), capFlushes(df.queryExecution.executedPlan))
    }
    // Worst-task byte-share instrumentation for the skew legs: one extra
    // execution with a task-metrics listener; share = max over
    // qualifying stages (>512 KiB read, >1 task — see the threshold note
    // below) of the largest task's byte fraction. The skew receipt compares the SKEW corpus's share to
    // the UNIFORM stress corpus's — AQE coalescing makes the absolute
    // uniform share a function of partition targets, so the bound is
    // relative: skew may ADD at most the hot key's own share (it is
    // carried by one partition), never concentrate beyond it.
    def instrumented(name: String, dir: String,
        forceShuffle: Boolean = false): (Double, Boolean) =
      if (!forceShuffle) instrumented0(name, dir)
      else {
        // forced-shuffle replay (VERDICT r14): a salted/broadcast shape can
        // report share 0.0 simply because nothing corpus-sized is ever
        // hashed by the hot key — which leaves the one query named for
        // skew never exercising hot-key concentration in a shuffle.
        // Disabling the broadcast threshold forces the join shape a
        // 100 TB build side would force anyway, so the share bound (and
        // AQE's skew-split) is measured on a real shuffled join.
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try instrumented0(name, dir) finally spark.conf.set(key, prev)
      }
    def instrumented0(name: String, dir: String): (Double, Boolean) = {
      val stageBytes = new scala.collection.concurrent.TrieMap[
        Int, scala.collection.mutable.ArrayBuffer[Long]]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            val b = m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
            val buf = stageBytes.getOrElseUpdate(
              te.stageId, scala.collection.mutable.ArrayBuffer.empty[Long])
            buf.synchronized { buf += b }
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      // the listener bus is async; let queued TaskEnd events drain before
      // reading (waitUntilEmpty is private[spark]). A fixed sleep drops
      // late events on a loaded host (ADVICE r14) — poll until the
      // observed per-stage task counts stop growing (quiet for 500 ms)
      // with a bounded 15 s deadline instead.
      def observed(): Long = stageBytes.values.map(b => b.synchronized(b.size.toLong)).sum
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1L; var quiet = 0
      while (quiet < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = observed()
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
      spark.sparkContext.removeSparkListener(listener)
      // 512 KiB floor over shuffle-read+input bytes: every keyed
      // corpus-scale stage (window/agg/join shuffles) qualifies at
      // sf0.1×10, while tiny fixed-size stages (driver collects, dim
      // builds) appear in BOTH corpora and cancel in the relative gate.
      // A share of 0.0 is itself a receipt: the query has NO qualifying
      // keyed stage at all (j_skew_salted's broadcast-join shape — the
      // hot key has nowhere to concentrate because nothing corpus-sized
      // is ever hashed by it).
      val share = stageBytes.values.toSeq
        .map(buf => buf.synchronized { (buf.size, buf.sum, buf.max) })
        .collect { case (sz, sum, mx) if sz > 1 && sum > (512L << 10) =>
          mx.toDouble / sum }
        .maxOption.getOrElse(0.0)
      val skewSplit = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).contains("skew=true")
      (share, skewSplit)
    }
    val flipNodes = Set("BroadcastNestedLoopJoin", "CartesianProduct")
    def r2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def r3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val stressNodes = scala.collection.mutable.Map.empty[String, Set[String]]
    val rows = names.map { n =>
      val (b, bn, bcf) = floor(n, sfDir)
      val (s, sn, scf) = floor(n, stress)
      stressNodes(n) = sn.keySet
      val newNodes = (sn.keySet -- bn.keySet).toSeq.sorted
      val ratio = s / b
      val flip = newNodes.exists(flipNodes.contains)
      val linearOk = ratio <= rep * 1.5
      // build-inclusive (pass-1) audit: single-sample, so the gate is a
      // loose rep*2.5 — it exists to catch an egregiously superlinear
      // memoized BUILD (quadratic would read 10x over the gate), not to
      // re-litigate the floor
      val fb = firstTimes((n, sfDir))
      val fs = firstTimes((n, stress))
      val firstRatio = fs / fb
      val buildOk = firstRatio <= rep * 2.5
      System.err.println(f"[stress] $n%-28s base=${b}%6.2fs x$rep=${s}%6.2fs ratio=${ratio}%5.2f first_ratio=${firstRatio}%5.2f linear_ok=$linearOk build_ok=$buildOk flip=$flip capflush=$bcf/$scf new=${newNodes.mkString("|")}")
      (n, b, s, ratio, linearOk, flip, newNodes, bcf, scf, fb, fs, firstRatio, buildOk)
    }
    // second stress point → fitted growth exponent between rep and rep2:
    // e = ln(t2/t1)/ln(rep2/rep). Gate e <= 1.15: exactly-linear growth
    // reads 1.0; the 0.15 headroom absorbs floor noise on second-scale
    // samples (±10% on each floor shifts e by ~ln(1.2)/ln(3) ≈ 0.17 in
    // the worst direction, and min-of-reps floors are tighter than that).
    val rep2Rows = if (!doRep2) Map.empty[String, (Double, Double, Boolean)]
    else risky.map { n =>
      val t1 = legTimes((n, stress))
      val (t2, n2, _) = floor(n, stress2)
      // flip at the SECOND point = a nested-loop/cartesian node the rep×
      // plan did not have (a base-scale BNLJ over a dimension is fine;
      // one that APPEARS with growth is the scale bug)
      val flip2 = (n2.keySet -- stressNodes(n)).exists(flipNodes.contains)
      val e = math.log(t2 / t1) / math.log(rep2.toDouble / rep)
      val ok = e <= 1.15 && !flip2
      System.err.println(f"[stress] $n%-28s x$rep2=${t2}%6.2fs exponent(${rep}→$rep2)=${e}%5.2f exp_ok=$ok")
      n -> (t2, e, ok)
    }.toMap
    // third point → refit between rep2 and rep3 (same 1.15 gate; the
    // larger ln(rep3/rep2) base makes the fit LESS noise-sensitive than
    // the 10→30 one)
    val rep3Rows = if (!doRep3) Map.empty[String, (Double, Double, Boolean)]
    else rep3Q.map { n =>
      val t2 = rep2Rows(n)._1
      val (t3, n3, _) = floor(n, stress3)
      val flip3 = (n3.keySet -- stressNodes(n)).exists(flipNodes.contains)
      val e = math.log(t3 / t2) / math.log(rep3.toDouble / rep2)
      val ok = e <= 1.15 && !flip3
      System.err.println(f"[stress] $n%-28s x$rep3=${t3}%6.2fs exponent($rep2→$rep3)=${e}%5.2f exp3_ok=$ok")
      n -> (t3, e, ok)
    }.toMap
    // skew legs: floor at the hot-key corpus + the worst-task share bound
    val skewRows = if (!doSkew) Map.empty[String, (Double, Double, Double, Double, Boolean, Boolean, Option[(Double, Double, Boolean, Boolean)])]
    else skewQ.map { n =>
      val sk = legTimes((n, skewDir))
      val st = legTimes((n, stress))
      val (shareSkew, skewSplit) = instrumented(n, skewDir)
      val (shareUni, _) = instrumented(n, stress)
      // bound: the hot key is ONE key — it can land entirely in one task
      // (window partitions are unsplittable), so the skew corpus may add
      // at most its own share on top of whatever the uniform corpus
      // concentrates, plus slack for AQE re-coalescing around it
      val ok = shareSkew <= shareUni + HotFrac + 0.15
      // de-vacuified receipt (VERDICT r14): a 0.0 share means no keyed
      // stage qualified — replay BOTH corpora with broadcasts disabled so
      // the hot key must land in a shuffled join, and bound THAT share the
      // same way. Only if the forced replay also reads 0.0 is "no keyed
      // stage" a property of the query rather than of the bench-scale
      // broadcast threshold.
      val forced = if (shareSkew > 0.0) None else {
        val (fSkew, fSplit) = instrumented(n, skewDir, forceShuffle = true)
        val (fUni, _) = instrumented(n, stress, forceShuffle = true)
        val fok = fSkew <= fUni + HotFrac + 0.15
        System.err.println(f"[stress] $n%-28s FORCED-shuffle share=${fSkew}%.3f (uniform ${fUni}%.3f) aqe_skew=$fSplit forced_ok=$fok")
        Some((fSkew, fUni, fSplit, fok))
      }
      val okAllLegs = ok && forced.forall(_._4)
      System.err.println(f"[stress] $n%-28s skew=${sk}%6.2fs vs uniform=${st}%6.2fs share=${shareSkew}%.3f (uniform ${shareUni}%.3f) aqe_skew=$skewSplit skew_ok=$okAllLegs")
      n -> (sk, sk / st, shareSkew, shareUni, skewSplit, okAllLegs, forced)
    }.toMap
    val okAll = rows.forall { case (_, _, _, _, lin, flip, _, _, _, _, _, _, bok) =>
        lin && !flip && bok } &&
      rep2Rows.values.forall(_._3) && rep3Rows.values.forall(_._3) &&
      skewRows.values.forall(_._6)
    // (skew_ok above already folds in the forced-shuffle replay verdict)
    val qJson = rows.map { case (n, b, s, ratio, lin, flip, nn, bcf, scf, fb, fs, fr, bok) =>
      val cf = if (bcf > 0 || scf > 0)
        s""","cap_flushes_base":$bcf,"cap_flushes_stress":$scf""" else ""
      val r2x = rep2Rows.get(n).map { case (t2, e, ok) =>
        s""","stress2_sec":${r2(t2)},"rep2":$rep2,"growth_exponent":${r3(e)},"exp_ok":$ok"""
      }.getOrElse("")
      val r3x = rep3Rows.get(n).map { case (t3, e, ok) =>
        s""","stress3_sec":${r2(t3)},"rep3":$rep3,"growth_exponent_23":${r3(e)},"exp3_ok":$ok"""
      }.getOrElse("")
      val sx = skewRows.get(n).map { case (sk, rel, shS, shU, split, ok, forced) =>
        val fx = forced.map { case (fS, fU, fSplit, fok) =>
          s""","forced_shuffle_share_skew":${r3(fS)},"forced_shuffle_share_uniform":${r3(fU)},"forced_aqe_skew_split":$fSplit,"forced_ok":$fok"""
        }.getOrElse("")
        s""","skew_sec":${r2(sk)},"skew_vs_stress":${r2(rel)},"worst_task_share_skew":${r3(shS)},"worst_task_share_uniform":${r3(shU)},"aqe_skew_split":$split,"skew_ok":$ok$fx"""
      }.getOrElse("")
      s""""$n":{"base_sec":${r2(b)},"stress_sec":${r2(s)},"ratio":${r2(ratio)},"ratio_per_x":${r2(ratio / rep)},"linear_ok":$lin,"plan_flip":$flip,"first_base_sec":${r2(fb)},"first_stress_sec":${r2(fs)},"first_ratio":${r2(fr)},"build_linear_ok":$bok,"new_nodes":${nn.map("\"" + _ + "\"").mkString("[", ",", "]")}$cf$r2x$r3x$sx}"""
    }.mkString("{", ",", "}")
    val skewMeta = if (doSkew)
      s""","skew":{"hot_frac":$HotFrac,"queries":${skewQ.map("\"" + _ + "\"").mkString("[", ",", "]")},"setup_sec":${r2(setupSkew)}}""" else ""
    val rep2Meta = if (doRep2)
      s""","rep2":$rep2,"rep2_queries":${risky.map("\"" + _ + "\"").mkString("[", ",", "]")},"setup_stress2_sec":${r2(setupStress2)}""" else ""
    val rep3Meta = if (doRep3)
      s""","rep3":$rep3,"rep3_queries":${rep3Q.map("\"" + _ + "\"").mkString("[", ",", "]")},"rep3_tables":${rep3Tables.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}""" else ""
    val line =
      s"""{"metric":"scale_stress","rep":$rep,"reps_per_floor":$reps,"all_ok":$okAll,"queries":$qJson,"setup_base_sec":${r2(setupBase)},"setup_stress_sec":${r2(setupStress)}$rep2Meta$rep3Meta$skewMeta,"sf":"$sfDir","cpus":$cpus}"""
    // a targeted re-check (SPARK_GRAFT_STRESS_ONLY) must not clobber the
    // committed full-audit artifact — the BENCH_FULL lesson from round 11
    val artifact = if (sys.env.contains("SPARK_GRAFT_STRESS_ONLY"))
      "SCALE_STRESS_PARTIAL.json" else "SCALE_STRESS.json"
    try Files.write(Paths.get(artifact),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[stress] artifact write failed: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
