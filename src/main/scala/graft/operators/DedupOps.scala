package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions._

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline. Four families: exact (hash groupBy), MinHash+LSH banding,
  * SimHash fingerprints, and exact n-gram Jaccard via an inverted index.
  *
  * Determinism across engines: every hash is md5 (identical hex in Spark and
  * DuckDB) and minhash takes the lexicographic MIN of hex strings, so
  * signatures — and therefore LSH candidate sets — are bit-identical in the
  * oracle. No engine-specific hash (murmur etc.) appears in any compared
  * output.
  *
  * Scale notes: shingling is per-row (no shuffle); minhash aggregation
  * shuffles on (doc_id, hash_idx) — high cardinality, well distributed; the
  * LSH band join only materializes candidate pairs (the whole point of LSH:
  * avoids the quadratic all-pairs join); the verify join fans shingle sets
  * over candidates only. The exact-Jaccard inverted index self-join is the
  * non-LSH fallback and is quadratic in per-shingle document frequency, so
  * it runs over a df-capped shingle universe ([[MaxShingleDf]]) — hot
  * stopword-like shingles are dropped before the join, bounding its output
  * linearly in corpus size. LSH remains the default at scale.
  */
object DedupOps {
  private val K = 12     // minhash signature length
  private val BANDS = 6  // 6 bands x 2 rows: P(candidate | J=0.5) ≈ 0.82

  /** Broder-style minhash family: ONE strong hash per shingle (u = first 32
    * md5 bits as an integer) + K universal-hash transforms
    * (a_i·u + b_i) mod P. Versus K independent md5s this is ~12x less
    * hashing — the dominant cost of the signature leg — and the shuffle
    * carries longs, not 32-char hex strings. a_i < 2^30 and u < 2^32 keep
    * a·u + b < 2^62: no 64-bit overflow, so Spark and DuckDB compute
    * bit-identical values with plain BIGINT arithmetic. */
  private val P = 4294967311L // prime > 2^32
  private val HASH_A = Seq(733918621L, 915562283L, 476920051L, 641209741L,
    853958837L, 302145473L, 568741787L, 994877231L,
    187498013L, 429586111L, 760239419L, 521870869L)
  private val HASH_B = Seq(103911539L, 882345941L, 341298077L, 772091447L,
    215699881L, 658102763L, 490233391L, 127955273L,
    936571181L, 581236607L, 264899741L, 709124829L)

  /** u in Spark / DuckDB lockstep — the shared pair in GraftFunctions
    * (equality of the two spellings is enforced by the correctness gate on
    * every run). */
  private val uSql = graft.functions.GraftFunctions.md5u32Sql("h")

  /** (doc_id, shingle) SET rows — via the native set-emitting
    * ShingleGenerator (the HOF transform+explode formulation profiled 10x
    * slower). The per-doc dedup happens inside the generator, so building
    * the shingle-set table is a pure narrow pass: `.distinct()` here would
    * shuffle the whole (doc_id, shingle) string stream — at 100 TB the
    * single widest exchange in the module — for a set that is per-document
    * by construction. */
  private def shingleSet(s: SparkSession, d: String, n: Int): DataFrame = {
    graft.functions.expressions.GraftExpressions.ensureRegistered(s)
    Tables.documents(s, d)
      .selectExpr("doc_id", s"graft_shingle_set(lower(text), $n) AS sh")
  }

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id. */
  private val dedupExact = GraftQuery(
    "dedup_exact",
    "exact dedup via md5-fingerprint groupBy (keep min doc_id)",
    (s, d) => Tables.documents(s, d)
      .select(md5(lower(col("text"))).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .orderBy("fp"),
    Some("""SELECT md5(lower(text)) AS fp, min(doc_id) AS keep_id, count(*) AS dups FROM documents GROUP BY 1 ORDER BY 1"""))

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard >= 0.5.
    * shingle -> K md5-minhashes -> band keys -> band-join candidates ->
    * exact verify on candidates only. */
  private val dedupMinhash = GraftQuery(
    "dedup_minhash",
    "MinHash(12) + LSH(6x2) candidate pairs, exact-Jaccard verified at 0.5",
    (s, d) => {
      // The shingle set feeds FOUR plan legs (signatures, both verify-join
      // sides, set sizes) and the band table feeds both sides of the LSH
      // self-join. Spark's exchange reuse does not unify self-join legs
      // under Generate, so without materialization the scan+shingle+md5
      // pipeline runs six times (measured). The PersistCache memo is the
      // local stand-in for what a production dedup run does at 100 TB:
      // write the shingle table once, run every downstream leg off the
      // materialization. (min over the cached SET equals min over the raw
      // multiset, so signatures off the distinct output are unchanged.)
      val sh = shingles3(s, d)
      val sig = minhashSig(s, d)
      // the band explode off the cached sig is narrow and cheap; only sig
      // itself needs materialization for the self-join's two legs
      val bands = bandsOf(sig)
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      jaccardVerifiedWithSizes(cand, sh, sig.select(col("doc_id"), col("n")), 0.5)
    },
    Some {
      val abValues = (0 until K)
        .map(i => s"(${i}, ${HASH_A(i)}, ${HASH_B(i)})").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), u AS (SELECT doc_id, $uSql AS u FROM (SELECT doc_id, md5(sh) AS h FROM sh)), ab AS (SELECT * FROM (VALUES $abValues) t(i, a, b)), mh AS (SELECT doc_id, i, min((a * u + b) % $P) AS mh FROM u, ab GROUP BY 1, 2), sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mh GROUP BY 1), bands AS (SELECT doc_id, b, sig[2*b+1]::VARCHAR || '_' || sig[2*b+2]::VARCHAR AS bh FROM sig, (SELECT unnest(generate_series(0, 5)) AS b)), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh GROUP BY 1, 2) SELECT i.a, i.b, floor(i.c * 1.0 / (x.n + y.n - i.c) * 10000.0 + 0.5) / 10000.0 AS jaccard FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id WHERE i.c * 1.0 / (x.n + y.n - i.c) >= 0.5 ORDER BY 1, 2"""
    })

  /** Oracle CTE chain producing the verified pair set as `p(a, b, jaccard)`
    * — shared by the pair-listing oracle and the components oracle (which
    * prefixes RECURSIVE and appends the label-propagation CTEs). */
  /** The documents → distinct 4-gram shingle table as DuckDB CTEs
    * `t, sh` — the single source for every 4-gram oracle (Jaccard chain,
    * containment, novelty). A change to the shingle scheme edits THIS
    * string, nowhere else. */
  private[graft] val shingleCte4 =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] for i in generate_series(1, greatest(len(toks) - 3, 0))]) AS sh FROM t)"""

  /** Document-frequency cutoff for the inverted-index self-join. A shingle
    * present in df documents emits df·(df−1)/2 rows from `sh ⋈ sh` —
    * quadratic in df, so ONE boilerplate shingle shared by 10k docs alone
    * contributes 5·10⁷ pairs. Shingles above this df are stopword-like
    * boilerplate that carries ~zero Jaccard signal (it inflates every
    * pair's intersection equally); dropping them bounds the join output by
    * corpus_shingles · τ/2 — linear in corpus size — which is what lets
    * this family survive a boilerplate-heavy corpus at 100×. Measured on
    * the round-6 regenerated corpus at sf0.1: 1.13 M candidate pairs
    * without the cutoff. (Declared before [[pairCountCtes]], which
    * interpolates it — object vals initialize in order.) */
  private[graft] val MaxShingleDf = 64

  /** Pre-threshold pair machinery as DuckDB CTEs `shf, inter, sz` — shared
    * by the Jaccard and containment oracles (the metrics differ only in
    * denominator and threshold). `shf` is the df-filtered shingle universe
    * — the oracle twin of [[pairShingles]]; sizes come from the SAME
    * filtered universe so the metric stays well-defined. */
  private val pairCountCtes =
    s""", dfc AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $MaxShingleDf), shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)), inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM shf x JOIN shf y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2), sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1)"""

  private[graft] val ngramPairsCte =
    "WITH RECURSIVE " + shingleCte4 + pairCountCtes +
      """, p AS (SELECT i.a, i.b, floor(i.c * 1.0 / (x.n + y.n - i.c) * 10000.0 + 0.5) / 10000.0 AS jaccard FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id WHERE i.c * 1.0 / (x.n + y.n - i.c) >= 0.4)"""

  /** Recursive label-propagation CTEs appended to [[ngramPairsCte]] —
    * produce `m(doc_id, comp)` = min reachable id per near-dup node.
    * Shared by the components query and the keep-list query. */
  private[graft] val componentsCtes =
    """, e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p), nd AS (SELECT DISTINCT src AS id FROM e), cc AS (SELECT id, id AS lbl FROM nd UNION SELECT e.dst, cc.lbl FROM cc JOIN e ON e.src = cc.id), m AS (SELECT id AS doc_id, min(lbl) AS comp FROM cc GROUP BY 1)"""

  /** Cached distinct 4-gram shingle set — shared with the contamination
    * check in TextOps (same PersistCache key, so whichever query runs first
    * materializes it for both). */
  private[graft] def shingles4(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"shingles4:$d")(shingleSet(s, d, 4))

  /** The df-filtered, xxhash64-keyed shingle table the symmetric pair path
    * joins on — memoized because the df computation is itself a full pass
    * over the shingle table and three downstream legs (both self-join
    * sides + sizes) read it. Per-doc set sizes are computed over THIS
    * filtered universe (not the raw one) so Jaccard/containment are exact
    * set metrics on a well-defined universe, replayed identically by the
    * `shf` oracle CTE. */
  private[graft] def pairShingles(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"shingles4df:$d") {
      val sh = shingles4(s, d).select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      val rare = sh.groupBy("shh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf).select("shh")
      sh.join(rare, Seq("shh"))
    }

  /** Cached distinct 3-gram shingle set — the minhash signature input,
    * shared with the boilerplate-span detector in TextOps (same
    * PersistCache key as dedup_minhash's shingle leg). */
  private[graft] def shingles3(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"shingles3:$d")(shingleSet(s, d, 3))

  /** The MinHash(12) signature + set-size table — ONE aggregation with K
    * min-columns (each minhash folds map-side, so the shuffle carries one
    * row per doc, not one per (doc, shingle, hash_idx)); the set size
    * rides the same groupBy so the verify stage needs no second
    * scan+shuffle. Shared by dedup_minhash and the LSH power eval (same
    * signatures, or the eval would grade a different index than the one
    * that serves candidates). */
  private[graft] def minhashSig(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"minhash-sig:$d") {
      val shU = shingles3(s, d).withColumn("u",
        graft.functions.GraftFunctions.md5u32(col("sh")))
      val mins = (0 until K).map(i =>
        min((lit(HASH_A(i)) * col("u") + lit(HASH_B(i))) % lit(P)).as(s"mh$i"))
      shU.groupBy("doc_id")
        .agg(mins.head, (mins.tail :+ count(lit(1)).as("n")): _*)
    }

  /** MinHash(12) signature of an ARBITRARY (doc_id, text) frame — the
    * per-batch spelling of [[minhashSig]], shared with the streaming
    * index-maintenance leg (streaming/DocIngest.admitMinhash): same
    * shingle scheme, same hash family, so a stream-admitted signature is
    * value-identical to the batch index's row for the same text. */
  private[graft] def minhashSigOf(docs: DataFrame): DataFrame = {
    graft.functions.expressions.GraftExpressions.ensureRegistered(docs.sparkSession)
    val shU = docs.selectExpr("doc_id", "graft_shingle_set(lower(text), 3) AS sh")
      .withColumn("u", graft.functions.GraftFunctions.md5u32(col("sh")))
    val mins = (0 until K).map(i =>
      min((lit(HASH_A(i)) * col("u") + lit(HASH_B(i))) % lit(P)).as(s"mh$i"))
    shU.groupBy("doc_id").agg(mins.head, (mins.tail :+ count(lit(1)).as("n")): _*)
  }

  /** LSH band rows (doc_id, band, bh) off a signature frame — the 6×2
    * banding shared by dedup_minhash, the incremental probe, and the
    * streaming maintenance leg. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until BANDS).map(b =>
        concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)))
      .toDF("doc_id", "band", "bh")

  /** Signature-estimated Jaccard between two 12-component signatures laid
    * out as `mh{i}` vs `{rhs}mh{i}` columns: the share of agreeing
    * components — E[est] = J, the estimate a sketch-only index can verify
    * candidates with (no shingle storage). */
  private[graft] def sigEstJaccard(rhs: String): org.apache.spark.sql.Column =
    (0 until K).map(i =>
      when(col(s"mh$i") === col(s"${rhs}mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(K.toDouble)

  /** Verified 4-gram Jaccard pairs (a < b, jaccard >= 0.4) — the shared
    * edge-set leg behind the pair-listing query and the components query,
    * materialized once per (session, corpus). */
  /** ALL candidate pairs with their Jaccard (raw + 4dp-rounded), no
    * threshold applied — the stored scoring table the 0.4-family
    * ([[jaccardPairs]]) and the threshold-sensitivity curve both read.
    * Candidates are bounded by the df cutoff, not by any threshold, so
    * lowering a threshold later never requires re-joining shingles. */
  private def scoredPairs(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"jacscored:$d") {
      // materialize-once rationale as dedup_minhash: several legs.
      // The inverted-index self-join keys on xxhash64(shingle), not the
      // raw ~30-char 4-gram string: the shuffle moves 8-byte longs
      // instead of strings (~4x fewer bytes on the widest exchange in
      // this module — at 100 TB the shingle shuffle IS the cost). A
      // hash collision could only alter a pair's intersection count if
      // two distinct shingles collide within that pair (~2^-64 per
      // shingle pair — negligible next to the sampling error already
      // accepted in the MinHash variant). The input is the df-filtered
      // universe (see pairShingles) — the cutoff that keeps the self-join
      // linear in corpus size.
      val (cand, sz) = pairCounts(pairShingles(s, d))
      cand
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .withColumn("jr", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
        .select(col("a"), col("b"), col("jr"), fround(col("jr"), 4).as("jaccard"))
    }

  /** EVAL PAIR SAMPLE — the fixed-size audit input both calibration evals
    * ([[lshPowerEval]], [[minhashErrorEval]]) run on: the EvalPairCap
    * smallest candidate pairs by md5("a:b") order — a deterministic
    * uniform hash sample, engine-replayable, ties broken on (a, b).
    * Candidate-pair count grows superlinearly with corpus duplication
    * (402 pairs at sf0.01 → 38.9k at sf0.1; a 10×-replicated corpus
    * multiplied it ~100× and made the unsampled eval the one superlinear
    * row in round 12's SCALE_STRESS), so an eval over ALL pairs is
    * unbounded by construction — a fixed-size hash sample is what a
    * 100 TB calibration sweep actually runs, and the decile statistics
    * the evals publish are estimates either way. TakeOrderedAndProject
    * keeps the sampling a per-partition-heap pass (no global sort), and
    * the cap makes the evals' pair-list broadcast legitimately bounded
    * (≤ EvalPairCap rows by construction, not corpus-scaling). Below the
    * cap the sample is the identity. */
  private[graft] val EvalPairCap = 4096
  private def evalPairs(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d)
      .orderBy(md5(concat(col("a").cast("string"), lit(":"),
        col("b").cast("string"))), col("a"), col("b"))
      .limit(EvalPairCap)
      .select(col("a"), col("b"))

  /** The oracle twin of [[evalPairs]] over the `inter` candidate CTE. */
  private def evalPairsSql: String =
    s"p0 AS (SELECT a, b FROM inter ORDER BY md5(a::VARCHAR || ':' || b::VARCHAR), a, b LIMIT $EvalPairCap)"

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"jacpairs4:$d") {
      // threshold on the RAW ratio (the oracle's p CTE does the same);
      // the rounded column is only for reporting
      scoredPairs(s, d).filter(col("jr") >= 0.4)
        .select(col("a"), col("b"), col("jaccard"))
    }

  /** Inverted-index pair machinery shared by the Jaccard and containment
    * metrics: all-shared-shingle pair counts `(a, b, c)` and per-doc set
    * sizes `(doc_id, n)` over the df-filtered xxhash64-keyed shingle table
    * ([[pairShingles]]) — the Spark twin of [[pairCountCtes]]. */
  private def pairCounts(sh: DataFrame): (DataFrame, DataFrame) = {
    val inter = sh.as("x").join(sh.as("y"),
        col("x.shh") === col("y.shh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    (inter, sz)
  }

  /** Exact n-gram Jaccard dedup via inverted-index self-join (4-grams). */
  private val dedupNgram = GraftQuery(
    "dedup_ngram_jaccard",
    "exact 4-gram Jaccard >= 0.4 via inverted-index self-join",
    (s, d) => jaccardPairs(s, d).orderBy("a", "b"),
    Some(ngramPairsCte + """ SELECT a, b, jaccard FROM p ORDER BY 1, 2"""))

  /** Connected components over the verified near-dup pair set — the step
    * that turns PAIRS into a KEPT SET. Near-dup similarity is not
    * transitive (A~B >= 0.4 and B~C >= 0.4 allow A~C < 0.4), so a real
    * dedup pipeline groups its pair evidence into components and keeps one
    * document per component; emitting pairs alone under-deduplicates every
    * chain.
    *
    * Pregel-style iterative min-label propagation: every node repeatedly
    * adopts the smallest label among itself and its neighbors until no
    * label changes. Each round is ONE keyed shuffle over the EDGE set
    * (near-dup pairs only — corpus-independent), and rounds = component
    * diameter, which for near-dup clusters is shallow; a production run on
    * adversarial graphs alternates large-star/small-star to force
    * O(log n) rounds. The convergence check is a 1-row driver aggregate:
    * labels are monotonically non-increasing, so an unchanged label SUM
    * means a fixed point (strictly decreasing otherwise). Intermediate
    * label tables are persisted per round and released as soon as the next
    * round materializes — the iterative-algorithm memory discipline that
    * keeps lineage from growing unboundedly.
    *
    * The oracle replays the fixed point exactly: min-reachable-label IS
    * connected components, which DuckDB computes with a recursive CTE. */
  /** Library operator: connected components over an undirected edge set
    * `(a, b)` of Long ids. Returns `(id, comp)` for every edge endpoint,
    * where `comp` is the smallest node id reachable from `id` — the
    * canonical representative a dedup pipeline keeps.
    *
    * The returned DataFrame is persisted (it is the loop's materialized
    * fixed point); the caller owns its lifecycle.
    *
    * Seeding folds round 1 into the node-set aggregation
    * (lbl₀(v) = min(v ∪ N(v))), so single-pair components converge on the
    * first convergence check. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // Persisted at loop entry: every propagation round joins against the
    // symmetric edge set, and an unpersisted caller-supplied `edges` (the
    // public-operator case) would re-run its full lineage once per round.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    var cur = sym.groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("comp")).persist()
    var converged = false
    while (!converged) {
      // one propagation round: min over self ∪ neighbors. NOT persisted,
      // although the pointer jump joins m1 against itself: both legs
      // materialize inside ONE job, where lazy cache population cannot
      // dedupe them (measured: persisting here cost ~0.5s of churn and
      // saved nothing — and with the seeded init the loop typically
      // converges in a single round anyway).
      val m1 = sym.join(cur, sym("dst") === cur("id"))
        .select(sym("src").as("id"), col("comp"))
        .union(cur)
        .groupBy("id").agg(min("comp").as("comp"))
      // ...then a POINTER JUMP (path compression): also adopt the label
      // OF the label. Effective propagation distance doubles per round,
      // so rounds = O(log diameter) instead of O(diameter) — at scale
      // each saved round is a saved full shuffle over the edge set.
      val nextPlan = m1.as("x")
        .join(m1.select(col("id").as("jid"), col("comp").as("jcomp")).as("y"),
          col("x.comp") === col("y.jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.comp"), coalesce(col("jcomp"), col("x.comp"))).as("comp"))
      // LINEAGE TRUNCATION, load-bearing: the self-join embeds TWO copies
      // of the previous round's logical plan, so without truncation plan
      // size doubles per round and every later action re-pays exponential
      // Catalyst analysis (measured: 1.8 s to count the cached 477-row
      // label table — all driver-side planning, zero execution). Rebasing
      // each round on a LogicalRDD leaf keeps the plan flat; the RDD
      // still chains to the persisted round below it, so fault recovery
      // recomputes through Spark's RDD lineage, not the logical plan.
      val next = nextPlan.sparkSession
        .createDataFrame(nextPlan.rdd, nextPlan.schema).persist()
      // Convergence probe: this round's and last round's label sums in ONE
      // action (1-row cross join) — on the first round this also
      // materializes the seed `cur` as a subtree of `next`, so the seed
      // never needs its own job; every round runs exactly one action.
      // Labels are monotonically non-increasing, so an unchanged SUM means
      // a fixed point.
      val sums = next.agg(coalesce(sum("comp"), lit(0L)).as("ns"))
        .crossJoin(cur.agg(coalesce(sum("comp"), lit(0L)).as("cs"))).head
      cur.unpersist()
      cur = next
      converged = sums.getLong(0) == sums.getLong(1)
    }
    // `cur` is persisted AND materialized (the convergence check was an
    // action), so dropping the edge cache cannot trigger recomputation.
    sym.unpersist()
    cur
  }

  /** Near-dup component labels `(id, comp)` for this corpus — the
    * materialized fixed point of [[connectedComponents]] over the verified
    * Jaccard pairs, PersistCache-memoized so the components query, the
    * keep rules, and the leakage-safe splitter all share ONE propagation
    * run per (session, corpus). */
  private[graft] def componentLabels(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"cc-lbl:$d") {
      connectedComponents(jaccardPairs(s, d))
    }

  private val dedupComponents = GraftQuery(
    "dedup_components",
    "connected components over near-dup pairs (iterative min-label propagation)",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lbl = componentLabels(s, d)
      val w = Window.partitionBy("comp")
      lbl.select(col("id").as("doc_id"), col("comp"))
        .withColumn("comp_size", count(lit(1)).over(w))
        .orderBy("comp", "doc_id")
    },
    Some(ngramPairsCte + componentsCtes +
      """ SELECT doc_id, comp, CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size FROM m ORDER BY comp, doc_id"""))

  /** Component COLLAPSE with a quality-aware representative: per near-dup
    * component keep the LONGEST member (max n_chars, ties to the smaller
    * doc_id) — the C4/RefinedWeb keep rule, complementing the min-id rule
    * the keep-list uses (min-id is replay-stable under content edits;
    * keep-longest preserves the most training text). One row per component:
    * the kept doc plus chars kept vs total — the collapse report a
    * curation run logs before dropping the other members.
    *
    * Scale shape: the component label table is pair-bounded (near-dup
    * nodes only — tiny vs the corpus), so it BROADCASTS into the documents
    * join and the corpus never shuffles; the rank window partitions by
    * component over that pruned member set only. */
  private val dedupKeepLongest = GraftQuery(
    "dedup_keep_longest",
    "collapse each near-dup component keeping its longest member",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lbl = componentLabels(s, d)
      val members = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(broadcast(lbl.withColumnRenamed("id", "doc_id")), Seq("doc_id"))
      val w = Window.partitionBy("comp").orderBy(desc("n_chars"), col("doc_id"))
      members.withColumn("rk", row_number().over(w))
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"),
          sum("n_chars").as("total_chars"),
          max(when(col("rk") === 1, col("doc_id"))).as("keep_doc"),
          max(when(col("rk") === 1, col("n_chars"))).as("keep_chars"))
        .orderBy("comp")
    },
    Some(ngramPairsCte + componentsCtes +
      """, mem AS (SELECT m.doc_id, m.comp, d.n_chars FROM m JOIN documents d USING (doc_id)), rk AS (SELECT *, row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rk FROM mem) SELECT comp, count(*) AS n_members, CAST(sum(n_chars) AS BIGINT) AS total_chars, max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc, max(CASE WHEN rk = 1 THEN n_chars END) AS keep_chars FROM rk GROUP BY 1 ORDER BY 1"""))

  /** The pipeline's FINAL dedup verdict: one (keep, reason) row per
    * document, merging the exact-duplicate signal (md5 fingerprint groups)
    * with the near-duplicate signal (Jaccard>=0.4 connected components).
    * Policy — the standard representative-keeping rule:
    *   1. not the min doc_id of its fingerprint group  -> drop `exact_dup`
    *   2. in a near-dup component and not its min id   -> drop `near_dup`
    *   3. otherwise                                    -> `kept`
    * (An exact duplicate with >=4 tokens is also Jaccard-1.0 near-dup of
    * its twin, so the two signals agree on representatives; rule order
    * just fixes which reason wins the tie.)
    *
    * Scale shape: fingerprint grouping is one keyed shuffle; the component
    * label table is pair-bounded (near-dup nodes only — tiny vs the
    * corpus), so its join back to documents broadcasts. The verdict table
    * is what a 100 TB curation run persists and inner-joins (keep=1)
    * against the corpus on the next pipeline stage. */
  /** The (doc_id, keep, reason) dedup verdict frame — shared by the
    * registered keep-list query and the end-to-end curation funnel
    * (PipelineOps.pipe_curation_funnel). */
  private[graft] def keepVerdict(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    val exactKeep = fp.groupBy("fp").agg(min("doc_id").as("keep_id"))
    val comp = componentLabels(s, d)
    fp.join(exactKeep, Seq("fp"))
      .join(broadcast(comp.withColumnRenamed("id", "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), lit(0))
          .when(col("comp").isNotNull && col("doc_id") =!= col("comp"), lit(0))
          .otherwise(lit(1)).as("keep"),
        when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
          .when(col("comp").isNotNull && col("doc_id") =!= col("comp"),
            lit("near_dup"))
          .otherwise(lit("kept")).as("reason"))
  }

  /** Oracle CTE bundle for [[keepVerdict]] (RECURSIVE pair + component +
    * fingerprint CTEs ending in f/ek/m, kv carrying keep + reason) —
    * shared with the funnel and audit-trail oracles. */
  private[graft] val keepVerdictCtes: String =
    ngramPairsCte + componentsCtes +
      """, f AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents), ek AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY 1), kv AS (SELECT f.doc_id, CASE WHEN f.doc_id <> ek.keep_id THEN 0 WHEN m.comp IS NOT NULL AND f.doc_id <> m.comp THEN 0 ELSE 1 END AS keep, CASE WHEN f.doc_id <> ek.keep_id THEN 'exact_dup' WHEN m.comp IS NOT NULL AND f.doc_id <> m.comp THEN 'near_dup' ELSE 'kept' END AS reason FROM f JOIN ek USING (fp) LEFT JOIN m ON m.doc_id = f.doc_id)"""

  private val dedupKeepList = GraftQuery(
    "dedup_keep_list",
    "final keep/drop verdict per doc: exact-dup groups + near-dup components",
    (s, d) => keepVerdict(s, d).orderBy("doc_id"),
    Some(ngramPairsCte + componentsCtes +
      """, f AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents), ek AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY 1) SELECT f.doc_id, CAST(CASE WHEN f.doc_id <> ek.keep_id THEN 0 WHEN m.comp IS NOT NULL AND f.doc_id <> m.comp THEN 0 ELSE 1 END AS INTEGER) AS keep, CASE WHEN f.doc_id <> ek.keep_id THEN 'exact_dup' WHEN m.comp IS NOT NULL AND f.doc_id <> m.comp THEN 'near_dup' ELSE 'kept' END AS reason FROM f JOIN ek USING (fp) LEFT JOIN m ON m.doc_id = f.doc_id ORDER BY f.doc_id"""))

  /** 16-bit SimHash fingerprint per document, built purely from md5 nibbles
    * so Spark and DuckDB agree bit-for-bit. One aggregation with 16
    * constant-indexed sum columns (no 16x row explosion on the bit index —
    * every per-bit expression has literal positions/shifts, so the whole
    * contribution computation stays in whole-stage codegen). */
  private def simhashDf(s: SparkSession, d: String): DataFrame = {
    val perTok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h4", substring(md5(col("tok")), 1, 4))
    val sgns = (0 until 16).map { j =>
      sum(expr(
        s"2 * (shiftright(instr('0123456789abcdef', substring(h4, ${j / 4 + 1}, 1)) - 1, ${3 - j % 4}) & 1) - 1"))
        .as(s"sgn$j")
    }
    perTok.groupBy("doc_id").agg(sgns.head, sgns.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          when(col(s"sgn$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private val simhashOracleBase =
    """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), bt AS (SELECT doc_id, j, instr('0123456789abcdef', substr(md5(tok), CAST(floor(j/4.0) AS INTEGER) + 1, 1)) - 1 AS nib FROM tk, (SELECT unnest(generate_series(0, 15)) AS j)), sg AS (SELECT doc_id, j, sum(2 * ((nib >> (3 - j % 4)) & 1) - 1) AS sgn FROM bt GROUP BY 1, 2), sim AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash FROM sg GROUP BY 1)"""

  private val dedupSimhash = GraftQuery(
    "dedup_simhash",
    "16-bit SimHash document fingerprint (md5-nibble weighted bits)",
    (s, d) => simhashDf(s, d).orderBy("doc_id"),
    Some(simhashOracleBase + """ SELECT doc_id, simhash FROM sim ORDER BY doc_id"""))

  private val dedupSimhashGroups = GraftQuery(
    "dedup_simhash_groups",
    "SimHash collision groups (candidate near-dups, keep min doc_id)",
    (s, d) => simhashDf(s, d)
      .groupBy("simhash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy("simhash"),
    Some(simhashOracleBase + """ SELECT simhash, min(doc_id) AS keep_id, count(*) AS cnt FROM sim GROUP BY 1 HAVING count(*) > 1 ORDER BY 1"""))

  /** Embedding-cosine near-dup: top-20 most similar pairs. The testdata has
    * no planted >0.9 pairs, so "top pairs" (not a fixed threshold) keeps the
    * operator's output non-degenerate at every scale factor. */
  private val dedupEmbedding = GraftQuery(
    "dedup_embedding_cosine",
    "embedding near-dup: top-20 all-pairs cosine (norms precomputed)",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      // spread (scale-gated identity at real sizes): the all-pairs
      // nested-loop join streams ONE scan task otherwise, so the 2M-pair
      // graft_dot loop — this query's entire cost (one 440 ms single-task
      // stage, measured per stage in r15) — ran on 1 core
      val e = Tables.spread(s, Tables.embeddings(s, d), col("vec_id"))
        .select(col("vec_id"), vecDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      val a = e.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("a") < col("b"))
        .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
        .orderBy(fround(col("cos"), 6).desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), fround(col("cos"), 4).as("cos"))
        .orderBy(desc("cos"), col("a"), col("b"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), p AS (SELECT a.vec_id AS a, b.vec_id AS b, list_sum([s[1]*s[2] for s in list_zip(a.v, b.v)]) / (a.nrm * b.nrm) AS cos FROM n a JOIN n b ON a.vec_id < b.vec_id) SELECT a, b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (SELECT * FROM p ORDER BY floor(cos * 1000000.0 + 0.5) DESC, a, b LIMIT 20) ORDER BY cos DESC, a, b"""))

  /** Exact-Jaccard verification of candidate pairs against shingle sets.
    * Joins shingles to candidates only (not all pairs), so cost is
    * O(candidates x shingles/doc). The per-doc set sizes `sz` are supplied
    * by the caller — the minhash path derives them from the signature
    * aggregation it is already running, which saves a whole extra
    * scan+shuffle over the shingle table. Intersections join on
    * xxhash64(shingle), not the raw string — same 8-bytes-vs-string
    * rationale (and collision-risk accounting) as [[jaccardPairs]]. */
  private def jaccardVerifiedWithSizes(cand: DataFrame, sh: DataFrame,
      sz: DataFrame, thresh: Double): DataFrame = {
    val shh = sh.select(col("doc_id"), xxhash64(col("sh")).as("shh"))
    val inter = broadcast(cand) // LSH candidates are small by construction
      .join(shh.select(col("doc_id").as("a"), col("shh")), Seq("a"))
      .join(shh.select(col("doc_id").as("b"), col("shh")), Seq("b", "shh"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    inter
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= thresh)
      .select(col("a"), col("b"), fround(col("jaccard"), 4).as("jaccard"))
      .orderBy("a", "b")
  }

  /** The embedding near-dup SCALE path: sign-LSH buckets first, cosine only
    * within buckets — O(n²/buckets) instead of the all-pairs join above.
    * Top-20 bucket-local pairs (same non-degeneracy rationale as the
    * all-pairs variant). The md5-derived bucketing is replayed exactly in
    * the DuckDB oracle (as in sim_knn_lsh); DedupSimilaritySpec additionally
    * checks pair soundness against directly computed cosines. */
  private val dedupEmbeddingLsh = GraftQuery(
    "dedup_embedding_lsh",
    "embedding near-dup at scale: sign-LSH buckets + in-bucket cosine top-20",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      val coded = SimilarityOps.codedTable(s, d)
      val a = coded.select(col("code"), col("vec_id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = coded.select(col("code"), col("vec_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("code")).filter(col("a") < col("b"))
        .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
        .orderBy(fround(col("cos"), 6).desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), fround(col("cos"), 4).as("cos"))
        .orderBy(desc("cos"), col("a"), col("b"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), proj AS (SELECT vec_id, p, list_sum([(CASE WHEN instr('0123456789abcdef', substr(md5(p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 1)) % 2 = 1 THEN 1.0 ELSE -1.0 END) * v[i] for i in generate_series(1, len(v))]) AS dp FROM n, (SELECT unnest(generate_series(0, 7)) AS p)), codes AS (SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code FROM proj GROUP BY 1), c AS (SELECT n.vec_id, n.v, n.nrm, codes.code FROM n JOIN codes USING (vec_id)), p AS (SELECT x.vec_id AS a, y.vec_id AS b, list_sum([s[1]*s[2] for s in list_zip(x.v, y.v)]) / (x.nrm * y.nrm) AS cos FROM c x JOIN c y ON x.code = y.code AND x.vec_id < y.vec_id) SELECT a, b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM (SELECT * FROM p ORDER BY floor(cos * 1000000.0 + 0.5) DESC, a, b LIMIT 20) ORDER BY cos DESC, a, b"""))

  /** Incremental dedup — the production crawl-refresh shape: a NEW BATCH
    * (stand-in: doc_id % 10 = 9) is checked against the existing corpus,
    * never against itself all-pairs. Exact matches join on fingerprint;
    * near-dups reuse the 4-gram inverted index restricted to (new, corpus)
    * pairs. Scale shape: the new batch is crawl-increment-sized, so its
    * fingerprint and shingle tables BROADCAST — the stored corpus is probed
    * in place (one narrow pass + batch-keyed aggregation), nothing corpus-
    * sized shuffles. Emits one row per new doc: its verdict against the
    * corpus (exact_dup / near_dup / new). */
  private val dedupIncremental = GraftQuery(
    "dedup_incremental",
    "incremental batch-vs-corpus dedup: broadcast new-batch probe, exact + 4-gram Jaccard",
    (s, d) => {
      val isNew = col("doc_id") % 10 === 9
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      val newFp = fp.filter(isNew) // crawl-increment-sized: the ONLY broadcast unit
      // exact probe: the corpus STREAMS past the broadcast batch
      // fingerprints; the hit set (and everything below it) is batch-bounded
      val exactHit = fp.filter(!isNew)
        .join(broadcast(newFp.select(col("fp"))), Seq("fp"))
        .groupBy("fp").agg(min("doc_id").as("dup_of"))
      // the df-filtered universe (pairShingles): a boilerplate shingle hot
      // in BOTH the batch and the corpus would emit df_new × df_corpus
      // probe rows — the same quadratic-in-df blowup as the symmetric
      // self-join, capped the same way (oracle mirrors via dfc/shf CTEs)
      val sh = pairShingles(s, d)
      val newSh = sh.filter(isNew)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val szNew = sz.filter(isNew)
      val inter = sh.filter(!isNew)
        .join(broadcast(newSh.select(col("doc_id").as("new_id"), col("shh"))), Seq("shh"))
        .groupBy(col("new_id"), col("doc_id").as("corp_id"))
        .agg(count(lit(1)).as("c"))
      // candidate pairs are batch-bounded, so THEY broadcast into the
      // corpus-sized size table — never the reverse
      val interNn = inter
        .join(broadcast(szNew.select(col("doc_id").as("new_id"), col("n").as("nn"))), Seq("new_id"))
      val near = sz.select(col("doc_id").as("corp_id"), col("n").as("nc"))
        .join(broadcast(interNn), Seq("corp_id"))
        .filter(col("c") * lit(1.0) / (col("nn") + col("nc") - col("c")) >= 0.4)
        .groupBy("new_id").agg(min("corp_id").as("near_of"))
      newFp
        .join(broadcast(exactHit), Seq("fp"), "left")
        .join(broadcast(near), col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"),
          when(col("dup_of").isNotNull, lit("exact_dup"))
            .when(col("near_of").isNotNull, lit("near_dup"))
            .otherwise(lit("new")).as("verdict"),
          coalesce(col("dup_of"), col("near_of")).as("matched_corpus_doc"))
        .orderBy("doc_id")
    },
    Some(s"""WITH f AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents), ex AS (SELECT fp, min(doc_id) AS dup_of FROM f WHERE doc_id % 10 <> 9 GROUP BY 1), t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] for i in generate_series(1, greatest(len(toks) - 3, 0))]) AS sh FROM t), dfc AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $MaxShingleDf), shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)), sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1), inter AS (SELECT nw.doc_id AS new_id, co.doc_id AS corp_id, count(*) AS c FROM shf nw JOIN shf co ON nw.sh = co.sh AND nw.doc_id % 10 = 9 AND co.doc_id % 10 <> 9 GROUP BY 1, 2), nr AS (SELECT new_id, min(corp_id) AS near_of FROM inter JOIN sz x ON inter.new_id = x.doc_id JOIN sz y ON inter.corp_id = y.doc_id WHERE c * 1.0 / (x.n + y.n - c) >= 0.4 GROUP BY 1) SELECT f.doc_id, CASE WHEN ex.dup_of IS NOT NULL THEN 'exact_dup' WHEN nr.near_of IS NOT NULL THEN 'near_dup' ELSE 'new' END AS verdict, coalesce(ex.dup_of, nr.near_of) AS matched_corpus_doc FROM f LEFT JOIN ex USING (fp) LEFT JOIN nr ON nr.new_id = f.doc_id WHERE f.doc_id % 10 = 9 ORDER BY f.doc_id"""))

  /** Incremental MINHASH-LSH index maintenance — the near-dup counterpart
    * of [[dedupIncremental]] (whose incremental path is exact-fingerprint +
    * raw-shingle probe): a NEW BATCH (doc_id % 10 = 9) probes the STORED
    * MinHash signature index (the same minhash-sig artifact Bench.setup
    * materializes) through its LSH band buckets — the daily crawl-refresh
    * pattern where the index is maintained, never rebuilt. Plan shape (new
    * to the registry): an ASYMMETRIC band-bucket join — the increment-sized
    * batch band table broadcasts, the corpus-sized index streams in place —
    * then the usual exact-Jaccard verify over band candidates (which are
    * batch-bounded, so every verify join keeps a broadcast batch side).
    * Emits the maintenance verdict per new doc: near_dup (collapse into
    * dup_of) or admitted (its signature rows would be APPENDED to the
    * index — the delta write a production refresh commits). The streaming
    * twin lives in streaming/DocIngest (minhash admission leg) with the
    * replay-idempotence spec; this row is the oracle-checked batch
    * spelling. */
  private val dedupIncrementalMinhash = GraftQuery(
    "dedup_incremental_minhash",
    "incremental MinHash-LSH maintenance: broadcast batch bands probe the stored index",
    (s, d) => {
      val isNew = col("doc_id") % 10 === 9
      val sig = minhashSig(s, d) // the stored signature index artifact
      val bands = bandsOf(sig)
      val cand = bands.filter(!isNew) // the index streams; the batch broadcasts
        .join(broadcast(bands.filter(isNew)
          .select(col("doc_id").as("new_id"), col("band"), col("bh"))),
          Seq("band", "bh"))
        .select(col("doc_id").as("corp_id"), col("new_id")).distinct()
      val shh = shingles3(s, d)
        .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      val inter = broadcast(cand) // batch-bounded by construction
        .join(shh.select(col("doc_id").as("corp_id"), col("shh")), Seq("corp_id"))
        .join(shh.select(col("doc_id").as("new_id"), col("shh")),
          Seq("new_id", "shh"))
        .groupBy("new_id", "corp_id").agg(count(lit(1)).as("c"))
      val sz = sig.select(col("doc_id"), col("n"))
      val ver = inter
        .join(broadcast(sz.filter(isNew)
          .select(col("doc_id").as("new_id"), col("n").as("nn"))), Seq("new_id"))
        .join(sz.select(col("doc_id").as("corp_id"), col("n").as("nc")), Seq("corp_id"))
        .withColumn("j", col("c") * lit(1.0) / (col("nn") + col("nc") - col("c")))
        .filter(col("j") >= 0.5)
      val best = ver.groupBy("new_id").agg(min("corp_id").as("dup_of"))
        .join(ver.select(col("new_id"), col("corp_id").as("dup_of"), col("j")),
          Seq("new_id", "dup_of"))
      Tables.documents(s, d).filter(isNew).select(col("doc_id"))
        .join(broadcast(best), col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"),
          when(col("dup_of").isNotNull, lit("near_dup"))
            .otherwise(lit("admitted")).as("verdict"),
          col("dup_of"), fround(col("j"), 4).as("jaccard"))
        .orderBy("doc_id")
    },
    Some {
      val abValues = (0 until K)
        .map(i => s"(${i}, ${HASH_A(i)}, ${HASH_B(i)})").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), u AS (SELECT doc_id, $uSql AS u FROM (SELECT doc_id, md5(sh) AS h FROM sh)), ab AS (SELECT * FROM (VALUES $abValues) t(i, a, b)), mh AS (SELECT doc_id, i, min((a * u + b) % $P) AS mh FROM u, ab GROUP BY 1, 2), sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mh GROUP BY 1), bands AS (SELECT doc_id, b, sig[2*b+1]::VARCHAR || '_' || sig[2*b+2]::VARCHAR AS bh FROM sig, (SELECT unnest(generate_series(0, 5)) AS b)), cand AS (SELECT DISTINCT x.doc_id AS corp_id, y.doc_id AS new_id FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id % 10 <> 9 AND y.doc_id % 10 = 9), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.new_id, c.corp_id, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.new_id JOIN sh sb ON sb.doc_id = c.corp_id AND sb.sh = sa.sh GROUP BY 1, 2), ver AS (SELECT new_id, corp_id, c * 1.0 / (x.n + y.n - c) AS j FROM inter JOIN sz x ON inter.new_id = x.doc_id JOIN sz y ON inter.corp_id = y.doc_id WHERE c * 1.0 / (x.n + y.n - c) >= 0.5), best AS (SELECT v.new_id, v.dup_of, ver.j FROM (SELECT new_id, min(corp_id) AS dup_of FROM ver GROUP BY 1) v JOIN ver ON ver.new_id = v.new_id AND ver.corp_id = v.dup_of) SELECT d.doc_id, CASE WHEN b.dup_of IS NOT NULL THEN 'near_dup' ELSE 'admitted' END AS verdict, b.dup_of, floor(b.j * 10000.0 + 0.5) / 10000.0 AS jaccard FROM documents d LEFT JOIN best b ON d.doc_id = b.new_id WHERE d.doc_id % 10 = 9 ORDER BY d.doc_id"""
    })

  /** Asymmetric shingle CONTAINMENT — the sub-document duplicate detector
    * that Jaccard structurally misses: a document embedded verbatim inside
    * a larger wrapper (boilerplate shell, quote-heavy aggregator page) has
    * containment |A∩B|/min(|A|,|B|) ≈ 1 while Jaccard |A∩B|/|A∪B| is
    * diluted by the wrapper's extra content, so a Jaccard-thresholded
    * pipeline keeps both copies. Production curation stacks run both
    * metrics off the SAME inverted index; this leg shares the cached
    * shingles4 table with the Jaccard/decontamination legs (one
    * materialization, N metrics). Same scale shape as [[jaccardPairs]]:
    * inverted-index self-join keyed on xxhash64(shingle) — 8-byte longs on
    * the widest exchange, candidates only, never all-pairs. */
  private val dedupContainment = GraftQuery(
    "dedup_containment",
    "asymmetric shingle containment >= 0.6: sub-document dup detection",
    (s, d) => {
      val (inter, sz) = pairCounts(pairShingles(s, d))
      inter
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .withColumn("containment",
          col("c") * lit(1.0) / least(col("na"), col("nb")))
        .filter(col("containment") >= 0.6)
        .select(col("a"), col("b"), fround(col("containment"), 4).as("containment"))
        .orderBy("a", "b")
    },
    Some("WITH " + shingleCte4 + pairCountCtes +
      """ SELECT i.a, i.b, floor(i.c * 1.0 / least(x.n, y.n) * 10000.0 + 0.5) / 10000.0 AS containment FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id WHERE i.c * 1.0 / least(x.n, y.n) >= 0.6 ORDER BY 1, 2"""))

  /** Triangle census of the near-dup graph — the transitivity audit behind
    * the collapse-whole-components decision (dedup_keep_list): near-dup
    * similarity is not transitive, so component-collapse over-merges when
    * components are long CHAINS (low clustering) and is safe when they are
    * near-CLIQUES (high clustering). The global clustering coefficient
    * 3·triangles/wedges is the one number that grades it.
    *
    * Scale shape: the input is the verified pair set (near-dup-sized,
    * corpus-independent), edges already in canonical a<b order, so the
    * standard ordered-edge enumeration counts each triangle exactly once:
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a<b<c — keyed shuffles on node ids
    * only. Wedges Σ C(deg,2) is one aggregation over the symmetric
    * adjacency; all counts are BIGINT (order-independent sums). */
  private val graphTriangles = GraftQuery(
    "graph_triangles",
    "near-dup graph triangle census + global clustering coefficient",
    (s, d) => {
      val p = jaccardPairs(s, d).select(col("a"), col("b"))
      val tri = p.as("e1")
        .join(p.as("e2"), col("e2.a") === col("e1.b"))
        .join(p.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = p.select(col("a").as("id")).union(p.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges"))
      val nEdges = p.agg(count(lit(1)).as("n_edges"))
      nodeStats.crossJoin(nEdges).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          fround(col("n_triangles") * lit(3.0) /
            greatest(col("n_wedges"), lit(1L)), 4).as("gcc"))
    },
    Some(ngramPairsCte + """, e AS (SELECT a, b FROM p), tri AS (SELECT count(*) AS n_triangles FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), deg AS (SELECT id, count(*) AS deg FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1), st AS (SELECT count(*) AS n_nodes, CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg), ne AS (SELECT count(*) AS n_edges FROM e) SELECT n_nodes, n_edges, n_triangles, n_wedges, floor(n_triangles * 3.0 / greatest(n_wedges, 1) * 10000.0 + 0.5) / 10000.0 AS gcc FROM st, ne, tri"""))

  /** Component-SIZE distribution — the duplication-profile summary a
    * curation report leads with (how much of the corpus sits in 2-dup
    * pairs vs mega-clusters decides the dedup strategy: pair-dominated
    * corpora keep-first cheaply, heavy-tail cluster sizes demand the
    * keep-longest collapse). Reuses the cached component labels; both
    * rollups run over the pair-bounded near-dup node set, so cost is
    * negligible next to the pair generation the cache already paid. */
  private val dedupClusterSizes = GraftQuery(
    "dedup_cluster_sizes",
    "near-dup component size histogram from the shared component labels",
    (s, d) => componentLabels(s, d)
      .groupBy("comp").agg(count(lit(1)).as("comp_size"))
      .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
      .orderBy("comp_size"),
    Some(ngramPairsCte + componentsCtes +
      """, cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS comp_size FROM m GROUP BY 1) SELECT comp_size, CAST(count(*) AS BIGINT) AS n_components FROM cs GROUP BY 1 ORDER BY 1"""))

  /** Threshold SENSITIVITY curve — pairs and affected docs at every
    * candidate Jaccard cutoff from 0.2 to 0.9: the knob-tuning read a
    * curation team does before committing to a dedup threshold (too low
    * over-merges topical near-misses, too high leaves boilerplate dups).
    * Runs entirely off the stored [[scoredPairs]] table — candidates are
    * df-cutoff-bounded, never threshold-bounded, so the whole curve costs
    * one scan of the scored pairs, no shingle re-join per threshold.
    * Thresholds compare on the 4dp-ROUNDED score in both engines. */
  private val dedupThresholdCurve = GraftQuery(
    "dedup_threshold_curve",
    "near-dup pair/doc counts at each Jaccard cutoff 0.2..0.9",
    (s, d) => {
      import s.implicits._
      val th = (2 to 9).map(_ * 10).toDF("t")
      val ft = scoredPairs(s, d).crossJoin(broadcast(th))
        .filter(col("jaccard") >= col("t") / 100.0)
      val pc = ft.groupBy("t").agg(count(lit(1)).as("n_pairs"))
      val dc = ft.select(col("t"), explode(array(col("a"), col("b"))).as("doc"))
        .groupBy("t").agg(countDistinct("doc").as("n_docs"))
      th.join(pc, Seq("t"), "left_outer").join(dc, Seq("t"), "left_outer")
        .select(col("t").as("threshold_pct"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("threshold_pct")
    },
    Some("WITH " + shingleCte4 + pairCountCtes +
      """, p0 AS (SELECT i.a, i.b, floor(i.c * 1.0 / (x.n + y.n - i.c) * 10000.0 + 0.5) / 10000.0 AS jaccard FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id), th AS (SELECT unnest([20, 30, 40, 50, 60, 70, 80, 90]) AS t), ft AS (SELECT t, a, b FROM p0, th WHERE jaccard >= t / 100.0), pc AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs FROM ft GROUP BY 1), dc AS (SELECT t, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs FROM (SELECT t, a AS doc FROM ft UNION ALL SELECT t, b FROM ft) GROUP BY 1) SELECT CAST(th.t AS INTEGER) AS threshold_pct, coalesce(pc.n_pairs, 0) AS n_pairs, coalesce(dc.n_docs, 0) AS n_docs FROM th LEFT JOIN pc ON pc.t = th.t LEFT JOIN dc ON dc.t = th.t ORDER BY 1"""))

  /** ROUGE-1 scoring of the verified near-dup pairs — precision/recall/F1
    * over token MULTISETS (overlap = Σ_tok min(c_a, c_b)), the
    * summarization-eval metric repurposed as the dedup post-mortem: a
    * high-Jaccard pair with low ROUGE recall means shingle overlap came
    * from reordering, not shared content. Pair set is the stored
    * Jaccard≥0.4 table (pair-bounded — never corpus²); per-doc token
    * counts join onto it keyed by (doc, token), and the min() overlap is
    * exact integers with float ratios only at the edge. */
  private lazy val rougePairs = GraftQuery(
    "txt_rouge1_pairs",
    "ROUGE-1 P/R/F1 over token multisets for each verified near-dup pair",
    (s, d) => {
      // spread (scale-gated identity at real sizes): tc re-derives per
      // consumer branch (totals + both pair sides), each a single-task
      // tokenize stage on the single-file scan
      val tc = Tables.spread(s,
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), explode(graft.functions.GraftFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val totals = tc.groupBy("doc_id").agg(sum("c").as("nt"))
      val pairs = jaccardPairs(s, d).select(col("a"), col("b"))
      val ov = pairs
        .join(tc.toDF("a", "tok", "ca"), Seq("a"))
        .join(tc.toDF("b", "tok", "cb"), Seq("b", "tok"))
        .groupBy("a", "b").agg(sum(least(col("ca"), col("cb"))).as("ov"))
      pairs
        .join(ov, Seq("a", "b"), "left")
        .join(totals.toDF("a", "na"), Seq("a"))
        .join(totals.toDF("b", "nb"), Seq("b"))
        .select(col("a"), col("b"),
          coalesce(col("ov"), lit(0L)).as("overlap"),
          col("na"), col("nb"),
          fround(coalesce(col("ov"), lit(0L)).cast("double") / col("na"), 4)
            .as("rouge1_p"),
          fround(coalesce(col("ov"), lit(0L)).cast("double") / col("nb"), 4)
            .as("rouge1_r"),
          fround(lit(2.0) * coalesce(col("ov"), lit(0L)).cast("double") /
            (col("na") + col("nb")).cast("double"), 4).as("rouge1_f1"))
        .orderBy("a", "b")
    },
    Some(ngramPairsCte +
      """, tc AS (SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1, 2), tt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nt FROM tc GROUP BY 1), ov AS (SELECT p.a, p.b, CAST(sum(least(x.c, y.c)) AS BIGINT) AS ov FROM p JOIN tc x ON x.doc_id = p.a JOIN tc y ON y.doc_id = p.b AND y.tok = x.tok GROUP BY 1, 2) SELECT p.a, p.b, coalesce(ov.ov, 0) AS overlap, ta.nt AS na, tb.nt AS nb, floor(CAST(coalesce(ov.ov, 0) AS DOUBLE) / ta.nt * 1e4 + 0.5) / 1e4 AS rouge1_p, floor(CAST(coalesce(ov.ov, 0) AS DOUBLE) / tb.nt * 1e4 + 0.5) / 1e4 AS rouge1_r, floor(2.0 * CAST(coalesce(ov.ov, 0) AS DOUBLE) / CAST(ta.nt + tb.nt AS DOUBLE) * 1e4 + 0.5) / 1e4 AS rouge1_f1 FROM p LEFT JOIN ov ON ov.a = p.a AND ov.b = p.b JOIN tt ta ON ta.doc_id = p.a JOIN tt tb ON tb.doc_id = p.b ORDER BY 1, 2"""))

  /** EDIT-DISTANCE verification of the near-dup pairs — the
    * character-level ground truth (Levenshtein) next to the shingle-level
    * Jaccard and token-level ROUGE views of the same pair table.
    * Distances run on 256-char PREFIXES: Levenshtein is O(n·m) per pair,
    * so unbounded full-text DP is the cost trap — the prefix cap bounds
    * every pair at 64k cells while still separating near-identical from
    * merely-overlapping docs (similarity = 1 − d/max_len over the
    * compared prefixes). Pair-bounded work only; both engines' native
    * levenshtein agrees on ASCII. */
  private lazy val editDistancePairs = GraftQuery(
    "txt_edit_distance_pairs",
    "prefix-capped Levenshtein similarity for each verified near-dup pair",
    (s, d) => {
      val txt = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 256).as("p"))
      jaccardPairs(s, d).select(col("a"), col("b"), col("jaccard"))
        .join(txt.toDF("a", "pa"), Seq("a"))
        .join(txt.toDF("b", "pb"), Seq("b"))
        .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
        .withColumn("mx", greatest(length(col("pa")), length(col("pb"))).cast("long"))
        .select(col("a"), col("b"), col("jaccard"), col("lev"),
          fround(lit(1.0) - col("lev").cast("double") / col("mx").cast("double"), 4)
            .as("prefix_similarity"))
        .orderBy("a", "b")
    },
    Some(ngramPairsCte +
      """, tx AS (SELECT doc_id, substr(text, 1, 256) AS p FROM documents) SELECT p.a, p.b, p.jaccard, CAST(levenshtein(x.p, y.p) AS BIGINT) AS lev, floor((1.0 - CAST(levenshtein(x.p, y.p) AS DOUBLE) / CAST(greatest(length(x.p), length(y.p)) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS prefix_similarity FROM p JOIN tx x ON x.doc_id = p.a JOIN tx y ON y.doc_id = p.b ORDER BY 1, 2"""))

  /** SHARD-LOCAL DEDUP MISS AUDIT — the distributed-design question every
    * 100 TB dedup answers first: if dedup ran independently inside md5
    * shards (the cheap, no-global-shuffle plan), how many verified
    * near-dup pairs CROSS shard boundaries and would be missed? Random
    * (content-independent) sharding makes cross-shard the overwhelmingly
    * likely case (≈ 1−1/S), which is exactly WHY real dedup shuffles by
    * content signature (minhash band) instead of by id — this audit is
    * the measured justification. One projection over the stored verified
    * pair table; nothing rescans the corpus. */
  private lazy val shardMissAudit = GraftQuery(
    "dedup_shard_miss_audit",
    "verified near-dup pairs that id-sharded (8-way) dedup would miss",
    (s, d) => {
      import graft.functions.GraftFunctions.md5u32
      def shard(c: org.apache.spark.sql.Column) = md5u32(concat(lit("shard:"), c.cast("string"))) % 8
      jaccardPairs(s, d)
        .select(when(shard(col("a")) === shard(col("b")), 1L).otherwise(0L)
          .as("same_shard"))
        .agg(count(lit(1)).as("n_pairs"), sum("same_shard").as("n_same"))
        .select(col("n_pairs"), col("n_same").as("n_caught_local"),
          (col("n_pairs") - col("n_same")).as("n_missed"),
          fround((col("n_pairs") - col("n_same")).cast("double") /
            col("n_pairs").cast("double"), 4).as("miss_rate"))
    },
    Some(ngramPairsCte + s""" SELECT count(*) AS n_pairs, CAST(sum(CASE WHEN ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(a AS VARCHAR))")} % 8 = ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(b AS VARCHAR))")} % 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_caught_local, count(*) - CAST(sum(CASE WHEN ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(a AS VARCHAR))")} % 8 = ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(b AS VARCHAR))")} % 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_missed, floor(CAST(count(*) - sum(CASE WHEN ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(a AS VARCHAR))")} % 8 = ${graft.functions.GraftFunctions.md5u32Sql("md5('shard:' || CAST(b AS VARCHAR))")} % 8 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS miss_rate FROM p"""))

  /** TF-IDF-WEIGHTED COSINE for the verified near-dup pairs — the fourth
    * lens on the same pair table (shingle Jaccard = structure, ROUGE =
    * token multisets, Levenshtein = characters, tf-idf cosine = term
    * IMPORTANCE): two docs sharing only stopwords score near 0 here while
    * raw token overlap looks high. Weights w = tf·ln(N/df) ride as
    * micro-int per (doc, token); the pair dot product and norms are
    * exact DECIMAL sums of integer products, with one sqrt/division per
    * pair at the edge. All joins are pair- or vocabulary-keyed. */
  private lazy val tfidfPairCosine = GraftQuery(
    "txt_tfidf_pair_cosine",
    "tf-idf-weighted cosine for each verified near-dup pair",
    (s, d) => {
      // spread (scale-gated identity at real sizes): tc re-derives per
      // consumer branch (df / weights / norms / both join sides — no
      // cross-branch CSE), and each re-run paid a ~155 ms single-task
      // tokenize stage on the single-file scan
      val tc = Tables.spread(s,
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), explode(graft.functions.GraftFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tc.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nn"))
      val wts = tc.join(df, Seq("tok")).crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"),
          floor(col("tf") * log(col("nn").cast("double") / col("df").cast("double")) *
            1e4 + 0.5).cast("long").as("w"))
      val norms = wts.groupBy("doc_id")
        .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("nrm2"))
      val pairs = jaccardPairs(s, d).select(col("a"), col("b"), col("jaccard"))
      val dots = pairs
        .join(wts.toDF("a", "tok", "wa"), Seq("a"))
        .join(wts.toDF("b", "tok", "wb"), Seq("b", "tok"))
        .groupBy("a", "b")
        .agg(sum(col("wa").cast("decimal(38,0)") * col("wb")).as("dot"))
      pairs
        .join(dots, Seq("a", "b"), "left")
        .join(norms.toDF("a", "na2"), Seq("a"))
        .join(norms.toDF("b", "nb2"), Seq("b"))
        .select(col("a"), col("b"), col("jaccard"),
          fround(coalesce(col("dot"), lit(0).cast("decimal(38,0)")).cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")), 4)
            .as("tfidf_cosine"))
        .orderBy("a", "b")
    },
    Some(ngramPairsCte +
      """, tc AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1, 2), dfq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1), nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents), wts AS (SELECT doc_id, tc.tok, CAST(floor(tf * ln(CAST(nn AS DOUBLE) / CAST(df AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS w FROM tc JOIN dfq ON tc.tok = dfq.tok CROSS JOIN nd), nrm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS nrm2 FROM wts GROUP BY 1), dots AS (SELECT p.a, p.b, sum(CAST(x.w AS HUGEINT) * y.w) AS dot FROM p JOIN wts x ON x.doc_id = p.a JOIN wts y ON y.doc_id = p.b AND y.tok = x.tok GROUP BY 1, 2) SELECT p.a, p.b, p.jaccard, floor(CAST(coalesce(dots.dot, 0) AS DOUBLE) / sqrt(CAST(nx.nrm2 AS DOUBLE) * CAST(ny.nrm2 AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS tfidf_cosine FROM p LEFT JOIN dots ON dots.a = p.a AND dots.b = p.b JOIN nrm nx ON nx.doc_id = p.a JOIN nrm ny ON ny.doc_id = p.b ORDER BY 1, 2"""))

  /** The df-capped positioned-8-gram table dedup_dup_spans self-joins —
    * memoized + eagerly materialized like [[pairShingles]] (it feeds both
    * self-join legs; lazy persist would race them through the unpersisted
    * plan, measured 9.8 s vs 1.4 s cold), keyed on xxhash64 (8 bytes on
    * the shuffle) where the oracle uses the md5 hex — the pair SET is
    * hash-agnostic, only gram equality matters. The df cutoff (> 64
    * occurrences = boilerplate) is a single windowed count, one pass +
    * one gh-keyed shuffle, not a census-leg join that would evaluate the
    * tokenize+hash scan twice. Bench setup warms it as a stored corpus
    * artifact. */
  private[graft] def dupSpanGrams(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrMaterialize(s, s"dupspans-grams:$d") {
      val n = 8
      val g0 = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= n)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("t")) - n),
          i => xxhash64(array_join(slice(col("t"), i + 1, lit(n)), " ")))))
        .toDF("doc_id", "pos", "gh")
      val wDf = org.apache.spark.sql.expressions.Window.partitionBy("gh")
      g0.withColumn("dfc", count(lit(1)).over(wDf))
        .filter(col("dfc") <= 64).drop("dfc")
    }

  /** EXACT DUPLICATED-SPAN detection — the substring-level companion to
    * the whole-doc near-dup family: find the longest runs of tokens COPIED
    * VERBATIM between two documents (training-data dedup removes repeated
    * spans, not just near-identical whole documents; ref parity target is
    * the suffix-array exact-substring method, re-expressed relationally).
    * Method: every 8-token gram with its start position forms an inverted
    * index; matching grams across two docs that sit on the same DIAGONAL
    * (pos_a − pos_b constant) at consecutive positions are one maximal
    * shared span — the gaps-and-islands trick (pos − row_number per
    * diagonal) recovers each span's extent without any per-pair alignment
    * scan. Scale shape: the gram self-join is the only fan-out and is
    * bounded by the document-frequency cutoff (grams seen > 64 times are
    * boilerplate and dropped — same τ discipline as [[pairShingles]]);
    * island detection is a per-(pair, diagonal) keyed window, never a
    * global sort. Top-20 longest spans via TakeOrdered. */
  private val dupSpans = GraftQuery(
    "dedup_dup_spans",
    "maximal verbatim shared token spans per doc pair (8-gram diagonals)",
    (s, d) => {
      val n = 8
      val g = dupSpanGrams(s, d)
      val p = g.as("x").join(g.as("y"),
          col("x.gh") === col("y.gh") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.pos").as("pa"), col("y.pos").as("pb"))
      val wDiag = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a"), col("b"), col("pa") - col("pb"))
        .orderBy("pa")
      val isl = p.withColumn("isl", col("pa") - row_number().over(wDiag))
      isl.groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("diag"),
          col("isl"))
        .agg(min("pa").as("mn"), min("pb").as("mnb"), max("pa").as("mx"))
        .select(col("a"), col("b"),
          (col("mx") - col("mn") + n).cast("long").as("span_len"),
          col("mn").cast("long").as("start_a"),
          col("mnb").cast("long").as("start_b"))
        .orderBy(desc("span_len"), col("a"), col("b"), col("start_a"),
          col("start_b"))
        .limit(20)
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), g0 AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, md5(array_to_string(tk[i:i+7], ' ')) AS gh FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 7)) AS i) WHERE len(tk) >= 8), g AS (SELECT * FROM g0 WHERE gh NOT IN (SELECT gh FROM g0 GROUP BY gh HAVING count(*) > 64)), p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb FROM g x JOIN g y ON x.gh = y.gh AND x.doc_id < y.doc_id), i AS (SELECT a, b, pa, pb, pa - pb AS diag, pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS isl FROM p), sp AS (SELECT a, b, min(pa) AS mn, min(pb) AS mnb, max(pa) AS mx FROM i GROUP BY a, b, diag, isl) SELECT a, b, CAST(mx - mn + 8 AS BIGINT) AS span_len, CAST(mn AS BIGINT) AS start_a, CAST(mnb AS BIGINT) AS start_b FROM sp ORDER BY span_len DESC, a, b, start_a, start_b LIMIT 20"""))

  /** LSH CALIBRATION eval — does the deployed MinHash(12)/6×2-band index
    * realize the collision probability the theory promises? For every
    * df-bounded candidate pair the audit compares the S-curve
    * 1 − (1 − j²)⁶ (j = exact 3-gram Jaccard, the same universe the
    * signatures hash) against whether the pair ACTUALLY shares a band
    * bucket, rolled up per Jaccard decile. A mismatch means broken hash
    * mixing or a mis-sized band config — the check a curation team runs
    * before trusting recall projections at 100 TB. Rides entirely on
    * stored artifacts (scored pairs, shingle set, signature table); the
    * audited pair set is the fixed-size [[evalPairs]] hash sample, so the
    * intersection join is cap-bounded at any corpus size. */
  /** The shared AUDITED-PAIR EVALUATION FRAME both calibration evals
    * read: the capped hash-sample pairs ([[evalPairs]]) joined with their
    * exact 3-gram intersection counts, set sizes, and both signatures —
    * one EvalPairCap-row stored artifact per (session, corpus). Without
    * it the two evals each rebuilt the identical frame per invocation
    * (two corpus-sized shingle-table passes each — the two worst bench
    * floors after round 12); with it the corpus is scanned once and both
    * decile rollups read a 4096-row cache, the same stored-artifact
    * discipline as the signature and scored-pair tables. */
  private def evalFrame(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"lsh-eval-frame:$d") {
      // the capped hash sample (see evalPairs): the broadcast below is
      // bounded by EvalPairCap rows, not corpus-scaling
      val pairs = evalPairs(s, d)
      val shh = shingles3(s, d)
        .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      val inter3 = broadcast(pairs)
        .join(shh.select(col("doc_id").as("a"), col("shh")), Seq("a"))
        .join(shh.select(col("doc_id").as("b"), col("shh")), Seq("b", "shh"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      val sig = minhashSig(s, d)
      val sa = sig.select(col("doc_id").as("a") +: col("n").as("na") +:
        (0 until K).map(i => col(s"mh$i").as(s"amh$i")): _*)
      val sb = sig.select(col("doc_id").as("b") +: col("n").as("nb") +:
        (0 until K).map(i => col(s"mh$i").as(s"bmh$i")): _*)
      pairs
        .join(inter3, Seq("a", "b"), "left_outer").na.fill(0L, Seq("c"))
        .join(sa, Seq("a")).join(sb, Seq("b"))
    }

  private val lshPowerEval = GraftQuery(
    "dedup_lsh_power_eval",
    "minhash LSH S-curve: theoretical vs realized band collision per decile",
    (s, d) => {
      val collide = (0 until BANDS).map(bq =>
          col(s"amh${2 * bq}") === col(s"bmh${2 * bq}") &&
            col(s"amh${2 * bq + 1}") === col(s"bmh${2 * bq + 1}"))
        .reduce(_ || _)
      val j = col("c") * lit(1.0) / (col("na") + col("nb") - col("c"))
      val q = lit(1.0) - j * j
      val miss = q * q * q * q * q * q
      evalFrame(s, d)
        .withColumn("j", j)
        .withColumn("theory_u",
          floor((lit(1.0) - miss) * 1e6 + 0.5).cast("long"))
        .withColumn("hit", when(collide, 1L).otherwise(0L))
        .groupBy(floor(col("j") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"), sum("theory_u").as("su"),
          sum("hit").as("nh"))
        .select(col("bucket"), col("n_pairs"),
          fround(col("su").cast("double") / col("n_pairs") / 1e6, 4)
            .as("mean_theory"),
          fround(col("nh").cast("double") / col("n_pairs"), 4)
            .as("realized_rate"))
        .orderBy("bucket")
    },
    Some {
      val abValues = (0 until K)
        .map(i => s"(${i}, ${HASH_A(i)}, ${HASH_B(i)})").mkString(", ")
      "WITH " + shingleCte4 + pairCountCtes +
        s""", ${evalPairsSql}, s3d AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), u3 AS (SELECT doc_id, $uSql AS u FROM (SELECT doc_id, md5(sh) AS h FROM s3d)), ab AS (SELECT * FROM (VALUES $abValues) tt(i, a, b)), mh3 AS (SELECT doc_id, i, min((a * u + b) % $P) AS mh FROM u3, ab GROUP BY 1, 2), sig3 AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mh3 GROUP BY 1), sz3 AS (SELECT doc_id, count(*) AS n FROM s3d GROUP BY 1), i3 AS (SELECT p.a, p.b, count(*) AS c FROM p0 p JOIN s3d x ON x.doc_id = p.a JOIN s3d y ON y.doc_id = p.b AND y.sh = x.sh GROUP BY 1, 2), ev AS (SELECT p.a, p.b, coalesce(i3.c, 0) AS c, za.n AS na, zb.n AS nb, ga.sig AS siga, gb.sig AS sigb FROM p0 p LEFT JOIN i3 ON i3.a = p.a AND i3.b = p.b JOIN sz3 za ON za.doc_id = p.a JOIN sz3 zb ON zb.doc_id = p.b JOIN sig3 ga ON ga.doc_id = p.a JOIN sig3 gb ON gb.doc_id = p.b), sc AS (SELECT c * 1.0 / (na + nb - c) AS j, CAST(CASE WHEN len(list_filter(generate_series(0, 5), bq -> siga[2*bq+1] = sigb[2*bq+1] AND siga[2*bq+2] = sigb[2*bq+2])) > 0 THEN 1 ELSE 0 END AS BIGINT) AS hit FROM ev), th AS (SELECT j, hit, CAST(floor((1.0 - (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j)) * 1e6 + 0.5) AS BIGINT) AS theory_u FROM sc) SELECT CAST(floor(j * 10) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_pairs, floor(CAST(sum(theory_u) AS DOUBLE) / count(*) / 1e6 * 1e4 + 0.5) / 1e4 AS mean_theory, floor(CAST(sum(hit) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS realized_rate FROM th GROUP BY 1 ORDER BY 1"""
    })

  /** MinHash ESTIMATOR-ERROR eval — the companion to the band-collision
    * S-curve above: per Jaccard decile, how far does the 12-hash
    * signature agreement m/12 sit from the exact 3-gram Jaccard c/u?
    * The error |m/12 − c/u| = |m·u − 12·c| ⁄ (12·u) is computed from its
    * EXACT integer numerator (no float subtraction of near-equal
    * estimates), micro-scaled, and averaged from exact sums — the
    * audit that sizes K before scaling the signature table 1000×.
    * Same stored artifacts as the power eval, audited over the same
    * fixed-size [[evalPairs]] hash sample — cap-bounded at any corpus
    * size. */
  private val minhashErrorEval = GraftQuery(
    "dedup_minhash_error_eval",
    "|signature-estimate − exact Jaccard| per decile (sizes K honestly)",
    (s, d) => {
      val m = (0 until K).map(i =>
        when(col(s"amh$i") === col(s"bmh$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      evalFrame(s, d)
        .withColumn("u", col("na") + col("nb") - col("c"))
        .withColumn("m", m)
        .withColumn("err_u", floor(
          abs(col("m") * col("u") - lit(K.toLong) * col("c")).cast("double") /
            (lit(K.toLong) * col("u")).cast("double") * 1e6 + 0.5).cast("long"))
        .withColumn("j", col("c") * lit(1.0) / col("u"))
        .groupBy(floor(col("j") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"), sum("err_u").as("se"))
        .select(col("bucket"), col("n_pairs"),
          fround(col("se").cast("double") / col("n_pairs") / 1e6, 4)
            .as("mean_abs_err"))
        .orderBy("bucket")
    },
    Some {
      val abValues = (0 until K)
        .map(i => s"(${i}, ${HASH_A(i)}, ${HASH_B(i)})").mkString(", ")
      "WITH " + shingleCte4 + pairCountCtes +
        s""", ${evalPairsSql}, s3d AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), u3 AS (SELECT doc_id, $uSql AS u FROM (SELECT doc_id, md5(sh) AS h FROM s3d)), ab AS (SELECT * FROM (VALUES $abValues) tt(i, a, b)), mh3 AS (SELECT doc_id, i, min((a * u + b) % $P) AS mh FROM u3, ab GROUP BY 1, 2), sig3 AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mh3 GROUP BY 1), sz3 AS (SELECT doc_id, count(*) AS n FROM s3d GROUP BY 1), i3 AS (SELECT p.a, p.b, count(*) AS c FROM p0 p JOIN s3d x ON x.doc_id = p.a JOIN s3d y ON y.doc_id = p.b AND y.sh = x.sh GROUP BY 1, 2), ev AS (SELECT p.a, p.b, coalesce(i3.c, 0) AS c, za.n + zb.n - coalesce(i3.c, 0) AS u, CAST(len(list_filter(generate_series(1, $K), i -> ga.sig[i] = gb.sig[i])) AS BIGINT) AS m FROM p0 p LEFT JOIN i3 ON i3.a = p.a AND i3.b = p.b JOIN sz3 za ON za.doc_id = p.a JOIN sz3 zb ON zb.doc_id = p.b JOIN sig3 ga ON ga.doc_id = p.a JOIN sig3 gb ON gb.doc_id = p.b), er AS (SELECT c * 1.0 / u AS j, CAST(floor(CAST(abs(m * u - $K * c) AS DOUBLE) / CAST($K * u AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS err_u FROM ev) SELECT CAST(floor(j * 10) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_pairs, floor(CAST(sum(err_u) AS DOUBLE) / count(*) / 1e6 * 1e4 + 0.5) / 1e4 AS mean_abs_err FROM er GROUP BY 1 ORDER BY 1"""
    })

  /** CROSS-SOURCE DUPLICATION matrix — which source PAIRS share near-dup
    * content: per unordered (src_a ≤ src_b) pair, the number of near-dup
    * components containing documents from both (the diagonal counts
    * within-source duplication). The read that decides source-priority
    * rules for keep-lists and flags wholesale mirroring between feeds.
    * Runs entirely off the stored component labels: the (comp, source)
    * projection is component-bounded, so the self-join is tiny. */
  private val crossSourceMatrix = GraftQuery(
    "dedup_cross_source_matrix",
    "near-dup components shared per source pair (mirror/feed-overlap audit)",
    (s, d) => {
      val lbl = componentLabels(s, d).select(col("id").as("doc_id"), col("comp"))
      val cs = lbl
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("comp"), col("source")).distinct()
      cs.as("x").join(cs.as("y"),
          col("x.comp") === col("y.comp") && col("x.source") <= col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy("src_a", "src_b")
    },
    Some(ngramPairsCte + componentsCtes +
      """, cs AS (SELECT DISTINCT comp, source FROM m JOIN documents USING (doc_id)) SELECT x.source AS src_a, y.source AS src_b, CAST(count(*) AS BIGINT) AS n_components FROM cs x JOIN cs y ON x.comp = y.comp AND x.source <= y.source GROUP BY 1, 2 ORDER BY 1, 2"""))

  val all: Seq[GraftQuery] = Seq(
    dedupExact, dedupMinhash, dedupNgram, dedupComponents, dedupKeepList,
    dedupKeepLongest, dedupSimhash, dedupSimhashGroups, dedupEmbedding,
    dedupEmbeddingLsh, dedupIncremental, dedupIncrementalMinhash,
    dedupContainment, graphTriangles,
    dedupClusterSizes, dedupThresholdCurve, rougePairs, editDistancePairs,
    shardMissAudit, tfidfPairCosine, dupSpans, lshPowerEval,
    minhashErrorEval, crossSourceMatrix)
}
