package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - brute-force cosine top-k: the exactness baseline. The (small) query
  *    set is broadcast against the candidate scan, so the big side never
  *    shuffles; per-pair cost is one codegen'd 64-element fold.
  *  - sign-random-projection LSH: the scale path. Each vector gets an 8-bit
  *    bucket code from deterministic ±1 hyperplanes; queries only scan
  *    their own bucket (~1/256 of the data at uniform spread). Recall vs
  *    the brute-force baseline is asserted in ScalaTest (no SQL oracle —
  *    the bucketing is engine-internal).
  */
object SimilarityOps {

  /** vectors with precomputed double form + L2 norm (computed once per row,
    * not once per pair). Uses the codegen'd graft_dot expression — the
    * zip_with/aggregate fold allocates per evaluation, which in an all-pairs
    * join is the entire hot path (measured 5x slower at sf0.1). */
  private def normalized(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftExpressions.ensureRegistered(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vecDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  /** Brute-force cosine top-k rows `(q_id, n_id, cos, rnk)` for the probe
    * set `vec_id % probeMod == 0` — the shared exactness leg behind the
    * kNN baseline and the hubness diagnostic. The probe side is
    * model-sized and BROADCAST, so the corpus scan never shuffles; ties
    * break on (micro-rounded cos desc, n_id). */
  private def bruteTopK(s: SparkSession, d: String,
      probeMod: Int, k: Int): DataFrame = {
    val e = normalized(s, d)
    val q = e.filter(col("vec_id") % probeMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
    val w = Window.partitionBy("q_id").orderBy(fround(col("cos"), 6).desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  private val knnBrute = GraftQuery(
    "sim_knn_brute",
    "brute-force cosine top-5 per query vector (broadcast query set)",
    (s, d) => bruteTopK(s, d, 50, 5)
      .select(col("q_id"), col("n_id"), fround(col("cos"), 4).as("cos"), col("rnk"))
      .orderBy("q_id", "rnk"),
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), sc AS (SELECT q.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos FROM q JOIN n c ON c.vec_id <> q.q_id) SELECT q_id, n_id, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos, CAST(rnk AS INTEGER) AS rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM sc) WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  /** Per-label centroid stats — the IVF coarse-quantizer building block,
    * oracle-checked (avg vector norm per label). */
  private val labelStats = GraftQuery(
    "sim_label_stats",
    "per-label vector stats (IVF coarse-quantizer building block)",
    (s, d) => normalized(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"), fround(avg("nrm"), 4).as("avg_norm"))
      .orderBy("label"),
    Some("""SELECT label, count(*) AS cnt, floor(avg(sqrt(list_sum([CAST(x AS DOUBLE) * x for x in embedding]))) * 10000.0 + 0.5) / 10000.0 AS avg_norm FROM embeddings GROUP BY 1 ORDER BY 1"""))

  /** Deterministic ±1 hyperplane weight for (plane p, dim i): parity of a
    * md5 nibble. Engine-internal (only used by the LSH path). */
  private def planeSign(p: Column, i: Column): Column =
    when(expr("instr('0123456789abcdef', substring(md5(concat(p, ':', i)), 1, 1)) % 2") === 1,
      lit(1.0)).otherwise(lit(-1.0))

  /** 8-bit sign-LSH bucket code per vector. posexplode → join-free: the
    * plane weights are computed inline per (vector, dim, plane). */
  def lshCodes(vecs: DataFrame): DataFrame = {
    val dims = vecs.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val proj = dims
      .withColumn("p", explode(sequence(lit(0), lit(7))))
      .withColumn("w", planeSign(col("p"), col("i")))
      .groupBy("vec_id", "p")
      .agg(sum(col("w") * col("x")).as("dot"))
    proj.groupBy("vec_id")
      .agg(sum(expr("CASE WHEN dot > 0 THEN shiftleft(1, p) ELSE 0 END")).as("code"))
  }

  /** Vectors + LSH bucket code, persisted once per (session, corpus) via
    * [[graft.PersistCache]] — the stored-ANN-index analog. Both ANN queries
    * and the embedding near-dup path read this; the code pipeline is two
    * shuffles over a dims×planes explode, so rebuilding it per leg (or per
    * invocation) would dominate their cost. */
  def codedTable(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"lsh-coded:$d") {
      val e = normalized(s, d)
      e.join(lshCodes(e), Seq("vec_id"))
    }

  /** ANN via LSH buckets: top-3 per query within its bucket. The bucketing
    * is md5-derived, so the DuckDB oracle replays it exactly: same ±1
    * hyperplanes (md5-nibble parity of "p:i"), same sequential-order dot
    * products, same bit packing — candidate sets and rankings hash-match.
    * ScalaTest additionally checks recall vs sim_knn_brute. */
  /** In-bucket LSH top-3 per mod-50 probe — shared by the sim_knn_lsh
    * query and the recall eval (one implementation, one tie-break rule). */
  private def lshTop3(s: SparkSession, d: String): DataFrame =
    lshTopK(s, d, 3)

  private def lshTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val coded = codedTable(s, d)
    val q = coded.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("code").as("qcode"))
    val scored = coded.join(broadcast(q),
        col("code") === col("qcode") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(fround(col("cos"), 6).desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"),
        fround(col("cos"), 4).as("cos"), col("rnk"))
  }

  private val knnLsh = GraftQuery(
    "sim_knn_lsh",
    "ANN: sign-random-projection LSH buckets + in-bucket cosine top-3",
    (s, d) => lshTop3(s, d).orderBy("q_id", "rnk"),
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), proj AS (SELECT vec_id, p, list_sum([(CASE WHEN instr('0123456789abcdef', substr(md5(p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 1)) % 2 = 1 THEN 1.0 ELSE -1.0 END) * v[i] for i in generate_series(1, len(v))]) AS dp FROM n, (SELECT unnest(generate_series(0, 7)) AS p)), codes AS (SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code FROM proj GROUP BY 1), c AS (SELECT n.vec_id, n.v, n.nrm, codes.code FROM n JOIN codes USING (vec_id)), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, code AS qcode FROM c WHERE vec_id % 50 = 0), sc AS (SELECT q.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos FROM q JOIN c ON c.code = q.qcode AND c.vec_id <> q.q_id) SELECT q_id, n_id, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos, CAST(rnk AS INTEGER) AS rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM sc) WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  /** Matryoshka two-stage serving — the retrieve-then-rerank pattern:
    * a COARSE pass scores every candidate on the 32-dim embedding PREFIX
    * (half the arithmetic and memory traffic per pair — at serving scale
    * the prefix table IS the resident index), keeps a 40-candidate
    * shortlist per query, then RERANKS only the shortlist at full 64 dims
    * (full vectors are fetched by key for 40 rows per query, never
    * scanned). Matryoshka-trained embeddings concentrate signal in the
    * prefix by construction; on this RANDOM corpus prefix-cos correlates
    * with full-cos only at sqrt(32/64) ≈ 0.71, and measured top-3 recall
    * vs brute force is ~73% (the data-limited floor of a near-uniform
    * synthetic corpus; the serving mechanics are what's under test).
    * Fully oracle-replayable (slice + dot are the same math in DuckDB);
    * GraphTextOpsSpec additionally checks shortlist recall vs brute
    * force. */
  private val knnMatryoshka = GraftQuery(
    "sim_knn_matryoshka",
    "two-stage ANN: 32-dim prefix shortlist-40, full-dim rerank top-3",
    (s, d) => {
      val e = normalized(s, d)
        .withColumn("vPre", slice(col("v"), 1, 32))
        .withColumn("nPre", sqrt(expr("graft_dot(vPre, vPre)")))
      val q8 = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("vPre").as("qvPre"), col("nPre").as("qnPre"))
      val coarse = e.select(col("vec_id").as("n_id"), col("vPre").as("cvPre"), col("nPre").as("cnPre"))
        .join(broadcast(q8), col("q_id") =!= col("n_id"))
        .withColumn("cosPre", expr("graft_dot(qvPre, cvPre)") / (col("qnPre") * col("cnPre")))
      val w8 = Window.partitionBy("q_id").orderBy(fround(col("cosPre"), 6).desc, col("n_id"))
      val shortlist = coarse.withColumn("crk", row_number().over(w8))
        .filter(col("crk") <= 40)
        .select(col("q_id"), col("n_id"))
      // rerank: fetch FULL vectors for shortlist keys only
      val full = e.select(col("vec_id"), col("v"), col("nrm"))
      val qFull = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy("q_id").orderBy(fround(col("cos"), 6).desc, col("n_id"))
      shortlist
        .join(full, col("n_id") === col("vec_id"))
        .join(broadcast(qFull), Seq("q_id"))
        .withColumn("cos", expr("graft_dot(qv, v)") / (col("qn") * col("nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), fround(col("cos"), 4).as("cos"), col("rnk"))
        .orderBy("q_id", "rnk")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm, list_slice(v, 1, 32) AS vPre FROM e), n2 AS (SELECT vec_id, v, nrm, vPre, sqrt(list_sum([x*x for x in vPre])) AS nPre FROM n), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, vPre AS qvPre, nPre AS qnPre FROM n2 WHERE vec_id % 50 = 0), coarse AS (SELECT q.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(q.qvPre, c.vPre)]) / (q.qnPre * c.nPre) AS cosPre FROM q JOIN n2 c ON c.vec_id <> q.q_id), short AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cosPre * 1000000.0 + 0.5) DESC, n_id) AS crk FROM coarse) WHERE crk <= 40), rer AS (SELECT s.q_id, s.n_id, list_sum([p[1]*p[2] for p in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos FROM short s JOIN n2 c ON c.vec_id = s.n_id JOIN q ON q.q_id = s.q_id) SELECT q_id, n_id, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos, CAST(rnk AS INTEGER) AS rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM rer) WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  /** Per-label embedding CENTROIDS — the class-prototype table behind
    * semantic dedup (SemDeDup clusters then prunes within clusters),
    * label-drift monitoring, and nearest-centroid classification. Each
    * float rides as an exact micro-unit BIGINT, so the per-(label, dim)
    * sum is order-independent and the mean an exact rational — never a
    * float sum whose merge order Spark leaves unfixed.
    *
    * Scale shape: posexplode to (label, dim, micro) then ONE keyed
    * aggregation with map-side partial sums — the shuffle carries
    * |labels|·dims rows, not the corpus. That tall-skinny explode is the
    * honest distributed form for element-wise array reduction: a
    * vector-valued aggregation buffer (à la the IVF trainer's
    * TypedImperativeAggregate) saves the explode but shuffles the same
    * bytes; the explode keeps whole-stage codegen. */
  /** (vec_id, label, dim, micro) — every vector element as an exact
    * micro-unit BIGINT (1-based dim). The element-wise determinism base
    * shared by the centroid, dimension-profile, and nearest-centroid
    * queries: integer micros make every downstream sum order-independent.
    * Unused columns are pruned by Catalyst, so a consumer that drops
    * vec_id pays nothing for it. */
  private def microDims(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"),
        (col("pos") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * 1000000.0 + 0.5).cast("long").as("micro"))

  /** (label, dim, n, sm) — the per-(label, dim) micro-sum base BOTH
    * centroid views derive from: emb_centroids reports the exact rational
    * mean, emb_assign_purity quantizes the same rational to an integer
    * micro. One aggregation definition, so the two centroid notions can
    * never drift apart (e.g. a future degenerate-vector filter lands in
    * both or neither). */
  private def labelDimSums(s: SparkSession, d: String): DataFrame =
    microDims(s, d).groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("micro").as("sm"))

  private val embCentroids = GraftQuery(
    "emb_centroids",
    "per-label embedding centroids: element-wise micro-exact means",
    (s, d) => labelDimSums(s, d)
      .select(col("label"), col("dim"), col("n"),
        fround(col("sm").cast("double") / col("n") / 1000000.0, 6).as("mean_v"))
      .orderBy("label", "dim"),
    Some("""SELECT label, dim, count(*) AS n, floor(CAST(sum(CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_v FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS dim) GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-DIMENSION corpus profile — the dead/collapsed-dimension detector.
    * An embedding-pipeline failure mode: a dimension that is ~always zero
    * or near-constant carries no signal and wastes index bytes (matryoshka
    * truncation and PQ sub-spaces both assume healthy dims). Moments are
    * integer-exact: sums of micros and squared micros (the evt_zscore
    * discipline), so mean/variance are rationals evaluated with ONE fixed
    * double-op sequence in both engines. Scale shape: posexplode + one
    * keyed aggregation on 64 dims with map-side combine — the shuffle
    * carries dims x partial rows, not the corpus. The squared-micro sum
    * rides as DECIMAL(38,0) — exact 128-bit integer arithmetic, the twin
    * of DuckDB's HUGEINT widening — because a LONG sum would silently
    * wrap past ~2·10^6 rows/dim at |x| <= 2 (non-ANSI Spark wraps, it
    * does not error); both engines then convert the exact integer to
    * double with the same correct rounding. */
  private val embDimProfile = GraftQuery(
    "emb_dim_profile",
    "per-dimension profile: near-zero share + integer-exact mean/variance",
    (s, d) => microDims(s, d)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("micro")) <= 1000L, lit(1L)).otherwise(lit(0L)))
          .as("n_near_zero"),
        min("micro").as("min_micro"), max("micro").as("max_micro"),
        sum("micro").as("sm"),
        sum((col("micro") * col("micro")).cast("decimal(38,0)")).as("sm2"))
      .select(col("dim"), col("n"), col("n_near_zero"),
        col("min_micro"), col("max_micro"),
        fround(col("sm").cast("double") / col("n") / 1e6, 6).as("mean_v"),
        fround((col("sm2").cast("double") / col("n") -
          (col("sm").cast("double") / col("n")) *
            (col("sm").cast("double") / col("n"))) / 1e12, 6).as("var_v"))
      .orderBy("dim"),
    Some("""WITH mic AS (SELECT dim, CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS micro FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS dim)) SELECT dim, count(*) AS n, CAST(sum(CASE WHEN abs(micro) <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero, min(micro) AS min_micro, max(micro) AS max_micro, floor(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_v, floor((CAST(sum(micro * micro) AS DOUBLE) / count(*) - (CAST(sum(micro) AS DOUBLE) / count(*)) * (CAST(sum(micro) AS DOUBLE) / count(*))) / 1000000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS var_v FROM mic GROUP BY 1 ORDER BY 1"""))

  /** Nearest-centroid ASSIGNMENT + label purity — the classification step
    * of semantic dedup (SemDeDup: cluster, then prune within clusters) and
    * the k-means assignment kernel, as a confusion matrix: how often does a
    * vector of label L sit closest to the centroid of label A? Centroids
    * are QUANTIZED to integer micro units before the distance pass, so each
    * (vector, centroid) squared distance is a BIGINT sum and the argmin
    * never compares engine-ordered float sums — exact, hash-stable
    * assignment (ties break to the smaller centroid label).
    *
    * Scale shape: the centroid table (|labels| x dims rows) is a stored
    * artifact (PersistCache, built in one corpus pass like the IVF
    * codebook) and BROADCASTS into the assignment join; the per-element
    * term stream feeds one map-side-combined aggregation keyed on
    * (vec, centroid), then a |corpus| x |labels| argmin window partitioned
    * by vec_id. That is the honest distributed shape of k-means assign. */
  /** (vec_id, label, c_label) with rk = 1 — the exact nearest-centroid
    * ASSIGNMENT shared by emb_assign_purity (which folds it into a
    * confusion matrix) and dedup_semantic (which uses it as the cluster
    * key). One definition of "nearest", so the eval and the prune can
    * never disagree about which bucket a vector is in. Centroids are
    * micro-quantized BIGINTs (see the purity doc below), so the argmin is
    * an exact integer compare; ties break to the smaller centroid label. */
  /** The micro-QUANTIZED centroid table (c_label, dim, c_micro) — a stored
    * artifact (one corpus pass, PersistCache-memoized) shared by the
    * assignment pipeline and the prototypicality ranking. */
  private def quantCentroids(s: SparkSession, d: String): DataFrame =
    graft.PersistCache.getOrBuild(s, s"label-cents-q:$d") {
      labelDimSums(s, d)
        .select(col("label").as("c_label"), col("dim"),
          floor(col("sm").cast("double") / col("n") + 0.5)
            .cast("long").as("c_micro"))
    }

  private def assignments(s: SparkSession, d: String): DataFrame = {
    val mic = microDims(s, d)
    val dist = mic.join(broadcast(quantCentroids(s, d)), Seq("dim"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum((col("micro") - col("c_micro")) *
        (col("micro") - col("c_micro"))).as("d2"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("c_label"))
    dist.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
  }

  /** Oracle CTE bundle for [[assignments]] (mic/c/d ending in `a`; rows
    * with rk = 1 are the assignment) — shared by the emb_assign_purity
    * and dedup_semantic oracles, mirroring the shared Spark builder. */
  private val assignCtes: String =
    """WITH mic AS (SELECT vec_id, label, dim, CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS micro FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS dim)), c AS (SELECT label AS c_label, dim, CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c_micro FROM mic GROUP BY 1, 2), d AS (SELECT m.vec_id, m.label, c.c_label, sum((m.micro - c.c_micro) * (m.micro - c.c_micro)) AS d2 FROM mic m JOIN c USING (dim) GROUP BY 1, 2, 3), a AS (SELECT vec_id, label, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM d)"""

  private val embAssignPurity = GraftQuery(
    "emb_assign_purity",
    "nearest-centroid assignment confusion: label purity under exact argmin",
    (s, d) => {
      assignments(s, d)
        .groupBy("label", "c_label")
        .agg(count(lit(1)).as("n"))
        .select(col("label"), col("c_label").as("assigned"), col("n"),
          fround(col("n").cast("double") /
            sum("n").over(Window.partitionBy("label")), 4).as("share"))
        .orderBy("label", "assigned")
    },
    Some(assignCtes + """ SELECT label, c_label AS assigned, count(*) AS n, floor(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY label) * 10000.0 + 0.5) / 10000.0 AS share FROM a WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** SEMANTIC DEDUP (the SemDeDup recipe): bucket by nearest centroid,
    * then prune WITHIN buckets only — a vector is DROPPED when its cosine
    * to ANY lower-id vector in the same bucket clears the threshold;
    * `dup_of` names the smallest such lower id — its anchor, which may
    * itself be dropped when a near-dup chain runs through the bucket
    * (A~B, B~C, A!~C drops both B and C). This one-pass anchor rule is
    * the order-parallel form of SemDeDup's sequential greedy keep-first:
    * identical whenever in-bucket similarity is transitive at the
    * threshold (tight clusters, the paper's regime), strictly more
    * aggressive on chains — and collapsing a chain to ONE surviving
    * representative is exactly the union-find step dedup_components /
    * dedup_keep_longest already provide downstream. Registered here
    * rather than in DedupOps because it composes this module's shared
    * assignment base ([[assignments]]) — the same exact-argmin cluster
    * step emb_assign_purity evaluates.
    *
    * THE SCALE SHAPE IS THE POINT: pairwise cosine runs per bucket — an
    * equi-join keyed on the cluster id — never all-pairs across the
    * corpus. At 100 TB the quantizer would be the stored IVF codebook
    * (thousands of centroids, IvfAnn-style) instead of the |labels|
    * prototypes used here, bounding each bucket to corpus/k vectors; the
    * plan is identical, only k grows. The cosine itself is per-row HOF
    * double math (deterministic), compared on floor-rounded integer
    * micros so a boundary ulp can't flip a verdict between engines. */
  private val dedupSemantic = GraftQuery(
    "dedup_semantic",
    "SemDeDup: nearest-centroid buckets, within-bucket cosine prune (keep lowest id)",
    (s, d) => {
      // the assignment table is the SemDeDup stored artifact (built once
      // per corpus, like the label-centroid table it derives from); the
      // memo also keeps the window/argmin from re-executing per consumer
      val asg = graft.PersistCache.getOrBuild(s, s"sem-asg:$d") {
        assignments(s, d).select(col("vec_id"), col("c_label").as("cluster"))
      }
      val e = normalized(s, d)
        .select(col("vec_id"), col("v"), col("nrm"))
        .join(asg, Seq("vec_id"))
      val a = e.select(col("cluster"), col("vec_id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("cluster"), col("vec_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val dup = a.join(b, Seq("cluster"))
        .filter(col("a") < col("b"))
        .withColumn("cos_micro",
          floor(expr("graft_dot(va, vb)") / (col("na") * col("nb")) *
            1000000.0 + 0.5).cast("long"))
        .filter(col("cos_micro") >= 280000L)
        .groupBy(col("b").as("vec_id"))
        .agg(min("a").as("dup_of"))
      asg.join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          when(col("dup_of").isNull, lit(1)).otherwise(lit(0)).as("keep"))
        .orderBy("vec_id")
    },
    Some(assignCtes + """, asg AS (SELECT vec_id, c_label AS cluster FROM a WHERE rk = 1), e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), p AS (SELECT x.vec_id AS a, y.vec_id AS b, CAST(floor(list_sum([s[1]*s[2] for s in list_zip(na.v, nb.v)]) / (na.nrm * nb.nrm) * 1000000.0 + 0.5) AS BIGINT) AS cos_micro FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id JOIN n na ON na.vec_id = x.vec_id JOIN n nb ON nb.vec_id = y.vec_id), dup AS (SELECT b AS vec_id, min(a) AS dup_of FROM p WHERE cos_micro >= 280000 GROUP BY 1) SELECT asg.vec_id, asg.cluster, dup.dup_of, CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep FROM asg LEFT JOIN dup USING (vec_id) ORDER BY vec_id"""))

  /** PROTOTYPICALITY ranking — the D4/SemDeDup "prune the un-prototypical
    * tail" step: each vector's exact squared distance to its OWN label
    * centroid (micro-quantized, so d2 is a BIGINT — no float-sum ordering
    * anywhere), ranked farthest-first; the top-20 are the outlier/
    * mislabel/junk candidates a curation pass reviews or drops. Scale
    * shape: centroids BROADCAST into a per-element term stream feeding one
    * map-side-combined aggregation keyed on vec; the global rank compiles
    * to TakeOrderedAndProject (per-partition heaps) and the row_number
    * then runs over the 20-row prefix, not the corpus (the
    * samp_shuffle_prefix discipline). */
  private val embPrototypicality = GraftQuery(
    "emb_prototypicality",
    "top-20 outliers by exact micro-distance to own-label centroid",
    (s, d) => {
      val dist = microDims(s, d)
        .join(broadcast(quantCentroids(s, d).withColumnRenamed("dim", "c_dim")),
          col("label") === col("c_label") && col("dim") === col("c_dim"))
        .groupBy("vec_id", "label")
        .agg(sum((col("micro") - col("c_micro")) *
          (col("micro") - col("c_micro"))).as("d2"))
      // unpartitioned window on purpose: runs over the 20-row top-K
      // prefix, not the corpus — audited benign (see QuietLogs)
      val w = Window.orderBy(col("d2").desc, col("vec_id"))
      dist.orderBy(col("d2").desc, col("vec_id")).limit(20)
        .withColumn("rk", row_number().over(w))
        .select(col("rk"), col("vec_id"), col("label"), col("d2"))
        .orderBy("rk")
    },
    Some(assignCtes + """ SELECT CAST(rk AS INTEGER) AS rk, vec_id, label, CAST(d2 AS BIGINT) AS d2 FROM (SELECT row_number() OVER (ORDER BY d2 DESC, vec_id) AS rk, vec_id, label, d2 FROM d WHERE label = c_label) WHERE rk <= 20 ORDER BY rk"""))

  /** HUBNESS profile — the classic high-dimensional ANN pathology check
    * (Radovanović et al., JMLR 2010): a few "hub" vectors appear in
    * nearly every query's top-k while much of the corpus is never
    * retrieved, which skews retrieval-augmented sampling and poisons
    * near-dup thresholds. Over a deterministic 1-in-10 probe sample we
    * build exact cosine top-5 lists, then histogram each corpus vector's
    * reverse-kNN in-degree (0 = never retrieved). A healthy index shows a
    * binomial-looking hump; a heavy tail plus a fat zero-bucket is the
    * hubness signature.
    *
    * Scale shape: the probe set is sampled and BROADCAST (the same brute
    * leg as sim_knn_brute — at 100 TB the probes would scan LSH/IVF
    * candidates instead, same downstream shape); the in-degree aggregation
    * is map-side-combined on n_id and the histogram runs over the tiny
    * degree table, never the corpus. */
  private val simHubness = GraftQuery(
    "sim_hubness",
    "reverse-kNN in-degree histogram over a 1-in-10 probe sample",
    (s, d) => {
      val deg = bruteTopK(s, d, 10, 5)
        .groupBy("n_id").agg(count(lit(1)).as("in_deg"))
      val hist = deg.groupBy("in_deg").agg(count(lit(1)).as("n_vecs"))
      val zero = Tables.embeddings(s, d).agg(count(lit(1)).as("tot"))
        .crossJoin(deg.agg(count(lit(1)).as("ret")))
        .select(lit(0L).as("in_deg"), (col("tot") - col("ret")).as("n_vecs"))
      hist.unionByName(zero).orderBy("in_deg")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 10 = 0), sc AS (SELECT q.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos FROM q JOIN n c ON c.vec_id <> q.q_id), tk AS (SELECT n_id FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM sc) WHERE rnk <= 5), deg AS (SELECT n_id, count(*) AS in_deg FROM tk GROUP BY 1), hist AS (SELECT in_deg, count(*) AS n_vecs FROM deg GROUP BY 1) SELECT * FROM hist UNION ALL SELECT CAST(0 AS BIGINT) AS in_deg, (SELECT count(*) FROM embeddings) - (SELECT count(*) FROM deg) AS n_vecs ORDER BY in_deg"""))

  /** HARD-NEGATIVE mining — the contrastive-training data-prep step: for
    * each anchor, the most-similar vectors carrying a DIFFERENT label are
    * exactly the negatives a triplet/InfoNCE loss learns most from
    * (random negatives are trivially separable). Top-3 cross-label
    * neighbors per probe anchor, exact cosine.
    *
    * Scale shape: identical to [[knnBrute]] — the anchor set is sampled,
    * model-sized, and BROADCAST, so the corpus scan never shuffles; the
    * label inequality rides the broadcast-join condition, pruning pairs
    * before the dot product. At 100 TB the anchor side stays broadcast
    * and the corpus side would first pass the LSH/IVF candidate gate
    * (sim_knn_lsh / sim_knn_ivf), same downstream shape. */
  private val hardNegatives = GraftQuery(
    "sim_hard_negatives",
    "contrastive hard-negative mining: top-3 cross-label cosine per anchor",
    (s, d) => {
      val e = normalized(s, d)
      val q = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("v").as("cv"), col("nrm").as("cn"))
      val scored = c.join(broadcast(q), col("q_label") =!= col("n_label"))
        .withColumn("cos", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
      val w = Window.partitionBy("q_id")
        .orderBy(fround(col("cos"), 6).desc, col("n_id"))
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
          fround(col("cos"), 4).as("cos"), col("rnk"))
        .orderBy("q_id", "rnk")
    },
    Some("""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, label, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn FROM n WHERE vec_id % 25 = 0), sc AS (SELECT q.q_id, q.q_label, c.vec_id AS n_id, c.label AS n_label, list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos FROM q JOIN n c ON c.label <> q.q_label) SELECT q_id, q_label, n_id, n_label, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos, CAST(rnk AS INTEGER) AS rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM sc) WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  /** ONE full Lloyd (k-means) iteration, end to end and exact: reassign
    * every vector to its nearest micro-quantized centroid (the shared
    * [[assignments]] kernel), recompute per-cluster means over the new
    * membership, and report the L1 centroid drift — the convergence
    * metric a k-means training loop logs per round. Everything stays in
    * integer micro units: the argmin is an exact BIGINT compare and the
    * new means re-quantize with the same floor(sum/n + 0.5) rule the
    * stored centroids used, so drift is bit-deterministic.
    *
    * Scale shape: the centroid table broadcasts (model-sized), the
    * reassignment is one map-side-combined agg keyed (vec, centroid),
    * and the mean recompute is one more keyed agg on (cluster, dim) —
    * exactly the two shuffles a distributed Lloyd round costs. A full
    * training loop is this query iterated with the new centroids written
    * back (the IVF index build in IvfAnn runs that loop). */
  private val embKmeansStep = GraftQuery(
    "emb_kmeans_step",
    "one exact Lloyd iteration: reassign, recompute means, L1 drift",
    (s, d) => {
      val asg = assignments(s, d).select(col("vec_id"), col("c_label"))
      val nm = microDims(s, d).join(asg, Seq("vec_id"))
        .groupBy(col("c_label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum("micro").as("sm"))
        .select(col("c_label"), col("dim"), col("n"),
          floor(col("sm").cast("double") / col("n") + 0.5)
            .cast("long").as("new_micro"))
      nm.join(broadcast(quantCentroids(s, d)), Seq("c_label", "dim"))
        .groupBy("c_label")
        .agg(max("n").as("n_assigned"),
          sum(abs(col("new_micro") - col("c_micro"))).as("drift_l1_micro"))
        .orderBy("c_label")
    },
    Some(assignCtes + """, asg AS (SELECT vec_id, c_label FROM a WHERE rk = 1), nm AS (SELECT c_label, dim, CAST(count(*) AS BIGINT) AS n, CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS new_micro FROM mic JOIN asg USING (vec_id) GROUP BY 1, 2) SELECT c_label, max(n) AS n_assigned, CAST(sum(abs(new_micro - c_micro)) AS BIGINT) AS drift_l1_micro FROM nm JOIN c USING (c_label, dim) GROUP BY 1 ORDER BY 1"""))

  /** Cosine CALIBRATION histogram: the similarity distribution over a
    * deterministic sample of disjoint vector pairs — how a pipeline picks
    * its near-dup / semantic-dedup thresholds (the knee of this histogram
    * is the threshold argument to dedup_embedding_* and dedup_semantic).
    * Pairing is reproducible without any corpus assumption: take the 200
    * md5-first vectors (TakeOrderedAndProject — bounded), pair rank 2k
    * with 2k+1. The row_number window is global but runs POST-LIMIT over
    * exactly 200 rows (the audited benign pattern — see CurationOps'
    * shuffle-prefix note); cosines round to micro before binning so the
    * bin edges are decided on the rounded value in both engines. */
  private val embSimHistogram = GraftQuery(
    "emb_sim_histogram",
    "cosine calibration histogram over md5-paired sample vectors",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      val samp = Tables.embeddings(s, d)
        .select(col("vec_id"), vecDouble(col("embedding")).as("v"),
          md5u32(concat(lit("hist:"), col("vec_id").cast("string"))).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(200)
      val ranked = samp
        .withColumn("rn", row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
        .select(col("v"), expr("rn div 2").as("pid"), (col("rn") % 2).as("side"))
      val a = ranked.filter(col("side") === 0).select(col("pid"), col("v").as("va"))
      val b = ranked.filter(col("side") === 1).select(col("pid"), col("v").as("vb"))
      a.join(b, Seq("pid"))
        .withColumn("cos_r", fround(expr("graft_dot(va, vb)") /
          (sqrt(expr("graft_dot(va, va)")) * sqrt(expr("graft_dot(vb, vb)"))), 6))
        .withColumn("bin", least(floor((col("cos_r") + 1) * 10).cast("long"), lit(19L)))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"),
          fround(min("cos_r"), 6).as("min_cos"), fround(max("cos_r"), 6).as("max_cos"))
        .orderBy("bin")
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, ${md5u32Sql("md5('hist:' || CAST(vec_id AS VARCHAR))")} AS h FROM embeddings), smp AS (SELECT * FROM e ORDER BY h, vec_id LIMIT 200), r AS (SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS rn FROM smp), p AS (SELECT a.v AS va, b.v AS vb FROM (SELECT v, rn // 2 AS pid FROM r WHERE rn % 2 = 0) a JOIN (SELECT v, rn // 2 AS pid FROM r WHERE rn % 2 = 1) b USING (pid)), cz AS (SELECT floor(list_sum([s[1]*s[2] for s in list_zip(va, vb)]) / (sqrt(list_sum([x*x for x in va])) * sqrt(list_sum([x*x for x in vb]))) * 1000000.0 + 0.5) / 1000000.0 AS cos_r FROM p) SELECT least(CAST(floor((cos_r + 1) * 10) AS BIGINT), 19) AS bin, CAST(count(*) AS BIGINT) AS n_pairs, floor(min(cos_r) * 1000000.0 + 0.5) / 1000000.0 AS min_cos, floor(max(cos_r) * 1000000.0 + 0.5) / 1000000.0 AS max_cos FROM cz GROUP BY 1 ORDER BY 1"""))

  /** Quantized embedding arrays (vec_id, xm: array<long> of micro units) —
    * the one-time corpus artifact the power iteration re-scans per round. */
  private def microArrays(s: SparkSession, d: String) =
    graft.PersistCache.getOrBuild(s, s"pca-arr:$d") {
      Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("xm"))
    }

  /** Dominant principal direction of the embedding matrix by POWER
    * ITERATION — the engine-native linear-algebra loop (PCA whitening,
    * spectral quality checks) without ever materializing the d×d Gram
    * matrix: each round computes X·(Xᵀv) as two streaming passes — a
    * per-row dot `s = x·v` (v is a 64-long literal array, zip_with/
    * aggregate HOFs inside codegen, no join) and a 64-group rollup
    * `y_dim = Σ x_dim·s` (decimal sums: |x·s| ~ 1.5e21 overflows int64).
    * Normalization is MAX-norm in exact integer space (the max-|y| element
    * maps to ±1e6), computed on the driver over the 64 collected y's —
    * model-sized, like the IVF codebook — so every iterate is bit-identical
    * in both engines: no float sqrt, no L2 norm, no last-ulp drift. 3
    * rounds = 3 corpus passes over the cached quantized arrays. */
  /** Session-keyed memo of the 3-iteration power direction — the
    * driver-side twin of PersistCache for the model-sized eigenvector
    * artifact shared by emb_pca_power (which reports it) and emb_pca_var
    * (which projects against it). */
  private val pcaDirCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Array[BigInt]]]()

  /** Dominant direction after 3 max-norm power iterations, micro-int
    * components (see emb_pca_power's doc for the arithmetic contract). */
  private[graft] def powerDirection(s: SparkSession, d: String): Array[BigInt] = {
    val perSession = pcaDirCache.synchronized {
      var m = pcaDirCache.get(s)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; pcaDirCache.put(s, m) }
      m
    }
    perSession.getOrElseUpdate(d, {
      val arr = microArrays(s, d)
      var v: Array[BigInt] = Array.fill(64)(BigInt(125000)) // 1/8 in micro
      for (_ <- 1 to 3) {
        val vlit = array(v.map(b => lit(b.toLong)): _*)
        val y = arr
          .withColumn("sr", aggregate(
            zip_with(col("xm"), vlit, (a, b) => a * b), lit(0L), (acc, e) => acc + e))
          .select(col("sr"), posexplode(col("xm")).as(Seq("pos", "x")))
          .groupBy((col("pos") + 1).as("dim"))
          .agg(sum(col("x").cast("decimal(8,0)") * col("sr").cast("decimal(16,0)"))
            .as("y"))
          .collect()
        val yv: Map[Int, BigInt] =
          y.map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
        val my = yv.values.map(_.abs).max
        // round-half-up on |y|, sign re-applied: positive operands only, so
        // BigInt truncating division == floor in both engines
        v = (1 to 64).map { dm =>
          val yd = yv(dm)
          (if (yd < 0) BigInt(-1) else BigInt(1)) *
            ((2 * yd.abs * 1000000 + my) / (2 * my))
        }.toArray
      }
      v
    })
  }

  /** The unrolled 3-iteration CTE chain ending at v3 (dim, v) — shared by
    * the emb_pca_power and emb_pca_var oracles so the two can never
    * disagree about which direction was computed. */
  private val pcaCtes = """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS dim), mic AS (SELECT vec_id, dim, CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x FROM embeddings, dims), v0 AS (SELECT dim, CAST(125000 AS HUGEINT) AS v FROM dims), s1 AS (SELECT vec_id, sum(CAST(x AS HUGEINT) * v) AS s FROM mic JOIN v0 USING (dim) GROUP BY 1), y1 AS (SELECT dim, sum(CAST(x AS HUGEINT) * s) AS y FROM mic JOIN s1 USING (vec_id) GROUP BY 1), m1 AS (SELECT max(abs(y)) AS my FROM y1), v1 AS (SELECT dim, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * ((2 * abs(y) * 1000000 + my) // (2 * my)) AS v FROM y1, m1), s2 AS (SELECT vec_id, sum(CAST(x AS HUGEINT) * v) AS s FROM mic JOIN v1 USING (dim) GROUP BY 1), y2 AS (SELECT dim, sum(CAST(x AS HUGEINT) * s) AS y FROM mic JOIN s2 USING (vec_id) GROUP BY 1), m2 AS (SELECT max(abs(y)) AS my FROM y2), v2 AS (SELECT dim, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * ((2 * abs(y) * 1000000 + my) // (2 * my)) AS v FROM y2, m2), s3 AS (SELECT vec_id, sum(CAST(x AS HUGEINT) * v) AS s FROM mic JOIN v2 USING (dim) GROUP BY 1), y3 AS (SELECT dim, sum(CAST(x AS HUGEINT) * s) AS y FROM mic JOIN s3 USING (vec_id) GROUP BY 1), m3 AS (SELECT max(abs(y)) AS my FROM y3), v3 AS (SELECT dim, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * ((2 * abs(y) * 1000000 + my) // (2 * my)) AS v FROM y3, m3)"""

  private val embPcaPower = GraftQuery(
    "emb_pca_power",
    "dominant PCA direction via 3 integer-exact power iterations (max-norm)",
    (s, d) => {
      import s.implicits._
      powerDirection(s, d).zipWithIndex
        .map { case (b, i) => (i + 1, b.toLong) }.toSeq
        .toDF("dim", "loading_micro").orderBy("dim")
    },
    Some(pcaCtes + """ SELECT CAST(dim AS INTEGER) AS dim, CAST(v AS BIGINT) AS loading_micro FROM v3 ORDER BY dim"""))

  /** Variance explained by the dominant direction — the Rayleigh-quotient
    * read that turns the power iteration into a decision (is one axis
    * carrying the embedding space? anisotropy check before whitening /
    * dimension pruning): Σ(x·v)² / (|v|²·Σ|x|²) over the micro-quantized
    * integers, one corpus pass with decimal sums (s² ~ 9e28 overflows
    * int64), final division on exactly-convertible operands. */
  private val embPcaVar = GraftQuery(
    "emb_pca_var",
    "variance explained by the power-iteration direction (exact Rayleigh share)",
    (s, d) => {
      val v = powerDirection(s, d)
      val vn2 = v.map(b => b * b).sum // |v|^2, exact
      val vlit = array(v.map(b => lit(b.toLong)): _*)
      microArrays(s, d)
        .withColumn("sr", aggregate(
          zip_with(col("xm"), vlit, (a, b) => a * b), lit(0L), (acc, e) => acc + e))
        .withColumn("xx", aggregate(
          zip_with(col("xm"), col("xm"), (a, b) => a * b), lit(0L), (acc, e) => acc + e))
        .agg(count(lit(1)).as("n"),
          sum(col("sr").cast("decimal(18,0)") * col("sr").cast("decimal(18,0)"))
            .as("ss"),
          sum(col("xx").cast("decimal(20,0)")).as("sxx"))
        .select(col("n"),
          fround(col("ss").cast("double") /
            (lit(vn2.toDouble) * col("sxx").cast("double")), 6)
            .as("var_explained"))
    },
    Some(pcaCtes + """, sv AS (SELECT m.vec_id, sum(CAST(m.x AS HUGEINT) * v3.v) AS s FROM mic m JOIN v3 USING (dim) GROUP BY 1), num AS (SELECT sum(s * s) AS ss FROM sv), vn AS (SELECT sum(v * v) AS v2 FROM v3), den AS (SELECT sum(CAST(x AS HUGEINT) * x) AS sxx FROM mic) SELECT (SELECT count(*) FROM embeddings) AS n, floor(CAST(ss AS DOUBLE) / (CAST(v2 AS DOUBLE) * CAST(sxx AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS var_explained FROM num, vn, den"""))

  /** k-means++ (farthest-point flavor) SEED SELECTION — the init kernel
    * k-means/IVF/SemDeDup quality hinges on: seed 1 is the md5-min vector
    * (deterministic "random" pick, same hash family as every sampling
    * decision in the repo), each next seed is the argmax of the running
    * min-distance-to-chosen — 2 distributed passes per seed (distance
    * update + TakeOrdered argmax), seeds broadcast as literals, distances
    * exact integer micro² so argmax ties break identically everywhere.
    * (True D²-weighted sampling replaces argmax with hash-weighted
    * proportional choice; farthest-point is its deterministic skeleton and
    * the same plan shape.) Reports per seed the corpus inertia (Σ min-d²)
    * after adding it — the elbow-curve read. */
  private val embKmeansppSeed = GraftQuery(
    "emb_kmeanspp_seed",
    "deterministic k-means++ seeding: 3 farthest-point seeds + inertia curve",
    (s, d) => {
      val arr = microArrays(s, d)
      def distTo(vec: Array[Long]) = {
        val vlit = array(vec.map(lit(_)): _*)
        aggregate(zip_with(col("xm"), vlit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, e) => acc + e)
      }
      def vecOf(id: Long): Array[Long] = arr.filter(col("vec_id") === id)
        .select("xm").collect().head.getSeq[Long](0).toArray
      val seed1 = arr
        .select(col("vec_id"),
          md5u32(concat(lit("seed:"), col("vec_id").cast("string"))).as("h"))
        .orderBy("h", "vec_id").limit(1).collect().head.getLong(0)
      var cur = arr.withColumn("dmin", distTo(vecOf(seed1)))
      val picks = scala.collection.mutable.ArrayBuffer((1, seed1, inertia(cur)))
      for (rk <- 2 to 3) {
        val next = cur.orderBy(desc("dmin"), col("vec_id")).limit(1)
          .collect().head.getLong(0)
        cur = cur.withColumn("dmin", least(col("dmin"), distTo(vecOf(next))))
        picks += ((rk, next, inertia(cur)))
      }
      import s.implicits._
      picks.toSeq.toDF("rk", "vec_id", "inertia").orderBy("rk")
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xm FROM embeddings), h AS (SELECT vec_id, ${md5u32Sql("md5('seed:' || CAST(vec_id AS VARCHAR))")} AS h FROM e), sd1 AS (SELECT vec_id FROM h ORDER BY h, vec_id LIMIT 1), w1 AS (SELECT xm FROM e JOIN sd1 USING (vec_id)), d1 AS (SELECT e.vec_id, list_sum([(p[1]-p[2])*(p[1]-p[2]) for p in list_zip(e.xm, w1.xm)]) AS dmin FROM e, w1), i1 AS (SELECT CAST(sum(CAST(dmin AS HUGEINT)) AS BIGINT) AS inertia FROM d1), sd2 AS (SELECT vec_id FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1), w2 AS (SELECT xm FROM e JOIN sd2 USING (vec_id)), d2 AS (SELECT d1.vec_id, least(d1.dmin, list_sum([(p[1]-p[2])*(p[1]-p[2]) for p in list_zip(e.xm, w2.xm)])) AS dmin FROM d1 JOIN e USING (vec_id), w2), i2 AS (SELECT CAST(sum(CAST(dmin AS HUGEINT)) AS BIGINT) AS inertia FROM d2), sd3 AS (SELECT vec_id FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1), w3 AS (SELECT xm FROM e JOIN sd3 USING (vec_id)), d3 AS (SELECT d2.vec_id, least(d2.dmin, list_sum([(p[1]-p[2])*(p[1]-p[2]) for p in list_zip(e.xm, w3.xm)])) AS dmin FROM d2 JOIN e USING (vec_id), w3), i3 AS (SELECT CAST(sum(CAST(dmin AS HUGEINT)) AS BIGINT) AS inertia FROM d3) SELECT 1 AS rk, sd1.vec_id, i1.inertia FROM sd1, i1 UNION ALL SELECT 2, sd2.vec_id, i2.inertia FROM sd2, i2 UNION ALL SELECT 3, sd3.vec_id, i3.inertia FROM sd3, i3 ORDER BY rk"""))

  /** Exact corpus inertia (Σ running min-d², micro² units) of a distance
    * frame — collected per seeding round; decimal sum so a 100 TB corpus
    * cannot overflow the fold. */
  private def inertia(cur: DataFrame): Long =
    cur.agg(sum(col("dmin").cast("decimal(28,0)")).as("i"))
      .collect().head.getDecimal(0).longValueExact()

  /** ANN RECALL EVALUATION — the measurement that justifies shipping an
    * approximate index: recall@3 of the sign-LSH in-bucket top-3 against
    * the exact brute-force top-3, per probe. The eval is itself a query
    * (and oracled): both rankings use the SAME rounded-cosine tie-break,
    * so the comparison is deterministic; probes whose bucket holds fewer
    * than 3 candidates are scored against what the index returned (the
    * honest serving-time recall, not a best-case). Scale: both rankings
    * are probe-broadcast scans; the eval adds only probe-sized joins. */
  private val simRecallEval = GraftQuery(
    "sim_recall_eval",
    "recall@3 of LSH top-3 vs exact brute-force top-3 per probe",
    (s, d) => {
      val b = bruteTopK(s, d, 50, 3).select(col("q_id"), col("n_id"))
      val l = lshTop3(s, d).select(col("q_id"), col("n_id"))
      val common = b.join(l, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_common"))
      val lcnt = l.groupBy("q_id").agg(count(lit(1)).as("n_lsh"))
      b.groupBy("q_id").agg(count(lit(1)).as("n_brute"))
        .join(lcnt, Seq("q_id"), "left")
        .join(common, Seq("q_id"), "left")
        .select(col("q_id"), col("n_brute"),
          coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          fround(coalesce(col("n_common"), lit(0L)).cast("double") / 3.0, 4)
            .as("recall_at_3"))
        .orderBy("q_id")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), bsc AS (SELECT bq.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(bq.qv, c.v)]) / (bq.qn * c.nrm) AS cos FROM bq JOIN n c ON c.vec_id <> bq.q_id), b3 AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM bsc) WHERE rnk <= 3), proj AS (SELECT vec_id, p, list_sum([(CASE WHEN instr('0123456789abcdef', substr(md5(p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 1)) % 2 = 1 THEN 1.0 ELSE -1.0 END) * v[i] for i in generate_series(1, len(v))]) AS dp FROM n, (SELECT unnest(generate_series(0, 7)) AS p)), codes AS (SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code FROM proj GROUP BY 1), c2 AS (SELECT n.vec_id, n.v, n.nrm, codes.code FROM n JOIN codes USING (vec_id)), lq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, code AS qcode FROM c2 WHERE vec_id % 50 = 0), lsc AS (SELECT lq.q_id, c2.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(lq.qv, c2.v)]) / (lq.qn * c2.nrm) AS cos FROM lq JOIN c2 ON c2.code = lq.qcode AND c2.vec_id <> lq.q_id), l3 AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM lsc) WHERE rnk <= 3), cm AS (SELECT b3.q_id, count(*) AS n_common FROM b3 JOIN l3 ON b3.q_id = l3.q_id AND b3.n_id = l3.n_id GROUP BY 1), lc AS (SELECT q_id, count(*) AS n_lsh FROM l3 GROUP BY 1), bc AS (SELECT q_id, count(*) AS n_brute FROM b3 GROUP BY 1) SELECT bc.q_id, bc.n_brute, coalesce(lc.n_lsh, 0) AS n_lsh, coalesce(cm.n_common, 0) AS n_common, floor(CAST(coalesce(cm.n_common, 0) AS DOUBLE) / 3.0 * 1e4 + 0.5) / 1e4 AS recall_at_3 FROM bc LEFT JOIN lc USING (q_id) LEFT JOIN cm USING (q_id) ORDER BY q_id"""))

  /** kNN CLASSIFIER EVALUATION: each mod-50 probe's label predicted by
    * majority vote of its brute-force top-5 neighbors (vote ties break to
    * the smaller label id — the fixed rule both engines apply), scored
    * against the probe's own label, rolled up per true label. The
    * embedding-quality eval a retrieval deployment runs before trusting
    * labels-by-neighborhood. Scale: rides the same probe-broadcast scan
    * as sim_knn_brute; everything after the top-5 is probe-sized. */
  private val knnLabelAccuracy = GraftQuery(
    "sim_knn_label_accuracy",
    "leave-one-out 5-NN majority-vote label accuracy per true label",
    (s, d) => {
      val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val votes = bruteTopK(s, d, 50, 5)
        .select(col("q_id"), col("n_id"))
        .join(broadcast(lbl.toDF("n_id", "nl")), Seq("n_id"))
        .groupBy("q_id", "nl").agg(count(lit(1)).as("v"))
      val w = Window.partitionBy("q_id").orderBy(desc("v"), col("nl"))
      val pred = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).select(col("q_id"), col("nl").as("pred"))
      pred.join(broadcast(lbl.toDF("q_id", "truth")), Seq("q_id"))
        .groupBy("truth")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("pred") === col("truth"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("truth").as("label"), col("n_probes"), col("n_correct"),
          fround(col("n_correct").cast("double") / col("n_probes"), 4)
            .as("accuracy"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), bsc AS (SELECT bq.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(bq.qv, c.v)]) / (bq.qn * c.nrm) AS cos FROM bq JOIN n c ON c.vec_id <> bq.q_id), b5 AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM bsc) WHERE rnk <= 5), vt AS (SELECT b5.q_id, emb.label AS nl, count(*) AS v FROM b5 JOIN embeddings emb ON emb.vec_id = b5.n_id GROUP BY 1, 2), pd AS (SELECT q_id, nl AS pred FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY v DESC, nl) AS rk FROM vt) WHERE rk = 1) SELECT t.label, count(*) AS n_probes, CAST(sum(CASE WHEN pd.pred = t.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, floor(CAST(sum(CASE WHEN pd.pred = t.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS accuracy FROM pd JOIN embeddings t ON t.vec_id = pd.q_id GROUP BY 1 ORDER BY 1"""))

  /** BINARY-QUANTIZATION FIDELITY: how well 1-bit-per-dimension sign codes
    * preserve cosine similarity — the audit behind shipping 64-bit binary
    * embeddings for cheap first-stage retrieval (Hamming agreement
    * (64−2·h)/64 is the quantized similarity). Over every
    * (mod-50 probe, candidate) pair: Pearson correlation between exact
    * integer sign-agreement and micro-rounded cosine, from exact integer
    * moments (the agg_corr_exact discipline) — plus the mean Hamming
    * distance. High correlation certifies the sign codes as a retrieval
    * prefilter; a drop flags an embedding space that lost axis alignment.
    * Scale: probes broadcast; one candidate-side pass; sign codes are
    * bit-packed once per vector, so per-pair work is one XOR+popcount
    * plus the native-codegen dot product. */
  private val embSignFidelity = GraftQuery(
    "emb_sign_fidelity",
    "cosine-vs-sign-code agreement correlation over probe pairs",
    (s, d) => {
      val base = normalized(s, d)
      // Sign codes are PRE-PACKED once per vector into one 64-bit word —
      // exactly the artifact a binary-retrieval deployment stores — so the
      // pair loop (1M pairs here, corpus × probes at scale) does a single
      // XOR + popcount per pair instead of a 64-wide interpreted
      // zip/filter (HOF array expressions allocate per pair and sit
      // outside whole-stage codegen; the round-13 floor dropped ~2x).
      // Hamming values are bit-identical to the per-dimension compare.
      val coded = base.withColumn("code", expr(
        "aggregate(zip_with(v, sequence(0, 63), (x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"))
      val q = coded.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("code").as("qc"))
      val pairs = coded.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .select(
          bit_count(col("qc").bitwiseXOR(col("code"))).cast("long").as("ham"),
          floor(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")) * 1e6 + 0.5)
            .cast("long").as("cm"))
        .select(col("ham"), (lit(64L) - lit(2L) * col("ham")).as("sa"), col("cm"))
      pairs.agg(count(lit(1)).as("m"), sum("sa").as("sx"), sum("cm").as("sy"),
          sum(col("sa") * col("sa")).as("sxx"),
          sum(col("sa").cast("decimal(38,0)") * col("cm")).as("sxy"),
          sum(col("cm").cast("decimal(38,0)") * col("cm")).as("syy"),
          sum("ham").as("hs"))
        .select(col("m").as("n_pairs"),
          fround(col("hs").cast("double") / col("m"), 3).as("mean_hamming"),
          fround((col("m") * col("sxy") - col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
            sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("m") * col("syy") - col("sy").cast("decimal(38,0)") * col("sy")).cast("double")), 6)
            .as("cos_sign_corr"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), pr AS (SELECT CAST(len(list_filter([(qv[i] > 0) <> (c.v[i] > 0) for i in generate_series(1, 64)], b -> b)) AS BIGINT) AS ham, CAST(floor(list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) * 1000000.0 + 0.5) AS BIGINT) AS cm FROM q JOIN n c ON c.vec_id <> q.q_id), p2 AS (SELECT ham, 64 - 2 * ham AS sa, cm FROM pr), a AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(sa) AS BIGINT) AS sx, CAST(sum(cm) AS BIGINT) AS sy, CAST(sum(sa * sa) AS BIGINT) AS sxx, CAST(sum(CAST(sa AS HUGEINT) * cm) AS HUGEINT) AS sxy, CAST(sum(CAST(cm AS HUGEINT) * cm) AS HUGEINT) AS syy, CAST(sum(ham) AS BIGINT) AS hs FROM p2) SELECT m AS n_pairs, floor(CAST(hs AS DOUBLE) / m * 1e3 + 0.5) / 1e3 AS mean_hamming, floor(CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS cos_sign_corr FROM a"""))

  /** INTRINSIC DIMENSION by the TwoNN maximum-likelihood estimator
    * (Facco et al. 2017): d̂ = n / Σ ln(r₂/r₁) over each probe's two
    * nearest neighbors — embeddings nominally in R⁶⁴ usually live on a
    * much lower-dimensional manifold, and d̂ is the capacity/compression
    * diagnostic that says how much. On the unit sphere r² = 2−2cos, so
    * ln(r₂/r₁) = ½(ln(1−c₂) − ln(1−c₁)) rides the micro-nat integer
    * discipline; probes with a near-duplicate first neighbor
    * (c₁ ≥ 1−1e-9, ln → −∞) are excluded and counted. Rides the same
    * probe-broadcast scan as sim_knn_brute. */
  private val embIntrinsicDim = GraftQuery(
    "emb_intrinsic_dim",
    "TwoNN MLE intrinsic dimension from probe nearest-neighbor ratios",
    (s, d) => {
      val nn = bruteTopK(s, d, 50, 2)
        .groupBy("q_id")
        .agg(max(when(col("rnk") === 1, fround(col("cos"), 6))).as("c1"),
          max(when(col("rnk") === 2, fround(col("cos"), 6))).as("c2"))
      val scored = nn
        .withColumn("ok", col("c1") < 1.0 - 1e-9)
        .withColumn("lnm", when(col("ok"),
          floor((log(lit(1.0) - col("c2")) - log(lit(1.0) - col("c1"))) * 0.5 *
            1e6 + 0.5).cast("long")))
      scored.agg(count(lit(1)).as("n_probes"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_used"),
          sum(coalesce(col("lnm"), lit(0L))).as("sl"))
        .select(col("n_probes"), col("n_used"),
          fround(col("n_used").cast("double") * 1e6 /
            col("sl").cast("double"), 3).as("intrinsic_dim"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), bsc AS (SELECT bq.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(bq.qv, c.v)]) / (bq.qn * c.nrm) AS cos FROM bq JOIN n c ON c.vec_id <> bq.q_id), b2 AS (SELECT q_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos, rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM bsc) WHERE rnk <= 2), nn AS (SELECT q_id, max(CASE WHEN rnk = 1 THEN cos END) AS c1, max(CASE WHEN rnk = 2 THEN cos END) AS c2 FROM b2 GROUP BY 1), sc AS (SELECT q_id, c1 < 1.0 - 1e-9 AS ok, CASE WHEN c1 < 1.0 - 1e-9 THEN CAST(floor((ln(1.0 - c2) - ln(1.0 - c1)) * 0.5 * 1000000.0 + 0.5) AS BIGINT) END AS lnm FROM nn) SELECT count(*) AS n_probes, CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_used, floor(CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0 / CAST(sum(coalesce(lnm, 0)) AS DOUBLE) * 1e3 + 0.5) / 1e3 AS intrinsic_dim FROM sc"""))

  /** SIMPLIFIED SILHOUETTE per cluster: s = (b − a)/max(a, b) with a =
    * distance to the OWN (nearest) centroid and b = distance to the
    * nearest OTHER centroid — the clustering-quality score that the full
    * silhouette approximates at O(n·k) instead of O(n²) (the only form
    * that survives 100 TB). Distances come from the SAME micro-quantized
    * centroid base as emb_assign_purity (exact integer d²); the per-point
    * ratio micro-floors before the per-cluster mean, so no float ever
    * accumulates. */
  private val embSilhouette = GraftQuery(
    "emb_cluster_silhouette",
    "per-cluster simplified silhouette from the shared centroid base",
    (s, d) => {
      val mic = microDims(s, d)
      val dist = mic.join(broadcast(quantCentroids(s, d)), Seq("dim"))
        .groupBy("vec_id", "c_label")
        .agg(sum((col("micro") - col("c_micro")) *
          (col("micro") - col("c_micro"))).as("d2"))
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("c_label"))
      val ab = dist.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .groupBy("vec_id")
        .agg(max(when(col("rk") === 1, col("d2"))).as("a2"),
          max(when(col("rk") === 2, col("d2"))).as("b2"),
          max(when(col("rk") === 1, col("c_label"))).as("cl"))
      val scored = ab.withColumn("sm",
        when(greatest(col("a2"), col("b2")) > 0,
          floor((sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
            greatest(sqrt(col("a2").cast("double")), sqrt(col("b2").cast("double"))) *
            1e6 + 0.5).cast("long")).otherwise(lit(0L)))
      scored.groupBy(col("cl").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"), sum("sm").as("ss"))
        .select(col("cluster"), col("n_vecs"),
          fround(col("ss").cast("double") / (col("n_vecs") * 1e6), 4)
            .as("mean_silhouette"))
        .orderBy("cluster")
    },
    Some("""WITH mic AS (SELECT vec_id, dim, CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS micro FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS dim)), c AS (SELECT label AS c_label, dim, CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c_micro FROM (SELECT m.vec_id, e.label, m.dim, m.micro FROM mic m JOIN embeddings e ON e.vec_id = m.vec_id) GROUP BY 1, 2), d AS (SELECT m.vec_id, c.c_label, CAST(sum((m.micro - c.c_micro) * (m.micro - c.c_micro)) AS BIGINT) AS d2 FROM mic m JOIN c USING (dim) GROUP BY 1, 2), r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM d), ab AS (SELECT vec_id, max(CASE WHEN rk = 1 THEN d2 END) AS a2, max(CASE WHEN rk = 2 THEN d2 END) AS b2, max(CASE WHEN rk = 1 THEN c_label END) AS cl FROM r WHERE rk <= 2 GROUP BY 1), sc AS (SELECT cl, CASE WHEN greatest(a2, b2) > 0 THEN CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS sm FROM ab) SELECT cl AS cluster, count(*) AS n_vecs, floor(CAST(sum(sm) AS DOUBLE) / (count(*) * 1000000.0) * 1e4 + 0.5) / 1e4 AS mean_silhouette FROM sc GROUP BY 1 ORDER BY 1"""))

  /** NEAREST-NEIGHBOR MARGIN per probe: cos(NN₁) − cos(NN₂), the
    * retrieval-confidence signal (a wide margin means the top hit is
    * unambiguous; a sliver means reranking or abstention) — the
    * per-query companion to the corpus-level intrinsic-dimension and
    * recall evals, riding the same brute top-k scan with the shared
    * rounded-cosine tie-break. */
  private val knnMargin = GraftQuery(
    "sim_knn_margin",
    "top-1 vs top-2 cosine margin per probe (retrieval confidence)",
    (s, d) => bruteTopK(s, d, 50, 2)
      .groupBy("q_id")
      .agg(max(when(col("rnk") === 1, fround(col("cos"), 6))).as("c1"),
        max(when(col("rnk") === 2, fround(col("cos"), 6))).as("c2"),
        max(when(col("rnk") === 1, col("n_id"))).as("nn1"))
      .select(col("q_id"), col("nn1"), fround(col("c1"), 4).as("cos_top1"),
        fround(col("c2"), 4).as("cos_top2"),
        fround(col("c1") - col("c2"), 4).as("margin"))
      .orderBy("q_id"),
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), bsc AS (SELECT bq.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(bq.qv, c.v)]) / (bq.qn * c.nrm) AS cos FROM bq JOIN n c ON c.vec_id <> bq.q_id), b2 AS (SELECT q_id, n_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos, rnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM bsc) WHERE rnk <= 2), g AS (SELECT q_id, max(CASE WHEN rnk = 1 THEN cos END) AS c1, max(CASE WHEN rnk = 2 THEN cos END) AS c2, max(CASE WHEN rnk = 1 THEN n_id END) AS nn1 FROM b2 GROUP BY 1) SELECT q_id, nn1, floor(c1 * 1e4 + 0.5) / 1e4 AS cos_top1, floor(c2 * 1e4 + 0.5) / 1e4 AS cos_top2, floor((c1 - c2) * 1e4 + 0.5) / 1e4 AS margin FROM g ORDER BY q_id"""))

  /** RANK-STABILITY eval for dimension truncation — Spearman's ρ between
    * the full-64-dim ranking and the 16-dim-prefix ranking of each
    * probe's true top-20: the retrieval-quality companion to
    * sim_knn_matryoshka
    * (the serving path it justifies). Both rankings ride the shared
    * brute top-k scan + one prefix re-score of 20 rows per probe; ρ is
    * exact integer arithmetic (rank differences) until the final
    * division. */
  private val simRankSpearman = GraftQuery(
    "sim_rank_spearman",
    "Spearman rho: full-dim vs 16-dim-prefix ranking of each probe's top-20",
    (s, d) => {
      val top = bruteTopK(s, d, 50, 20)
      val e = normalized(s, d).withColumn("vPre", slice(col("v"), 1, 16))
        .withColumn("nPre", sqrt(expr("graft_dot(vPre, vPre)")))
      val qPre = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("vPre").as("qvPre"),
          col("nPre").as("qnPre"))
      val scored = top
        .join(e.select(col("vec_id").as("n_id"), col("vPre"), col("nPre")),
          Seq("n_id"))
        .join(broadcast(qPre), Seq("q_id"))
        .withColumn("cosPre",
          expr("graft_dot(qvPre, vPre)") / (col("qnPre") * col("nPre")))
      val wp = Window.partitionBy("q_id")
        .orderBy(fround(col("cosPre"), 6).desc, col("n_id"))
      scored.withColumn("prnk", row_number().over(wp))
        .withColumn("d2",
          ((col("rnk") - col("prnk")) * (col("rnk") - col("prnk"))).cast("long"))
        .groupBy("q_id")
        .agg(sum("d2").as("sd2"), count(lit(1)).cast("long").as("k"))
        .select(col("q_id"),
          fround(lit(1.0) - lit(6.0) * col("sd2") /
            (col("k") * (col("k") * col("k") - lit(1L))), 4)
            .as("spearman_rho"))
        .orderBy("q_id")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm, list_slice(v, 1, 16) AS vPre FROM e), n2 AS (SELECT vec_id, v, nrm, vPre, sqrt(list_sum([x*x for x in vPre])) AS nPre FROM n), q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, vPre AS qvPre, nPre AS qnPre FROM n2 WHERE vec_id % 50 = 0), sc AS (SELECT q.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(q.qv, c.v)]) / (q.qn * c.nrm) AS cos, list_sum([s[1]*s[2] for s in list_zip(q.qvPre, c.vPre)]) / (q.qnPre * c.nPre) AS cosPre FROM q JOIN n2 c ON c.vec_id <> q.q_id), rk AS (SELECT q_id, n_id, cosPre, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM sc), top AS (SELECT * FROM rk WHERE rnk <= 20), pk AS (SELECT q_id, rnk, row_number() OVER (PARTITION BY q_id ORDER BY floor(cosPre * 1000000.0 + 0.5) DESC, n_id) AS prnk FROM top), ag AS (SELECT q_id, CAST(sum((rnk - prnk) * (rnk - prnk)) AS BIGINT) AS sd2, CAST(count(*) AS BIGINT) AS k FROM pk GROUP BY 1) SELECT q_id, floor((1.0 - 6.0 * sd2 / (k * (k * k - 1))) * 1e4 + 0.5) / 1e4 AS spearman_rho FROM ag ORDER BY q_id"""))

  /** RECALL@k CURVE of the LSH index — the eval that actually sizes an
    * ANN deployment: mean recall over probes at k ∈ {1,3,5,10}, both
    * rankings computed once at depth 10 and every cutoff read from the
    * same pair join (no per-k re-scan). A probe whose LSH bucket holds
    * fewer than k candidates is penalized naturally (missing = not
    * retrieved), which is exactly the production failure mode bucket
    * sizing must answer for. */
  private val simRecallCurve = GraftQuery(
    "sim_recall_curve",
    "LSH mean recall@k vs brute truth for k in {1,3,5,10}",
    (s, d) => {
      import s.implicits._
      val b = bruteTopK(s, d, 50, 10)
        .select(col("q_id"), col("n_id"), col("rnk").as("brnk"))
      val l = lshTopK(s, d, 10)
        .select(col("q_id"), col("n_id"), col("rnk").as("lrnk"))
      val ks = Seq(1, 3, 5, 10).toDF("k")
      val hits = b.join(l, Seq("q_id", "n_id"))
        .crossJoin(broadcast(ks))
        .filter(col("brnk") <= col("k") && col("lrnk") <= col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_common"))
      val probes = b.filter(col("brnk") === 1)
        .agg(count(lit(1)).as("n_probes"))
      ks.join(hits, Seq("k"), "left_outer")
        .crossJoin(broadcast(probes))
        .select(col("k"), col("n_probes"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          fround(coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("k") * col("n_probes")), 4).as("mean_recall"))
        .orderBy("k")
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e), bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 50 = 0), bsc AS (SELECT bq.q_id, c.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(bq.qv, c.v)]) / (bq.qn * c.nrm) AS cos FROM bq JOIN n c ON c.vec_id <> bq.q_id), b10 AS (SELECT q_id, n_id, rnk AS brnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM bsc) WHERE rnk <= 10), proj AS (SELECT vec_id, p, list_sum([(CASE WHEN instr('0123456789abcdef', substr(md5(p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 1)) % 2 = 1 THEN 1.0 ELSE -1.0 END) * v[i] for i in generate_series(1, len(v))]) AS dp FROM n, (SELECT unnest(generate_series(0, 7)) AS p)), codes AS (SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code FROM proj GROUP BY 1), c2 AS (SELECT n.vec_id, n.v, n.nrm, codes.code FROM n JOIN codes USING (vec_id)), lq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, code AS qcode FROM c2 WHERE vec_id % 50 = 0), lsc AS (SELECT lq.q_id, c2.vec_id AS n_id, list_sum([s[1]*s[2] for s in list_zip(lq.qv, c2.v)]) / (lq.qn * c2.nrm) AS cos FROM lq JOIN c2 ON c2.code = lq.qcode AND c2.vec_id <> lq.q_id), l10 AS (SELECT q_id, n_id, rnk AS lrnk FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY floor(cos * 1000000.0 + 0.5) DESC, n_id) AS rnk FROM lsc) WHERE rnk <= 10), ks AS (SELECT unnest([1, 3, 5, 10]) AS k), hits AS (SELECT k, CAST(count(*) AS BIGINT) AS n_common FROM b10 JOIN l10 USING (q_id, n_id), ks WHERE brnk <= k AND lrnk <= k GROUP BY 1), pr AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM b10 WHERE brnk = 1) SELECT CAST(ks.k AS INTEGER) AS k, n_probes, coalesce(hits.n_common, 0) AS n_common, floor(CAST(coalesce(hits.n_common, 0) AS DOUBLE) / (ks.k * n_probes) * 1e4 + 0.5) / 1e4 AS mean_recall FROM ks LEFT JOIN hits ON hits.k = ks.k CROSS JOIN pr ORDER BY 1"""))

  val all: Seq[GraftQuery] = Seq(
    knnBrute, labelStats, knnLsh, knnMatryoshka, embCentroids,
    embDimProfile, embAssignPurity, dedupSemantic, embPrototypicality,
    simHubness, hardNegatives, embKmeansStep, embSimHistogram, embPcaPower,
    embPcaVar, embKmeansppSeed, simRecallEval, knnLabelAccuracy,
    embSignFidelity, embIntrinsicDim, embSilhouette, knnMargin,
    simRankSpearman, simRecallCurve)
}
