package graft.operators

import org.apache.spark.sql.SparkSession
import graft.{GraftQuery, Tables}

/** Training-data curation verbs over the documents/embeddings corpus — the
  * operations a 100 TB pretraining pipeline runs between raw crawl and
  * tokenizer: deterministic sampling (stratified, quota-per-source, global
  * shuffle), text normalization, length histograms, and int8 embedding
  * quantization. The reference has no corpus surface (its data model stops
  * at weather readings — SURVEY.md §1.2); these extend the engine the way
  * §2's "parity extras" do, each with a DuckDB oracle.
  *
  * Design rules shared by every verb here:
  *  - Sampling/shuffle keys are md5 of the stable row id — reproducible
  *    under corpus growth and rebalancing, never Math.random (a re-run must
  *    select the same rows or downstream caches/evals are invalidated).
  *  - Membership decisions are integer arithmetic on the hash (mod / hex
  *    string order), so Spark and DuckDB agree bit-for-bit.
  *  - Every verb is a narrow map or a single keyed shuffle over the corpus.
  */
object CurationOps {

  private def q(name: String, doc: String, tables: Seq[String], sparkSql: String,
                duckSql: String): GraftQuery =
    GraftQuery(name, doc,
      (s: SparkSession, d: String) => { Tables.register(s, d, tables); s.sql(sparkSql) },
      Some(duckSql))

  /** First 32 md5 bits of the doc id as a BIGINT — the shared lockstep
    * pair in GraftFunctions, spelled for the SQL entry path. */
  private val uSpark =
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
  private val uDuck =
    graft.functions.GraftFunctions.md5u32Sql("md5(CAST(doc_id AS VARCHAR))")

  /** Stratified hash sampling: per-language keep rates (majority language
    * downsampled less aggressively than the tail), membership = hash mod
    * rate. A pure narrow map over the corpus — the filter rides the scan,
    * no shuffle, and the kept set is stable under any repartitioning. */
  private val sampStratified = {
    def sql(u: String) =
      s"""SELECT doc_id, lang
         |FROM (SELECT doc_id, lang, $u AS u,
         |        CASE WHEN lang = 'en' THEN 2 ELSE 4 END AS rate
         |      FROM documents)
         |WHERE u % rate = 0
         |ORDER BY doc_id""".stripMargin
    q("samp_stratified",
      "deterministic stratified sampling: per-lang keep rates via md5 mod",
      Seq("documents"), sql(uSpark), sql(uDuck).replace("\n", " "))
  }

  /** Per-source quota: keep at most 5 docs per source, chosen by hash order
    * (not arrival order — a crawler's file order is an availability
    * artifact, hash order is a property of the data). One shuffle on
    * source; rank is tie-free because doc_id breaks md5 collisions. */
  private val sampQuota = {
    val sql =
      """SELECT doc_id, source, rk
        |FROM (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin
    q("samp_quota",
      "per-source quota sampling: top-5 per source in md5 order, window rank",
      Seq("documents"), sql,
      sql.replace("AS STRING", "AS VARCHAR").replace("\n", " "))
  }

  /** Deterministic global shuffle, prefix form: the first 200 positions of
    * the md5-ordered permutation. orderBy+limit compiles to
    * TakeOrderedAndProject (per-partition heaps + merge — no global sort),
    * and the row_number then runs over 200 rows, not the corpus. The full
    * permutation at scale is sortWithinPartitions on ranges of the same
    * key; the prefix is what an eval-split or smoke-batch consumes. */
  private val shufflePrefix = {
    // the OVER (ORDER BY ...) window is unpartitioned on purpose: it runs
    // over the 200-row LIMIT prefix — audited benign (see QuietLogs)
    def sql(strTy: String) =
      s"""SELECT row_number() OVER (ORDER BY h, doc_id) AS pos, doc_id, h
         |FROM (SELECT doc_id, md5(CAST(doc_id AS $strTy)) AS h
         |      FROM documents ORDER BY h, doc_id LIMIT 200)
         |ORDER BY pos""".stripMargin
    q("samp_shuffle_prefix",
      "deterministic global-shuffle prefix: top-200 by md5 order with positions",
      Seq("documents"), sql("STRING"), sql("VARCHAR").replace("\n", " "))
  }

  /** Stopword-strip normalization via array HOFs (filter over the token
    * array — no regex, so both engines run the identical lambda). Output
    * pins the cleaned text by fingerprint plus before/after token counts. */
  private val txtNormalize = {
    val sparkSql =
      """SELECT doc_id,
        |  md5(array_join(filter(split(lower(text), ' '),
        |                        t -> t NOT IN ('the', 'a')), ' ')) AS clean_fp,
        |  CAST(size(split(lower(text), ' ')) AS INT) AS n_tok,
        |  CAST(size(filter(split(lower(text), ' '),
        |                   t -> t NOT IN ('the', 'a'))) AS INT) AS n_tok_clean
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    val duckSql =
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(string_split(lower(text), ' '),
        |                                  t -> t NOT IN ('the', 'a')), ' ')) AS clean_fp,
        |  CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tok,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |                       t -> t NOT IN ('the', 'a'))) AS INT) AS n_tok_clean
        |FROM documents
        |ORDER BY doc_id""".stripMargin.replace("\n", " ")
    q("txt_normalize",
      "stopword-strip normalization: token-filter HOF, fingerprint + counts",
      Seq("documents"), sparkSql, duckSql)
  }

  /** Symmetric int8 quantization of embeddings — the storage format an ANN
    * serving tier actually holds. Per vector: scale = 127/max|x|, q_i =
    * floor(x*scale + 0.5) clamped to [-127,127]. All decisions are the same
    * double arithmetic in both engines (float32 -> double promotion is
    * exact); the quantized sum is an exact integer and pins every q_i. */
  private val embQuantize = {
    // shared arithmetic, spelled per dialect: sc = 127/max|x| over the
    // vector; q_i = clamp(floor(x*sc + 0.5)); q_sum pins every q_i exactly.
    // the scale is hoisted into a projection: lambdas don't CSE across
    // HOF calls, so inlining it would recompute the max-abs fold per use
    val sparkSql =
      """SELECT vec_id,
        |  CAST(floor(sc * 1e6 + 0.5) / 1e6 AS DOUBLE) AS scale_r,
        |  CAST(aggregate(transform(embedding,
        |         x -> greatest(-127.0, least(127.0,
        |                floor(CAST(x AS DOUBLE) * sc + 0.5)))),
        |       0D, (acc, v) -> acc + v) AS BIGINT) AS q_sum
        |FROM (SELECT vec_id, embedding,
        |        127.0 / array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS sc
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin
    val duckSql =
      """SELECT vec_id,
        |  CAST(floor(sc * 1e6 + 0.5) / 1e6 AS DOUBLE) AS scale_r,
        |  CAST(list_sum(list_transform(embedding,
        |         x -> greatest(-127.0, least(127.0,
        |                floor(CAST(x AS DOUBLE) * sc + 0.5))))) AS BIGINT) AS q_sum
        |FROM (SELECT vec_id, embedding,
        |        127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS sc
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin.replace("\n", " ")
    q("emb_quantize",
      "int8 symmetric quantization: per-vector scale + exact quantized checksum",
      Seq("embeddings"), sparkSql, duckSql)
  }

  /** Quality-weighted importance sampling — the DoReMi/CCNet reweighting
    * primitive: each document is kept with probability proportional to its
    * quality score (floor 0.2 so no stratum is fully zeroed), decided by
    * comparing a hash-derived uniform against the weight. Both sides of the
    * comparison are exact IEEE doubles built from integer ratios, so Spark
    * and DuckDB agree bit-for-bit; the kept set is reproducible under any
    * repartitioning. A pure narrow map (filter rides the scan — no
    * shuffle); at 100 TB this is the cheapest possible corpus pass. The
    * quality formula is the shared exact-ratio composite
    * (stopword/long-token/length-band, GraftFunctions.qualityScore). */
  private val sampImportance = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val oracle =
      s"""SELECT doc_id,
         |       CAST(floor(w * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS w,
         |       CAST(floor(u01 * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS u01
         |FROM (SELECT doc_id,
         |        0.2 + 0.8 * (stop_ratio * 0.3 + long_ratio * 0.4 + len_ok * 0.3) AS w,
         |        CAST(${md5u32Sql("md5('imp:' || CAST(doc_id AS VARCHAR))")} AS DOUBLE) / 4294967296.0 AS u01
         |      FROM (SELECT doc_id,
         |              CAST(len(list_filter(t, x -> x IN ($stopwordsSqlList))) AS DOUBLE) / len(t) AS stop_ratio,
         |              CAST(len(list_filter(t, x -> length(x) > 4)) AS DOUBLE) / len(t) AS long_ratio,
         |              CASE WHEN len(t) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.0 END AS len_ok
         |            FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)))
         |WHERE u01 < w
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")
    GraftQuery(
      "samp_importance",
      "quality-weighted importance sampling: keep-prob = 0.2 + 0.8*quality, hash uniform",
      // Column-API body so the weight derives from THE shared quality
      // composite (GraftFunctions.qualityScore) — the same definition
      // pipe_filter_gate gates on
      (s, d) => {
        // tokenize once (lambda filters are non-codegen; inline copies
        // re-split per reference)
        val t = col("t")
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"), impWeight(t).as("w"),
            impU01(col("doc_id")).as("u01"))
          .filter(col("u01") < col("w"))
          .select(col("doc_id"),
            fround(col("w"), 6).as("w"), fround(col("u01"), 6).as("u01"))
          .orderBy("doc_id")
      },
      Some(oracle))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score each document by the log-likelihood ratio of a TARGET-domain
    * hashed-n-gram distribution over the RAW pool's, the selection signal
    * a pretraining mixer uses to up-weight domain-relevant documents
    * without training a classifier. Features are hashed bigrams (md5 of
    * "w1 w2" mod 64 buckets — the paper's hashed n-gram reduction, sized
    * tiny so both engines replay the full model); the target here is the
    * corpus's `lang = 'en'` slice; both bucket distributions carry add-1
    * smoothing. Output: per-doc bigram count, total LLR, and the
    * length-normalized per-bigram average (micro-integer log terms,
    * floor-rounded in both engines — the txt_unigram_logprob contract).
    *
    * Scale shape: ONE tokenize+bigram pass collapses straight to the
    * (doc_id, bucket) count table (≤ 64 rows per doc — this is the only
    * corpus-sized shuffle); the 64-row bucket model and its 1-row totals
    * derive from that table and come BACK as broadcasts (fixed-size by
    * construction, not open-vocabulary — the closed 64-bucket space is
    * what makes the model broadcastable at any corpus size, the same
    * reason the paper hashes). No second corpus scan, no driver fold.
    * ln() determinism carries the accepted 1-ulp risk documented at
    * txt_unigram_logprob. */
  private val sampDsir = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val b64 = md5u32Sql("md5(w1 || ' ' || w2)")
    GraftQuery(
      "samp_dsir",
      "DSIR importance weights: hashed-bigram target/raw LLR per document",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), (col("lang") === "en").as("tgt"),
            tokens(col("text")).as("ts"))
        val bg = t
          .select(col("doc_id"), col("tgt"), col("ts"),
            posexplode(col("ts")).as(Seq("i", "w1")))
          .withColumn("w2", expr("try_element_at(ts, i + 2)"))
          .filter(col("w2").isNotNull)
          .select(col("doc_id"), col("tgt"),
            (md5u32(concat_ws(" ", col("w1"), col("w2"))) % 64).as("b"))
        // The hashed-feature table (doc, bucket) → count feeds THREE
        // consumers (raw distribution, target distribution via the same
        // aggregate, and the scoring join); exchange reuse does not
        // dedupe the nested-aggregate branches, so without memoization
        // the corpus is tokenized+hashed once per consumer. Persisting it
        // is also the paper's own shape: DSIR materializes hashed n-gram
        // features once, then fits and scores from the feature store —
        // at 100 TB this table is the ≤64-rows-per-doc artifact written
        // next to the corpus (the shingle-set/LSH-table precedent).
        val db = graft.PersistCache.getOrBuild(s, s"dsir-db:$d") {
          bg.groupBy("doc_id", "tgt", "b").agg(count(lit(1)).as("cnt"))
        }
        val dist = db.groupBy("b").agg(sum("cnt").as("cr"),
          sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("ct"))
        val tot = dist.agg(sum("cr").as("tr"), sum("ct").as("tt"))
        val lr = dist.crossJoin(broadcast(tot))
          .select(col("b"),
            floor(log(((col("ct") + 1).cast("double") / (col("tt") + 64)) /
                ((col("cr") + 1).cast("double") / (col("tr") + 64))) * 1e6 + 0.5)
              .cast("long").as("lrm"))
        db.join(broadcast(lr), Seq("b"))
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_bigrams"),
            sum(col("cnt") * col("lrm")).as("s"))
          .select(col("doc_id"), col("n_bigrams"),
            fround(col("s").cast("double") / 1e6, 4).as("dsir_llr"),
            fround(col("s").cast("double") / (col("n_bigrams") * 1e6), 4)
              .as("dsir_avg"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt, string_split(lower(text), ' ') AS ts FROM documents), bg AS (SELECT doc_id, tgt, $b64 % 64 AS b FROM (SELECT doc_id, tgt, ts[i] AS w1, ts[i+1] AS w2 FROM (SELECT doc_id, tgt, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM t))), db AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2, 3), dist AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr, CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS ct FROM db GROUP BY 1), tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM dist), lr AS (SELECT b, CAST(floor(ln(((ct + 1.0) / (tt + 64)) / ((cr + 1.0) / (tr + 64))) * 1000000.0 + 0.5) AS BIGINT) AS lrm FROM dist, tot) SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams, floor(CAST(sum(cnt * lrm) AS DOUBLE) / 1000000.0 * 1e4 + 0.5) / 1e4 AS dsir_llr, floor(CAST(sum(cnt * lrm) AS DOUBLE) / (sum(cnt) * 1000000.0) * 1e4 + 0.5) / 1e4 AS dsir_avg FROM db JOIN lr USING (b) GROUP BY 1 ORDER BY 1"""))
  }

  /** Weighted reservoir sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each row gets key ln(u)/w for a hash-derived uniform u and
    * weight w; the k largest keys are a weighted sample without
    * replacement — the exact shape a pretraining mixer uses to draw a
    * fixed-token budget where longer documents should be proportionally
    * likelier. Scale shape: the key is a narrow map over the scan and the
    * top-k is TakeOrderedAndProject (per-partition heaps + driver merge of
    * k-sized lists — no global sort, no shuffle of the corpus). The
    * hash-derived u makes the draw reproducible under repartitioning:
    * a re-run selects the same rows, so downstream caches stay valid.
    * ln() determinism across engines carries the same accepted 1-ulp risk
    * documented at txt_unigram_logprob. */
  private val sampWeightedReservoir = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    GraftQuery(
      "samp_weighted_reservoir",
      "weighted reservoir (A-ES): key = ln(u)/w, top-100 keys, no global sort",
      (s, d) => {
        // u in (0,1): +0.5 keeps u strictly positive (md5u32 can be 0, and
        // ln(0) = -inf would tie every zero-hash row at the bottom)
        val u01 = (md5u32(concat(lit("res:"), col("doc_id").cast("string")))
          .cast("double") + lit(0.5)) / lit(4294967296.0)
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").as("w"),
            (log(u01) / col("n_chars")).as("k"))
          .orderBy(desc("k"), col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("w"),
            fround(col("k") * lit(1000000.0), 4).as("key_micro"))
          .orderBy(desc("key_micro"), col("doc_id"))
      },
      Some(s"""SELECT doc_id, w, floor(k * 1000000.0 * 10000.0 + 0.5) / 10000.0 AS key_micro FROM (SELECT doc_id, n_chars AS w, ln((CAST(${md5u32Sql("md5('res:' || CAST(doc_id AS VARCHAR))")} AS DOUBLE) + 0.5) / 4294967296.0) / n_chars AS k FROM documents ORDER BY k DESC, doc_id LIMIT 100) ORDER BY key_micro DESC, doc_id"""))
  }

  /** Systematic (every k-th) sampling in md5 order — the stride design that
    * guarantees exactly ceil(n/k) rows and even coverage of the hash range
    * (plain mod-k sampling only hits the rate in expectation). The global
    * rank over (u, doc_id) is derived WITHOUT a single-partition window:
    * rows bucket by the hash's high byte (value-based, so the mapping is
    * data- and partitioning-independent), rank within buckets, and add the
    * broadcast cumulative bucket offsets — the distributed global-index
    * pattern. Scale: one keyed shuffle on bucket; the offset dim is 256
    * rows; widen the bucket width (u >> 20 → 4096 buckets) for more
    * parallelism at larger corpora. */
  private val sampSystematic = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{md5u32, md5u32Sql}
    GraftQuery(
      "samp_systematic",
      "every-10th stride sample in md5 order via bucketed global ranking",
      (s: SparkSession, d: String) => {
        val h = Tables.documents(s, d)
          .select(col("doc_id"), md5u32(col("doc_id").cast("string")).as("u"))
          .withColumn("bkt", shiftright(col("u"), 24))
        val offs = h.groupBy("bkt").count()
          .withColumn("off", coalesce(sum("count").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("bkt", "off")
        val wb = Window.partitionBy("bkt").orderBy("u", "doc_id")
        h.withColumn("rp", row_number().over(wb).cast("long"))
          .join(broadcast(offs), "bkt")
          .withColumn("rn", col("rp") + col("off"))
          .filter((col("rn") - 1) % 10 === 0)
          .select(col("rn"), col("doc_id"))
          .orderBy("rn")
      },
      Some(s"""WITH h AS (SELECT doc_id, ${md5u32Sql("md5(CAST(doc_id AS VARCHAR))")} AS u FROM documents), r AS (SELECT doc_id, row_number() OVER (ORDER BY u, doc_id) AS rn FROM h) SELECT rn, doc_id FROM r WHERE (rn - 1) % 10 = 0 ORDER BY rn"""))
  }

  val all: Seq[GraftQuery] = Seq(
    sampStratified, sampQuota, shufflePrefix, txtNormalize, embQuantize,
    sampImportance, sampDsir, sampWeightedReservoir, sampSystematic)
}
