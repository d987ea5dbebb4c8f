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
  *  - Every verb is a narrow map or a single keyed shuffle over the corpus,
  *    with ONE exception: samp_balanced_classes also re-scans the table for
  *    the minority class size (noted on the verb — size the I/O as 2x).
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

  /** Class-balanced downsampling: every label keeps exactly
    * min(class sizes) rows, selected by md5 hash order — the classifier-
    * training rebalance (majority classes downsampled to the minority
    * size) with the repo's reproducibility discipline: hash order is a
    * property of the data, so the kept set survives repartitioning and
    * corpus file reordering. One label-keyed window shuffle for the ranks;
    * the minority size is a |labels|-row aggregate broadcast into the
    * filter — computed by a SECOND scan of the table (the exception to this
    * file's one-pass rule: the ranked frame is not cached, so Spark reads
    * the source twice; at corpus scale persist the ranked frame or take
    * class sizes from table stats to pay the scan once). Deterministic
    * tie-break via vec_id on md5 collisions. */
  private val sampBalancedClasses = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    GraftQuery(
      "samp_balanced_classes",
      "downsample every label to the minority class size via md5 hash order",
      (s, d) => {
        val ranked = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            md5u32(concat(lit("bal:"), col("vec_id").cast("string"))).as("u"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("label")
              .orderBy(col("u"), col("vec_id"))))
        val m = ranked.groupBy("label").agg(count(lit(1)).as("n"))
          .agg(min("n").as("m"))
        ranked.crossJoin(broadcast(m))
          .filter(col("rn") <= col("m"))
          .select(col("label"), col("vec_id"))
          .orderBy("label", "vec_id")
      },
      Some(s"""WITH r AS (SELECT vec_id, label, row_number() OVER (PARTITION BY label ORDER BY ${md5u32Sql("md5('bal:' || CAST(vec_id AS VARCHAR))")}, vec_id) AS rn FROM embeddings), m AS (SELECT min(n) AS m FROM (SELECT label, count(*) AS n FROM r GROUP BY 1)) SELECT label, vec_id FROM r, m WHERE rn <= m ORDER BY 1, 2"""))
  }

  /** TEMPERATURE-SCALED mixture weights — the multilingual-pretraining
    * sampling rule (mBERT/XLM-R style): language k's sampling share is
    * c_k^alpha / sum_j c_j^alpha, here with alpha = 1/2 so the power is
    * sqrt — chosen deliberately: IEEE-754 requires sqrt to be correctly
    * rounded, so Java and C produce the SAME double bit-for-bit, unlike
    * pow(x, 0.7). The sqrt is then floor-rounded to integer micro-units
    * BEFORE summing, so the normalizer is an exact integer sum
    * (order-independent) and the shares/quotas are deterministic across
    * engines and partitionings. Quota = per-10000 allocation by integer
    * division (largest-remainder correction left to the caller, as real
    * samplers do).
    *
    * Scale shape: one map-side-combined count per language (|langs| rows),
    * then a 1-row normalizer broadcast back — the corpus is scanned once,
    * nothing corpus-sized shuffles. */
  private val sampTemperature = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.fround
    GraftQuery(
      "samp_temperature",
      "temperature-scaled (alpha=1/2) language mixture weights and per-10k quotas",
      (s, d) => {
        val byLang = Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("s_micro", floor(sqrt(col("n")) * 1e6 + 0.5).cast("long"))
        val tot = byLang.agg(sum("s_micro").as("tot"))
        byLang.crossJoin(broadcast(tot))
          .select(col("lang"), col("n"),
            fround(col("s_micro").cast("double") / col("tot"), 6).as("share"),
            expr("(s_micro * 10000) div tot").as("quota_10k"))
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n, CAST(floor(sqrt(count(*)) * 1000000.0 + 0.5) AS BIGINT) AS s_micro FROM documents GROUP BY 1), t AS (SELECT CAST(sum(s_micro) AS BIGINT) AS tot FROM c) SELECT lang, n, floor(CAST(s_micro AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0 AS share, (s_micro * 10000) // tot AS quota_10k FROM c, t ORDER BY 1"""))
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

  /** NEYMAN ALLOCATION of a 500-doc sample budget across sources — the
    * optimal-stratification rule n_h ∝ N_h·S_h (allocate by stratum size
    * TIMES within-stratum spread, not size alone), shown against the
    * proportional allocation it beats whenever variances differ.
    * Determinism: S_h comes from exact integer moments (Σx, Σx², N over
    * n_chars), each stratum's weight N_h·S_h floors to an integer
    * micro-unit BEFORE the cross-stratum total (floats never sum), and
    * the final seat counts use the same floor(x+0.5) spelling in both
    * engines. Scale: one map-side-combined moment pass over the corpus;
    * everything after is |sources| rows. */
  private val sampNeyman = {
    import org.apache.spark.sql.functions._
    GraftQuery(
      "samp_neyman_allocation",
      "Neyman vs proportional allocation of a 500-doc budget per source",
      (s, d) => {
        import graft.functions.GraftFunctions.fround
        val m = Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("nh"), sum("n_chars").as("sx"),
            sum(col("n_chars") * col("n_chars")).as("sxx"))
          .withColumn("sh", sqrt((col("sxx").cast("double") * col("nh") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("nh").cast("double") * col("nh").cast("double"))))
          .withColumn("wm", floor(col("nh") * col("sh") * 1e2 + 0.5).cast("long"))
        val tot = m.agg(sum("nh").as("nn"), sum("wm").as("wt"))
        m.crossJoin(broadcast(tot))
          .select(col("source"), col("nh").as("n_docs"),
            fround(col("sh"), 2).as("sd_chars"),
            floor(lit(500.0) * col("nh").cast("double") / col("nn") + 0.5)
              .cast("long").as("alloc_proportional"),
            floor(lit(500.0) * col("wm").cast("double") / col("wt") + 0.5)
              .cast("long").as("alloc_neyman"))
          .orderBy("source")
      },
      Some("""WITH m AS (SELECT source, count(*) AS nh, CAST(sum(n_chars) AS BIGINT) AS sx, CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx FROM documents GROUP BY 1), sh AS (SELECT *, sqrt((CAST(sxx AS DOUBLE) * nh - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE))) AS sh FROM m), w AS (SELECT *, CAST(floor(nh * sh * 1e2 + 0.5) AS BIGINT) AS wm FROM sh), t AS (SELECT CAST(sum(nh) AS BIGINT) AS nn, CAST(sum(wm) AS BIGINT) AS wt FROM w) SELECT source, nh AS n_docs, floor(sh * 1e2 + 0.5) / 1e2 AS sd_chars, CAST(floor(500.0 * CAST(nh AS DOUBLE) / nn + 0.5) AS BIGINT) AS alloc_proportional, CAST(floor(500.0 * CAST(wm AS DOUBLE) / wt + 0.5) AS BIGINT) AS alloc_neyman FROM w CROSS JOIN t ORDER BY source"""))
  }

  /** APPROXIMATE QUERY PROCESSING audit: total revenue estimated from the
    * deterministic 1% md5 sample (expansion estimator T̂ = Σ_sample·100)
    * next to the exact total, with the Bernoulli-sampling standard error
    * √((1−p)/p²·Σ_sample x²) — the "answer from the sample, know the
    * error" workflow that makes a 100 TB fact table interactively
    * queryable. All sums are exact integers (Σx² in DECIMAL(38,0) — centi
    * revenues square past 2^63); the only floats are the final ratios.
    * One pass computes both sample and exact legs (conditional
    * aggregation — the fact scans once). */
  private val sampAqp = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{centi, fround, md5u32, md5u32Sql}
    GraftQuery(
      "samp_aqp_revenue",
      "1%-sample expansion estimate of total revenue with standard error",
      (s, d) => {
        val inS = (md5u32(col("o_orderkey").cast("string")) % 100 === 0)
        Tables.orders(s, d)
          .select(centi(col("o_totalprice")).as("pc"),
            when(inS, 1L).otherwise(0L).as("ins"))
          .agg(sum("pc").as("exact_c"), sum("ins").as("n_sample"),
            sum(when(col("ins") === 1, col("pc")).otherwise(0L)).as("samp_c"),
            sum(when(col("ins") === 1, (col("pc") * col("pc")).cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("samp_sq"))
          .select(col("n_sample"),
            fround(col("samp_c").cast("double") * 100.0 / 100.0, 2).as("est_revenue"),
            fround(col("exact_c").cast("double") / 100.0, 2).as("exact_revenue"),
            fround((col("samp_c").cast("double") * 100.0 - col("exact_c").cast("double"))
              / col("exact_c").cast("double") * 100.0, 4).as("rel_err_pct"),
            fround(sqrt(lit(0.99) * lit(10000.0) * col("samp_sq").cast("double"))
              / 100.0, 2).as("std_error"))
      },
      Some(s"""WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc, CASE WHEN ${md5u32Sql("md5(CAST(o_orderkey AS VARCHAR))")} % 100 = 0 THEN 1 ELSE 0 END AS ins FROM orders), a AS (SELECT CAST(sum(pc) AS BIGINT) AS exact_c, CAST(sum(ins) AS BIGINT) AS n_sample, CAST(sum(CASE WHEN ins = 1 THEN pc ELSE 0 END) AS BIGINT) AS samp_c, sum(CASE WHEN ins = 1 THEN CAST(pc AS HUGEINT) * pc ELSE 0 END) AS samp_sq FROM o) SELECT n_sample, floor(CAST(samp_c AS DOUBLE) * 100.0 / 100.0 * 100.0 + 0.5) / 100.0 AS est_revenue, floor(CAST(exact_c AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS exact_revenue, floor((CAST(samp_c AS DOUBLE) * 100.0 - CAST(exact_c AS DOUBLE)) / CAST(exact_c AS DOUBLE) * 100.0 * 1e4 + 0.5) / 1e4 AS rel_err_pct, floor(sqrt(0.99 * 10000.0 * CAST(samp_sq AS DOUBLE)) / 100.0 * 100.0 + 0.5) / 100.0 AS std_error FROM a"""))
  }

  /** K-FOLD cross-validation assignment audit: folds are a pure function
    * of the doc id (md5 % 5 — the samp_hash_split discipline, so folds
    * are reproducible and disjoint by construction), and the audit
    * reports each fold's size and source balance (max/min source share
    * within the fold) — the check that CV folds don't accidentally
    * stratify by domain. One doc-keyed rollup; nothing shuffles twice. */
  private val sampKfold = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{fround, md5u32, md5u32Sql}
    GraftQuery(
      "samp_kfold_audit",
      "deterministic 5-fold CV assignment with per-fold source balance",
      (s, d) => {
        val f = Tables.documents(s, d)
          .select((md5u32(concat(lit("fold:"), col("doc_id").cast("string"))) % 5)
            .as("fold"), col("source"))
        val cell = f.groupBy("fold", "source").agg(count(lit(1)).as("c"))
        cell.groupBy("fold")
          .agg(sum("c").as("n_docs"), count(lit(1)).as("n_sources"),
            max("c").as("mx"), min("c").as("mn"))
          .select(col("fold"), col("n_docs"), col("n_sources"),
            fround(col("mx").cast("double") / col("n_docs"), 4)
              .as("max_source_share"),
            fround(col("mn").cast("double") / col("n_docs"), 4)
              .as("min_source_share"))
          .orderBy("fold")
      },
      Some(s"""WITH f AS (SELECT ${md5u32Sql("md5('fold:' || CAST(doc_id AS VARCHAR))")} % 5 AS fold, source FROM documents), cell AS (SELECT fold, source, count(*) AS c FROM f GROUP BY 1, 2) SELECT fold, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_sources, floor(CAST(max(c) AS DOUBLE) / sum(c) * 1e4 + 0.5) / 1e4 AS max_source_share, floor(CAST(min(c) AS DOUBLE) / sum(c) * 1e4 + 0.5) / 1e4 AS min_source_share FROM cell GROUP BY 1 ORDER BY 1"""))
  }

  /** TEMPERATURE SWEEP: the language mixture weights at α ∈ {1/4, 1/2,
    * 3/4, 1} from ONE count rollup — the knob-tuning curve
    * (dedup_threshold_curve discipline) for the single most-debated
    * pretraining constant. Every n^α is built from IEEE-exact sqrt
    * compositions (α=1/4 is sqrt∘sqrt, 3/4 is their product — sqrt is
    * correctly rounded in both engines, so no libm-pow divergence ever
    * enters), micro-floored before the per-alpha share totals. */
  private val sampTemperatureSweep = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.fround
    val alphas = Seq("0.25", "0.5", "0.75", "1.0")
    def wSql(a: String, n: String) = a match {
      case "0.25" => s"sqrt(sqrt($n))"
      case "0.5"  => s"sqrt($n)"
      case "0.75" => s"sqrt($n) * sqrt(sqrt($n))"
      case _      => s"CAST($n AS DOUBLE)"
    }
    GraftQuery(
      "samp_temperature_sweep",
      "language mixture shares at four sampling temperatures from one rollup",
      (s, d) => {
        val byLang = Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("n"))
        val legs = alphas.map { a =>
          val w = a match {
            case "0.25" => sqrt(sqrt(col("n")))
            case "0.5"  => sqrt(col("n"))
            case "0.75" => sqrt(col("n")) * sqrt(sqrt(col("n")))
            case _      => col("n").cast("double")
          }
          byLang.select(lit(a).as("alpha"), col("lang"), col("n"),
            floor(w * 1e6 + 0.5).cast("long").as("wm"))
        }
        val scored = legs.reduce(_.unionByName(_))
        val tot = scored.groupBy("alpha").agg(sum("wm").as("tot"))
        scored.join(broadcast(tot), Seq("alpha"))
          .select(col("alpha"), col("lang"), col("n"),
            fround(col("wm").cast("double") / col("tot"), 6).as("share"))
          .orderBy("alpha", "lang")
      },
      Some("WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1), sc AS (" +
        alphas.map(a =>
          s"SELECT '$a' AS alpha, lang, n, CAST(floor(${wSql(a, "n")} * 1000000.0 + 0.5) AS BIGINT) AS wm FROM c")
          .mkString(" UNION ALL ") +
        "), t AS (SELECT alpha, CAST(sum(wm) AS BIGINT) AS tot FROM sc GROUP BY 1) SELECT sc.alpha, lang, n, floor(CAST(wm AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS share FROM sc JOIN t ON sc.alpha = t.alpha ORDER BY 1, 2"))
  }

  /** PPS SYSTEMATIC sampling — inclusion probability proportional to
    * SIZE (n_chars), the token-mass-fair draw a corpus sampler wants
    * when documents differ 100× in length (uniform doc sampling
    * under-represents long docs' content): lay every doc's size on the
    * cumulative axis and take one doc per crossing of the 100-point
    * systematic grid. A doc is selected iff its cumulative interval
    * contains a grid point — floor(hi·100/T) > floor(lo·100/T), all
    * exact integers; docs longer than a stride can be picked with
    * multiplicity (reported). Scale: one doc-projection cumulative
    * window (the samp_systematic class), selection is a per-row integer
    * predicate. */
  private val sampPps = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.fround
    GraftQuery(
      "samp_pps_systematic",
      "size-proportional systematic sample: 100 grid points on the char axis",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val tot = Tables.documents(s, d).agg(sum("n_chars").as("tt"))
        val cum = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .withColumn("hi", sum("n_chars").over(w))
          .withColumn("lo", col("hi") - col("n_chars"))
          .crossJoin(broadcast(tot))
          .withColumn("mult",
            expr("(hi * 100) div tt") - expr("(lo * 100) div tt"))
        cum.filter(col("mult") > 0)
          .select(col("doc_id"), col("n_chars"), col("mult").as("multiplicity"))
          .orderBy("doc_id")
      },
      Some("""WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tt FROM documents), c AS (SELECT doc_id, n_chars, CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM documents), m AS (SELECT doc_id, n_chars, (hi * 100) // tt - ((hi - n_chars) * 100) // tt AS mult FROM c CROSS JOIN tot) SELECT doc_id, n_chars, mult AS multiplicity FROM m WHERE mult > 0 ORDER BY doc_id"""))
  }

  /** TEMPORAL train/test SPLIT with a purge gap, vs the user-hash split —
    * the leakage audit behind every time-series eval: a purely temporal
    * cut (train < Jan 20, 2-day embargo, test ≥ Jan 22) keeps the same
    * USERS on both sides (user-level leakage: models memorize user
    * idiosyncrasy, eval overstates), while the hash split is
    * user-disjoint by construction but loses the temporal
    * out-of-distribution test. One row per strategy with event/user
    * censuses and the leak fraction — the numbers that decide which
    * split a given eval needs. One user-keyed aggregation feeds both
    * strategy rows. */
  private lazy val sampTemporalSplit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    GraftQuery(
      "samp_temporal_split",
      "temporal-with-purge-gap vs user-hash split: sizes + leakage audit",
      (s, d) => {
        val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
        val t2 = lit("2024-01-22 00:00:00").cast("timestamp")
        val perUser = Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            sum(when(col("ts") < t1, 1L).otherwise(0L)).as("n_pre"),
            sum(when(col("ts") >= t2, 1L).otherwise(0L)).as("n_post"),
            count(lit(1)).as("n_all"))
          .withColumn("is_test_user",
            md5u32(col("user_id").cast("string")) % 5 === 0)
        val temporal = perUser.agg(
          lit("temporal_gap").as("strategy"),
          sum("n_pre").as("n_train_events"),
          sum("n_post").as("n_test_events"),
          (sum("n_all") - sum("n_pre") - sum("n_post")).as("n_dropped_events"),
          sum(when(col("n_pre") > 0, 1L).otherwise(0L)).as("users_train"),
          sum(when(col("n_post") > 0, 1L).otherwise(0L)).as("users_test"),
          sum(when(col("n_pre") > 0 && col("n_post") > 0, 1L).otherwise(0L))
            .as("users_both"))
        val byHash = perUser.agg(
          lit("user_hash").as("strategy"),
          sum(when(!col("is_test_user"), col("n_all")).otherwise(0L))
            .as("n_train_events"),
          sum(when(col("is_test_user"), col("n_all")).otherwise(0L))
            .as("n_test_events"),
          lit(0L).as("n_dropped_events"),
          sum(when(!col("is_test_user"), 1L).otherwise(0L)).as("users_train"),
          sum(when(col("is_test_user"), 1L).otherwise(0L)).as("users_test"),
          lit(0L).as("users_both"))
        temporal.union(byHash)
          .withColumn("leak_frac",
            fround(col("users_both").cast("double") /
              greatest(col("users_test"), lit(1L)), 4))
          .orderBy("strategy")
      },
      Some(s"""WITH pu AS (SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre, CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_post, CAST(count(*) AS BIGINT) AS n_all, ${graft.functions.GraftFunctions.md5u32Sql("md5(CAST(user_id AS VARCHAR))")} % 5 = 0 AS is_test_user FROM events GROUP BY user_id), rows2 AS (SELECT 'temporal_gap' AS strategy, CAST(sum(n_pre) AS BIGINT) AS n_train_events, CAST(sum(n_post) AS BIGINT) AS n_test_events, CAST(sum(n_all) - sum(n_pre) - sum(n_post) AS BIGINT) AS n_dropped_events, CAST(sum(CASE WHEN n_pre > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_train, CAST(sum(CASE WHEN n_post > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_test, CAST(sum(CASE WHEN n_pre > 0 AND n_post > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_both FROM pu UNION ALL SELECT 'user_hash', CAST(sum(CASE WHEN NOT is_test_user THEN n_all ELSE 0 END) AS BIGINT), CAST(sum(CASE WHEN is_test_user THEN n_all ELSE 0 END) AS BIGINT), 0, CAST(sum(CASE WHEN NOT is_test_user THEN 1 ELSE 0 END) AS BIGINT), CAST(sum(CASE WHEN is_test_user THEN 1 ELSE 0 END) AS BIGINT), 0 FROM pu) SELECT *, floor(CAST(users_both AS DOUBLE) / greatest(users_test, 1) * 1e4 + 0.5) / 1e4 AS leak_frac FROM rows2 ORDER BY strategy"""))
  }

  val all: Seq[GraftQuery] = Seq(
    sampStratified, sampQuota, shufflePrefix, txtNormalize, embQuantize,
    sampImportance, sampDsir, sampWeightedReservoir, sampBalancedClasses,
    sampTemperature, sampSystematic, sampNeyman, sampAqp, sampKfold,
    sampTemperatureSweep, sampPps, sampTemporalSplit)
}
