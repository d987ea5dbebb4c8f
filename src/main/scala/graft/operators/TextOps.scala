package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, language-ID heuristic, fingerprinting,
  * n-gram frequencies. All are single-pass, codegen'd column expressions —
  * per-row work with no shuffle until the final (small) aggregate, so they
  * scale embarrassingly parallel over document shards.
  */
object TextOps {
  private val stopwords = graft.functions.GraftFunctions.stopwords

  /** Per-invocation suffix for [[bloomCandidates]]' temp view names. */
  private val bloomViewNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  /** ONE definition of the language predictor per engine — shared by
    * txt_langid (the per-doc table) and txt_langid_confusion (its rollup),
    * so the matrix can never summarize a different classifier than the
    * table it claims to fold. */
  private val langEnHits =
    size(filter(tokens(col("text")),
      x => x.isInCollection(Seq("the", "a", "of"))))
  private val langPredicted =
    when(langEnHits >= 1, lit("en")).otherwise(lit("und"))
  private val langEnHitsSql =
    """list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a', 'of'))"""
  private val langPredictedSql =
    s"""CASE WHEN len($langEnHitsSql) >= 1 THEN 'en' ELSE 'und' END"""

  /** Token / char counting (whitespace tokenizer). */
  private val tokenStats = GraftQuery(
    "txt_token_stats",
    "token count, char count, avg token length per document",
    (s, d) => {
      val t = tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(t).as("n_tok"),
        length(col("text")).as("n_char"),
        fround(length(regexp_replace(col("text"), " ", "")).cast("double") / size(t), 4)
          .as("avg_tok_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tok, CAST(length(text) AS INTEGER) AS n_char, floor(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')) * 10000.0 + 0.5) / 10000.0 AS avg_tok_len FROM documents ORDER BY doc_id"""))

  /** Marker-token language-ID heuristic. The synthetic corpus is English-
    * vocabulary for every `lang` label, so the heuristic's *accuracy* is
    * data-limited; the operator (marker scoring + argmax classification)
    * is what's under test. */
  private val langId = GraftQuery(
    "txt_langid",
    "n-gram/marker language-ID heuristic with confidence",
    (s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        langEnHits.as("en_hits"),
        langPredicted.as("predicted"),
        col("lang").as("labeled"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, CAST(len($langEnHitsSql) AS INTEGER) AS en_hits, $langPredictedSql AS predicted, lang AS labeled FROM documents ORDER BY doc_id"""))

  /** Content fingerprint (md5 of normalized text) per doc — the building
    * block for exact dedup (DedupOps.dedupExact groups on it). */
  private val fingerprint = GraftQuery(
    "txt_fingerprint",
    "document fingerprinting: md5 over normalized text",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id"""))

  /** Corpus-level n-gram frequency: top-20 token trigrams. */
  private val topNgrams = GraftQuery(
    "txt_top_ngrams",
    "explode token 3-grams, count, top-20",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      Tables.documents(s, d)
        .selectExpr("graft_shingles(lower(text), 3) AS ngram")
      }
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("ngram"))
      .limit(20),
    Some("""SELECT ngram, count(*) AS cnt FROM (SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, greatest(len(t) - 2, 0))]) AS ngram FROM (SELECT string_split(lower(text), ' ') AS t FROM documents)) GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20"""))

  /** Repetition quality signal (the C4/Gopher-style "repetitive document"
    * filter): fraction of duplicate token 2-grams and the share of the
    * single most frequent 2-gram. A document is ONE row, so the whole
    * census is row-local arithmetic: the native
    * [[graft.functions.expressions.RepetitionStats]] generator folds
    * (total, distinct, top-count) in one pass over each row — ZERO
    * exchanges at any corpus size, vs. the composable spelling's two
    * corpus-wide shuffles keyed on gram strings (explode → groupBy(doc,
    * gram) → groupBy(doc)). Docs with fewer than two tokens have no
    * 2-grams (the generator emits no row) and drop out in BOTH engines
    * (no 0/0). */
  private val repetition = GraftQuery(
    "txt_repetition",
    "repeated 2-gram ratio + top-gram share per document (repetition filter)",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      Tables.documents(s, d)
        .selectExpr("doc_id", "graft_repetition_stats(lower(text), 2)")
        .select(col("doc_id"), col("n_grams").as("n_2gram"), col("n_uniq"),
          fround(lit(1.0) - col("n_uniq").cast("double") / col("n_grams"), 4)
            .as("rep_ratio"),
          fround(col("top_n").cast("double") / col("n_grams"), 4).as("top_share"))
        .orderBy("doc_id")
    },
    Some("""WITH g AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, greatest(len(t) - 1, 0))]) AS sh FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)), c AS (SELECT doc_id, sh, count(*) AS n FROM g GROUP BY 1, 2), a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2gram, CAST(count(*) AS BIGINT) AS n_uniq, max(n) AS top_n FROM c GROUP BY 1) SELECT doc_id, n_2gram, n_uniq, floor((1.0 - CAST(n_uniq AS DOUBLE) / n_2gram) * 10000.0 + 0.5) / 10000.0 AS rep_ratio, floor(CAST(top_n AS DOUBLE) / n_2gram * 10000.0 + 0.5) / 10000.0 AS top_share FROM a ORDER BY doc_id"""))

  /** Benchmark decontamination — the n-gram-overlap check every serious
    * training-data pipeline runs before shipping a corpus: flag training
    * documents sharing n-grams with a held-out evaluation set. The split
    * here is synthetic (`doc_id % 100 = 0` stands in for the eval
    * benchmark); production swaps in the real benchmark table and a longer
    * n (8-13 grams) — this corpus's tiny vocabulary makes 4-grams already
    * selective (11 flagged pairs at sf0.01).
    *
    * Scale shape: eval sets are benchmark-sized (thousands of docs) while
    * the train side is the full corpus, so the eval shingle set is
    * broadcast and the check is one narrow pass over train shingles + a
    * (train,eval)-keyed aggregation — the corpus never shuffles on the
    * shingle. The shingle table is the same cached set the dedup family
    * materializes, so decontamination rides an artifact the pipeline
    * already paid for. */
  /** Eval-side broadcast gate for the decontamination family. The hint is
    * scale-correct ONLY under the documented "eval sets are
    * benchmark-sized" contract above — as spelled, the eval split is a
    * FRACTION of the corpus and grows with it. This knob lets an operator
    * with an oversized eval set drop the hint
    * (`spark.graft.decontam.broadcastEval=false`): the join then shuffles
    * both sides and AQE remains free to runtime-broadcast from OBSERVED
    * sizes — a size-informed call, not a promise. Results are identical
    * either way (Round10OpsSpec pins it); only the plan shape moves. */
  private def maybeBroadcastEval(ev: DataFrame): DataFrame =
    if (ev.sparkSession.conf
        .get("spark.graft.decontam.broadcastEval", "true").toBoolean)
      broadcast(ev)
    else ev

  private val decontaminate = GraftQuery(
    "txt_decontaminate",
    "flag train docs sharing 4-grams with the held-out eval split",
    (s, d) => {
      val sh = DedupOps.shingles4(s, d)
      val ev = sh.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("eval_id"), col("sh"))
      val tr = sh.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("train_id"), col("sh"))
      tr.join(maybeBroadcastEval(ev), Seq("sh"))
        .groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("train_id", "eval_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] for i in generate_series(1, greatest(len(toks) - 3, 0))]) AS sh FROM t), ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 100 = 0), tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id % 100 <> 0) SELECT train_id, eval_id, count(*) AS n_shared FROM tr JOIN ev USING (sh) GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Boilerplate-span detection (the header/footer/template filter of a
    * web-corpus pipeline): a 3-gram span is "boilerplate" when it appears
    * in >= 5 distinct documents; each doc reports how much of it is made of
    * such spans. Rides the SAME cached distinct-3-gram table as
    * dedup_minhash (PersistCache key shingles3), so the pipeline pays the
    * shingling once for dedup + boilerplate + tfidf-style stats.
    *
    * Scale shape: document frequency comes from a count window over the
    * `sh` partitioning of the one materialized shingle table — one shuffle
    * keyed on the shingle, bounded per partition by corpus doc-frequency —
    * then one doc_id-keyed rollup. No corpus self-join anywhere (the naive
    * spelling joins the df table back to the shingle table: same result,
    * twice the shuffled bytes). Docs with < 3 tokens have no 3-grams and
    * drop out in both engines (txt_repetition precedent). */
  private val boilerplate = GraftQuery(
    "txt_boilerplate",
    "per-doc boilerplate share from cross-doc repeated 3-gram spans (df >= 5)",
    (s, d) => {
      val sh = DedupOps.shingles3(s, d)
      sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_spans"), col("n_boiler"),
          fround(col("n_boiler").cast("double") / col("n_spans"), 4)
            .as("boiler_share"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, greatest(len(toks) - 2, 0))]) AS sh FROM t), w AS (SELECT doc_id, count(*) OVER (PARTITION BY sh) AS df FROM sh), a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler FROM w GROUP BY 1) SELECT doc_id, n_spans, n_boiler, floor(CAST(n_boiler AS DOUBLE) / n_spans * 10000.0 + 0.5) / 10000.0 AS boiler_share FROM a ORDER BY doc_id"""))

  /** Bloom sketch sizing: 2^17 expected eval n-grams at 1% fp — the
    * standard -n·ln(p)/ln(2)² bit count ≈ 1.26 Mbit ≈ 154 KB,
    * broadcast-trivial even when the eval set is millions of n-grams. */
  private val bloomItems: Long = 1L << 17
  private val bloomBits: Long =
    math.ceil(-bloomItems * math.log(0.01) / (math.log(2) * math.log(2))).toLong

  /** Train-side shingles surviving the Bloom prefilter — exposed so the
    * spec can assert the sketch actually prunes (candidates << train).
    *
    * The sketch is built IN-PLAN by Spark's own BloomFilterAggregate
    * (exposed as `graft_bloom_agg` — a partial-aggregatable
    * TypedImperativeAggregate, so per-partition sketches merge map-side and
    * only sketch bytes reach the driver) and probed by
    * BloomFilterMightContain (`graft_might_contain`, whole-stage codegen)
    * through a scalar subquery: no eager driver-coordinated build, no
    * driver-side cache to invalidate, no Scala UDF on the probe path. */
  private[graft] def bloomCandidates(s: SparkSession, d: String): DataFrame = {
    graft.functions.expressions.GraftExpressions.ensureRegistered(s)
    // view name is corpus-dir-keyed (HttpIngest spool-token precedent)
    // PLUS a per-invocation nonce: with a dir-only name, two concurrent
    // same-corpus builders could interleave A's dropTempView between B's
    // create and B's sql() — TABLE_OR_VIEW_NOT_FOUND on a correct program.
    // The nonce makes every create/drop pair private to its invocation.
    val view = "graft_sh4_" +
      java.util.UUID.nameUUIDFromBytes(d.getBytes("UTF-8")).toString.replace("-", "").take(12) +
      "_" + bloomViewNonce.incrementAndGet()
    DedupOps.shingles4(s, d).createOrReplaceTempView(view)
    val df = s.sql(
      s"""WITH bf AS (SELECT graft_bloom_agg(xxhash64(sh), CAST($bloomItems AS BIGINT), CAST($bloomBits AS BIGINT)) AS bf
         |            FROM $view WHERE doc_id % 100 = 0)
         |SELECT doc_id AS train_id, sh
         |FROM $view
         |WHERE doc_id % 100 <> 0
         |  AND graft_might_contain((SELECT bf FROM bf), xxhash64(sh))""".stripMargin)
    // sql() resolves the view into the plan eagerly, so the view can be
    // dropped immediately — a query builder must not leak catalog entries
    s.catalog.dropTempView(view)
    df
  }

  /** Decontamination with a Bloom prefilter — the 100 TB shape of
    * txt_decontaminate. There the eval SHINGLE SET broadcasts into a hash
    * join against every train shingle; here the train scan is first gated
    * by a ~150 KB Bloom sketch of eval n-gram hashes, so the join (and the
    * shuffle feeding the overlap aggregation) sees only the ~|overlap| +
    * fp-rate fraction of train shingles instead of all of them. False
    * positives cannot leak into the answer: survivors still pass the exact
    * broadcast join on the shingle itself — which is why this query shares
    * txt_decontaminate's DuckDB oracle verbatim. Build and probe are both
    * native Catalyst expressions (see [[bloomCandidates]]); the whole
    * pipeline — sketch, gate, exact join — is one plan with no UDF. */
  private val decontaminateBloom = GraftQuery(
    "txt_decontaminate_bloom",
    "bloom-sketch-prefiltered decontamination, exact-verified (oracle = exact)",
    (s, d) => {
      val ev = DedupOps.shingles4(s, d).filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("eval_id"), col("sh"))
      bloomCandidates(s, d)
        .join(maybeBroadcastEval(ev), Seq("sh"))
        .groupBy("train_id", "eval_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("train_id", "eval_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), sh AS (SELECT DISTINCT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] for i in generate_series(1, greatest(len(toks) - 3, 0))]) AS sh FROM t), ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 100 = 0), tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id % 100 <> 0) SELECT train_id, eval_id, count(*) AS n_shared FROM tr JOIN ev USING (sh) GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Vocabulary building — the tokenizer-training precursor: global token
    * frequencies with document frequency, corpus share, and cumulative
    * coverage of the top-K. One map-side-combined aggregation over the
    * exploded tokens (groupBy(tok) folds to vocab size per partition before
    * the shuffle); the corpus total is summed from the vocab table itself —
    * never a second scan of the raw text. Top-K compiles to
    * TakeOrderedAndProject (per-partition heaps, no global sort) and the
    * cumulative window then runs over K rows, not the vocabulary.
    * Reference analog: the per-key frequency rollups the aggregation plane
    * serves (AggregationActor.scala:43-60), lifted to corpus vocabulary. */
  private val vocabTopK = GraftQuery(
    "txt_vocab_topk",
    "vocabulary top-50: token freq, doc freq, corpus share, cumulative coverage",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
      // corpus token total from the (small) vocab table, not a rescan
      val total = vocab.agg(sum("cnt").as("total"))
      val top = vocab.orderBy(desc("cnt"), col("tok")).limit(50)
      // unpartitioned on purpose: runs over the 50-row top-K, not the
      // vocabulary — audited benign (see QuietLogs)
      val w = Window.orderBy(desc("cnt"), col("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(Window.orderBy(desc("cnt"), col("tok"))))
        .withColumn("share", col("cnt").cast("double") / col("total"))
        .withColumn("cum_share", sum(col("cnt")).over(w).cast("double") / col("total"))
        .select(col("rk"), col("tok"), col("cnt"), col("df"),
          fround(col("share"), 6).as("share"),
          fround(col("cum_share"), 6).as("cum_share"))
        .orderBy("rk")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), v AS (SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v), top AS (SELECT * FROM v ORDER BY cnt DESC, tok LIMIT 50) SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rk, tok, cnt, df, floor(CAST(cnt AS DOUBLE) / total * 1000000.0 + 0.5) / 1000000.0 AS share, floor(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total * 1000000.0 + 0.5) / 1000000.0 AS cum_share FROM top CROSS JOIN t ORDER BY rk"""))

  /** The sketch twin of [[vocabTopK]] — mergeable Misra-Gries heavy
    * hitters as a native TypedImperativeAggregate (see
    * functions/expressions/MisraGries.scala). Exact vocabulary counting
    * shuffles every distinct token to its reduce partition; the sketch
    * moves exactly k counters per partition whatever the vocabulary size,
    * the same partial-agg shape as `agg_hll_rollup`'s HLL sketches. k=16
    * (< the corpus's 31-token vocabulary) so the eviction/merge machinery
    * actually runs at test scale; production sizes k in the thousands.
    * This synthetic corpus is near-uniform, so every count sits BELOW the
    * n/(k+1) presence threshold — the heavy-hitter guarantee is
    * data-limited here (txt_langid precedent: the operator is what's
    * under test); FreqSketchSpec proves the guarantee on a skewed input.
    * No SQL oracle (survivor identity below the threshold is
    * merge-order-dependent); the spec asserts the universal MG bounds
    * est <= true <= est + max_undercount and max_undercount <= n/(k+1)
    * against exact counts.
    *
    * Bench note: at this toy 31-token vocabulary wall clock is a wash
    * (0.3-1.7s depending on scan-cache warmth; the object-aggregate
    * update is interpreted where exact counting is a codegen'd hash
    * aggregate, but the exact path pays a vocabulary-wide shuffle). The
    * sketch's structural win is SHUFFLE BYTES: k counters per partition
    * vs one row per distinct token, which is what matters when the
    * vocabulary (n-grams, URLs, ids) is billions-cardinality and the
    * exact shuffle IS the bottleneck — same trade Spark's own hll/approx
    * sketches make. */
  private val vocabSketch = GraftQuery(
    "txt_vocab_sketch",
    "mergeable Misra-Gries heavy-hitter vocabulary (k=16) with undercount certificate",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .selectExpr("graft_freq_sketch(tok, 16, 10) AS items")
        .select(posexplode(col("items")).as(Seq("pos", "it")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("it.token").as("token"),
          col("it.est_cnt").as("est_cnt"),
          col("it.max_undercount").as("max_undercount"),
          col("it.n_tokens").as("n_tokens"))
        .orderBy("rk")
    },
    None, boundedBy = Some("FreqSketchSpec"))

  /** THE shared unigram-LM scoring pipeline (txt_unigram_logprob +
    * txt_ppl_buckets — one implementation, so a determinism fix lands in
    * one place). The perplexity-proxy quality signal: CCNet trains a real
    * LM; the unigram model is its exact-arithmetic skeleton. Per doc,
    * (n_tok, lp_sum) where lp_sum is the BIGINT sum of per-token
    * micro-unit log-probs under the corpus's own unigram distribution —
    * order-independent, unlike a double sum whose partial-aggregation
    * order Spark does not fix. `extra` columns (e.g. lang) are carried
    * through the grouping. Scale shape: one vocab aggregation (map-side
    * combined), the open-vocabulary model SHUFFLE-joined back onto the
    * token stream (never a broadcast hint — AQE may still broadcast from
    * observed sizes), one doc-keyed aggregation.
    * Lockstep rounding (see GraftFunctions.fround):
    * floor(x*1e6 + 0.5) spelled identically in both engines — Spark's
    * round() goes through BigDecimal HALF_UP on the shortest decimal
    * string and can disagree with DuckDB's round() on boundary doubles.
    * ACCEPTED RISK (deliberate): ln() itself is libm, not IEEE-exact —
    * Java Math.log and DuckDB std::log could differ by 1 ulp, and a
    * disagreeing ulp landing EXACTLY on a .5 micro-unit boundary would
    * flip the floor. Both are correctly-rounded to well under 1 ulp and
    * have matched on every (cnt,total) pair across all three SFs
    * (txt_unigram_logprob's per-token ln terms); a corpus that ever trips
    * this will surface as a hash mismatch in the driver gate, and the
    * fallback is to micro-round cnt/total BEFORE the ln on both sides —
    * applied HERE and in [[lpPerDocCtes]], nowhere else. */
  private def lpPerDoc(s: SparkSession, d: String, extra: Seq[String]) = {
    val keep = col("doc_id") +: extra.map(col)
    val tok = Tables.documents(s, d)
      .select(keep :+ explode(tokens(col("text"))).as("tok"): _*)
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    // the unigram model is OPEN-vocabulary (10⁸–10⁹ rows at corpus
    // scale) so it reaches the token stream by a plain SHUFFLED join —
    // never a broadcast hint (the txt_pmi_collocations lesson); the only
    // forced broadcast is the 1-row total. AQE may still broadcast the
    // vocab at runtime from OBSERVED sizes — size-informed, not hinted.
    tok.join(vocab, Seq("tok")).crossJoin(broadcast(total))
      .select(keep :+
        floor(log(col("cnt").cast("double") / col("total")) * 1e6 + 0.5)
          .cast("long").as("lp_micro"): _*)
      .groupBy("doc_id", extra: _*)
      .agg(count(lit(1)).as("n_tok"), sum("lp_micro").as("lp_sum"))
  }

  /** Oracle twin of [[lpPerDoc]] — CTEs ending in
    * pd(doc_id[, extra], n_tok, lp_sum). `extra` is "" or ", lang" etc.;
    * keep the two in lockstep (same micro-rounding, same ln risk note). */
  private def lpPerDocCtes(extra: String): String =
    s"tok AS (SELECT doc_id$extra, unnest(string_split(lower(text), ' ')) AS tok FROM documents), " +
      "v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1), " +
      "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v), " +
      s"pd AS (SELECT doc_id$extra, count(*) AS n_tok, CAST(sum(CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS lp_sum FROM tok JOIN v USING (tok) CROSS JOIN t GROUP BY doc_id$extra)"

  private val unigramLogprob = GraftQuery(
    "txt_unigram_logprob",
    "unigram-LM avg log-prob per doc (perplexity-proxy quality signal)",
    (s, d) => lpPerDoc(s, d, Nil)
      .select(col("doc_id"), col("n_tok"),
        fround(col("lp_sum").cast("double") / (col("n_tok") * 1e6), 4)
          .as("avg_logprob"))
      .orderBy("doc_id"),
    Some("WITH " + lpPerDocCtes("") +
      " SELECT doc_id, n_tok, floor(CAST(lp_sum AS DOUBLE) / (n_tok * 1000000.0) * 10000.0 + 0.5) / 10000.0 AS avg_logprob FROM pd ORDER BY doc_id"))

  /** Per-document NOVELTY — the share of a doc's 4-gram shingles that
    * appear in no other document. The dedup diagnostic that separates
    * "this doc is boilerplate recombination" (novelty ≈ 0, every shingle
    * shared) from "genuinely new text" (novelty ≈ 1) — the doc-level twin
    * of the pair-level Jaccard/containment metrics, and a standard keep-
    * priority signal when collapsing components (keep the most novel
    * member, not the smallest id). Shares the cached shingles4 table with
    * the Jaccard/containment/decontamination legs. Scale shape: one
    * shingle-keyed document-frequency aggregation + one join back — two
    * keyed shuffles over the shingle table, keyed on xxhash64 longs;
    * at corpus scale the frequency side compacts to a counting sketch
    * (the Misra-Gries/Bloom machinery) with the same join-back shape. */
  private val txtNovelty = GraftQuery(
    "txt_novelty",
    "per-doc novelty: share of 4-gram shingles unique to the doc corpus-wide",
    (s, d) => {
      // De-shuffled r15: the old shape joined the corpus-sized shingle
      // table back to its own frequency aggregate on shh (two shh-keyed
      // shuffles of every shingle + a wide join) only to count dfreq=1
      // rows per doc. But a dfreq=1 group has exactly ONE row, so its
      // owning doc is min(doc_id) of the group — n_uniq falls out of the
      // frequency aggregate alone, and n_sh needs only a doc-keyed
      // count. Two narrow aggregates and a doc-sized join replace the
      // shingle-sized join-back; results are identical by the one-row-
      // per-unique-shingle argument (Round15OpsSpec pins equivalence).
      val sh = DedupOps.shingles4(s, d)
        .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val uniq = sh.groupBy("shh")
        .agg(count(lit(1)).as("dfreq"), min("doc_id").as("doc_id"))
        .filter(col("dfreq") === 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_uniq"))
      perDoc.join(uniq, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_uniq"), lit(0L)).as("n_uniq"),
          fround(coalesce(col("n_uniq"), lit(0L)).cast("double") / col("n_sh"), 4)
            .as("novelty"))
        .orderBy("doc_id")
    },
    Some("WITH " + DedupOps.shingleCte4 +
      """, df AS (SELECT sh, count(*) AS dfreq FROM sh GROUP BY 1) SELECT s.doc_id, count(*) AS n_sh, CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uniq, floor(CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0 AS novelty FROM sh s JOIN df USING (sh) GROUP BY 1 ORDER BY 1"""))

  /** CCNet-style perplexity bucketing: rank each language's documents by
    * unigram-LM avg log-prob and split into head/middle/tail terciles —
    * the canonical "keep the head, sample the middle, drop the tail"
    * curation signal. Rank boundaries are integer arithmetic
    * (k1 = ⌈n/3⌉ = (n+2) DIV 3 — positive DIV and // agree), the ordering
    * key is the per-doc exact rational lp_sum/n_tok evaluated as one IEEE
    * division (identical both engines), and the per-bucket mean is
    * TOKEN-WEIGHTED from integer sums (Σlp_micro / Σn_tok) — a mean of
    * per-doc doubles would be a cross-row float sum with unfixed merge
    * order. One lang-partitioned window over the per-doc score table. */
  private val pplBuckets = GraftQuery(
    "txt_ppl_buckets",
    "CCNet head/middle/tail perplexity terciles per language",
    (s, d) => {
      val perDoc = lpPerDoc(s, d, Seq("lang"))
        .withColumn("avg_lp", col("lp_sum").cast("double") / col("n_tok"))
      val w = Window.partitionBy("lang").orderBy(desc("avg_lp"), col("doc_id"))
      perDoc
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .withColumn("bucket",
          when(col("rn") <= expr("(n + 2) DIV 3"), lit("head"))
            .when(col("rn") <= expr("(2 * n + 2) DIV 3"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          fround(sum("lp_sum").cast("double") / (sum("n_tok") * lit(1e6)), 4)
            .as("mean_logprob"))
        .orderBy("lang", "bucket")
    },
    Some("WITH " + lpPerDocCtes(", lang") +
      """, r AS (SELECT *, CAST(lp_sum AS DOUBLE) / n_tok AS avg_lp FROM pd), w AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_lp DESC, doc_id) AS rn, count(*) OVER (PARTITION BY lang) AS n FROM r) SELECT lang, CASE WHEN rn <= (n + 2) // 3 THEN 'head' WHEN rn <= (2 * n + 2) // 3 THEN 'middle' ELSE 'tail' END AS bucket, count(*) AS n_docs, floor(CAST(sum(lp_sum) AS DOUBLE) / (sum(n_tok) * 1000000.0) * 10000.0 + 0.5) / 10000.0 AS mean_logprob FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-document character-distribution Shannon entropy — the gibberish /
    * degenerate-text detector (keyboard mash, repeated fill, base64 blobs
    * all sit far from natural-language ~4.1 bits/char; a standard cheap
    * quality gate next to the stopword and repetition signals). Exact
    * arithmetic: H = -(1/n)·Σ cnt·ln(cnt/n) where the per-distinct-char
    * log rides as an integer micro-unit (the [[lpPerDoc]] ln discipline),
    * so the per-doc sum is a BIGINT and the only float ops are one final
    * division per doc, identical in both engines.
    * Scale shape: the histogram is folded ROW-LOCALLY by the native
    * [[graft.functions.expressions.CharEntropyMicro]] expression (code
    * points in, `[n_chars, n_distinct, s_micro]` longs out) — nothing
    * shuffles but three longs per document, vs the composable
    * `explode(split(text, ''))` form's one-row-per-CHARACTER pre-combine
    * blow-up (~1000x more rows into the first aggregate; 2.9x DuckDB on
    * the calm floor before this rewrite). The oracle keeps its exploded
    * `regexp_extract_all(text, '[\s\S]')` shape — the union class (not
    * '.') matches every code point, the unit CharEntropyMicro iterates —
    * and the identical micro-unit integer-log arithmetic makes the two
    * pipelines bit-equal. Empty documents are EXCLUDED by an explicit
    * `length(text) > 0` guard in both engines (entropy of nothing is
    * undefined, not 0): Spark's empty-pattern split would emit a single
    * empty element for an empty string where DuckDB's unnest-of-empty
    * yields no row, so the contract lives in the plan, not in a corpus
    * precondition. */
  private val charEntropy = GraftQuery(
    "txt_char_entropy",
    "per-doc char-distribution Shannon entropy (gibberish detector)",
    (s, d) => {
      graft.functions.expressions.GraftExpressions.ensureRegistered(s)
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), expr("graft_char_entropy(text)").as("e"))
        .select(col("doc_id"),
          col("e").getItem(0).as("n_chars"),
          col("e").getItem(1).as("n_distinct"),
          fround(-col("e").getItem(2).cast("double") /
            (col("e").getItem(0) * lit(1e6)), 4).as("entropy"))
        .orderBy("doc_id")
    },
    Some("""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch FROM documents WHERE length(text) > 0), c AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2), t AS (SELECT doc_id, cnt, CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n, count(*) OVER (PARTITION BY doc_id) AS nd FROM c) SELECT doc_id, max(n) AS n_chars, max(nd) AS n_distinct, floor(-CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE) / n) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / (max(n) * 1000000.0) * 10000.0 + 0.5) / 10000.0 AS entropy FROM t GROUP BY 1 ORDER BY 1"""))

  /** Language-ID CONFUSION MATRIX — the classifier-evaluation rollup over
    * [[langId]]'s heuristic: declared label vs predicted language, counts
    * and per-declared-label share. The eval step every curation pipeline
    * runs before trusting a cheap classifier at corpus scale (precision
    * per declared class falls straight out of this table). Same stopword
    * predictor expression as txt_langid — one definition of "predicted"
    * per engine, asserted equal by the langid spec's own oracle — so the
    * matrix can never drift from the per-doc table it summarizes.
    *
    * Scale shape: per-row predict (codegen'd, no shuffle) into ONE
    * map-side-combined aggregation on (labeled, predicted) — at most
    * |langs|² rows move; the share window then runs over that tiny
    * matrix, not the corpus. */
  private val langIdConfusion = GraftQuery(
    "txt_langid_confusion",
    "declared-vs-predicted language confusion matrix with per-label share",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("lang").as("labeled"), langPredicted.as("predicted"))
        .groupBy("labeled", "predicted")
        .agg(count(lit(1)).as("n"))
        .select(col("labeled"), col("predicted"), col("n"),
          fround(col("n").cast("double") /
            sum("n").over(Window.partitionBy("labeled")), 4).as("share"))
        .orderBy("labeled", "predicted")
    },
    Some(s"""SELECT lang AS labeled, $langPredictedSql AS predicted, count(*) AS n, floor(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY lang) * 10000.0 + 0.5) / 10000.0 AS share FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** OOV RATE against a BUILT vocabulary — the tokenizer-coverage gate: a
    * corpus whose out-of-vocabulary share is high against the tokenizer's
    * vocab wastes sequence length on byte-fallback tokens. Vocabulary =
    * top-16 tokens by corpus frequency (deterministic cnt-then-token
    * tie-break; 16 < this corpus's ~31-token vocabulary, so the OOV tail
    * is real); per-source OOV share reported in exact integer ppm.
    *
    * Scale shape: the vocab build is a map-side-combined token count
    * feeding TakeOrderedAndProject (per-partition heaps, no global sort);
    * the K-row vocab then BROADCASTS into the probe join, so the probe is
    * a per-row hash lookup with no shuffle — the corpus shuffles once,
    * keyed on source, already combined to one row per (source) partial.
    * The ppm is (n_oov * 1e6) DIV n_tok — integer division on BIGINTs,
    * never a float ratio whose last ulp could differ. */
  private val oovRate = GraftQuery(
    "txt_oov_rate",
    "per-source out-of-vocabulary token share vs top-16 corpus vocabulary",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("tok")).limit(16)
        .select(col("tok"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tok"), col("n_oov"),
          expr("(n_oov * 1000000L) DIV n_tok").as("oov_ppm"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents), v AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 16)), j AS (SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov FROM tok t LEFT JOIN v ON v.tok = t.tok) SELECT source, count(*) AS n_tok, CAST(sum(oov) AS BIGINT) AS n_oov, (CAST(sum(oov) AS BIGINT) * 1000000) // count(*) AS oov_ppm FROM j GROUP BY 1 ORDER BY 1"""))

  /** BPE MERGE-PAIR COUNTING — one iteration of byte-pair-encoding
    * tokenizer TRAINING (the training side's inner loop): count every
    * adjacent symbol pair across the corpus, weighted by word frequency —
    * the argmax pair is the next merge rule. Symbols here are the initial
    * character alphabet, i.e. the first iteration, which is the expensive
    * one (later iterations run over the same word-frequency table).
    *
    * Scale shape: the ONLY corpus-sized stage is the word count, which
    * map-side-combines to vocabulary size before its one shuffle; the
    * pair explode and both downstream aggregates run over the VOCABULARY
    * (millions of rows at 100 TB, not trillions), exactly why real BPE
    * trainers (SentencePiece, HF tokenizers) precompute the word-frequency
    * table first. Top-20 by pair frequency with a total tie-break
    * (cnt desc, pair), so the LIMIT is deterministic without a global
    * row_number window. */
  private val bpePairs = GraftQuery(
    "txt_bpe_pairs",
    "BPE training step: corpus-weighted adjacent char-pair counts, top-20",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(length(col("tok")) >= 2)
      vocab
        .select(col("tok"), col("cnt"),
          explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
        .select(col("tok").substr(col("i"), lit(2)).as("pair"), col("tok"),
          col("cnt"))
        .groupBy("pair")
        .agg(sum("cnt").as("pair_cnt"), countDistinct("tok").as("n_types"))
        .orderBy(desc("pair_cnt"), col("pair"))
        .limit(20)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents), v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1), p AS (SELECT substring(tok, i, 2) AS pair, tok, cnt FROM (SELECT tok, cnt, unnest(generate_series(1, length(tok) - 1)) AS i FROM v WHERE length(tok) >= 2)) SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt, count(DISTINCT tok) AS n_types FROM p GROUP BY 1 ORDER BY pair_cnt DESC, pair LIMIT 20"""))

  /** COHEN'S KAPPA over the [[langIdConfusion]] matrix — chance-corrected
    * agreement between the declared and predicted language, the standard
    * scalar for "is this classifier better than the label marginals".
    * Computed in EXACT integer arithmetic: with N docs, diag agreements,
    * and row/column marginals r_k/c_k, kappa = (N*diag - sum r_k c_k) /
    * (N² - sum r_k c_k) — numerator and denominator are exact BIGINTs, so
    * the only float op is one final division (N² fits 64-bit to ~3e9 docs;
    * past that compute the two products in DECIMAL(38,0), same plan).
    * Shares the langPredicted definition with txt_langid/_confusion, so
    * all three surfaces describe the same classifier by construction.
    *
    * Scale shape: one map-side-combined (labeled, predicted) count — at
    * most |langs|² cells — then marginal sums and one broadcast of two
    * 1-row frames. The corpus is scanned once, nothing corpus-sized
    * shuffles. */
  private val langIdKappa = GraftQuery(
    "txt_langid_kappa",
    "Cohen's kappa of declared-vs-predicted language (exact integer po/pe)",
    (s, d) => {
      val cells = Tables.documents(s, d)
        .select(col("lang").as("labeled"), langPredicted.as("predicted"))
        .groupBy("labeled", "predicted").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("n_docs"),
        sum(when(col("labeled") === col("predicted"), col("n")).otherwise(0L))
          .as("diag"))
      val pe = cells.groupBy("labeled").agg(sum("n").as("r"))
        .join(cells.groupBy("predicted").agg(sum("n").as("c")),
          col("labeled") === col("predicted"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("pe_num"))
      tot.crossJoin(broadcast(pe))
        .select(col("n_docs"), col("diag"),
          fround(col("diag").cast("double") / col("n_docs"), 6).as("po"),
          fround(col("pe_num").cast("double") /
            (col("n_docs") * col("n_docs")), 6).as("pe"),
          fround((col("n_docs") * col("diag") - col("pe_num")).cast("double") /
            (col("n_docs") * col("n_docs") - col("pe_num")), 6).as("kappa"))
    },
    Some(s"""WITH cells AS (SELECT lang AS labeled, $langPredictedSql AS predicted, count(*) AS n FROM documents GROUP BY 1, 2), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs, CAST(sum(CASE WHEN labeled = predicted THEN n ELSE 0 END) AS BIGINT) AS diag FROM cells), r AS (SELECT labeled, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1), c AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1), p AS (SELECT CAST(coalesce(sum(r.r * c.c), 0) AS BIGINT) AS pe_num FROM r JOIN c ON r.labeled = c.predicted) SELECT t.n_docs, t.diag, floor(CAST(t.diag AS DOUBLE) / t.n_docs * 1000000.0 + 0.5) / 1000000.0 AS po, floor(CAST(p.pe_num AS DOUBLE) / (t.n_docs * t.n_docs) * 1000000.0 + 0.5) / 1000000.0 AS pe, floor(CAST(t.n_docs * t.diag - p.pe_num AS DOUBLE) / (t.n_docs * t.n_docs - p.pe_num) * 1000000.0 + 0.5) / 1000000.0 AS kappa FROM t, p"""))

  /** CONTENT-DEFINED CHUNKING — the dedup-friendly document splitter: a
    * chunk boundary falls AFTER any 8-char window whose hash ≡ 0 (mod 64),
    * so boundaries are a property of the CONTENT, not of byte offsets —
    * insert one char near the front and every downstream chunk of a
    * fixed-width splitter shifts (all fingerprints change), while CDC
    * boundaries resynchronize at the next matching window. Expected chunk
    * length = the modulus (64 chars). Same rolling idea as rsync/LBFS/
    * restic gear hashing; the window hash here is the repo's lockstep
    * md5u32 so DuckDB replays boundary decisions bit-for-bit. Reported
    * per doc: chunk count, max and mean chunk length — the stats a
    * chunk-store capacity plan needs.
    *
    * Scale shape: the position explode is NARROW (generated and consumed
    * inside one codegen stage, no shuffle) and the boundary filter keeps
    * ~1/64 of positions BEFORE the only keyed shuffle (the per-doc
    * window/aggregate), so what shuffles is boundary-sized, not
    * character-sized. Docs shorter than the 8-char window contribute no
    * positions at all (also dodges Spark's descending sequence(1, n<1)). */
  private val cdcChunks = GraftQuery(
    "txt_cdc_chunks",
    "content-defined chunking: md5 window-hash boundaries (mod 64), per-doc chunk stats",
    (s, d) => {
      // The 8-byte window hash is a Rabin-style base-131 polynomial over
      // the char codes (what a native CDC chunker actually rolls) —
      // exact 64-bit integer arithmetic both engines replay
      // bit-identically; boundary = hash ≡ 0 (mod 64). The per-position
      // probe rides the codegen'd Generate→Filter pipeline (text stays a
      // local inside the fused loop; only (doc_id, cut) survives to the
      // window shuffle). An md5-per-position variant measured 4.4 s
      // warm at sf0.1 and an interpreted array-HOF spelling 6 s — the
      // polynomial in whole-stage codegen is the fast shape.
      val poly = (0 until 8).map(k =>
          s"element_at(codes, CAST(i AS INT) + $k) * ${math.pow(131.0, k).toLong}L")
        .mkString(" + ")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
      // chars → codes ONCE per doc (split is one linear pass; a
      // substring(text, i, 1) per position would re-walk the string
      // from index 0 every probe — O(len²) per doc, measured 4-15 s
      // at sf0.1 across three spellings); element_at on the codes
      // array is O(1) per probe
      // the per-position polynomial probe is this query's hot loop and the
      // single-file local scan gives it one task — spread (scale-gated
      // identity at real sizes) fans the doc pipeline across the session
      val cuts = Tables.spread(s, docs.filter(col("len") >= 8), col("doc_id"))
        .withColumn("codes",
          expr("transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))"))
        .select(col("doc_id"), col("codes"),
          explode(sequence(lit(1L), col("len") - 7)).as("i"))
        .filter(expr(s"($poly) % 64 = 0"))
        .select(col("doc_id"), (col("i") + 7).as("cut"))
      val w = Window.partitionBy("doc_id").orderBy("cut")
      val perDoc = cuts
        .withColumn("gap", col("cut") - coalesce(lag("cut", 1).over(w), lit(0L)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_cuts"), max("gap").as("max_gap"),
          max("cut").as("max_cut"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("len"),
          (coalesce(col("n_cuts"), lit(0L)) +
            when(col("len") > coalesce(col("max_cut"), lit(0L)), 1L).otherwise(0L))
            .as("n_chunks"),
          greatest(coalesce(col("max_gap"), lit(0L)),
            col("len") - coalesce(col("max_cut"), lit(0L))).as("max_chunk"))
        .withColumn("avg_chunk", fround(col("len").cast("double") / col("n_chunks"), 4))
        .orderBy("doc_id")
    },
    Some {
      val polySql = (0 until 8).map(k =>
          s"CAST(codes[i + $k] AS BIGINT) * ${math.pow(131.0, k).toLong}")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents), cc AS (SELECT doc_id, len, list_transform(generate_series(1, len), i -> ord(substr(text, i, 1))) AS codes FROM d WHERE len >= 8), cuts AS (SELECT doc_id, unnest(list_filter(list_transform(generate_series(1, len - 7), i -> CASE WHEN ($polySql) % 64 = 0 THEN i + 7 END), x -> x IS NOT NULL)) AS cut FROM cc), g AS (SELECT doc_id, cut, cut - coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) AS gap FROM cuts), pd AS (SELECT doc_id, count(*) AS n_cuts, max(gap) AS max_gap, max(cut) AS max_cut FROM g GROUP BY 1) SELECT d.doc_id, d.len, CAST(coalesce(pd.n_cuts, 0) + (CASE WHEN d.len > coalesce(pd.max_cut, 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks, CAST(greatest(coalesce(pd.max_gap, 0), d.len - coalesce(pd.max_cut, 0)) AS BIGINT) AS max_chunk, floor(CAST(d.len AS DOUBLE) / (coalesce(pd.n_cuts, 0) + CASE WHEN d.len > coalesce(pd.max_cut, 0) THEN 1 ELSE 0 END) * 10000.0 + 0.5) / 10000.0 AS avg_chunk FROM d LEFT JOIN pd USING (doc_id) ORDER BY 1"""
    })

  /** Cross-SPLIT contamination report: after the deterministic 80/10/10
    * md5 hash split (samp_hash_split's rule), how many 4-gram shingles
    * leak from train into val/test, and how many docs on each side are
    * involved — the split-integrity audit that must be zero-ish before an
    * eval number is trustworthy (txt_decontaminate checks against an
    * EXTERNAL benchmark; this checks the pipeline's OWN split).
    *
    * Scale shape: a direct train ⋈ eval join on the shingle key emits
    * Σ_sh df_train(sh)·df_eval(sh) rows — quadratic in hot-shingle
    * document frequency, the same blowup the dedup pair path caps with
    * MaxShingleDf, but a CUTOFF would be wrong here (ubiquitous shingles
    * are exactly what a leakage audit must still count). Instead the doc
    * stream never meets a doc stream: one shingle-keyed aggregation folds
    * the split memberships into per-shingle presence flags (output =
    * distinct shingles), and each side then joins against that
    * UNIQUELY-KEYED flag table — every (doc, shingle) row matches at most
    * one flag row, so both joins are bounded by the shingle-table size.
    * Linear end-to-end, hot shingles included. */
  private val splitContamination = GraftQuery(
    "qa_split_contamination",
    "train-vs-val/test 4-gram leakage audit over the md5 hash split",
    (s, d) => {
      val u = md5u32(col("doc_id").cast("string"))
      val sp = Tables.documents(s, d).select(col("doc_id"),
        when(u % 10 < 8, "train").when(u % 10 === 8, "val").otherwise("test")
          .as("split"))
      val shs = DedupOps.shingles4(s, d).join(sp, Seq("doc_id"))
      // per-shingle split-presence flags: unique by sh, so joining a doc
      // stream against it can never expand that stream
      val shared = shs.groupBy("sh").agg(
          max(when(col("split") === "train", 1).otherwise(0)).as("in_tr"),
          max(when(col("split") === "val", 1).otherwise(0)).as("in_val"),
          max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
        .filter(col("in_tr") === 1 &&
          (col("in_val") === 1 || col("in_test") === 1))
      // ONE pass over the (doc, shingle) stream for both rollups (the
      // eval-side and train-side hit counts previously each re-joined the
      // stream against the flag table — three stream passes total): every
      // leaked row explodes to the eval side(s) it implicates — its own
      // split for an eval row, every leaking eval split for a train row
      // (a shingle shared with BOTH eval splits credits the train doc to
      // both rows, like the pair join did) — and one grouped triple
      // count-distinct reads the tagged stream once.
      val tagged = shs.join(shared, Seq("sh"))
        .select(col("doc_id"), col("split"), explode(array(
          when(col("in_val") === 1 &&
            (col("split") === "val" || col("split") === "train"), lit("val")),
          when(col("in_test") === 1 &&
            (col("split") === "test" || col("split") === "train"), lit("test"))))
          .as("side"))
        .filter(col("side").isNotNull)
      // r15: the former triple countDistinct planned an Expand that
      // replicated the tagged stream ×3 into one distinct shuffle. The
      // shingle count never needed the stream at all — `shared` is UNIQUE
      // by sh, so count(in_val=1) IS countDistinct(sh leaking to val);
      // and the two doc counts fold through a partial-aggregable
      // (side, doc_id) dedup (a doc's split is fixed, so the train flag
      // is functionally dependent on doc_id) — no Expand anywhere.
      val sideShingles = shared
        .select(explode(array(
          when(col("in_val") === 1, lit("val")),
          when(col("in_test") === 1, lit("test")))).as("side"))
        .filter(col("side").isNotNull)
        .groupBy("side").agg(count(lit(1)).as("n_shared_shingles"))
      val sideDocs = tagged
        .groupBy(col("side"), col("doc_id"))
        .agg(max(when(col("split") === "train", 1).otherwise(0)).as("is_tr"))
        .groupBy("side")
        .agg(sum(when(col("is_tr") === 0, 1L).otherwise(0L))
            .as("n_eval_docs_hit"),
          sum(when(col("is_tr") === 1, 1L).otherwise(0L))
            .as("n_train_docs_hit"))
      sideShingles.join(sideDocs, Seq("side"))
        .select(col("side").as("split"), col("n_shared_shingles"),
          col("n_eval_docs_hit"), col("n_train_docs_hit"))
        .orderBy("split")
    },
    Some {
      val uD = md5u32Sql("md5(CAST(doc_id AS VARCHAR))")
      s"""WITH ${DedupOps.shingleCte4}, sp AS (SELECT doc_id, CASE WHEN $uD % 10 < 8 THEN 'train' WHEN $uD % 10 = 8 THEN 'val' ELSE 'test' END AS split FROM documents), shs AS (SELECT sh.doc_id, sh.sh, sp.split FROM sh JOIN sp USING (doc_id)), tr AS (SELECT doc_id AS train_id, sh FROM shs WHERE split = 'train'), ev AS (SELECT doc_id AS eval_id, split, sh FROM shs WHERE split <> 'train') SELECT split, CAST(count(DISTINCT sh) AS BIGINT) AS n_shared_shingles, CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs_hit, CAST(count(DISTINCT train_id) AS BIGINT) AS n_train_docs_hit FROM tr JOIN ev USING (sh) GROUP BY 1 ORDER BY 1"""
    })

  /** Zipf-law fit over the top-100 vocabulary: OLS of ln(count) on
    * ln(rank) — slope ≈ -1 on natural text, and deviation is a corpus-
    * health signal (synthetic/templated text flattens it, OCR noise
    * steepens the tail). Determinism: ln values are micro-quantized to
    * BIGINTs per rank BEFORE summation, so the OLS moments (Σx, Σy, Σxy,
    * Σx², Σy²) are exact integers and the final slope/intercept/r² divide
    * bit-identical operands in both engines (the only float risk left is a
    * ln() landing on an exact .5 µ-boundary — probability ~1e-10).
    * Scale: the fit runs over the 100-row top-K (post-limit, audited
    * benign); only the vocabulary count touches corpus-sized data. */
  private val zipfFit = GraftQuery(
    "txt_zipf_fit",
    "Zipf slope: OLS of ln(count) on ln(rank) over the top-100 vocabulary",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val top = vocab.orderBy(desc("cnt"), col("tok")).limit(100)
      val ranked = top
        .withColumn("rk", row_number().over(Window.orderBy(desc("cnt"), col("tok"))))
        .select(
          floor(log(col("rk").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
          floor(log(col("cnt").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
      ranked.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          fround((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          fround((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") * col("sx"))
            .cast("double") / col("n") / 1e6, 6).as("intercept_ln"),
          fround((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r2"))
    },
    Some("""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents), v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1), top AS (SELECT * FROM v ORDER BY cnt DESC, tok LIMIT 100), rkd AS (SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x, CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y FROM top), m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy FROM rkd) SELECT n, floor(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS slope, floor((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS intercept_ln, floor(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS r2 FROM m"""))

  /** Feature hashing (the "hashing trick"): project each document's bag of
    * words into a fixed 256-bucket count vector via md5-mod bucketing — the
    * vocabulary-free featurization that never builds (or shuffles) a term
    * dictionary, which is what makes it THE text-featurizer shape at
    * 100 TB: one explode + one (doc, bucket) map-side-combined aggregation,
    * no vocabulary table, no broadcast, memory O(buckets) per doc
    * regardless of corpus vocabulary. Reported per doc: nonzero buckets,
    * exact squared L2 norm, and the heaviest bucket (collision pressure =
    * nnz vs token count; sq_norm spikes flag repetitive docs). Bucket ids
    * ride the repo's md5u32 lockstep hash. */
  private val featureHashing = GraftQuery(
    "txt_feature_hashing",
    "hashing-trick 256-bucket doc vectors: nnz, exact sq-norm, top bucket",
    (s, d) => {
      val bkt = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), pmod(md5u32(col("tok")), lit(256L)).as("bkt"))
        .groupBy("doc_id", "bkt").agg(count(lit(1)).as("c"))
      bkt.groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum(col("c") * col("c")).as("sq_norm"),
          max("c").as("max_bucket_count"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), b AS (SELECT doc_id, ${graft.functions.GraftFunctions.md5u32Sql("md5(tok)")} % 256 AS bkt FROM tok), g AS (SELECT doc_id, bkt, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2) SELECT doc_id, count(*) AS nnz, CAST(sum(c * c) AS BIGINT) AS sq_norm, max(c) AS max_bucket_count FROM g GROUP BY 1 ORDER BY 1"""))

  /** BPE MERGE APPLICATION — the other half of the tokenizer-training
    * loop next to txt_bpe_pairs (count → pick top pair → MERGE → recount):
    * the winning pair is selected in-plan (1-row broadcast, count-desc
    * with pair tiebreak), applied to the word vocabulary with left-to-right
    * non-overlapping replacement (SQL replace()'s semantics ARE BPE's
    * greedy merge order — "aaa" under merge "aa" becomes [aa, a]), the
    * merged symbol written as '~' (absent from the alpha-only corpus),
    * and adjacent pairs recounted over the merged sequences. Scale: the
    * whole step runs on the WORD-FREQUENCY table — vocabulary-sized, not
    * corpus-sized — which is exactly why BPE training is feasible at
    * 100 TB: only the initial word count touches the corpus. */
  private val bpeMergeStep = GraftQuery(
    "txt_bpe_merge_step",
    "BPE loop: apply the top merge to the vocab, recount pairs, new top-10",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(length(col("tok")) >= 2)
      val pairs = vocab
        .select(col("cnt"),
          explode(sequence(lit(1), length(col("tok")) - 1)).as("i"), col("tok"))
        .select(col("tok").substr(col("i"), lit(2)).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("pc"))
      val top = pairs.orderBy(desc("pc"), col("pair")).limit(1)
        .select(col("pair").as("top_pair"))
      vocab.crossJoin(broadcast(top))
        .select(col("top_pair"),
          expr("replace(tok, top_pair, '~')").as("mtok"), col("cnt"))
        .filter(length(col("mtok")) >= 2)
        .select(col("top_pair"), col("cnt"),
          explode(sequence(lit(1), length(col("mtok")) - 1)).as("i"), col("mtok"))
        .select(col("top_pair"), col("mtok").substr(col("i"), lit(2)).as("pair"),
          col("cnt"))
        .groupBy("top_pair", "pair").agg(sum("cnt").as("pair_cnt"))
        .orderBy(desc("pair_cnt"), col("pair"))
        .limit(10)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents), v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1), v2 AS (SELECT * FROM v WHERE length(tok) >= 2), pr AS (SELECT substring(tok, i, 2) AS pair, cnt FROM (SELECT tok, cnt, unnest(generate_series(1, length(tok) - 1)) AS i FROM v2)), pc AS (SELECT pair, sum(cnt) AS pc FROM pr GROUP BY 1), top AS (SELECT pair AS top_pair FROM pc ORDER BY pc DESC, pair LIMIT 1), m AS (SELECT top_pair, replace(tok, top_pair, '~') AS mtok, cnt FROM v2, top), np AS (SELECT top_pair, substring(mtok, i, 2) AS pair, cnt FROM (SELECT top_pair, mtok, cnt, unnest(generate_series(1, length(mtok) - 1)) AS i FROM m WHERE length(mtok) >= 2)) SELECT top_pair, pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt FROM np GROUP BY 1, 2 ORDER BY pair_cnt DESC, pair LIMIT 10"""))

  /** Dunning log-likelihood (G²) KEYNESS: for each source, the tokens most
    * over/under-represented vs the rest of the corpus — the statistically
    * grounded "what is this subcorpus about" signal (Dunning 1993), and
    * the standard domain-mix diagnostic when composing a training blend.
    * Per (source, token), the 2×2 table {in-source, elsewhere} ×
    * {this token, other tokens} scores G² = 2·Σ O·ln(O/E); the four-term
    * expression is spelled in ONE fixed operand order so both engines
    * evaluate the identical float sequence, then floor-rounded to integer
    * 1e-4 units BEFORE ranking — ranks never compare raw floats.
    * Zero-count cells contribute 0 (the O·ln(O/E) → 0 limit).
    * Scale: one explode + (source, token) map-side-combined count; the
    * per-token totals join is keyed on the token (vocabulary-sized, never
    * broadcast); source totals and N are tiny broadcasts; ranking windows
    * over |vocab×sources|. */
  private lazy val keynessG2 = {
    def t(o: String, e: String) =
      s"(CASE WHEN $o > 0 THEN $o * ln(CAST($o AS DOUBLE) / ($e)) ELSE 0.0 END)"
    // operand order fixed: a, b, c, d with E spelled rowtot*coltot/nn
    val g2 = "2.0 * (" +
      t("a", "CAST(tsrc * tw AS DOUBLE) / nn") + " + " +
      t("b", "CAST((nn - tsrc) * tw AS DOUBLE) / nn") + " + " +
      t("c", "CAST(tsrc * (nn - tw) AS DOUBLE) / nn") + " + " +
      t("d", "CAST((nn - tsrc) * (nn - tw) AS DOUBLE) / nn") + ")"
    GraftQuery(
      "txt_keyness_g2",
      "top-8 over/under-represented tokens per source by Dunning G²",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
        val st = tok.groupBy("source", "tok").agg(count(lit(1)).as("a"))
        val tw = st.groupBy("tok").agg(sum("a").as("tw"))
        val tsrc = st.groupBy("source").agg(sum("a").as("tsrc"))
        val nn = st.agg(sum("a").as("nn"))
        val scored = st.join(tw, "tok")
          .join(broadcast(tsrc), "source").crossJoin(broadcast(nn))
          .withColumn("b", col("tw") - col("a"))
          .withColumn("c", col("tsrc") - col("a"))
          .withColumn("d", (col("nn") - col("tsrc")) - col("b"))
          .withColumn("g2m", floor(expr(g2) * 1e4 + 0.5).cast("long"))
          .withColumn("direction",
            when(col("a") * (col("nn") - col("tsrc")) > col("b") * col("tsrc"),
              "over").otherwise("under"))
        scored
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")
              .orderBy(desc("g2m"), col("tok"))))
          .filter(col("rk") <= 8)
          .select(col("source"), col("rk"), col("tok"),
            col("a").as("n_in_source"), col("b").as("n_elsewhere"),
            col("direction"),
            fround(col("g2m").cast("double") / 1e4, 4).as("g2"))
          .orderBy("source", "rk")
      },
      Some(s"""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents), st AS (SELECT source, tok, count(*) AS a FROM tok GROUP BY 1, 2), tw AS (SELECT tok, CAST(sum(a) AS BIGINT) AS tw FROM st GROUP BY 1), ts AS (SELECT source, CAST(sum(a) AS BIGINT) AS tsrc FROM st GROUP BY 1), t AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM st), x AS (SELECT st.source, st.tok, st.a, tw.tw - st.a AS b, ts.tsrc, tw.tw, t.nn, ts.tsrc - st.a AS c, (t.nn - ts.tsrc) - (tw.tw - st.a) AS d FROM st JOIN tw USING (tok) JOIN ts USING (source) CROSS JOIN t), sc AS (SELECT source, tok, a, b, CASE WHEN a * (nn - tsrc) > b * tsrc THEN 'over' ELSE 'under' END AS direction, CAST(floor(($g2) * 1e4 + 0.5) AS BIGINT) AS g2m FROM x), rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY g2m DESC, tok) AS rk FROM sc) SELECT source, rk, tok, a AS n_in_source, b AS n_elsewhere, direction, floor(CAST(g2m AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4 AS g2 FROM rk WHERE rk <= 8 ORDER BY source, rk"""))
  }

  /** Pairwise Jensen-Shannon divergence between the source unigram
    * distributions — the symmetric, bounded [0, ln 2] domain-distance
    * behind training-mixture design ("how different are these corpora
    * really") and drift tracking between corpus snapshots. Every KL term's
    * ln argument is a ratio of INTEGER products (2·c1·n2 / (c1·n2+c2·n1)),
    * the per-token terms ride as floor-rounded micro-nat BIGINTs (lpPerDoc
    * discipline, same accepted ln-ulp note), and tokens absent from one
    * side contribute only the other side's term (the x·ln(2x/x) → x·ln 2
    * limit — JSD never divides by zero). Scale: one corpus tokenize into
    * the (source, token) count table; the 6-row pair dim broadcasts onto
    * it; the full-outer merge and both aggregations key on the token —
    * vocabulary-sized shuffles, never corpus-sized, nothing broadcast but
    * dims. */
  private lazy val jsdSources = GraftQuery(
    "txt_jsd_sources",
    "pairwise Jensen-Shannon divergence between source unigram models",
    (s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val nt = st.groupBy("source").agg(sum("c").as("n"))
      val pairsDim = broadcast(nt.toDF("sa", "na")
        .crossJoin(nt.toDF("sb", "nb")).filter(col("sa") < col("sb")))
      val aSide = st.toDF("sa", "tok", "c1").join(pairsDim, Seq("sa"))
        .select("sa", "sb", "na", "nb", "tok", "c1")
      val bSide = st.toDF("sb", "tok", "c2").join(pairsDim, Seq("sb"))
        .select("sa", "sb", "na", "nb", "tok", "c2")
      val merged = aSide.join(bSide, Seq("sa", "sb", "na", "nb", "tok"), "full_outer")
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      def term(cx: String, cy: String, nx: String, ny: String) =
        when(col(cx) > 0,
          floor(col(cx) * log((lit(2L) * col(cx) * col(ny)).cast("double") /
            (col(cx) * col(ny) + col(cy) * col(nx)).cast("double")) * 1e6 + 0.5)
            .cast("long")).otherwise(lit(0L))
      merged.groupBy("sa", "sb", "na", "nb")
        .agg(sum(term("c1", "c2", "na", "nb")).as("sp"),
          sum(term("c2", "c1", "nb", "na")).as("sq"),
          sum(when(col("c1") > 0 && col("c2") > 0, 1L).otherwise(0L))
            .as("shared_vocab"),
          count(lit(1)).as("union_vocab"))
        .select(col("sa"), col("sb"), col("shared_vocab"), col("union_vocab"),
          fround((col("sp").cast("double") / col("na") +
            col("sq").cast("double") / col("nb")) * 0.5 / 1e6, 6).as("jsd_nats"))
        .orderBy("sa", "sb")
    },
    Some("""WITH st AS (SELECT source, tok, count(*) AS c FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1, 2), nt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1), pr AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb FROM nt a, nt b WHERE a.source < b.source), av AS (SELECT pr.sa, pr.sb, pr.na, pr.nb, st.tok, st.c AS c1 FROM st JOIN pr ON st.source = pr.sa), bv AS (SELECT pr.sa, pr.sb, pr.na, pr.nb, st.tok, st.c AS c2 FROM st JOIN pr ON st.source = pr.sb), m AS (SELECT sa, sb, na, nb, tok, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2 FROM av FULL JOIN bv USING (sa, sb, na, nb, tok)), t AS (SELECT sa, sb, na, nb, CASE WHEN c1 > 0 THEN CAST(floor(c1 * ln(CAST(2 * c1 * nb AS DOUBLE) / CAST(c1 * nb + c2 * na AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tp, CASE WHEN c2 > 0 THEN CAST(floor(c2 * ln(CAST(2 * c2 * na AS DOUBLE) / CAST(c2 * na + c1 * nb AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tq, CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END AS sh FROM m) SELECT sa, sb, CAST(sum(sh) AS BIGINT) AS shared_vocab, count(*) AS union_vocab, floor((CAST(sum(tp) AS DOUBLE) / na + CAST(sum(tq) AS DOUBLE) / nb) * 0.5 / 1000000.0 * 1e6 + 0.5) / 1e6 AS jsd_nats FROM t GROUP BY sa, sb, na, nb ORDER BY 1, 2"""))

  /** COUNT-MIN SKETCH probe audit — the third mergeable frequency sketch
    * next to Misra-Gries (txt_vocab_sketch) and Bloom
    * (txt_decontaminate_bloom): the token stream folds into a fixed
    * (depth×width) counter grid built DISTRIBUTED (partition sketches
    * merge by counter addition, so the result is partition-order
    * invariant and, with a fixed seed, fully deterministic); ten fixed
    * probe tokens are then estimated from the driver-held sketch (a
    * model-sized artifact, the IvfAnn-probe precedent) next to their
    * exact counts. CMS guarantees estimate ≥ exact; the spec pins that
    * and the ε·N error bound. No oracle: sketch internals are
    * engine-specific (declared-spec status like the other sketches). */
  private lazy val countMinProbe = GraftQuery(
    "txt_count_min_probe",
    "count-min sketch estimates vs exact counts for 10 probe tokens",
    (s, d) => {
      import s.implicits._
      val tok = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
      val cms = tok.stat.countMinSketch("tok", eps = 0.001, confidence = 0.99,
        seed = 42)
      val probes = Seq("the", "scan", "join", "sort", "batch", "stream",
        "spark", "window", "hash", "merge")
      val est = probes.map(t => t -> cms.estimateCount(t)).toDF("tok", "cms_est")
      val exact = tok.filter(col("tok").isin(probes: _*))
        .groupBy("tok").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("tok"), "left")
        .select(col("tok"), coalesce(col("exact"), lit(0L)).as("exact"),
          col("cms_est"),
          (col("cms_est") >= coalesce(col("exact"), lit(0L))).as("never_under"))
        .orderBy("tok")
    },
    None, boundedBy = Some("Round7OpsSpec"))

  /** PMI COLLOCATIONS — pointwise mutual information over adjacent token
    * pairs, the classic collocation extractor (phrases whose parts
    * co-occur far above chance; the phrase-mining step before tokenizer
    * or vocabulary decisions). Counts are exact corpus-wide BIGINTs from
    * two map-side-combined aggregations (unigrams + bigrams), both fed
    * by ONE persisted tokenized projection (the corpus is tokenized
    * exactly once); the total token count is derived from the unigram
    * table (sum of counts) instead of a third corpus pass. PMI =
    * ln(c_ab·N ⁄ (c_a·c_b)) is the only float, computed from exact
    * integer operands and floor-rounded; the support cutoff (≥ 5) kills
    * the noise tail BEFORE the vocabulary joins. Scale: the unigram
    * table is open-vocabulary (10⁸–10⁹ rows at 100 TB) so it is joined
    * with plain SHUFFLED joins on the token key — never broadcast; the
    * only broadcast is the 1-row total. AQE is free to downgrade the
    * shuffle to a runtime broadcast when the support-filtered bigram
    * side turns out tiny — a size-informed decision, not a hint.
    * Top-30 by rounded PMI via TakeOrdered. */
  private val pmiCollocations = GraftQuery(
    "txt_pmi_collocations",
    "top-30 PMI-ranked adjacent-token collocations (support >= 5)",
    (s, d) => {
      // PersistCache, not bare persist(): per-call persists in a query
      // builder are never unpersisted (the result is lazy) and would pin
      // blocks for the session's lifetime on every invocation
      val withT = graft.PersistCache.getOrBuild(s, s"pmi-tok:$d") {
        Tables.documents(s, d).select(tokens(col("text")).as("tk"))
      }
      val uni = graft.PersistCache.getOrBuild(s, s"pmi-uni:$d") {
        withT.select(explode(col("tk")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c1"))
      }
      // total tokens from the (cached, vocabulary-sized) unigram table —
      // not a third pass over the corpus projection
      val nTot = uni.agg(sum("c1").as("n"))
      val bi = withT.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        .filter(col("cb") >= 5)
      bi.join(uni.select(col("tok").as("w1"), col("c1").as("ca")), Seq("w1"))
        .join(uni.select(col("tok").as("w2"), col("c1").as("cw")), Seq("w2"))
        .crossJoin(broadcast(nTot))
        .withColumn("pmi", log((col("cb") * col("n")).cast("double") /
          (col("ca") * col("cw"))))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
          col("cb").as("pair_count"), fround(col("pmi"), 4).as("pmi"))
        .orderBy(desc("pmi"), col("bigram"))
        .limit(30)
    },
    Some("""WITH tk AS (SELECT string_split(lower(text), ' ') AS tk FROM documents), uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM (SELECT unnest(tk) AS tok FROM tk) GROUP BY 1), nt AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n FROM tk), bg AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) WHERE len(tk) >= 2), bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2 HAVING count(*) >= 5) SELECT w1 || ' ' || w2 AS bigram, cb AS pair_count, floor(ln(CAST(cb * n AS DOUBLE) / (ca.c1 * cw.c1)) * 1e4 + 0.5) / 1e4 AS pmi FROM bc JOIN uc ca ON ca.tok = w1 JOIN uc cw ON cw.tok = w2 CROSS JOIN nt ORDER BY pmi DESC, bigram LIMIT 30"""))

  val all: Seq[GraftQuery] = Seq(
    tokenStats, langId, fingerprint, topNgrams, repetition, decontaminate,
    boilerplate, decontaminateBloom, vocabTopK, vocabSketch, unigramLogprob,
    txtNovelty, pplBuckets, charEntropy, langIdConfusion, oovRate, bpePairs,
    langIdKappa, cdcChunks, splitContamination, zipfFit, featureHashing,
    bpeMergeStep, keynessG2, jsdSources, countMinProbe, vocabJaccardSources,
    heapsLaw, burrowsDelta, surprisalBySource, pmiCollocations)

  /** MEAN TOKEN SURPRISAL per source — the unigram-LM quality signal
    * rolled to the SOURCE grain (which corpus slice is most "surprising"
    * under the corpus's own distribution: high = diverse/rare vocabulary,
    * low = templated): rides THE shared lpPerDoc pipeline (one
    * implementation with txt_unigram_logprob and txt_ppl_buckets), so
    * per-source sums stay exact micro-nat BIGINTs end-to-end. */
  private lazy val surprisalBySource = GraftQuery(
    "txt_surprisal_by_source",
    "per-source mean token surprisal under the corpus unigram LM",
    (s, d) => lpPerDoc(s, d, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("lp_sum").as("lps"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        fround(-col("lps").cast("double") / (col("n_tokens") * 1e6), 4)
          .as("mean_surprisal_nats"))
      .orderBy("source"),
    Some("WITH " + lpPerDocCtes(", source") +
      " SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, floor(-CAST(sum(lp_sum) AS DOUBLE) / (sum(n_tok) * 1000000.0) * 1e4 + 0.5) / 1e4 AS mean_surprisal_nats FROM pd GROUP BY 1 ORDER BY 1"))

  /** BURROWS' DELTA between sources — the classic stylometric distance
    * (authorship attribution, Burrows 2002): z-score each source's
    * relative frequency of the top-30 corpus words against the
    * cross-source mean/sd, Δ(a,b) = mean |z_a − z_b|. Relative
    * frequencies ride as integer parts-per-billion (c·1e9 div total);
    * cross-source moments are exact integer sums over the DENSE
    * (source × word) grid (absent words count 0 — that absence IS
    * stylistic signal); per-cell z micro-floors before the pair mean.
    * Zero-variance words drop out. Scale: one tokenize rollup, then
    * everything is (30 × sources)-sized. */
  private lazy val burrowsDelta = GraftQuery(
    "txt_burrows_delta",
    "pairwise Burrows' delta over top-30 word z-scores between sources",
    (s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val totals = st.groupBy("source").agg(sum("c").as("nt"))
      val top = st.groupBy("tok").agg(sum("c").as("cf"))
        .orderBy(desc("cf"), col("tok")).limit(30).select("tok")
      val grid = totals.crossJoin(broadcast(top))
        .join(st, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          expr("coalesce(c, 0L) * 1000000000L div nt").as("rf"))
      val stats = grid.groupBy("tok")
        .agg(count(lit(1)).as("k"), sum("rf").as("sr"),
          sum(col("rf").cast("decimal(38,0)") * col("rf")).as("srr"))
        .withColumn("vark", // k^2 * variance, exact integer
          (col("k") * col("srr") - col("sr").cast("decimal(38,0)") * col("sr")))
        .filter(col("vark") > 0)
      val z = grid.join(broadcast(stats), Seq("tok"))
        .select(col("source"), col("tok"),
          floor((col("rf").cast("double") * col("k").cast("double") -
            col("sr").cast("double")) /
            sqrt(col("vark").cast("double")) * 1e6 + 0.5).cast("long").as("zm"))
      val pairs = z.toDF("sa", "tok", "za")
        .join(z.toDF("sb", "tok", "zb"), Seq("tok"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_words"), sum(abs(col("za") - col("zb"))).as("sd"))
      pairs.select(col("sa"), col("sb"), col("n_words"),
          fround(col("sd").cast("double") / (col("n_words") * 1e6), 4)
            .as("burrows_delta"))
        .orderBy("sa", "sb")
    },
    Some("""WITH st AS (SELECT source, tok, count(*) AS c FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1, 2), tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt FROM st GROUP BY 1), top AS (SELECT tok FROM (SELECT tok, CAST(sum(c) AS BIGINT) AS cf FROM st GROUP BY 1) ORDER BY cf DESC, tok LIMIT 30), grid AS (SELECT tt.source, top.tok, coalesce(st.c, 0) * 1000000000 // tt.nt AS rf FROM tt CROSS JOIN top LEFT JOIN st ON st.source = tt.source AND st.tok = top.tok), stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS k, CAST(sum(rf) AS BIGINT) AS sr, sum(CAST(rf AS HUGEINT) * rf) AS srr FROM grid GROUP BY 1), sv AS (SELECT *, k * srr - CAST(sr AS HUGEINT) * sr AS vark FROM stats WHERE k * srr - CAST(sr AS HUGEINT) * sr > 0), z AS (SELECT g.source, g.tok, CAST(floor((CAST(g.rf AS DOUBLE) * CAST(sv.k AS DOUBLE) - CAST(sv.sr AS DOUBLE)) / sqrt(CAST(sv.vark AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS zm FROM grid g JOIN sv ON g.tok = sv.tok), pr AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_words, CAST(sum(abs(a.zm - b.zm)) AS BIGINT) AS sd FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2) SELECT sa, sb, n_words, floor(CAST(sd AS DOUBLE) / (n_words * 1000000.0) * 1e4 + 0.5) / 1e4 AS burrows_delta FROM pr ORDER BY 1, 2"""))

  /** HEAPS' LAW curve + exponent: vocabulary growth V(N) ≈ K·N^β along
    * the doc_id-ordered corpus prefix, in deciles — the sublinear-growth
    * check (β ≈ 0.4–0.8 for natural text; β → 1 flags unbounded junk
    * vocabulary, β → 0 a closed template language). The cumulative
    * distinct-vocabulary curve needs NO per-prefix rescans: each token's
    * FIRST document (one min-aggregation) places it in exactly one
    * decile, so both curves are cumulative sums over a 10-row frame. β
    * comes from the 10-point log-log OLS with micro-nat integer sums
    * (slope of ln V on ln N). Zipf's law (txt_zipf_fit) is the frequency
    * view; this is the growth view. */
  private lazy val heapsLaw = GraftQuery(
    "txt_heaps_law",
    "Heaps'-law vocabulary-growth deciles + fitted beta exponent",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val docDec = docs.crossJoin(broadcast(nDocs))
        .withColumn("r", row_number().over(Window.orderBy("doc_id")).cast("long"))
        .withColumn("dec", expr("((r - 1) * 10) div nd + 1"))
      val tokCum = docDec.groupBy("dec").agg(sum("nt").as("toks"))
      val firstDoc = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(min("doc_id").as("fd"))
        .join(docDec.select(col("doc_id").as("fd"), col("dec")), Seq("fd"))
        .groupBy("dec").agg(count(lit(1)).as("newv"))
      val w = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = tokCum.join(firstDoc, Seq("dec"), "left") // a decile with
        // zero NEW vocabulary must still contribute its token mass
        .withColumn("tokens_cum", sum("toks").over(w))
        .withColumn("vocab_cum", sum(coalesce(col("newv"), lit(0L))).over(w))
        .select(col("dec"),
          floor(log(col("tokens_cum").cast("double")) * 1e6 + 0.5).cast("long")
            .as("lx"),
          floor(log(col("vocab_cum").cast("double")) * 1e6 + 0.5).cast("long")
            .as("ly"),
          col("tokens_cum"), col("vocab_cum"))
      val fit = curve.agg(count(lit(1)).as("m"), sum("lx").as("sx"),
          sum("ly").as("sy"),
          sum(col("lx").cast("decimal(38,0)") * col("lx")).as("sxx"),
          sum(col("lx").cast("decimal(38,0)") * col("ly")).as("sxy"))
        .select(fround((col("m") * col("sxy") - col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
          (col("m") * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx")).cast("double"), 4)
          .as("beta"))
      curve.select(col("dec").as("decile"), col("tokens_cum"), col("vocab_cum"))
        .crossJoin(broadcast(fit))
        .orderBy("decile")
    },
    Some("""WITH docs AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt FROM documents), nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM docs), dd AS (SELECT doc_id, nt, ((CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1) * 10) // nd + 1 AS dec FROM docs CROSS JOIN nd), tc AS (SELECT dec, CAST(sum(nt) AS BIGINT) AS toks FROM dd GROUP BY 1), fd AS (SELECT tok, min(doc_id) AS fd FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1), nv AS (SELECT dd.dec, count(*) AS newv FROM fd JOIN dd ON dd.doc_id = fd.fd GROUP BY 1), cv AS (SELECT tc.dec, CAST(sum(toks) OVER w AS BIGINT) AS tokens_cum, CAST(sum(coalesce(newv, 0)) OVER w AS BIGINT) AS vocab_cum FROM tc LEFT JOIN nv USING (dec) WINDOW w AS (ORDER BY tc.dec ROWS UNBOUNDED PRECEDING)), lg AS (SELECT dec, tokens_cum, vocab_cum, CAST(floor(ln(CAST(tokens_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx, CAST(floor(ln(CAST(vocab_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ly FROM cv), f AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy, sum(CAST(lx AS HUGEINT) * lx) AS sxx, sum(CAST(lx AS HUGEINT) * ly) AS sxy FROM lg) SELECT dec AS decile, tokens_cum, vocab_cum, floor(CAST(m * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / CAST(m * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1e4 + 0.5) / 1e4 AS beta FROM lg CROSS JOIN f ORDER BY decile"""))

  /** Pairwise VOCABULARY Jaccard between sources — the set-level
    * complement to txt_jsd_sources' distributional distance (two corpora
    * can share every word yet differ sharply in frequency, and vice
    * versa; reading both says which). Intersections come from ONE
    * token-keyed self-meet of the distinct (source, token) table —
    * vocabulary-sized, never corpus-sized — and set sizes broadcast;
    * |A∪B| = |A|+|B|−|A∩B| so the union is never materialized. */
  private lazy val vocabJaccardSources = GraftQuery(
    "txt_vocab_jaccard_sources",
    "pairwise source vocabulary Jaccard from one token-keyed self-meet",
    (s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = broadcast(st.groupBy("source").agg(count(lit(1)).as("nv")))
      val inter = st.toDF("sa", "tok").join(st.toDF("sb", "tok"), Seq("tok"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("ninter"))
      inter
        .join(sizes.toDF("sa", "na"), Seq("sa"))
        .join(sizes.toDF("sb", "nb"), Seq("sb"))
        .select(col("sa"), col("sb"), col("ninter"),
          (col("na") + col("nb") - col("ninter")).as("nunion"),
          fround(col("ninter").cast("double") /
            (col("na") + col("nb") - col("ninter")).cast("double"), 4)
            .as("vocab_jaccard"))
        .orderBy("sa", "sb")
    },
    Some("""WITH st AS (SELECT DISTINCT source, tok FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents)), sz AS (SELECT source, count(*) AS nv FROM st GROUP BY 1), i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS ninter FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2) SELECT sa, sb, ninter, x.nv + y.nv - ninter AS nunion, floor(CAST(ninter AS DOUBLE) / CAST(x.nv + y.nv - ninter AS DOUBLE) * 1e4 + 0.5) / 1e4 AS vocab_jaccard FROM i JOIN sz x ON i.sa = x.source JOIN sz y ON i.sb = y.source ORDER BY 1, 2"""))

}
