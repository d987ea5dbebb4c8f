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
  /** Per-invocation suffix for [[bloomCandidates]]' temp view names. */
  private val bloomViewNonce = new java.util.concurrent.atomic.AtomicLong(0L)

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
    * data-limited here (the operator is what's under test); FreqSketchSpec proves the guarantee on a skewed input.
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
    tokenStats, fingerprint, topNgrams, repetition, decontaminate,
    boilerplate, decontaminateBloom, vocabTopK, vocabSketch, unigramLogprob,
    txtNovelty, pplBuckets, charEntropy, splitContamination, featureHashing,
    surprisalBySource, pmiCollocations)

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

}
