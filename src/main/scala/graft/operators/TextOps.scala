package graft.operators

import graft.{ColumnInterpolator, Tables}
import graft.functions.TextFunctions._
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for training-data curation
  * (SURVEY.md §2.7 #45-48): language ID, quality scoring, token
  * counting, document fingerprinting.
  *
  * All per-document (embarrassingly parallel — no shuffle except the
  * fingerprint's keyed agg), all integer-valued or integer-ratio
  * metrics (`x div y` fixed-point) so the DuckDB oracle matches
  * exactly at any scale.
  */
object TextOps {

  /** #45 Language ID via stopword-marker counting: hits per language
    * marker set (with multiplicity), argmax with en>de>fr priority,
    * 'und' when nothing matches. */
  def textLangid(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tk", tokens($"text"))
      .select($"doc_id",
        markerHits($"tk", enMarkers).as("en_hits"),
        markerHits($"tk", deMarkers).as("de_hits"),
        markerHits($"tk", frMarkers).as("fr_hits"),
        size($"tk").cast(LongType).as("n_tokens"))
      .withColumn("detected", detectedLang($"en_hits", $"de_hits", $"fr_hits"))
      .orderBy($"doc_id")

  /** Shared per-doc integer metric projection (tk + counts) behind
    * [[textQuality]] and [[gateFlags]] — ONE definition so a
    * tokenization or metric tweak can never drift the score report
    * and the gate. tok_chars is total token chars WITHOUT an
    * interpreted higher-order function (`aggregate` runs ~16 µs/lambda
    * — NOTES.md): concat_ws + length is codegen'd and
    * value-identical. */
  private def qualityMetrics(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", tokens($"text"))
      .withColumn("n_chars_m", length($"text").cast(LongType))
      .withColumn("n_tokens", size($"tk").cast(LongType))
      .withColumn("n_distinct", size(array_distinct($"tk")).cast(LongType))
      .withColumn("stop_hits", markerHits($"tk", enMarkers))
      .withColumn("tok_chars", length(concat_ws("", $"tk")).cast(LongType))

  /** #46 Quality metrics: char len, token counts, duplicate-token and
    * stopword ratios (e4 fixed-point), mean token length (e2). */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    qualityMetrics(Tables.documents(spark, sfDir))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_chars_m", $"n_tokens", $"n_distinct",
        expr("(n_tokens - n_distinct) * 10000 div n_tokens").as("dup_ratio_e4"),
        expr("stop_hits * 10000 div n_tokens").as("stop_ratio_e4"),
        expr("tok_chars * 100 div n_tokens").as("avg_tok_len_e2"))
      .orderBy($"doc_id")

  /** #47 Token counting: whitespace tokens + a BPE-ish regex token
    * class count (`[A-Za-z0-9]+` runs — the word-piece baseline). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(tokens($"text")).cast(LongType).as("ws_tokens"),
        regexp_count($"text", lit("[A-Za-z0-9]+")).cast(LongType).as("re_tokens"),
        length($"text").cast(LongType).as("n_chars_m"))
      .orderBy($"doc_id")

  /** #48 Order-independent document fingerprint: sum of token hashes
    * mod p over the token multiset. Associative integer agg →
    * partial-agg'd, deterministic; the order-SENSITIVE rolling
    * polynomial hash variant is the custom Catalyst Expression in
    * graft.functions (spec-gated). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1000000007L
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .select($"doc_id", (hash60($"tok") % p).as("hp"))
      .groupBy($"doc_id")
      .agg((sum($"hp") % p).as("fp"))
      .orderBy($"doc_id")
  }

  /** #48b Rolling-window fingerprint summary per document: the
    * Rabin–Karp window hashes (graft.functions.RollingHash.rollingHashes — O(1)
    * per step, narrow map) reduced to window count, min/max window
    * hash, and an order-independent mod-P sum — the per-doc signature
    * used for partial-overlap candidate generation. The DuckDB oracle
    * recomputes every window by direct polynomial in HUGEINT, proving
    * the rolling recurrence exact. */
  def rollingFp(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.RollingHash.{rollingHashes, P}
    Tables.documents(spark, sfDir)
      .select($"doc_id", rollingHashes($"text", TextOps.RollWindow).as("hs"))
      .filter(size($"hs") > 0)
      .select($"doc_id",
        size($"hs").cast(LongType).as("n_windows"),
        array_min($"hs").as("min_h"),
        array_max($"hs").as("max_h"),
        // native sum-mod — the last hot-path aggregate() HOF is gone;
        // same left-fold (acc + h) % P the oracle computes in HUGEINT
        graft.functions.VectorExprs.sumMod($"hs", P).as("sum_mod"))
      .orderBy($"doc_id")
  }

  val RollWindow = 16

  /** #53 Repetition metrics (the Gopher-style repetition quality
    * filter): occurrence count + e4 fraction of the single most
    * frequent token, and the duplicated-bigram count + e4 fraction
    * (total bigram positions minus distinct bigrams). High values
    * flag boilerplate/spam for removal before training. All per-doc
    * narrow-map native expressions — no explode, no shuffle; the
    * 100 TB plan is scan → project → sort. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tk", tokens($"text"))
      .select($"doc_id",
        size($"tk").cast(LongType).as("n_tokens"),
        graft.functions.TextSetExprs.maxTokenCount($"tk").as("top_tok_cnt"),
        size(graft.functions.TextHash.gramHashes($"text", 2))
          .cast(LongType).as("n_distinct_bigrams"))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_tokens", $"top_tok_cnt",
        expr("top_tok_cnt * 10000 div n_tokens").as("top_tok_ratio_e4"),
        ($"n_tokens" - 1).as("n_bigrams"),
        ($"n_tokens" - 1 - $"n_distinct_bigrams").as("dup_bigram_cnt"),
        expr("CASE WHEN n_tokens > 1 THEN (n_tokens - 1 - n_distinct_bigrams) * 10000 div (n_tokens - 1) ELSE 0 END")
          .as("dup_bigram_ratio_e4"))
      .orderBy($"doc_id")

  /** Simpson-diversity flag bar for the [[tokenDiversity]] profile's
    * consumers: docs below ~0.9 on this corpus are template/spam
    * shaped. Shared with specs so the bar cannot drift. */
  val DiversityLowE6 = 900000L

  /** #92 Token-diversity profile (Simpson index): per document the
    * probability two uniformly sampled tokens DIFFER, as an exact
    * integer ratio simpson_e6 = (n² − Σc²)·10⁶ div n² over the
    * per-doc token counts — the repetition detector's complement
    * (low diversity ⇒ template/boilerplate text even when no single
    * token dominates, the case [[textRepetition]]'s top-token ratio
    * misses). Σc² is one hash-map pass per document
    * ([[graft.functions.TextSetExprs.sumSqTokenCounts]], native
    * codegen'd — never an explode + (doc, token) shuffle), so the
    * 100 TB plan stays scan → project → sort, same as #53. The
    * n²·10⁶ product passes 2⁶³ at n ≈ 3.03M tokens (a ~15 MB
    * concatenation blob — exactly the doc class this profile is
    * meant to flag), so the intermediate runs in DECIMAL(38,0)
    * ≡ DuckDB HUGEINT (the #99 pattern); the ratio itself is
    * < 10⁶ and lands back in BIGINT. */
  def tokenDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tk", tokens($"text"))
      .select($"doc_id",
        size($"tk").cast(LongType).as("n_tokens"),
        graft.functions.TextSetExprs.sumSqTokenCounts($"tk").as("sum_sq_counts"))
      .filter($"n_tokens" > 0)
      .select($"doc_id", $"n_tokens", $"sum_sq_counts",
        expr("cast(((cast(n_tokens as decimal(38,0)) * n_tokens - sum_sq_counts) * 1000000) " +
          "div (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)")
          .as("simpson_e6"))
      .orderBy($"doc_id")

  /** #55 Corpus vocabulary profile: top-20 bigrams by DOCUMENT
    * frequency (each doc contributes its distinct grams once), count
    * desc with gram-text tiebreak. Scale: distinct-gram generation is
    * the narrow native expression, the count partial-aggregates
    * before its single shuffle, and the top-20 is
    * `TakeOrderedAndProject` — never a global sort. */
  // The string-keyed aggregation is the MEASURED optimum here, not an
  // oversight (round-10 attribution): the decade curve (×15.1 at
  // sf1→sf10) tracks the corpus's CHARACTER growth (×18.6 — generated
  // sf10 docs double their token length), so the plan is sublinear in
  // its true input unit. Alternatives measured at sf10: MD5 gram-hash
  // keys ×2.3 SLOWER (digest dominates); xxhash64 keys carrying
  // min/max(gram) for the output string ~28 s (var-len aggregate
  // buffers leave the fast HashAggregate path — the 8.9 s hash-agg
  // figure only holds with the string aggregates pruned); a two-pass
  // hash-then-join-strings design re-pays the full tokenize+explode
  // scan and nets zero. Vocabulary aggregations at 100 TB want a
  // df-threshold pre-filter upstream, not a different key type.
  def ngramTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextHash.gramStrings($"text", 2)).as("gram"))
      .groupBy($"gram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy($"doc_freq".desc, $"gram".asc)
      .limit(20)

  /** Docs profiled by [[tfidfTopk]] (df/N still span the WHOLE
    * corpus) and terms kept per doc. Shared with the oracle. */
  val TfidfDocLimit = 50L
  val TfidfTopK = 3

  /** #61 TF-IDF top terms per document — the classic relevance signal
    * (rare-term salience) in INTEGER rational arithmetic so the oracle
    * matches bit-for-bit: idf_e3 = (1e3·N) div df replaces ln(N/df)
    * (a monotone transform — per-doc ranking by tf·idf is preserved
    * for fixed tf; and cross-engine ln is not ulp-stable, so the
    * standard log form cannot be hash-gated). e3, not e6: a df=1 term
    * at N = 1e9 docs has idf_e3 = 1e12, leaving tf headroom to ~9e6
    * repetitions before BIGINT overflow (e6 would overflow — ANSI
    * ArithmeticException — at tf ≈ 9.2e3, reachable in one spammy
    * doc). Scale shape: the document-frequency table is the
    * corpus-wide vocab aggregation (one partial-agg'd shuffle); the
    * profiled doc batch is pruned at the scan and its term counts
    * BROADCAST against the vocab table — per-batch scoring never
    * reshuffles the corpus. */
  def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // per-doc term dedup is LOCAL (array_distinct before the explode)
    // — the old explode-then-distinct shape shuffled the full
    // (doc_id, term) occurrence stream just to drop within-doc
    // repeats; same df by definition (docs containing the term), one
    // vocab-bounded partial-agg exchange instead of a corpus-scale
    // distinct exchange + a second agg exchange
    val df = docs.select(explode(array_distinct(tokens($"text"))).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // filter BEFORE the explode: Catalyst does not push predicates
    // through Generate, so filtering `terms` would read+tokenize the
    // whole corpus to extract the profiled batch (plan-audited —
    // PushedFilters was empty the other way)
    val tf = docs.filter($"doc_id" < TfidfDocLimit)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val scored = df.join(broadcast(tf), "term")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf", $"df",
        ($"tf" * expr("(1000 * n_docs) div df")).as("score_e3"))
    TopK(scored, Seq("doc_id"),
        Seq((-$"score_e3").as("score_e3"), $"term", $"tf", $"df"), TfidfTopK, "rnk")
      .select($"doc_id", $"rnk", $"term", $"tf", $"df", (-$"score_e3").as("score_e3"))
      .orderBy($"doc_id", $"rnk")
  }

  /** PII patterns — ONE definition shared by the metrics report
    * (#47b), the redaction transform (#146), and both oracles (the
    * round-7 interpolation convention: a retuned pattern cannot
    * drift the gate). Restricted to the regex subset Java and RE2
    * (DuckDB) evaluate identically: character classes, bounded
    * counts, alternation — no backreferences or lookaround. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiUrlRe = "https?://[^ ]+"
  val PiiDigitsRe = "[0-9]{6,}"

  /** #47b Pattern scrubbing metrics: email / URL / long-digit-run
    * counts per document — the flag-before-redact pass of a
    * training-data pipeline. */
  def textPii(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        regexp_count($"text", lit(PiiEmailRe)).cast(LongType).as("n_emails"),
        regexp_count($"text", lit(PiiUrlRe)).cast(LongType).as("n_urls"),
        regexp_count($"text", lit(PiiDigitsRe)).cast(LongType).as("n_digit_runs"))
      .orderBy($"doc_id")

  /** #146 PII redaction transform: the act-on-it half of #47b — every
    * email / URL / long digit run replaced by a typed placeholder
    * token, with per-doc replacement counts so the drop in byte count
    * reconciles against the metrics report. Replacement ORDER is part
    * of the contract (emails first, then URLs, then digit runs, each
    * global leftmost-first — both engines apply the same chain), since
    * a URL can contain digit runs and the output text depends on who
    * fires first.
    *
    * Scale shape: a pure narrow codegen'd projection — three
    * `regexp_replace` passes over the text at scan speed, no shuffle
    * anywhere (the ORDER BY is the gate's, not the operator's). At
    * 100 TB this is the canonical "rewrite the corpus in place" map
    * stage; counts ride along so the pipeline can alert on a source
    * whose redaction density jumps. */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    redactStage(Tables.documents(spark, sfDir)).orderBy($"doc_id")

  /** The stateless redaction projection behind [[piiRedact]] — ONE
    * definition shared with the streaming ingest gate
    * (StreamingJobs.redactGate) and the end-to-end ingest job
    * (jobs.IngestPipeline), so batch rewrite and at-ingest redaction
    * can never disagree on a byte. Input needs (doc_id, source,
    * text); `carry` names extra input columns to pass through
    * untouched (the ingest job rides its gate flags and content hash
    * through the rewrite instead of paying a join). */
  private[graft] def redactStage(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val c = carry.map(col)
    docs
      .select(Seq($"doc_id", $"source", $"text",
        regexp_replace(
          regexp_replace($"text", PiiEmailRe, "<EMAIL>"),
          PiiUrlRe, "<URL>").as("red1")) ++ c: _*)
      .select(Seq($"doc_id", $"source",
        regexp_replace($"red1", PiiDigitsRe, "<DIGITS>").as("red_text"),
        regexp_count($"text", lit(PiiEmailRe)).cast(LongType).as("n_emails"),
        regexp_count($"text", lit(PiiUrlRe)).cast(LongType).as("n_urls"),
        // counted on red1, not the raw text: this is the number of
        // <DIGITS> substitutions actually made (a digit run consumed
        // by an email/URL above no longer exists to redact)
        regexp_count($"red1", lit(PiiDigitsRe)).cast(LongType)
          .as("n_digit_runs")) ++ c: _*)
  }

  // ---- #77 multi-rule quality gate ----------------------------------

  /** Gate thresholds (integer fixed-point, shared with the oracle).
    * Loosely the classic heuristic-filter rule family: token-count
    * range, mean-token-length range, duplicate-token ratio cap,
    * symbol-to-char ratio cap, stopword presence for declared-English
    * docs. */
  val GateLenMin = 10L;     val GateLenMax = 2000L
  val GateAvgMinE2 = 200L;  val GateAvgMaxE2 = 1200L
  val GateDupMaxE4 = 6000L
  val GateSymMaxE4 = 1000L

  /** #77 Multi-rule quality gate with per-rule drop attribution: each
    * doc is tested against five independent heuristic rules, and the
    * report says — per source — how many docs pass ALL rules and how
    * many fail EACH rule (a doc can fail several). This is the
    * observability face of a heuristic filter: before any doc is
    * dropped at 100 TB you want to know WHICH rule would do the
    * dropping, per source, or one miscalibrated threshold silently
    * deletes a corpus.
    *
    * Ratio rules are guarded CASE-first (n_tokens = 0 → fail) so no
    * division-by-zero path exists in either engine. Plan: one narrow
    * flag projection (codegen'd built-ins only) + one partial-agg'd
    * shuffle on source — runs at scan speed. */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame =
    gateReport(gateFlags(Tables.documents(spark, sfDir)))

  /** Per-doc pass/fail flags — the STATELESS narrow stage of
    * [[qualityGate]], shared verbatim by the batch report and the
    * streaming per-drop form (StreamingSpec pins row parity), so the
    * two can never disagree on a boundary doc. Input needs
    * (source, lang, text). */
  def gateFlags(docs: DataFrame): DataFrame =
    qualityMetrics(docs)
      .withColumn("n_sym",
        regexp_count($"text", lit("[^A-Za-z0-9 ]")).cast(LongType))
      .select($"source",
        when($"n_tokens".between(GateLenMin, GateLenMax), 1L).otherwise(0L)
          .as("p_len"),
        when($"n_tokens" === 0L, 0L)
          .when(expr("tok_chars * 100 div n_tokens")
            .between(GateAvgMinE2, GateAvgMaxE2), 1L)
          .otherwise(0L).as("p_avg"),
        when($"n_tokens" === 0L, 0L)
          .when(expr("(n_tokens - n_distinct) * 10000 div n_tokens")
            <= GateDupMaxE4, 1L)
          .otherwise(0L).as("p_dup"),
        when($"n_chars_m" === 0L, 0L)
          .when(expr("n_sym * 10000 div n_chars_m") <= GateSymMaxE4, 1L)
          .otherwise(0L).as("p_sym"),
        when($"lang" =!= "en" || $"stop_hits" >= 1L, 1L).otherwise(0L)
          .as("p_stop"))

  /** The aggregation stage of [[qualityGate]] over [[gateFlags]]
    * output — complete-mode-safe (plain keyed agg) so a streaming
    * per-drop report reuses it unchanged. */
  def gateReport(flags: DataFrame): DataFrame =
    flags
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"p_len" * $"p_avg" * $"p_dup" * $"p_sym" * $"p_stop").as("n_pass"),
        sum(lit(1L) - $"p_len").as("f_len"),
        sum(lit(1L) - $"p_avg").as("f_avg"),
        sum(lit(1L) - $"p_dup").as("f_dup"),
        sum(lit(1L) - $"p_sym").as("f_sym"),
        sum(lit(1L) - $"p_stop").as("f_stop"))
      .orderBy($"source")

  // ---- #78 BM25 top-k retrieval -------------------------------------

  /** BM25 constants, e3 fixed point: k1 = 1.2, b = 0.75. The idf is
    * the same integer form tfidfTopk publishes (1000·N div df) so the
    * two rankers share one document-frequency notion. */
  val Bm25K1E3 = 1200L
  val Bm25BE3 = 750L
  val Bm25TopK = 10
  /** Fixed retrieval query set (qid → space-separated terms). */
  val Bm25Queries: Seq[(String, String)] = Seq(
    "q0" -> "spark window join",
    "q1" -> "hash table scan",
    "q2" -> "stream batch data",
    "q3" -> "filter sort merge")

  /** #78 BM25 top-k retrieval: score every document against a fixed
    * query set with length-normalized, saturation-damped term
    * weighting (the classic k1/b form, e3/e6 fixed point so both
    * engines agree bit-for-bit) and return the top K docs per query.
    *
    * Scale shape: the term explode is filtered to QUERY terms before
    * any aggregation — only the query terms' posting lists (tf rows)
    * ever reach a shuffle, never the corpus vocabulary. df and the
    * query list are broadcast; the tf↔dl join shuffles only posting
    * rows on doc_id. The per-query ranking is the [[TopK]] builder
    * (O(K) state per partition), not a Window sort — the oracle's
    * row_number is the same total order (score desc, doc_id asc). */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    retrievalTopk(bm25Scored(postingFrames(spark, sfDir)), Bm25TopK)
      .orderBy($"qid", $"rnk")

  private val postings = new Materialize.Artifact[(Materialize.Stored, Materialize.Stored)](
    "post-", "documents")

  /** The posting-list frames every lexical ranker shares — ONE
    * definition of tf / df / query table / doc length / corpus
    * stats, so [[bm25Scored]] and [[tfidfScored]] can never disagree
    * on what a term count is. The query-term-FILTERED tf table and
    * the narrow (doc_id, dl) length table are build-once artifacts
    * keyed by the corpus fingerprint (the lmCountsShared pattern):
    * three rankers consume them (#78 BM25, the TF·IDF leg, #78c RRF —
    * the hybrid needs both at once), and both frames are tiny
    * relative to the corpus (postings of 12 query terms; one length
    * row per doc) — it's the TOKENIZED CORPUS that would be too big
    * to persist, and that never leaves the build scan. df and stats
    * derive from the artifacts, so every consumer prices them off
    * identical counts. */
  private def postingFrames(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val qterms = Bm25Queries.flatMap { case (qid, qs) =>
      qs.split(" ").toSeq.distinct.map(t => (qid, t))
    }
    val queryTerms = qterms.map(_._2).distinct
    val (tfS, dlS) = postings(spark, sfDir) {
      val docs = Tables.documents(spark, sfDir)
      val dlB = docs.select($"doc_id",
        size(tokens($"text")).cast(LongType).as("dl"))
      val tfB = docs
        .select($"doc_id", explode(tokens($"text")).as("term"))
        .filter($"term".isin(queryTerms.map(t => t: Any): _*))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      (postings.store(tfB, "tf-"), postings.store(dlB, "dl-"))
    }
    val tf = tfS.read(spark)
    val dl = dlS.read(spark)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum($"dl").as("total_tokens"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val qdf = spark.createDataFrame(qterms).toDF("qid", "term")
    (tf, df, qdf, dl, stats)
  }

  /** BM25-scored (qid, doc_id, score_e6) — the pre-ranking subtree
    * shared by [[bm25Topk]] and [[hybridRrf]]. Takes the
    * [[postingFrames]] tuple so a multi-ranker consumer resolves the
    * artifact ONCE (one fingerprint, one read graph) per query. */
  private def bm25Scored(frames: (DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame)): DataFrame = {
    val (tf, df, qdf, dl, stats) = frames
    tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qdf), "term")
      .withColumn("avgdl_e3", expr("(total_tokens * 1000) div n_docs"))
      .withColumn("lennorm_e3",
        expr(s"1000 - $Bm25BE3 + ($Bm25BE3 * dl * 1000) div avgdl_e3"))
      .withColumn("sat_e3",
        expr(s"(tf * ${Bm25K1E3 + 1000L} * 1000) div " +
          s"(tf * 1000 + ($Bm25K1E3 * lennorm_e3) div 1000)"))
      .select($"qid", $"doc_id",
        (expr("(1000 * n_docs) div df") * $"sat_e3").as("c"))
      .groupBy($"qid", $"doc_id").agg(sum($"c").as("score_e6"))
  }

  /** Plain TF·IDF-scored (qid, doc_id, score_e6) — no saturation, no
    * length norm: score = Σ_t tf · ((10⁶·N) div df). Deliberately a
    * DIFFERENT ranking function from BM25 over the same postings
    * (long docs and repeated terms rank differently), which is what
    * makes fusing the two informative. */
  private def tfidfScored(frames: (DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame)): DataFrame = {
    val (tf, df, qdf, _, stats) = frames
    tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .join(broadcast(qdf), "term")
      .select($"qid", $"doc_id",
        ($"tf" * expr("(1000000 * n_docs) div df")).as("c"))
      .groupBy($"qid", $"doc_id").agg(sum($"c").as("score_e6"))
  }

  /** Per-query top-K by (score desc, doc_id asc) through the [[TopK]]
    * builder — the ranking reduction shared by all three retrieval
    * rankers (O(K) state per partition, no Window sort; the oracle's
    * row_number is the same total order). Input columns: (qid,
    * doc_id, score_e6). */
  private def retrievalTopk(scored: DataFrame, k: Int): DataFrame =
    TopK(scored, Seq("qid"), Seq((-$"score_e6").as("score_e6"), $"doc_id"), k, "rnk")
      .select($"qid", $"rnk", $"doc_id", (-$"score_e6").as("score_e6"))

  /** RRF constant k = 60 (the standard Cormack/Clarke/Buettcher
    * value) and the fused depth. */
  val RrfKE = 60L
  val RrfTopK = 10

  /** #78c Reciprocal-rank-fusion hybrid retrieval: fuse the BM25 and
    * TF·IDF top-[[Bm25TopK]] rankings per query by
    * Σ_rankers 10⁶ div (60 + rank) — the standard RRF rule in e6
    * fixed point (a doc absent from one ranker's top-K contributes 0
    * from it). Rank fusion is how production retrieval combines
    * rankers with incomparable score scales (lexical + dense, or —
    * as here, where the corpus embeddings index a different id
    * space — two lexical scorers with different saturation
    * behavior); RRF needs only RANKS, so it composes any pair of
    * [[retrievalTopk]] outputs unchanged.
    *
    * Scale shape: both rankers are the shared bounded-heap reduction
    * over broadcast-joined posting lists; the fusion itself touches
    * only 2·K·|queries| rows — a |queries|-bounded partial agg, then
    * one more bounded-heap ranking. Nothing new shuffles at corpus
    * scale. */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    def contrib(r: DataFrame): DataFrame =
      r.select($"qid", $"doc_id",
        expr(s"1000000 div ($RrfKE + rnk)").as("c"))
    val frames = postingFrames(spark, sfDir)
    val fused = contrib(retrievalTopk(bm25Scored(frames), Bm25TopK))
      .unionByName(contrib(retrievalTopk(tfidfScored(frames), Bm25TopK)))
      .groupBy($"qid", $"doc_id").agg(sum($"c").as("score_e6"))
    retrievalTopk(fused, RrfTopK)
      .withColumnRenamed("score_e6", "rrf_e6")
      .orderBy($"qid", $"rnk")
  }

  /** #81 Statistical bigram-LM fluency score — the CCNet-style
    * "does this doc look like the corpus?" quality signal, made
    * deterministic: per bigram occurrence the conditional-frequency
    * ratio c(w1 w2) * 1e6 div c(w1) (corpus counts; c(w1) is the full
    * unigram count — the standard denominator approximation, defined
    * identically in the oracle), per doc the integer mean over its
    * bigram positions. Fluent/templated text scores high; shuffled
    * or out-of-domain text scores near the 1/vocab floor. No logs or
    * doubles — ranking by mean ratio orders docs the same way a mean
    * log-prob would for the comparisons a gate makes, and stays
    * hash-exact cross-engine.
    *
    * Physical shape at 100 TB: the count tables are vocab-bounded
    * (≪ corpus) partial-agg shuffles. Scoring joins the raw bigram
    * OCCURRENCE stream directly — the readout is
    * occurrence-distributive (Σ_occurrences r = Σ k·r and n = Σ k
    * for any per-doc grouping), so a per-doc (doc, bigram, k)
    * pre-group is value-identical but pays a FULL extra
    * string-keyed exchange for the little compression duplicate
    * in-doc bigrams buy (removing it measured 48 → 16 s at sf10).
    * The ratio joins are equi-joins on term keys; natural-language
    * bigrams are heavily skewed ("of the" is in every doc), which is
    * exactly the shape AQE's skew-join split handles — the count
    * side is one row per key, trivially replicable. Nothing
    * driver-side, nothing quadratic. */
  def lmQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val (uni, big) = lmCountsShared(spark, sfDir)
    // join the raw bigram OCCURRENCE stream — no per-doc (w1, w2)
    // pre-group: the readout is occurrence-distributive
    // (sum(k·r)/sum(k) over grouped rows ≡ sum(r)/count over
    // occurrences, integer-exact), and duplicate bigrams within one
    // doc are rare in practice, so the pre-group bought almost no
    // compression while paying a FULL extra (doc_id, w1, w2)-keyed
    // exchange of the fattest (string-keyed) frame in the plan
    // The occurrence stream joins ONE broadcast (bigram-hash → r)
    // table instead of shuffling against the two count tables
    // (vocab-bounded, ~96 k rows at sf10, while the stream is ~27 M
    // rows): r = c2·10⁶ div c1 is pre-joined on the tiny side, the
    // join key is xxhash64(w1, w2) — codegen'd, allocation-free, one
    // word — and the stream stays un-shuffled until the per-doc agg,
    // whose partial agg compresses to |docs| rows before its
    // exchange. Measured sf10: 24.5 s (two shuffled string-keyed
    // joins) → 17.8 s (two broadcast string-keyed joins) → the
    // single long-keyed broadcast below. EXACT because every stream
    // bigram occurs in the table by construction (same corpus, same
    // tokenization), so only a hash collision WITHIN the table could
    // alias two r values — detected driver-side on the ~|bigrams|
    // table and answered with the string-keyed join fallback.
    // The rTab AND the collision verdict are a build-once artifact
    // keyed by the corpus fingerprint (r10 ADVICE): the first call
    // per corpus pays the check job once; repeated calls — and
    // plan-only consumers (explain, specs) — get the cached verdict
    // with no eager job and broadcast the materialized parquet.
    val (rTab, collided) = lmRTab(spark, sfDir) {
      val r = lmRTab.store(big.join(broadcast(uni), Seq("w1"))
        .select(xxhash64($"w1", $"w2").as("bh"),
          expr("c2 * 1000000 div c1").as("r")))
      (r, r.read(spark)
        .groupBy($"bh").agg(count(lit(1)).as("n"))
        .filter($"n" > 1).limit(1).count() > 0)
    }
    val stream = lmBigrams(Tables.documents(spark, sfDir))
    val scored =
      if (collided)
        stream.join(broadcast(big), Seq("w1", "w2"))
          .join(broadcast(uni), Seq("w1"))
          .select($"doc_id", expr("c2 * 1000000 div c1").as("r"))
      else
        stream.select($"doc_id", xxhash64($"w1", $"w2").as("bh"))
          .join(broadcast(rTab.read(spark)), "bh")
          .select($"doc_id", $"r")
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(r) div count(1)").as("lm_score_e6"))
      .orderBy($"doc_id")
  }

  /** Per-occurrence interior bigrams of a (doc_id, text) frame —
    * ONE tokenization/boundary definition shared by the batch scorer
    * and the streaming per-drop gate (StreamingJobs.lmGate), the
    * same no-desync discipline as gateFlags. Works on batch and
    * streaming frames alike (pure narrow). */
  private[graft] def lmBigrams(docs: DataFrame): DataFrame =
    docs.select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(sequence(lit(1), size($"tk") - 1)).as("i"),
        $"tk")
      .select($"doc_id", element_at($"tk", $"i").as("w1"),
        element_at($"tk", $"i" + 1).as("w2"))

  /** The corpus count tables of [[lmQuality]] (unigram c1, bigram
    * c2) — the "model" a per-drop streaming gate scores against,
    * recomputed batch-side per corpus snapshot. */
  def lmCounts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, sfDir)
    val uni = docs.select(explode(tokens($"text")).as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("c1"))
    val big = lmBigrams(docs)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    (uni, big)
  }

  private val lmTables = new Materialize.Artifact[(Materialize.Stored, Materialize.Stored)](
    "lm-", "documents")
  /** (rTab, xxhash64-collision verdict) per corpus fingerprint — see
    * [[lmQuality]]. */
  private val lmRTab = new Materialize.Artifact[
    (Materialize.Stored, Boolean)]("lm-rtab-", "documents")

  /** [[lmCounts]] as a build-once artifact keyed by the corpus
    * fingerprint — four operators price the corpus LM (#81 fluency,
    * #95 composite quality, #96 cluster retention via #95, #99
    * collocations), so the two vocab-bounded count tables are
    * materialized once and every consumer scans parquet (the
    * amortize-to-first-consumer design of the MinHash pair artifact;
    * NOTES.md "Bench attribution"). */
  def lmCountsShared(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val (uni, big) = lmTables(spark, sfDir) {
      val (u, b) = lmCounts(spark, sfDir)
      (lmTables.store(u, "uni-"), lmTables.store(b, "big-"))
    }
    (uni.read(spark), big.read(spark))
  }

  /** #114c Vocabulary-coverage curve: word types bucketed by
    * log2(count) tier with cumulative-from-the-top type counts and
    * e6 share of all token occurrences — "a vocab of the
    * cum_terms most frequent types covers coverage_e6 of the
    * corpus", the vocab-size pricing table behind the OOV gate
    * (#114) and BPE sizing (#151). Count-threshold tiers rather than
    * exact top-k bars on purpose: an exact-k curve needs a global
    * vocab sort (single-partition at a 10⁹-type corpus), while tiers
    * are one vocab-bounded partial agg + a cumulative window over
    * ≤64 rows. Reads the materialized LM unigram artifact; shares
    * run DECIMAL(38,0) ≡ HUGEINT (cum_occ·10⁶ overflows BIGINT at
    * 100 TB token totals). */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"log2_count".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tiers = lmCountsShared(spark, sfDir)._1
      .groupBy((length(bin($"c1")) - 1).cast("long").as("log2_count"))
      .agg(count(lit(1)).as("n_terms"), sum($"c1").as("n_occ"))
    tiers
      .withColumn("cum_terms", sum($"n_terms").over(w))
      .withColumn("cum_occ", sum($"n_occ").over(w))
      .crossJoin(broadcast(tiers.agg(sum($"n_occ").as("tot"))))
      .select($"log2_count", $"n_terms", $"n_occ", $"cum_terms", $"cum_occ",
        expr("""CAST((CAST(cum_occ AS DECIMAL(38,0)) * 1000000)
               |div CAST(tot AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("coverage_e6"))
      .orderBy($"log2_count".desc)
  }

  /** [[pmiTopk]] parameters: report the [[PmiTopK]] strongest
    * collocations among bigrams seen at least [[PmiMinCount]] times
    * (the floor kills hapax noise, where one co-occurrence of two
    * rare words maxes the statistic). */
  val PmiTopK = 30
  val PmiMinCount = 5L

  /** #99 Collocation profile: the corpus's strongest bigram
    * associations by pointwise-mutual-information LIFT —
    * p(w1w2)/(p(w1)·p(w2)) = c12·N/(c1·c2) in e6 fixed point
    * (lift = exp(PMI); same ranking, no floating log — SURVEY.md §4).
    * Flags templated/boilerplate phrases and multi-word entities the
    * unigram profiles (#55/#61) can't see. Shares [[lmCounts]] — one
    * corpus-LM count definition across #81/#95/#99.
    *
    * Scale shape: counts are one vocab-bounded partial-agg shuffle
    * each (the corpus is scanned narrow, never shuffled at row
    * granularity); the lift arithmetic runs on the counts frame
    * (vocab²-bounded, min-count-floored) with unigram equi-joins and
    * a 1-row broadcast total; c12·N·10⁶ can pass 2^63 at corpus
    * scale, so the numerator/denominator are exact DECIMAL(38,0) ≡
    * DuckDB HUGEINT. Top-k is TakeOrdered on the tiny scored frame. */
  def pmiTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val (uni, big) = lmCountsShared(spark, sfDir)
    val tot = big.agg(sum($"c2").as("n_tot"))
    big.filter($"c2" >= PmiMinCount)
      .withColumnRenamed("c2", "c12")
      .join(uni, Seq("w1"))
      .join(uni.select($"w1".as("w2"), $"c1".as("c2u")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select($"w1", $"w2", $"c12",
        expr("cast((cast(c12 as decimal(38,0)) * n_tot * 1000000) div " +
          "(cast(c1 as decimal(38,0)) * c2u) as bigint)").as("lift_e6"))
      .orderBy(desc("lift_e6"), $"w1", $"w2")
      .limit(PmiTopK)
  }

  /** #86 Vocabulary growth profile: per source, total token
    * occurrences, distinct terms, hapax legomena (terms seen exactly
    * once) and the derived type-token / hapax ratios (e6 fixed
    * point) — the Heaps-law health check that flags template-heavy
    * sources (tiny TTR) and OCR-noise sources (hapax spike) before
    * they skew a tokenizer or mixture. Physical shape: two chained
    * partial-agg shuffles — (source × term) first (vocab-bounded,
    * ≪ corpus), then |sources| rows; the corpus is scanned once and
    * never shuffled at row granularity. Rows exist only for sources
    * with ≥ 1 token, so both divisors are ≥ 1 by construction. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term")
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_terms"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select($"source", $"n_tokens", $"n_terms", $"n_hapax",
        expr("n_terms * 1000000 div n_tokens").as("ttr_e6"),
        expr("n_hapax * 1000000 div n_terms").as("hapax_ratio_e6"))
      .orderBy($"source")

  /** Reference-vocabulary size for [[oovRate]]. */
  val OovVocabK = 1000

  /** #114 Out-of-vocabulary rate: per source, the e6 share of token
    * occurrences OUTSIDE the corpus's [[OovVocabK]] most frequent
    * unigrams — the tokenizer-coverage / domain-shift audit (a source
    * whose text is mostly rare tokens fragments into long BPE
    * sequences and burns budget; a spike after an ingest flags a new
    * domain or encoding rot). Vocabulary cut is deterministic:
    * (count desc, token asc) over the materialized
    * [[lmCountsShared]] unigram artifact.
    *
    * Scale shape: the vocab is a TakeOrdered over the vocab-bounded
    * count table, BROADCAST (1000 rows) against one narrow token
    * explode; per-source partial agg; the rate division runs
    * DECIMAL(38,0) because n_oov·10⁶ overflows BIGINT at 100 TB
    * token counts. No token-keyed shuffle anywhere. */
  /** The [[OovVocabK]]-term reference vocabulary — ONE cut definition
    * shared by [[oovRate]], the per-doc frame, and the streaming
    * ingest gate, so the three can never disagree on what "in
    * vocabulary" means. */
  private[graft] def oovVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val (uni, _) = lmCountsShared(spark, sfDir)
    uni.orderBy($"c1".desc, $"w1".asc).limit(OovVocabK)
      .select($"w1".as("token"), lit(1L).as("in_vocab"))
  }

  /** Per-doc OOV counts against a broadcast `vocab` — the stage the
    * streaming ingest gate ([[graft.streaming.StreamingJobs.oovGate]])
    * shares with the batch per-doc audit: stateless per doc, so it
    * runs identically over a micro-batch drop and a batch scan.
    * Per-doc counts fit BIGINT at any corpus scale (the DECIMAL
    * guard is only needed for [[oovRate]]'s source totals). */
  private[graft] def oovPerDoc(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select($"doc_id", explode(tokens($"text")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_e6", expr("n_oov * 1000000 div n_tokens"))

  /** #119 Character-class profile: per source, the e6 shares of
    * letter / digit / space characters (the remainder is punctuation
    * and symbols) — the encoding-health report that catches mojibake,
    * markup bleed-through, and number-dump sources at a glance, one
    * level below the token-based gates (#46 scores docs; this
    * profiles the FEED). ASCII classes only, so the Java and RE2
    * regex engines agree character-for-character.
    *
    * Scale shape: narrow per-row `regexp_replace` counts (codegen'd)
    * into one |sources| partial agg; share divisions run
    * DECIMAL(38,0) since class counts scale with corpus bytes. */
  /** The stateless per-row class counts of [[charProfile]] — shared
    * with the streaming per-drop gate (one classifier definition). */
  private[graft] def charClassCounts(docs: DataFrame): DataFrame =
    docs.select($"source",
      length($"text").cast(LongType).as("n"),
      length(regexp_replace($"text", "[^A-Za-z]", "")).cast(LongType).as("na"),
      length(regexp_replace($"text", "[^0-9]", "")).cast(LongType).as("nd"),
      length(regexp_replace($"text", "[^ ]", "")).cast(LongType).as("ns"))

  /** The per-source reduction + share readout of [[charProfile]] —
    * commutative integer sums, so the complete-mode streaming form is
    * micro-batch-invariant with O(|sources|) state. */
  private[graft] def charReport(counts: DataFrame): DataFrame = {
    def share(num: String) =
      expr(s"""CAST((CAST($num AS DECIMAL(38,0)) * 1000000)
              |div CAST(n_chars AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
    counts
      .groupBy($"source")
      .agg(sum($"n").as("n_chars"), sum($"na").as("n_alpha"),
        sum($"nd").as("n_digit"), sum($"ns").as("n_space"))
      .withColumn("alpha_e6", share("n_alpha"))
      .withColumn("digit_e6", share("n_digit"))
      .withColumn("space_e6", share("n_space"))
  }

  def charProfile(spark: SparkSession, sfDir: String): DataFrame =
    charReport(charClassCounts(Tables.documents(spark, sfDir)))
      .orderBy($"source")

  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = oovVocab(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select($"source", explode(tokens($"text")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_e6",
        expr("""CAST((CAST(n_oov AS DECIMAL(38,0)) * 1000000)
               |div CAST(n_tokens AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .orderBy($"source")
  }

  /** #125 (SURVEY §2.7) language confusion matrix: metadata `lang` ×
    * detected language with counts and the e4 share of the metadata
    * row — WHERE the #54 mismatches go (en-labeled docs detecting
    * 'und' is markup/code bleed; en detecting de is mislabeled
    * ingestion), which decides whether to re-run language ID or fix
    * the feed. Shares the [[detectLang]] decision with #45/#54 (one
    * classifier definition); one narrow scan, a |langs|²-bounded
    * partial agg, row totals broadcast back. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = Tables.documents(spark, sfDir)
      .withColumn("tk", tokens($"text"))
      .withColumn("detected", detectLang($"tk"))
      .groupBy($"lang", $"detected")
      .agg(count(lit(1)).as("n_docs"))
    val rowTot = cm.groupBy($"lang").agg(sum($"n_docs").as("n_lang"))
    cm.join(broadcast(rowTot), Seq("lang"))
      .select($"lang", $"detected", $"n_docs",
        expr("n_docs * 10000 div n_lang").as("share_e4"))
      .orderBy($"lang", $"detected")
  }

  /** #126 (SURVEY §2.7) token-length profile: occurrences, distinct
    * terms, and the e6 occurrence share per token character length —
    * the tokenizer-health histogram one level below #47's counts (a
    * mass spike at length 1 is shattered punctuation, a heavy tail
    * past ~20 chars is URLs/markup gluing). Lengths are bounded
    * (≲ longest token), so: one narrow explode, a (len, term)
    * partial-agg dedup for the distinct leg, a |lens| agg, 1-row
    * total broadcast. */
  def tokenLenProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokens($"text")).as("t"))
      .select(length($"t").cast(LongType).as("tok_len"), $"t")
    val per = toks.groupBy($"tok_len")
      .agg(count(lit(1)).as("n_occ"), countDistinct($"t").as("n_terms"))
    val tot = per.agg(sum($"n_occ").as("n_total"))
    per.crossJoin(broadcast(tot))
      .select($"tok_len", $"n_occ", $"n_terms",
        expr("""CAST((CAST(n_occ AS DECIMAL(38,0)) * 1000000)
               |div CAST(n_total AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("share_e6"))
      .orderBy($"tok_len")
  }

  /** [[zipfTopk]] reports this many head terms. */
  val ZipfTopK = 30

  /** #123 (SURVEY §2.7) Zipf head profile: the [[ZipfTopK]] most
    * frequent unigrams with rank, count, the e4 head-to-rank count
    * ratio (c₁/c_r — Zipf's law predicts ≈ r), and the count·rank
    * product (≈ constant under the law) — the tokenizer-health /
    * head-concentration audit: a corpus whose top term carries 10×
    * the Zipf-predicted mass is template spam, one whose head is
    * flat is likely tokenizer breakage. Reads the materialized LM
    * unigram artifact (#81's count table — one corpus-vocabulary
    * definition); top-k is TakeOrdered on the vocab-bounded frame;
    * the rank window runs on the 30-row result only. The head-count
    * ratio multiplies in DECIMAL(38,0) (c₁·10⁴ passes 2^63 at
    * web-corpus token counts). */
  /** Number of greedy merge rounds [[bpeMerges]] trains (#151). */
  val BpeTrainRounds = 10

  /** A word as a parenthesis-wrapped symbol sequence —
    * `hello → (h)(e)(l)(l)(o)`. The wrapper makes merge application a
    * plain string `replace`: the pattern `(s1)(s2)` can only match at
    * a symbol boundary (a symbol SUFFIX like the `a` of `xa` is
    * always followed by `)`, never by `)(s2`-with-a-fresh-`(`), and
    * left-to-right non-overlapping replacement — the semantics of
    * both Spark's and DuckDB's `replace` — IS the greedy merge order
    * BPE specifies, so `(a)(a)(a)` under merge (a,a) becomes
    * `(aa)(a)`, never the overlapping double-count. Precondition:
    * tokens must not contain `(` or `)` (the synthetic corpus is
    * `[a-z0-9~]`; a production corpus would escape or pre-strip). */
  private def wrapSyms(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "(.)", "($1)")

  /** #151 BPE tokenizer induction: [[BpeTrainRounds]] greedy merge
    * rounds over the corpus WORD-TYPE table (classic BPE — symbol
    * pairs never cross a word boundary), returning each round's
    * chosen pair and the final segmented type table.
    *
    * Scale shape: the corpus is touched ONLY through the materialized
    * LM unigram artifact ([[lmCountsShared]] — word types + counts,
    * vocab-bounded ≪ corpus), so every training round is a narrow
    * pass over a vocab-sized frame: adjacent-pair enumeration +
    * one (s1, s2) partial-agg'd shuffle of pair-vocabulary size, then
    * a 1-row argmax (count desc, pair asc tiebreak) collected to the
    * driver — k single-row collects, the bounded-artifact discipline
    * of the k-means centroids. At 100 TB the unigram table is the
    * only corpus-sized reduction and it is already amortized across
    * the LM/Zipf/OOV family. */
  private[graft] def bpeTrain(spark: SparkSession, sfDir: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val uni = lmCountsShared(spark, sfDir)._1
    // tokens carrying the wrapper chars would make replace-as-merge
    // ambiguous — exclude them from the vocabulary (they fall back to
    // char-count segmentation in bpeApply) instead of corrupting
    // every merge that touches their neighborhood
    var types = uni
      .filter(!$"w1".contains("(") && !$"w1".contains(")"))
      .select($"w1", $"c1".as("cnt"), wrapSyms($"w1").as("seq"))
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= BpeTrainRounds && !exhausted) {
      val pairs = types
        .select(split(expr("substring(seq, 2, length(seq) - 2)"),
          "\\)\\(").as("s"), $"cnt")
        .filter(size($"s") >= 2)
        .select(explode(sequence(lit(1), size($"s") - 1)).as("i"),
          $"s", $"cnt")
        .select(element_at($"s", $"i").as("s1"),
          element_at($"s", $"i" + 1).as("s2"), $"cnt")
        .groupBy($"s1", $"s2").agg(sum($"cnt").as("n"))
      val best = pairs.orderBy($"n".desc, $"s1".asc, $"s2".asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every type is one symbol
      else {
        val (s1v, s2v, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, s1v, s2v, n))
        types = types.withColumn("seq",
          replace($"seq", lit(s"($s1v)($s2v)"), lit(s"($s1v$s2v)")))
      }
      r += 1
    }
    (merges.toList, types)
  }

  /** #151 The trained merge table: (round, s1, s2, n) — one row per
    * greedy merge in training order with the weighted pair count that
    * won the round. The first thing to diff when two corpus snapshots
    * should share a tokenizer. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val (m, _) = bpeTrain(spark, sfDir)
    spark.createDataFrame(m).toDF("round", "s1", "s2", "n")
      .orderBy($"round")
  }

  /** #151b Tokenizer-fit report: the trained BPE applied per source —
    * token/char/subword-unit totals with e3 units-per-token and
    * chars-per-unit (the fertility / compression numbers that decide
    * whether a tokenizer fits a corpus before anyone prices a
    * training run). One (source, word) partial-agg'd shuffle
    * (vocab-bounded output), then a broadcast join against the final
    * segmented type table — applying BPE to a corpus is a VOCAB
    * lookup, never a per-occurrence re-segmentation. */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, types) = bpeTrain(spark, sfDir)
    bpeFitStage(Tables.documents(spark, sfDir), bpeUnitsVocab(types))
      .orderBy($"source")
  }

  /** The trained tokenizer as a (w, units) lookup — the broadcastable
    * "model" both the batch report and the streaming gate score
    * against (one definition). */
  private[graft] def bpeUnitsVocab(types: DataFrame): DataFrame =
    types.select($"w1".as("w"),
      (length($"seq") - length(replace($"seq", lit("("), lit(""))))
        .cast(LongType).as("units"))

  /** Per-source fertility report over a (source, text) frame — the
    * ONE scoring definition behind [[bpeApply]] and
    * StreamingJobs.bpeGate. A narrow broadcast vocab lookup per token
    * occurrence into a SINGLE partial-agg'd per-source sum (map-side
    * combine collapses to \|sources\| rows per partition — one
    * shuffle total, and single-agg is what streaming complete mode
    * requires). Out-of-vocab tokens (the wrapper-char exclusions, or
    * genuinely unseen words in a streaming drop) segment to chars —
    * the untrained-tokenizer worst case, never a dropped row. */
  private[graft] def bpeFitStage(docs: DataFrame, unitsVocab: DataFrame): DataFrame =
    docs.select($"source", explode(tokens($"text")).as("w"))
      .join(broadcast(unitsVocab), Seq("w"), "left")
      .withColumn("units", coalesce($"units", length($"w").cast(LongType)))
      .groupBy($"source").agg(
        count(lit(1)).as("n_tokens"),
        sum(length($"w").cast(LongType)).as("n_chars"),
        sum($"units").as("n_units"))
      .select($"source", $"n_tokens", $"n_chars", $"n_units",
        expr("n_units * 1000 div n_tokens").as("units_per_token_e3"),
        expr("n_chars * 1000 div n_units").as("chars_per_unit_e3"))

  def zipfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val uni = lmCountsShared(spark, sfDir)._1
    val top = uni.orderBy($"c1".desc, $"w1".asc).limit(ZipfTopK)
    val cTop = top.agg(max($"c1").as("c_top"))
    top
      .withColumn("rank", row_number()
        .over(Window.orderBy($"c1".desc, $"w1".asc)).cast(LongType))
      .crossJoin(broadcast(cTop))
      .select($"rank", $"w1".as("token"), $"c1".as("cnt"),
        expr("""CAST((CAST(c_top AS DECIMAL(38,0)) * 10000)
               |div CAST(c1 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("head_ratio_e4"),
        ($"c1" * $"rank").as("rank_product"))
      .orderBy($"rank")
  }
}
