package graft.operators

import graft.{ColumnInterpolator, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.quantVecs
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data curation compositions (SURVEY.md §2.7 — the ops a
  * 100 TB corpus pipeline chains around the dedup/quality primitives).
  *
  * Everything is deterministic and oracle-exact: split assignment is
  * an md5 hash of the grouping key (never rand()), quality gates are
  * integer ratios, and dedup keeps min doc_id. All narrow maps +
  * single-shuffle aggregations.
  */
object CurationOps {

  /** Leakage-safe train/val/test split: ALL docs of one `source` land
    * in the same split (hash the source, not the doc), so near-dups
    * within a source can never straddle train/val. Deterministic —
    * re-running on new data never reassigns old sources. 90/5/5. */
  /** The split assignment — ONE rule definition shared by the listing
    * ([[splitTrainVal]]) and the leakage audit ([[splitLeakage]]). */
  private[graft] def splitFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", (hash60($"source") % 100).as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "val")
          .otherwise("test"))
      .select($"doc_id", $"source", $"split")

  def splitTrainVal(spark: SparkSession, sfDir: String): DataFrame =
    splitFrame(spark, sfDir).orderBy($"doc_id")

  /** #48f Cross-split leakage audit: near-dup pairs bucketed by the
    * split pair they straddle — the check that the #48c source-hash
    * split actually prevented near-duplicate leakage into val/test
    * (same-source near-dups land in one split by construction, but
    * CROSS-source near-dups — mirrors, syndication, quote farms (#69
    * counts them) — can straddle splits, and a val doc with a train
    * near-twin inflates eval). Rows with `leaky = 1` are the
    * train↔val/test contamination counts an eval owner signs off on.
    *
    * Scale shape: pure composition of the materialized pairs artifact
    * (sublinear) with the narrow split map — the split join is ON the
    * corpus (never a corpus broadcast; AQE broadcasts the pairs
    * side), output ≤ C(3,2)+3 rows. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val split = splitFrame(spark, sfDir).select($"doc_id", $"split")
    DedupOps.minhashPairsShared(spark, sfDir).select($"doc_a", $"doc_b")
      .join(split.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(split.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
      .select(least($"split_a", $"split_b").as("split_lo"),
        greatest($"split_a", $"split_b").as("split_hi"))
      .groupBy($"split_lo", $"split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky",
        when($"split_lo" =!= $"split_hi", 1L).otherwise(0L))
      .orderBy($"split_lo", $"split_hi")
  }

  /** Corpus stats: per (source, lang) doc counts, token totals, char
    * totals — the profile report before/after curation. One shuffle,
    * partial-agg'd integer sums. */
  def sourceStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"source", $"lang", $"n_chars",
        size(tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"source", $"lang")

  /** End-to-end curation: quality gate → language gate → exact dedup,
    * emitting the kept doc ids. The composition every ingest pipeline
    * runs; each stage is the already-gated primitive:
    *  - quality: ≥ 10 tokens and duplicate-token ratio ≤ 30%, using
    *    the SAME floored fixed-point metric textQuality publishes
    *    (dup_ratio_e4 ≤ 3000), so `textQuality.filter(...)` and
    *    `curate` agree on boundary docs;
    *  - language: where the heuristic HAS coverage (en/de/fr), the
    *    detected language must agree with the declared one; declared
    *    langs outside the detector's vocabulary pass through — a
    *    consistency check, never blanket corpus loss;
    *  - dedup: exact md5 on normalized text, min doc_id survives
    *    (DedupOps.dedupExact).
    * Plan: narrow maps for both gates (no shuffle), ONE shuffle for
    * the dedup groupBy — at 100 TB the gates run at scan speed and
    * only survivors pay the shuffle. */
  def curate(spark: SparkSession, sfDir: String): DataFrame =
    curationFlags(spark, sfDir)
      .filter($"q_ok" === 1L && $"l_ok" === 1L)
      .select($"doc_id", contentHash($"text").as("text_hash"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
      .orderBy($"doc_id")

  /** Per-doc gate flags — ONE definition of the quality and language
    * gates shared by [[curate]] (#48e) and [[curationFunnel]] (#74),
    * so the funnel's stage counts can never disagree with what the
    * pipeline actually keeps. Flags instead of filters: the funnel
    * needs the rejected rows too. Narrow maps only. */
  private def curationFlags(spark: SparkSession, sfDir: String): DataFrame =
    curationFlagsFrame(Tables.documents(spark, sfDir))

  /** Frame-bound form of the gate flags — the ONE quality/language
    * gate definition, shared by the batch pipeline above and the
    * live ingest job (jobs.IngestPipeline): pure stateless narrow
    * maps, so the same stage runs unchanged over a stream. Input
    * needs (doc_id, source, lang, text). */
  private[graft] def curationFlagsFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", tokens($"text"))
      .withColumn("n_tokens", size($"tk").cast(LongType))
      .withColumn("n_distinct", size(array_distinct($"tk")).cast(LongType))
      .withColumn("q_ok",
        when($"n_tokens" >= 10 &&
          expr("(n_tokens - n_distinct) * 10000 div n_tokens") <= 3000, 1L)
          .otherwise(0L))
      .withColumn("detected", detectLang($"tk"))
      .withColumn("l_ok",
        when(!$"lang".isin(detectableLangs.map(l => l: Any): _*) ||
          $"detected" === $"lang", 1L).otherwise(0L))
      .select($"doc_id", $"source", $"text", $"n_tokens", $"q_ok", $"l_ok")

  /** The funnel's keeper frames — ONE definition of the exact-dedup
    * keepers (`keepers`) and near-dup cluster keepers (`ndKeepers`),
    * both carrying (doc_id, source, n_tokens), shared by the doc
    * funnel (#74) and the token funnel (#74b) so the two reports
    * count the SAME surviving documents by construction. */
  private def funnelKeepers(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val f = curationFlags(spark, sfDir)
    val keep = f.filter($"q_ok" === 1L && $"l_ok" === 1L)
      .select($"doc_id", $"source", $"n_tokens", contentHash($"text").as("h"))
    val keepers = keep.groupBy($"h").agg(min($"doc_id").as("doc_id"))
      .join(keep.select($"doc_id", $"source", $"n_tokens"), "doc_id")
    val ndKeepers = keepers
      .join(ClusterOps.clusterLabels(spark, sfDir), Seq("doc_id"), "left_outer")
      .withColumn("cl", coalesce($"cluster_id", $"doc_id"))
      .groupBy($"cl").agg(min($"doc_id").as("doc_id"))
      .join(keepers.select($"doc_id", $"source", $"n_tokens"), "doc_id")
    (f, keepers, ndKeepers)
  }

  /** #74 Curation funnel: per source, how many docs survive each
    * pipeline stage (raw → quality gate → +language gate → exact
    * dedup → MinHash near-dup, keeper attributed to ITS source) — the
    * observability report that tells you WHERE a source's volume went
    * before training ever sees the mix. Same gate flags as [[curate]]
    * ([[curationFlags]]); the exact-dedup stage is the same
    * min-id-per-hash rule; the near-dup stage keeps, within each
    * transitive MinHash cluster (labels over the SHARED pairs
    * artifact — the same membership #50/#70 use; docs outside any
    * pair are singletons), the min-id exact-dedup keeper, so every
    * stage is a subset of the previous one per source. Scale shape:
    * narrow flag maps, one partial-agg'd shuffle per stage aggregate,
    * one hash shuffle for the dedup keepers; cluster labels cover
    * only docs in near-dup pairs (the small LSH output), so AQE
    * broadcasts the label side — the per-source result is |sources|
    * rows. */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val (f, keepers, ndKeepers) = funnelKeepers(spark, sfDir)
    val uniq = keepers.groupBy($"source").agg(count(lit(1)).as("n_unique"))
    val nearDup = ndKeepers
      .groupBy($"source").agg(count(lit(1)).as("n_neardup"))
    f.groupBy($"source")
      .agg(count(lit(1)).as("n_raw"), sum($"q_ok").as("n_quality"),
        sum($"q_ok" * $"l_ok").as("n_gated"))
      .join(uniq, Seq("source"), "left_outer")
      .join(nearDup, Seq("source"), "left_outer")
      .na.fill(0L, Seq("n_unique", "n_neardup"))
      .orderBy($"source")
  }

  /** #74b Token-weighted curation funnel: the #74 stages priced in
    * TOKENS — the unit budgets and mixtures are actually written in
    * (a source can lose 3% of its docs and 40% of its tokens if the
    * gates cut long docs; the doc funnel alone hides that). Stage
    * membership is [[funnelKeepers]] — the SAME keeper frames as the
    * doc funnel, so the two reports cannot disagree on who survived;
    * only the measure differs (Σ n_tokens vs count).
    *
    * Scale shape: identical to #74 — narrow flag maps, the exact-hash
    * shuffle, the pair-artifact cluster join, per-stage partial
    * aggs. */
  def curationFunnelTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val (f, keepers, ndKeepers) = funnelKeepers(spark, sfDir)
    val uniq = keepers.groupBy($"source").agg(sum($"n_tokens").as("t_unique"))
    val nearDup = ndKeepers
      .groupBy($"source").agg(sum($"n_tokens").as("t_neardup"))
    f.groupBy($"source")
      .agg(sum($"n_tokens").as("t_raw"),
        sum($"q_ok" * $"n_tokens").as("t_quality"),
        sum($"q_ok" * $"l_ok" * $"n_tokens").as("t_gated"))
      .join(uniq, Seq("source"), "left_outer")
      .join(nearDup, Seq("source"), "left_outer")
      .na.fill(0L, Seq("t_unique", "t_neardup"))
      .orderBy($"source")
  }

  /** #51c Contamination by split: the #51 token-gram hits re-keyed by
    * the #48c train/val/test assignment — WHERE the eval overlap
    * lives. Train-side contamination biases training; VAL/TEST-side
    * contamination silently invalidates the eval itself, so the two
    * readings demand different responses (drop docs vs re-draw the
    * benchmark). Pure composition: the [[deconHitsShared]] artifact
    * (the one `gramHits`/`benchGramSet` scoring build) joined LEFT
    * onto the split map so clean splits report a zero row, one
    * 3-group partial agg. */
  def deconBySplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = splitFrame(spark, sfDir)
      .filter($"doc_id" % DecontMod =!= 0L).select($"doc_id", $"split")
    val hits = deconHitsShared(spark, sfDir)
      .select($"doc_id", lit(1L).as("hit"))
    corpus.join(hits, Seq("doc_id"), "left")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
      .withColumn("rate_e6",
        expr("""CAST((CAST(n_contaminated AS DECIMAL(38,0)) * 1000000)
               |div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .orderBy($"split")
  }

  /** n-gram width for [[decontaminate]] — short enough that the test
    * corpus's docs HAVE 5-grams, long enough that shared grams mean
    * real shared phrasing (production decontamination uses 8-13). */
  val DecontGram = 5

  /** Benchmark-membership modulus: docs with doc_id % [[DecontMod]]
    * == 0 stand in for the held-out eval set. */
  val DecontMod = 23L

  /** #51 Decontamination: flag training docs that share word n-grams
    * with a held-out benchmark set — the exact-overlap check every
    * LLM data pipeline runs before training (the eval answers must
    * not be IN the corpus). Here the "benchmark" is the docs with
    * doc_id % 23 == 0; in production it is a separate small table.
    *
    * Scale shape: the benchmark gram set is tiny (real eval sets are
    * MBs against a 100 TB corpus) → distinct-aggregate it and
    * BROADCAST-semi-join the corpus's exploded grams against it. The
    * corpus side is a narrow scan + explode with NO shuffle before
    * the broadcast join; only contaminated grams reach the per-doc
    * count aggregation. Output: contaminated docs and how many
    * distinct benchmark grams they hit. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    deconHitsShared(spark, sfDir).orderBy($"doc_id")

  private val deconHits = new Materialize.FrameArtifact("decon-hits", "documents")

  /** #51's per-doc contaminated-gram counts materialized ONCE per
    * corpus fingerprint — hit-docs-bounded (only contaminated docs
    * appear), but its build pays the full corpus gram explode +
    * broadcast bench join, which FOUR batch reports otherwise re-ran
    * independently (#51, #51c, #51d, #101's closure; sf100 ≈ 30 s of
    * gram scan each). Same build-once/probe-many pattern as the
    * bands/calibration artifacts; the streaming gate keeps the live
    * [[gramHits]] definition (a stream has no fingerprint). */
  private[graft] def deconHitsShared(spark: SparkSession,
      sfDir: String): DataFrame =
    deconHits(spark, sfDir) {
      val docs = Tables.documents(spark, sfDir)
      gramHits(docs.filter($"doc_id" % DecontMod =!= 0L), benchGramSet(docs))
    }

  /** The distinct benchmark gram set of [[decontaminate]] — shared by
    * the batch operator and the streaming per-drop form of
    * [[gramHits]], so the gram definition cannot drift between
    * them. */
  private[graft] def benchGramSet(docs: DataFrame,
      gram: Int = DecontGram): DataFrame =
    docs.filter($"doc_id" % DecontMod === 0L)
      .select(explode(
        graft.functions.TextHash.gramHashes($"text", gram)).as("h"))
      .distinct()

  /** Per-doc contaminated-gram counts against a broadcast benchmark
    * gram set — the ONE scoring definition behind #51 and #51b. Works
    * on batch and streaming frames alike (narrow explode + broadcast
    * join + one keyed agg). gramHashes is per-doc DISTINCT, so
    * count(*) after the join is the distinct contaminated-gram
    * count. Run in update mode on an ingest stream (#51b, each drop
    * flagged at ingest against the benchmark), each contaminated doc
    * emits exactly once: its grams arrive in one micro-batch. */
  private[graft] def gramHits(docs: DataFrame, benchGrams: DataFrame,
      gram: Int = DecontGram): DataFrame =
    docs.select($"doc_id", explode(
        graft.functions.TextHash.gramHashes($"text", gram)).as("h"))
      .join(broadcast(benchGrams), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hit"))

  /** #98 Benchmark contamination coverage — the REVERSE direction of
    * #51: instead of "which training docs are contaminated", report
    * per BENCHMARK item how compromised it is — how many corpus docs
    * share any of its token [[DecontGram]]-grams (`n_docs_hit`) and
    * how many of its own distinct grams appear anywhere in the corpus
    * (`n_grams_hit` of `n_grams`). This is the report an eval owner
    * reads to decide which items to retire; #51 is the one a data
    * owner reads to decide which docs to drop. Benchmark items with
    * zero overlap are kept (left join) — "clean" is the answer that
    * matters most.
    *
    * Scale shape: the benchmark gram frame is tiny (eval sets are MBs
    * against a 100 TB corpus) → BROADCAST it against the corpus's
    * exploded grams, exactly #51's join. Only contaminated (bench,
    * corpus-gram) rows reach the per-bench-item distinct counts, and
    * those aggregation partitions are bounded by the benchmark size,
    * so the corpus is never shuffled. */
  def contaminationReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val benchDocs = docs.filter($"doc_id" % DecontMod === 0L)
      .select($"doc_id".as("bench_id"),
        graft.functions.TextHash.gramHashes($"text", DecontGram).as("gs"))
    // gramHashes is per-doc DISTINCT, so size(gs) is the distinct
    // gram count and the exploded frame has no per-doc repeats
    val benchGrams = benchDocs
      .select($"bench_id", explode($"gs").as("h"))
    val hits = docs.filter($"doc_id" % DecontMod =!= 0L)
      .select($"doc_id", explode(
        graft.functions.TextHash.gramHashes($"text", DecontGram)).as("h"))
      .join(broadcast(benchGrams), "h")
      .groupBy($"bench_id")
      .agg(countDistinct($"doc_id").as("n_docs_hit"),
        countDistinct($"h").as("n_grams_hit"))
    // the assembly join is benchmark-sized on BOTH sides — broadcast
    // it so the report never plans a sort-merge exchange pair
    benchDocs.select($"bench_id", size($"gs").cast("long").as("n_grams"))
      .join(broadcast(hits), Seq("bench_id"), "left")
      .select($"bench_id", $"n_grams",
        coalesce($"n_docs_hit", lit(0L)).as("n_docs_hit"),
        coalesce($"n_grams_hit", lit(0L)).as("n_grams_hit"))
      .orderBy($"bench_id")
  }

  /** #101 Contamination closure: the DROP SET a production pipeline
    * actually applies — every directly contaminated doc (#51) PLUS
    * every near-dup cluster mate of one (#50). Dropping only the
    * direct hits leaves paraphrase-grade copies of eval answers in
    * the corpus (they are near-dups of a known-contaminated doc, so
    * they carry the same leakage); the closure extends the flag over
    * the MinHash cluster graph. `cluster_id` is −1 for direct hits
    * outside any cluster; `n_hit` is 0 for docs flagged only
    * transitively.
    *
    * Scale shape: pure composition of two sublinear artifacts — the
    * broadcast-gated decon hits (#51) and the pair-artifact cluster
    * labels (#50); the dirty-cluster id frame is broadcast back onto
    * the (pair-bounded) label frame. The corpus is never re-scanned
    * here beyond the two shared subtrees. */
  def decontaminateClosure(spark: SparkSession, sfDir: String): DataFrame = {
    val hits = deconHitsShared(spark, sfDir).select($"doc_id", $"n_hit")
    val labels = ClusterOps.dedupCluster(spark, sfDir)
      .select($"doc_id", $"cluster_id")
    val dirty = labels.join(hits, Seq("doc_id"))
      .select($"cluster_id").distinct()
    val closure = labels.join(broadcast(dirty), Seq("cluster_id"))
      .select($"doc_id", $"cluster_id")
    closure.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"cluster_id",
        coalesce($"n_hit", lit(0L)).as("n_hit"))
      .unionByName(hits.join(labels, Seq("doc_id"), "left_anti")
        .select($"doc_id", lit(-1L).as("cluster_id"), $"n_hit"))
      .orderBy($"doc_id")
  }

  /** #100 Metadata-integrity audit: per source, how many docs carry a
    * stored `n_chars` that disagrees with the text's actual length,
    * and the worst disagreement — the drift check a pipeline runs
    * whenever metadata was produced by a DIFFERENT system than the
    * payload (crawler vs extractor); stale counts silently corrupt
    * every length-based gate downstream (#93, #75's token budget).
    *
    * Scale shape: one narrow codegen'd comparison per row into one
    * |sources|-row partial-agg'd shuffle — the audit costs one scan
    * regardless of corpus size. */
  def metaAudit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"source", $"n_chars", length($"text").cast("long").as("len_m"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_chars" =!= $"len_m", 1L).otherwise(0L)).as("n_mismatch"),
        max(abs($"n_chars" - $"len_m")).as("max_abs_diff"))
      .orderBy($"source")

  /** [[deconEmbedding]] parameters: benchmark = vec_id %
    * [[EmbDecontMod]] == 0; contamination bar = cosine ≥
    * [[EmbDecontCos]] (e6) — the same bar as the embedding near-dup
    * family (#42), because "semantically identical to an eval item"
    * and "semantic near-duplicate" are the same judgment. */
  val EmbDecontMod = 31L
  val EmbDecontCos = 400000L

  /** The held-out benchmark embedding table (bench_id, bq, bn2) —
    * shared by [[deconEmbedding]] and the streaming gate. */
  private[graft] def embBench(spark: SparkSession, sfDir: String): DataFrame =
    quantVecs(Tables.embeddings(spark, sfDir))
      .filter($"vec_id" % EmbDecontMod === 0L)
      .select($"vec_id".as("bench_id"), $"q".as("bq"), $"n2".as("bn2"))

  /** Candidate (vec_id, bench_id, cos_e6) hits at the contamination
    * bar: incoming vectors × the BROADCAST benchmark — the stateless
    * scoring stage shared verbatim by the batch and streaming forms. */
  private[graft] def deconHits(vecs: DataFrame, bench: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{cosineE6, dotL}
    vecs.join(broadcast(bench))
      .select($"vec_id", $"bench_id",
        cosineE6(dotL($"q", $"bq"), $"n2", $"bn2").as("cos_e6"))
      .filter($"cos_e6" >= EmbDecontCos)
  }

  /** Per-vector best match over [[deconHits]] output: best bench =
    * (cos desc, bench asc), taken as a max over (cos, −bench) structs
    * — an associative merge, so streaming agg state per vector is
    * O(1) — plus the hit count. ONE readout shared by the exact #91
    * report, its #91c LSH scale path, the #91b streaming gate and the
    * vector ingest job's quarantine, so the report rule cannot drift
    * between them. */
  private[graft] def deconBest(hits: DataFrame): DataFrame =
    hits
      .groupBy($"vec_id")
      .agg(max(struct($"cos_e6", (-$"bench_id").as("nb"))).as("best"),
        count(lit(1)).as("n_hits"))
      .select($"vec_id", (-$"best.nb").as("best_bench"),
        $"best.cos_e6".as("max_cos_e6"), $"n_hits")

  /** #91 Embedding-space decontamination: flag corpus vectors whose
    * cosine to ANY held-out benchmark vector reaches the near-dup
    * bar — the semantic complement of the n-gram checks (#51/#78b),
    * which miss paraphrased eval answers that token grams never
    * catch. Per contaminated vector: its best-matching benchmark
    * item (max cos, bench-id tiebreak) and how many benchmark items
    * it hits. Here the "benchmark" is vec_id % [[EmbDecontMod]] == 0;
    * in production it is the eval set's own (small) embedding table.
    *
    * Scale shape: the benchmark side is tiny (eval sets are MBs
    * against a 100 TB corpus) → BROADCAST against one narrow corpus
    * scan; only τ-survivors reach the per-vector readout
    * ([[deconBest]], a partial-aggregated struct max) — the corpus is
    * never shuffled. */
  def deconEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = quantVecs(Tables.embeddings(spark, sfDir))
      .filter($"vec_id" % EmbDecontMod =!= 0L)
    deconBest(deconHits(corpus, embBench(spark, sfDir))).orderBy($"vec_id")
  }

  /** #91c Semantic-decontamination SCALE path: the #91 judgment
    * restricted to corpus-scaled sign-bucket collisions. The exact
    * form's benchmark side is broadcast against every corpus vector —
    * the right oracle baseline, but its cost is |bench|·|corpus|, and
    * a benchmark stand-in that tracks corpus growth (the `% 31`
    * fixture here) makes that quadratic across scale decades (the
    * sf10 sweep measured it). This path reads the materialized
    * sign-bucket index (`DedupOps.embBucketsShared` — the SAME
    * artifact the embedding dedup family probes, benchmark vectors
    * indexed next to the corpus the way a production vector store
    * keeps them), equi-joins benchmark×corpus on the bucket (both
    * sides one artifact scan — no re-quantize, no forced broadcast:
    * AQE broadcasts while the bench side is small, shuffles when it
    * isn't), and scores only collisions — candidate volume is bounded
    * by the scaled-plane occupancy rule (≈16n), linear in the corpus.
    * APPROXIMATE by construction: a τ-hit in a different bucket is
    * missed (recall pinned as a subset sandwich in SimilaritySpec);
    * the exact form stays the audit baseline. */
  def deconEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.{cosineE6, dotL}
    val (index, p) = DedupOps.embBucketsShared(spark, sfDir)
    // Hamming-1 multi-probe on the BENCHMARK side (the small side —
    // probe fan-out multiplies |bench|, never the corpus): mask 0 is
    // the bench vector's own bucket, each 1<<j flips one of the p
    // scaled planes. A (bench, corpus) pair matches at most one probe
    // (probe buckets are pairwise distinct), so no distinct pass is
    // needed. τ = cos 0.4 is ~66°, so single-bucket agreement across
    // all p planes is rare (~0.63^p) — one tolerated disagreement
    // lifts recall ~6x at (p+1)x candidate volume (n log n overall).
    val masks = lit(0L) +: (0 until p).map(j => lit(1L << j))
    val bench = index.filter($"vec_id" % EmbDecontMod === 0L)
      .select($"vec_id".as("bench_id"), $"q".as("bq"), $"n2".as("bn2"),
        explode(array(masks.map($"bucket".bitwiseXOR(_)): _*)).as("bucket"))
    val corpus = index.filter($"vec_id" % EmbDecontMod =!= 0L)
    val hits = corpus.join(bench, Seq("bucket"))
      .select($"vec_id", $"bench_id",
        cosineE6(dotL($"q", $"bq"), $"n2", $"bn2").as("cos_e6"))
      .filter($"cos_e6" >= EmbDecontCos)
    deconBest(hits).orderBy($"vec_id")
  }

  /** Winsorization percentiles for [[lengthGate]] (per mille-free
    * integer rank picks, see the gate's scaladoc). */
  val LengthGateLoPct = 5L
  val LengthGateHiPct = 95L

  /** #93 Winsorized length gate: per-source p5/p95 token-count
    * bounds by exact rank position (the #59 selection rule — value
    * at sorted position (n−1)·pct div 100, doc-id tiebreak) and the
    * per-source count of docs outside them — the "cut the truncated
    * fragments and the concatenation blobs" gate tuned PER SOURCE,
    * because a global length bar mis-cuts sources whose natural
    * lengths differ (code vs chat vs web).
    *
    * Scale shape: one per-source sort shuffle for the rank pick
    * (same as #59 — no global sort), the source-count bounds frame
    * is tiny → broadcast back against a second narrow scan, flags
    * partial-aggregate. Integer rank arithmetic end to end (no
    * double percentile interpolation — engine-exact). */
  def lengthGate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = Tables.documents(spark, sfDir)
      .select($"source", $"doc_id",
        size(tokens($"text")).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy($"source").orderBy($"n_tokens".asc, $"doc_id".asc)
    val bounds = lens
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
      .groupBy($"source")
      .agg(
        max(when($"rk" === expr(s"(n - 1) * $LengthGateLoPct div 100 + 1"), $"n_tokens"))
          .as("lo_tokens"),
        max(when($"rk" === expr(s"(n - 1) * $LengthGateHiPct div 100 + 1"), $"n_tokens"))
          .as("hi_tokens"))
    lens.join(broadcast(bounds), "source")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        max($"lo_tokens").as("lo_tokens"), max($"hi_tokens").as("hi_tokens"),
        sum(when($"n_tokens" < $"lo_tokens", 1L).otherwise(0L)).as("n_below"),
        sum(when($"n_tokens" > $"hi_tokens", 1L).otherwise(0L)).as("n_above"))
      .withColumn("n_kept", $"n_docs" - $"n_below" - $"n_above")
      .orderBy($"source")
  }

  /** [[decontaminateBloom]] parameters: benchmark = doc_id %
    * [[BloomDecontMod]] == 0, [[BloomDecontGram]]-gram overlap. The
    * bloom sizing gives < 1% false positives at the gate scales —
    * but FP rate only affects how much work the exact verify does,
    * never the answer. */
  val BloomDecontMod = 29L
  val BloomDecontGram = 4
  val BloomEstItems = 100000L
  /** 2^20 bits = 128 KiB of filter — broadcastable at any benchmark
    * size that would break a raw-set broadcast. */
  val BloomNumBits = 1L << 20

  /** #78b Bloom-prefiltered decontamination: same answer as
    * [[decontaminate]] (docs sharing word n-grams with a held-out
    * benchmark set, with the distinct-gram hit count), built for the
    * regime where the benchmark gram set is too large to broadcast
    * raw: only its BLOOM BITS (fixed 128 KiB) ship to every task, the
    * corpus-side gram stream is pre-filtered by `might_contain` at
    * scan speed, and the exact verify join then touches ONLY the
    * bloom survivors — true hits plus a bounded false-positive
    * sliver, which the join discards. Output is exact-verified, so
    * the bloom is invisible in the result (the oracle is the plain
    * overlap SQL) — it only bounds the join's input size.
    *
    * The one driver-side action is collecting the 128 KiB bloom bits
    * to embed as a constant (Spark requires might_contain's filter
    * side foldable) — same bounded-artifact discipline as the IVF
    * pivots and k-means centroid closures. */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // persisted: the distinct-agg (the expensive benchmark-side work)
    // feeds BOTH the bloom-bits build and the exact verify join —
    // without the cache it would run twice per invocation
    val benchGrams = docs.filter($"doc_id" % BloomDecontMod === 0L)
      .select(explode(
        graft.functions.TextHash.gramHashes($"text", BloomDecontGram)).as("h"))
      .distinct()
      .persist()
    val bloomBits: Array[Byte] = benchGrams
      .agg(graft.functions.BloomFunctions
        .bloomAgg($"h", BloomEstItems, BloomNumBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    docs.filter($"doc_id" % BloomDecontMod =!= 0L)
      .select($"doc_id", explode(
        graft.functions.TextHash.gramHashes($"text", BloomDecontGram)).as("h"))
      .filter(graft.functions.BloomFunctions.mightContain(bloomBits, $"h"))
      // exact verify: survivors only — deliberately NOT a broadcast of
      // the raw gram set (the regime this operator exists for); the
      // shuffle carries O(survivors) + O(benchmark) rows
      .join(benchGrams.hint("shuffle_hash"), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .orderBy($"doc_id")
  }

  /** #54 Declared-vs-detected language audit: per (source, declared
    * lang), how many docs the n-gram heuristic disagrees with — the
    * metadata-trust report a pipeline runs before deciding whether
    * declared labels are usable as a gate. Narrow detection map +
    * one partial-agg'd shuffle on (source, lang). */
  def langMismatch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tk", tokens($"text"))
      .withColumn("detected", detectLang($"tk"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"detected" =!= $"lang", 1L).otherwise(0L)).as("n_mismatch"))
      .select($"source", $"lang", $"n_docs", $"n_mismatch",
        expr("n_mismatch * 10000 div n_docs").as("mismatch_ratio_e4"))
      .orderBy($"source", $"lang")

  /** K for [[kmvDistinct]] — sketches keep the K smallest hashes. */
  val KmvK = 16
  /** hash60 value space: 2^60. */
  val KmvSpace = 1152921504606846976L

  /** #58 KMV (k-minimum-values) distinct sketch: estimate the
    * distinct-token count per source from only the K smallest token
    * hashes — the mergeable sketch a 100 TB profiler ships instead of
    * exact distinct (whose state is unbounded). DETERMINISTIC and
    * oracle-exact, unlike HLL-style sketches whose binary layouts
    * differ per engine: both engines see the same md5-derived hashes,
    * so the K minima — and the integer estimate
    * `(K-1) · (2^60 div kth_min)` — agree bit-for-bit. Exact count
    * emitted alongside to gate estimator quality. Sketch state is
    * O(K) per group; the plan is distinct → per-group rank ≤ K →
    * aggregate (two keyed shuffles, no unbounded state). */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val th = Tables.documents(spark, sfDir)
      .select($"source", explode(tokens($"text")).as("tok"))
      .select($"source", hash60($"tok").as("h"))
      .distinct()
    val w = Window.partitionBy($"source").orderBy($"h".asc)
    th.withColumn("rk", row_number().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_distinct_exact"),
        max(when($"rk" <= KmvK, $"h")).as("kth"))
      .select($"source", $"n_distinct_exact",
        // integer div, NOT `/` (double division would round the
        // quotient before truncation — off-by-one vs the oracle)
        when($"n_distinct_exact" < KmvK, $"n_distinct_exact")
          .otherwise(lit(KmvK - 1L) * expr(s"$KmvSpace div greatest(kth, 1L)"))
          .as("kmv_est"))
      .orderBy($"source")
  }

  /** #58b The KMV sketch state over a (source, token) frame — the K
    * smallest DISTINCT token hashes per source, held by the
    * duplicate-collapsing [[BoundedDistinctTopK]]: O(K) state per
    * source, commutative idempotent merge, so the SAME sketch falls
    * out of a batch scan and an unbounded stream (complete mode) at
    * any micro-batch split, arrival order or re-delivery — the live
    * "how many distinct tokens has this feed shipped" sketch when run
    * on a (source, tok) stream, read out with `kmvSketchRows`. */
  def kmvMinsAgg(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    val agg = new BoundedDistinctTopK[Long](KmvK, _ < _)
    toks.select($"source", hash60($"tok").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("mins"))
      .toDF("source", "mins")
  }

  /** Estimate readout over the [[kmvMinsAgg]] sketch — the SAME
    * estimator rule as [[kmvDistinct]] ((K−1)·|space| div kth; exact
    * count when the sketch isn't full, where "not full" means fewer
    * than K distinct hashes exist). */
  def kmvSketchRows(mins: DataFrame): DataFrame =
    mins.select($"source", size($"mins").cast(LongType).as("n_mins"),
      element_at($"mins", KmvK).as("kth"))
      .select($"source", $"n_mins",
        when($"n_mins" < KmvK, $"n_mins")
          .otherwise(lit(KmvK - 1L) * expr(s"$KmvSpace div greatest(kth, 1L)"))
          .as("kmv_est"))
      .orderBy($"source")

  /** #59 Exact per-source token-count quantiles (p50/p90/p99) by rank
    * position — the corpus length profile. Rank-based selection
    * (value at sorted position `(n-1)·q` floored) is engine-
    * independent, unlike interpolated percentile functions. One sort
    * shuffle per group, no global sort. */
  def sourceQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = Tables.documents(spark, sfDir)
      .select($"source", $"doc_id", size(tokens($"text")).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy($"source").orderBy($"n_tokens".asc, $"doc_id".asc)
    val ranked = lens
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
    def pick(q: Double) =
      max(when($"rk" === (floor(($"n" - 1) * q) + 1), $"n_tokens"))
    ranked.groupBy($"source")
      .agg(max($"n").as("n_docs"),
        pick(0.5).as("p50_tokens"),
        pick(0.9).as("p90_tokens"),
        pick(0.99).as("p99_tokens"))
      .orderBy($"source")
  }

  /** Bucket width (tokens) for [[histQuantiles]]'s fixed-grid
    * histogram — estimate error is < this by construction. */
  val HistBucketW = 8L

  /** #94 Histogram-sketch quantiles: the MERGEABLE estimation path
    * for the #59 length profile — per source a fixed-grid histogram
    * of token counts (bucket = n_tokens div [[HistBucketW]]), with
    * each percentile estimated as the upper bound of the bucket the
    * exact rank pick lands in. At 100 TB the #59 per-source sort is
    * the expensive form; the histogram is one partial-agg'd
    * (source, bucket) shuffle whose state is O(maxlen/W) counters
    * per source — commutative, mergeable across days, and the
    * estimate is within W−1 tokens of exact BY CONSTRUCTION (the
    * rank-picked value lies inside its own bucket). Exact values
    * emitted alongside to gate estimator quality — the same
    * estimated-vs-exact audit pattern as KMV (#58) and CMS (#60).
    * The cumulative window runs per source over its BUCKETS (a
    * handful of rows), never over docs. */
  /** The (source, bucket, count) histogram cells — the operator's
    * ONE aggregation, shared with the streaming form (#94b, run on a
    * document stream in complete mode), where the cell grid is the
    * aggregation state, bounded at O(sources × maxlen/W) whatever the
    * stream length — the same reason streamingCms ships a sketch.
    * Cell counts are commutative sums, so the streamed cells equal
    * the batch histogram exactly and [[histEstimates]] reads either. */
  private[graft] def histCells(docs: DataFrame): DataFrame =
    docs.select($"source", size(tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source", expr(s"n_tokens div $HistBucketW").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Percentile estimates from a (source, b, c) cell frame — shared
    * by the batch operator and the post-stream readout so the
    * estimation rule cannot drift. Windows run per source over its
    * BUCKETS (a handful of rows), never over docs. */
  private[graft] def histEstimates(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = hist
      .withColumn("cum",
        sum($"c").over(Window.partitionBy($"source").orderBy($"b".asc)))
      .withColumn("n", sum($"c").over(Window.partitionBy($"source")))
    // same rank position as #59 (floor((n-1)·q)+1); the estimate is
    // the containing bucket's upper value (b+1)·W − 1
    def est(q: Double, name: String) =
      min(when($"cum" >= expr(s"floor((n - 1) * $q) + 1"),
        ($"b" + 1L) * HistBucketW - 1L)).as(name)
    cum.groupBy($"source")
      .agg(est(0.5, "p50_est"), est(0.9, "p90_est"), est(0.99, "p99_est"))
  }

  def histQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ests = histEstimates(histCells(Tables.documents(spark, sfDir)))
    sourceQuantiles(spark, sfDir)
      .join(broadcast(ests), "source")
      .select($"source", $"n_docs",
        $"p50_tokens", $"p50_est", $"p90_tokens", $"p90_est",
        $"p99_tokens", $"p99_est")
      .orderBy($"source")
  }

  /** Percentile-histogram bucket width over e6 scores for
    * [[qualityPercentile]] — 100 buckets span [0, 1e6]. */
  val PctBucketW = 10000L

  /** Percentile rank (e4) of each row's `scoreCol` within its own
    * metric population, via a bucketed cumulative histogram:
    * pct = (#docs in strictly lower buckets)·10⁴ div n. The bucket
    * granularity IS the design — the histogram is ~100 rows
    * regardless of corpus size, so it broadcasts, and the rank map
    * is a narrow join (never a corpus-wide sort/row_number). The
    * cumulative windows run over the bucket frame only. */
  private def pctOf(metric: DataFrame, scoreCol: String, pctName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = metric.withColumn("b", expr(s"$scoreCol div $PctBucketW"))
    val cum = b.groupBy($"b").agg(count(lit(1)).as("c"))
      .withColumn("below", sum($"c").over(Window.orderBy($"b".asc)) - $"c")
      .withColumn("n", sum($"c").over(Window.partitionBy()))
    b.join(broadcast(cum.select($"b", $"below", $"n")), "b")
      .withColumn(pctName, expr("below * 10000 div n"))
      .select($"doc_id", col(pctName))
  }

  /** #95 Composite quality-percentile score: the three heterogeneous
    * per-doc quality signals — bigram-LM fluency (#81), Simpson
    * diversity (#92), and inverted top-token repetition (#53) — each
    * calibrated to a percentile rank within its own population, then
    * averaged. Raw quality scores live on incomparable scales (an LM
    * ratio of 0.3 and a diversity of 0.95 say nothing about relative
    * rank), so a pipeline that sorts or thresholds on a combination
    * MUST rank-normalize first; bucket-histogram percentiles make
    * that a broadcast join instead of three corpus-wide sorts.
    * Domain: docs with ≥ 2 tokens (the LM metric's domain).
    *
    * Scale shape: each metric subtree is the existing operator (in
    * production all three are stored per-doc artifacts co-keyed by
    * doc_id); per metric ONE ~100-row histogram broadcasts back, the
    * rank map is narrow, and the final assembly is doc-keyed
    * equi-joins. Cumulative windows touch bucket rows only.
    *
    * The per-doc composite frame is itself the pipeline artifact every
    * retention policy prices against, so [[qualityPercentile]] serves
    * it from a build-once parquet keyed by the corpus fingerprint
    * (same amortize-to-first-consumer design as the MinHash pairs) —
    * the three-metric subtree runs once per corpus, and the cluster
    * retention/policy consumers (#96/#111) read a doc-keyed scan. */
  private[graft] def qualityPercentileBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val lmP = pctOf(
      TextOps.lmQuality(spark, sfDir).select($"doc_id", $"lm_score_e6"),
      "lm_score_e6", "lm_pct_e4")
    val dvP = pctOf(
      TextOps.tokenDiversity(spark, sfDir).select($"doc_id", $"simpson_e6"),
      "simpson_e6", "div_pct_e4")
    val rpP = pctOf(
      TextOps.textRepetition(spark, sfDir)
        .select($"doc_id",
          ((lit(10000L) - $"top_tok_ratio_e4") * 100L).as("antirep_e6")),
      "antirep_e6", "rep_pct_e4")
    lmP.join(dvP, "doc_id").join(rpP, "doc_id")
      .withColumn("composite_e4",
        expr("(lm_pct_e4 + div_pct_e4 + rep_pct_e4) div 3"))
  }

  private val qualityPct = new Materialize.FrameArtifact("quality-pct", "documents")

  /** #95 served from the build-once per-doc artifact (see
    * [[qualityPercentileBuild]]); deterministic total order restored on
    * read. */
  def qualityPercentile(spark: SparkSession, sfDir: String): DataFrame =
    qualityPct(spark, sfDir)(qualityPercentileBuild(spark, sfDir))
      .orderBy($"doc_id")

  /** #95b Quality-by-ingestion trend: the #95 composite percentile
    * aggregated over [[NoveltyBuckets]] equal doc_id RANGE slices of
    * the corpus (the #104 slicing rule — never ntile/global sort) —
    * "is crawl quality degrading as ingestion proceeds", the quality
    * twin of the novelty curve; a falling mean across slices says
    * the next crawl batch is worth less BEFORE a budget buys it.
    * Reads the materialized per-doc #95 artifact (scored docs), one
    * bounded-bucket partial agg, doc_id bounds broadcast as a 1-row
    * frame; the mean is §4-exact integer division. */
  def qualityTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val bounds = Tables.documents(spark, sfDir).select($"doc_id")
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    qualityPercentile(spark, sfDir).select($"doc_id", $"composite_e4")
      .crossJoin(broadcast(bounds))
      .select(
        least(lit(NoveltyBuckets - 1L),
          expr(s"(doc_id - lo) * $NoveltyBuckets div (hi - lo + 1)"))
          .as("bucket"),
        $"composite_e4")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(composite_e4) div count(1)").as("mean_composite_e4"),
        min($"composite_e4").as("min_composite_e4"),
        max($"composite_e4").as("max_composite_e4"))
      .orderBy($"bucket")
  }

  /** #37b Exact-duplication trend: per #104 ingestion slice, the
    * docs whose exact text class already had an EARLIER member (a
    * re-fetch) and their e4 rate — the third leg of the
    * ingestion-health triptych (novelty #104 at shingle granularity,
    * quality #95b, duplication here at whole-doc granularity): a
    * rising refetch rate says the crawler started re-crawling its own
    * head. The #37 class rule (md5 of normalized text, min-id first
    * member), one uniform hash shuffle + same-key join back, bounded
    * slice agg, id bounds broadcast. */
  def dupTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", contentHash($"text").as("h"))
    val firsts = docs.groupBy($"h").agg(min($"doc_id").as("first_id"))
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    docs.join(firsts, "h")
      .crossJoin(broadcast(bounds))
      .select(
        least(lit(NoveltyBuckets - 1L),
          expr(s"(doc_id - lo) * $NoveltyBuckets div (hi - lo + 1)"))
          .as("bucket"),
        when($"doc_id" > $"first_id", 1L).otherwise(0L).as("refetch"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"refetch").as("n_refetch"))
      .withColumn("refetch_e4", expr("(10000 * n_refetch) div n_docs"))
      .orderBy($"bucket")
  }

  /** #51d Contamination-entry trend: the #51 decontamination hits
    * re-keyed by #104 ingestion slice — WHEN the benchmark overlap
    * entered the corpus (one poisoned batch vs a steady leak decides
    * whether to drop a drop or fix a pipeline); reads the
    * [[deconHitsShared]] artifact (ONE `gramHits`/`benchGramSet`
    * scoring build shared with #51/#51c/#101), LEFT side is every
    * non-benchmark doc so clean slices report zero; bounded slice
    * agg, id bounds broadcast. */
  def deconTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter($"doc_id" % DecontMod =!= 0L)
    val hits = deconHitsShared(spark, sfDir)
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    corpus.select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .crossJoin(broadcast(bounds))
      .select(
        least(lit(NoveltyBuckets - 1L),
          expr(s"(doc_id - lo) * $NoveltyBuckets div (hi - lo + 1)"))
          .as("bucket"),
        when($"n_hit".isNotNull, 1L).otherwise(0L).as("dirty"),
        coalesce($"n_hit", lit(0L)).as("n_hit"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"dirty").as("n_contaminated"),
        sum($"n_hit").as("n_gram_hits"))
      .withColumn("contaminated_e4", expr("(10000 * n_contaminated) div n_docs"))
      .orderBy($"bucket")
  }

  /** Gram widths [[deconWidthSweep]] prices. */
  val DeconWidths: Seq[Int] = Seq(2, 3, 5, 8)

  /** #138 (SURVEY §2.7) decontamination gram-width sweep: for each
    * candidate width, the benchmark's distinct gram count, the
    * corpus docs flagged, and the total per-doc-distinct gram hits —
    * the calibration table that PICKS #51's [[DecontGram]] before a
    * 100 TB decon run (2-grams flag half the corpus on stopword
    * collisions; 13-grams miss light paraphrases; the knee in this
    * table is the defensible setting). Each width leg runs the #51
    * stages THEMSELVES — [[benchGramSet]]/[[gramHits]] with the
    * width parameterized, one definition — reduced to a 1-row agg;
    * the sweep unions the bounded rows, and legs are independent (a
    * calibration run schedules them in parallel).
    *
    * r13 measured two "one scan per side, all widths" rewrites and
    * REJECTED both (numbers in NOTES): a higher-order
    * transform-into-structs stream (258 s full-compute at sf100 —
    * interpreted per element) and a codegen'd packed-long tag stream
    * (142 s). The union-of-legs form runs the SAME work in ~46 s
    * because Spark schedules the four independent legs' stages
    * CONCURRENTLY, overlapping each leg's broadcast build with the
    * other legs' scans — a single fused stream serializes behind one
    * 4×-bigger broadcast build instead. The legs ARE the parallel
    * schedule. */
  def deconWidthSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    DeconWidths.map { w =>
      val bench = benchGramSet(docs, w)
      val nb = bench.agg(count(lit(1)).as("n_bench_grams"))
      gramHits(docs.filter($"doc_id" % DecontMod =!= 0L), bench, w)
        .agg(count(lit(1)).as("n_docs_hit"),
          coalesce(sum($"n_hit"), lit(0L)).as("n_gram_hits"))
        .crossJoin(broadcast(nb))
        .select(lit(w.toLong).as("gram_w"), $"n_bench_grams",
          $"n_docs_hit", $"n_gram_hits")
    }.reduce(_.unionByName(_)).orderBy($"gram_w")
  }

  /** #141 (SURVEY §2.7) quality of kept vs dropped: the #95
    * composite-percentile stats split by near-dup fate (canonical
    * keeper / redundant duplicate / unclustered) — the "is dedup
    * throwing away good docs" audit: if dropped docs score HIGHER
    * than keepers, the min-id retention policy is destroying value
    * and #70/#96's quality-arbitrated policies should ship instead.
    * Composes two artifacts (quality percentiles + cluster labels),
    * 3-row conditional agg; the §4 integer mean. */
  def qualityVsDup(spark: SparkSession, sfDir: String): DataFrame =
    qualityPercentile(spark, sfDir).select($"doc_id", $"composite_e4")
      .join(ClusterOps.dedupCluster(spark, sfDir)
        .select($"doc_id", $"keep"), Seq("doc_id"), "left")
      .select($"composite_e4",
        when($"keep".isNull, "unclustered")
          .when($"keep" === 1L, "kept").otherwise("dropped").as("fate"))
      .groupBy($"fate")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(composite_e4) div count(1)").as("mean_comp_e4"),
        min($"composite_e4").as("min_comp_e4"),
        max($"composite_e4").as("max_comp_e4"))
      .orderBy($"fate")

  /** #129 (SURVEY §2.7) quality by language: per metadata language,
    * doc count and the count/mean/min/max of the #95 composite
    * quality percentile — the "is the quality score calibrated per
    * language or just anti-non-English" fairness audit run before a
    * quality-gated multilingual mixture. Reads the materialized #95
    * artifact (one composite definition), equi-joins the corpus's
    * (doc_id, lang) projection, |langs|-bounded partial agg; the
    * mean is the §4 integer floor division. */
  def qualityByLang(spark: SparkSession, sfDir: String): DataFrame =
    qualityPercentile(spark, sfDir).select($"doc_id", $"composite_e4")
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"lang"),
        Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(composite_e4) div count(1)").as("mean_comp_e4"),
        min($"composite_e4").as("min_comp_e4"),
        max($"composite_e4").as("max_comp_e4"))
      .orderBy($"lang")

  /** Count-Min sketch geometry for [[cmsHeavy]]: [[CmsRows]] hash rows
    * × [[CmsWidth]] cells — 1024 counters total, shared with the
    * oracle so the cell math cannot drift. */
  val CmsRows = 4
  val CmsWidth = 256L
  /** Heavy hitters reported by [[cmsHeavy]]. */
  val CmsTopK = 20

  /** #60 Count-Min heavy hitters: estimate token frequencies from a
    * FIXED-size sketch (d×w counters) and report the top-k tokens with
    * exact count alongside the sketch estimate — the standard
    * overestimate-only sketch a 100 TB profiler ships when a
    * vocab-sized exact table is too big to keep per slice.
    * DETERMINISTIC and oracle-exact: each distinct token is md5-hashed
    * ONCE (hash60), the d row-cells derive from that hash by the same
    * codegen'd universal-hash permutes MinHash uses (distinct seed
    * space), and cell counts are plain commutative integer sums — no
    * randomness, no engine-specific layout. The estimate is `min` over
    * a token's d cells. Scale shape: one corpus scan feeds a
    * vocab-sized partial-agg'd count shuffle shared by the sketch
    * build and the exact gate; the sketch itself collapses to
    * d·w = 1024 cells and broadcasts against the tiny top-k probe.
    * (Production keeps only the cells — map-side partial agg of
    * per-token increments is the same plan minus the gate.) The exact
    * top-k doubles as the estimator-quality gate (cms_est ≥ n_exact
    * always; equality when no cell collision). */
  def cmsHeavy(spark: SparkSession, sfDir: String): DataFrame = {
    val ab = cmsAB(CmsRows)
    val counts = Tables.documents(spark, sfDir)
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60($"token"))
    val cells = array(ab.map { case (a, b) => permute($"h", a, b) % CmsWidth }: _*)
    val sketch = counts.select($"cnt", posexplode(cells))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "cell"))
      .groupBy($"j", $"cell")
      .agg(sum($"cnt").as("cnt"))
    val top = counts
      .orderBy($"cnt".desc, $"token".asc)
      .limit(CmsTopK)
    top.select($"token", $"cnt".as("n_exact"), posexplode(cells))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "cell"))
      .join(broadcast(sketch), Seq("j", "cell"))
      .groupBy($"token", $"n_exact")
      .agg(min($"cnt").as("cms_est"))
      .orderBy($"n_exact".desc, $"token".asc)
  }

  /** #63 Exact-substring decontamination at the CHARACTER level — the
    * complement of the token-gram check in [[decontaminate]]: flag
    * training docs sharing a verbatim [[TextOps.RollWindow]]-char span
    * with the held-out set, via the same content-defined sampled
    * rolling-hash windows as [[DedupOps.overlapPairs]] (keep windows
    * with h ≡ 0 mod [[DedupOps.OverlapSample]]; alignment-independent,
    * so an identical span selects the SAME windows in both docs
    * wherever it occurs). Catches eval answers pasted inside longer
    * documents, where token-gram Jaccard is diluted and word
    * tokenization can straddle the splice. Scale shape mirrors
    * [[decontaminate]]: the benchmark window set is MBs → distinct-agg
    * + broadcast-semi-join; the corpus side is a narrow scan+explode
    * with no pre-join shuffle. */
  def decontaminateSubstr(spark: SparkSession, sfDir: String): DataFrame = {
    // both sides are cheap projections of the materialized
    // sampled-windows artifact shared with DedupOps.overlapPairs —
    // the rolling-hash explode + distinct shuffle runs once per
    // corpus, not once per consumer
    val wins = DedupOps.sampledWindowsShared(spark, sfDir)
    val benchWins = wins.filter($"doc_id" % DecontMod === 0L)
      .select($"h").distinct()
    wins.filter($"doc_id" % DecontMod =!= 0L)
      .join(broadcast(benchWins), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .orderBy($"doc_id")
  }

  /** Tokens reported per source by [[tokenDrift]]. */
  val DriftTopK = 5

  /** #64 Token-distribution drift: per source, the top-k tokens most
    * OVER-represented vs the rest of the corpus — the drift report a
    * pipeline runs on each new corpus drop before mixing it in (a
    * source whose top drift tokens are spam markers or boilerplate
    * fails review before training ever sees it). Integer rational
    * rates keep it oracle-exact AND overflow-safe: rate_e3 =
    * (1e3·count) div total stays ≤ 1000, and 1e3·count fits BIGINT up
    * to ~9e15 per-token occurrences (an e6 rate would overflow at
    * 100 TB token totals). drift_e3 = own-rate − rest-rate, top-k by
    * (drift desc, token asc) — a total order both engines share.
    * Plan: one (source, token) partial-agg'd count shuffle; the
    * per-source and per-token totals derive from it (vocab-sized
    * re-aggregations), the tiny per-source totals broadcast, and the
    * top-k is the [[TopK]] builder — O(k) state per source merged
    * map-side, never a sort of a source's whole vocabulary in one
    * window partition (the q_topn_agg pattern; vocab is bounded, but
    * O(k) beats O(vocab)). */
  def tokenDrift(spark: SparkSession, sfDir: String): DataFrame = {
    // r14: the plan used to reference this subtree FOUR times
    // (srcTot, tokTot, grand, and the final join) and ReuseExchange
    // never fires across them — the join branches carry inferred
    // isnotnull filters below the agg that the standalone branches
    // lack, so the canonical subtrees differ and the corpus-wide
    // tokenize+explode+agg ran four times (4 documents scans in
    // plans/r14/q_token_drift_before.txt). A persist() of bySrc was
    // measured WORSE at sf10 (7.23 → 8.88 s — caching serializes the
    // four legs that otherwise schedule concurrently, the recorded
    // q_decon_widths lesson). Instead srcTot/grand come from a
    // CHEAP scan: per-source token totals are Σ size(tokens(text)) —
    // no explode, no vocab-wide agg — which is identically Σa over
    // the (source, token) counts. Two expensive subtrees remain
    // (tokTot and the join's bySrc) and still overlap.
    val bySrc = Tables.documents(spark, sfDir)
      .select($"source", explode(tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("a"))
    val srcTot = Tables.documents(spark, sfDir)
      .groupBy($"source")
      .agg(sum(size(tokens($"text")).cast(LongType)).as("na"))
    val tokTot = bySrc.groupBy($"token").agg(sum($"a").as("atot"))
    val grand = srcTot.agg(sum($"na").as("ntot"))
    val drift = bySrc.join(tokTot, "token")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(grand))
      .select($"source", $"token", $"a",
        expr("(1000 * a) div na").as("rate_e3"),
        // greatest(...,1): a single-source corpus has an empty "rest" —
        // rate 0, not a division error
        expr("(1000 * (atot - a)) div greatest(ntot - na, 1)").as("rest_rate_e3"))
      .withColumn("drift_e3", $"rate_e3" - $"rest_rate_e3")
    // per source, kept k-at-a-time: drift desc, token asc
    TopK(drift, Seq("source"), Seq((-$"drift_e3").as("drift_e3"), $"token",
        $"a", $"rate_e3", $"rest_rate_e3"), DriftTopK, "rnk")
      .select($"source", $"rnk", $"token", $"a", $"rate_e3", $"rest_rate_e3",
        (-$"drift_e3").as("drift_e3"))
      .orderBy($"source", $"rnk")
  }

  /** Token budget of one packed training sequence. */
  val PackBudget = 256L
  /** Docs per prefix-sum block — bounds every within-block window
    * partition in [[packSequences]]. */
  val PackBlock = 1024L

  /** #68 Sequence packing: lay the corpus's token stream end-to-end
    * (doc_id order) and cut fixed [[PackBudget]]-token training
    * sequences — the doc → pack placement map a trainer consumes
    * (docs straddling a cut get `n_packs > 1`, the attention-mask
    * boundary case). The core is a GLOBAL exclusive prefix sum of
    * per-doc token counts, computed scalably as a TWO-LEVEL scan:
    *  - within-block running sums over `block = doc_id div
    *    [[PackBlock]]` — every window partition is ≤ PackBlock rows,
    *    so no executor ever sorts more than a block;
    *  - block totals (one partial-agg'd shuffle) cumulated on a frame
    *    1/PackBlock the corpus size, then broadcast back.
    * The single-partition window runs only on that tiny block frame
    * (at 100 TB / 4 KB docs ≈ 25e9 docs → 24M block rows; recurse the
    * same two-level split once more if that ever exceeds one
    * executor). A naive `Window.orderBy(doc_id)` over the corpus —
    * the one-partition global sort Spark warns about — never touches
    * the full data. PackingSpec proves this two-level path row-equal
    * to the naive single-window form. */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    packFrame(Tables.documents(spark, sfDir))

  /** #68b Packing utilization report: per training sequence (pack),
    * how many docs touch it, how many of those straddle a pack
    * boundary (the attention-mask cross-contamination risk a trainer
    * monitors), and the exact token fill vs [[PackBudget]] — only the
    * final pack may show waste, and Σ fill_tokens reconciles with the
    * corpus token count (PackingSpec). Each doc contributes its
    * clipped overlap [cum_prev, cum_prev+n_tokens) ∩ [p·B, (p+1)·B).
    *
    * Scale shape: the #68 placement frame exploded by the packs each
    * doc touches (≤ n_packs rows/doc, bounded by doc length) into ONE
    * partial-agg'd shuffle on the uniform pack_id. */
  def packStats(spark: SparkSession, sfDir: String): DataFrame = {
    val b = lit(PackBudget)
    packSequences(spark, sfDir)
      .select($"n_tokens", $"cum_prev", $"n_packs",
        explode(sequence($"first_pack", $"last_pack")).as("pack_id"))
      .groupBy($"pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_packs" > 1L, 1L).otherwise(0L)).as("n_spanning"),
        sum(greatest(lit(0L),
          least($"cum_prev" + $"n_tokens", ($"pack_id" + 1) * b) -
            greatest($"cum_prev", $"pack_id" * b))).as("fill_tokens"))
      .select($"pack_id", $"n_docs", $"n_spanning", $"fill_tokens",
        (b - $"fill_tokens").as("waste_tokens"))
      .orderBy($"pack_id")
  }

  /** [[packSequences]] over any (doc_id, text) frame — exposed so the
    * property spec can drive the two-level prefix sum with arbitrary
    * synthetic corpora against an independent plain-Scala model. */
  def packFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docs
      .select($"doc_id", size(tokens($"text")).cast(LongType).as("n_tokens"),
        expr(s"doc_id div $PackBlock").as("block"))
    val wBlk = Window.orderBy($"block".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = lens.groupBy($"block").agg(sum($"n_tokens").as("btok"))
      .withColumn("boff", coalesce(sum($"btok").over(wBlk), lit(0L)))
      .select($"block", $"boff")
    val wIn = Window.partitionBy($"block").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    lens
      .withColumn("in_off", coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .join(broadcast(offsets), "block")
      .withColumn("cum_prev", $"boff" + $"in_off")
      // greatest(n_tokens, 1): an empty doc still OCCUPIES a position
      // (first_pack = last_pack), never a degenerate last < first
      .withColumn("first_pack", expr(s"cum_prev div $PackBudget"))
      .withColumn("last_pack",
        expr(s"(cum_prev + greatest(n_tokens, 1) - 1) div $PackBudget"))
      .select($"doc_id", $"n_tokens", $"cum_prev", $"first_pack", $"last_pack",
        ($"last_pack" - $"first_pack" + 1L).as("n_packs"))
      .orderBy($"doc_id")
  }

  /** Budgets swept by [[packSweep]]. */
  val PackSweepBudgets = Seq(128L, 256L, 512L)

  /** #68c Pack-budget sweep: the #68/#68b packing outcome priced at
    * several candidate sequence lengths in ONE report — per budget:
    * allocated packs, boundary-straddling docs (+e4 share — the
    * attention-mask contamination exposure), and wasted capacity
    * (only the final pack can waste, so waste = packs·B − tokens) —
    * the table that PICKS a training sequence length before a 100 TB
    * packing run, the #138-style sweep for the packing knob. The
    * prefix-sum placement (cum_prev) is budget-INDEPENDENT, so the
    * sweep reuses the SAME two-level #68 frame and only the
    * first/last-pack arithmetic varies: one bounded ×|budgets|
    * explode, one |budgets|-group partial agg. */
  def packSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val budgets = PackSweepBudgets.map(lit(_))
    packFrame(Tables.documents(spark, sfDir))
      .select($"n_tokens", $"cum_prev", explode(array(budgets: _*)).as("budget"))
      .withColumn("fp", expr("cum_prev div budget"))
      .withColumn("lp", expr("(cum_prev + greatest(n_tokens, 1) - 1) div budget"))
      .groupBy($"budget")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens_total"),
        (max($"lp") + 1L).as("n_packs"),
        sum(when($"lp" > $"fp", 1L).otherwise(0L)).as("n_straddling"))
      .withColumn("straddle_e4", expr("(10000 * n_straddling) div n_docs"))
      .withColumn("waste_tokens", expr("n_packs * budget - n_tokens_total"))
      .orderBy($"budget")
  }

  /** #54b Language-diversity profile: per source, the exact Simpson
    * index over its declared-language mix — (n²−Σc²)·10⁶ div n², the
    * probability two sampled docs carry DIFFERENT lang tags (the #92
    * token-diversity rule lifted to metadata). 0 = monolingual
    * source; a high value on a supposedly-monolingual feed means the
    * metadata (or the feed) is mixed and per-language gating can't
    * be trusted. Squares run DECIMAL(38,0) ≡ HUGEINT (n² overflows
    * BIGINT at 100 TB per-source doc counts). Two bounded partial
    * aggs — (source, lang) then source. */
  def langDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_docs"), count(lit(1)).as("n_langs"),
        sum($"c".cast("decimal(38,0)") * $"c").as("sq"))
      .select($"source", $"n_docs", $"n_langs",
        expr("""CAST(((CAST(n_docs AS DECIMAL(38,0)) * n_docs - sq) * 1000000)
               |div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"""
          .stripMargin).as("simpson_e6"))
      .orderBy($"source")

  /** Output shard count for [[shardAssign]]. */
  val NumShards = 16L

  /** #109 Token-balanced output sharding: cut the corpus (doc_id
    * order) into [[NumShards]] contiguous shards of ≈ equal TOKEN
    * mass — the writer layout step before training (N readers each
    * get one shard; doc-count sharding skews badly when lengths do) —
    * and report each shard's doc/token load and signed e4 deviation
    * from the ideal total/N. Shard of a doc = cum_prev·N div total:
    * pure arithmetic on the SAME two-level prefix-sum frame as #68
    * (one placement definition for packs and shards), with the total
    * a broadcast 1-row aggregate. Balance is within one document of
    * ideal by construction — the report proves it.
    *
    * Scale shape: #68's bounded-window prefix sum + one |shards|-row
    * partial agg; nothing global beyond the tiny block-offset frame
    * #68 already broadcasts. */
  def shardAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val frame = packSequences(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"cum_prev")
    val tot = frame.agg(sum($"n_tokens").as("total"))
    frame.crossJoin(broadcast(tot))
      .withColumn("shard",
        least(lit(NumShards - 1L),
          expr(s"cum_prev * $NumShards div greatest(total, 1)")))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        max($"total").as("total"))
      .withColumn("dev_e4",
        expr(s"(n_tokens - total div $NumShards) * 10000 div " +
          s"greatest(total div $NumShards, 1)"))
      .select($"shard", $"n_docs", $"n_tokens", $"dev_e4")
      .orderBy($"shard")
  }

  /** Token window width / stride for [[chunkDocs]] — 50% overlap,
    * the common embedding-pipeline default. */
  val ChunkWidth = 16
  val ChunkStride = 8

  /** #73 Document chunking: split each doc into overlapping
    * [[ChunkWidth]]-token windows every [[ChunkStride]] tokens — the
    * chunk table an embedding/retrieval pipeline materializes (one
    * embedding per chunk, not per doc), with a 60-bit content hash
    * per chunk so chunk-level dedup composes downstream. Pure narrow
    * explode — no shuffle at any scale; chunk counts follow doc
    * length, never corpus size. Token-less docs produce no chunks. */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    chunkFrame(Tables.documents(spark, sfDir))
      .orderBy($"doc_id", $"chunk_idx")

  /** The chunk projection over any (doc_id, text) frame — every stage
    * narrow and stateless, so the SAME definition runs on a batch
    * scan (above) and on a stream (StreamingSpec pins parity: no
    * state, no watermark, append mode). */
  def chunkFrame(docs: DataFrame): DataFrame =
    docs
      .select($"doc_id", tokens($"text").as("tk"))
      .withColumn("n_tokens", size($"tk").cast(LongType))
      .filter($"n_tokens" >= 1)
      .select($"doc_id", $"n_tokens", $"tk",
        explode(sequence(lit(0L), $"n_tokens" - 1, lit(ChunkStride.toLong)))
          .as("start_tok"))
      .select($"doc_id",
        expr(s"start_tok div $ChunkStride").as("chunk_idx"),
        $"start_tok",
        least(lit(ChunkWidth.toLong), $"n_tokens" - $"start_tok").as("n_in_chunk"),
        hash60(array_join(
          slice($"tk", ($"start_tok" + 1).cast("int"), lit(ChunkWidth)), " "))
          .as("chunk_hash"))

  /** #73b Chunk-level exact dedup stats: how many chunks repeat
    * verbatim across the corpus (boilerplate headers/footers show up
    * here long before doc-level dedup sees them). ONE shuffle on the
    * uniform chunk hash: the countDistinct(doc_id) would otherwise
    * plan Spark's generic two-phase distinct — a second full exchange
    * of the (chunk_hash, doc_id) pairs keyed (chunk_hash, doc_id) —
    * but hash-partitioning by chunk_hash alone already satisfies BOTH
    * aggregation levels (ClusteredDistribution on a superset key), so
    * the explicit repartition + two-level agg computes the identical
    * (count, distinct-doc count, min) with half the exchanges. The
    * per-(hash, doc) level is exact: sum of its counts = total chunk
    * occurrences, its row count = distinct docs. */
  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    // r14 (guide §4): the hash stream comes from the fused byte
    // kernel — one tokenize pass per doc, md5 streamed straight from
    // the document bytes at the same width/stride grid — instead of
    // chunkFrame's tokens→slice→array_join→hash60 chain, which
    // materializes an array<string> plus one joined string per chunk
    // just to hash it. Bit-identical hashes (PropertySpec pins the
    // kernel against the chain); chunkFrame itself is unchanged for
    // the consumers that need chunk metadata (q_chunks, streaming).
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(graft.functions.TextHash
        .chunkHashes($"text", ChunkWidth, ChunkStride)).as("chunk_hash"))
      .repartition($"chunk_hash")
      .groupBy($"chunk_hash", $"doc_id")
      .agg(count(lit(1)).as("n"))
      .groupBy($"chunk_hash")
      .agg(sum($"n").as("n_chunks"),
        count(lit(1)).as("n_docs"),
        min($"doc_id").as("first_doc"))
      .filter($"n_chunks" > 1)
      .orderBy($"chunk_hash")

  /** Per-mille keep rates per source for [[stratifiedSample]] —
    * the "training mix" knob (upsample curated sources, downsample
    * crawl). Shared with the oracle so the rates cannot drift. */
  val SampleRates: Seq[(String, Long)] =
    Seq("src0" -> 900L, "src1" -> 700L, "src2" -> 400L, "src3" -> 150L)
  val SampleDefaultRate = 250L

  /** #52 Deterministic stratified sampling: keep a doc iff
    * hash60(doc_id) % 1000 < rate(source). A pure narrow map — no
    * shuffle, no rand(): re-running on a grown corpus keeps exactly
    * the docs it kept before (reproducible training mixes, stable
    * incremental pipelines). At 100 TB this runs at scan speed and
    * composes with partition pruning. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = SampleRates.foldRight(lit(SampleDefaultRate)) {
      case ((src, r), e) => when($"source" === src, lit(r)).otherwise(e)
    }
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source",
        (hash60($"doc_id".cast("string")) % 1000L).as("bucket"), rate.as("rate"))
      .filter($"bucket" < $"rate")
      .select($"doc_id", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  /** Relative mixture weights per source for [[mixtureSample]];
    * unlisted sources get [[MixtureDefaultWeight]]. Shared with the
    * oracle so the mix cannot drift. */
  val MixtureWeights: Seq[(String, Long)] =
    Seq("src0" -> 4L, "src1" -> 3L, "src2" -> 2L)
  val MixtureDefaultWeight = 1L
  /** Global token budget the mixture targets. An ABSOLUTE budget on
    * purpose: as the crawl grows, per-source keep rates shrink —
    * exactly how "train on B tokens" behaves against a growing
    * corpus. */
  val MixtureBudget = 20000L

  /** #75 Token-budget mixture sampling: split a global token budget
    * across sources by relative weight, convert each source's share
    * into a deterministic per-ten-thousand keep rate against its
    * available tokens (capped at keep-everything), and report the
    * realized mix — the "data mixing" step that turns curated sources
    * into a training recipe.
    *
    * Scale shape — ONE corpus scan, ONE partial-agg'd shuffle: the
    * scan aggregates into a (source × 10 000 hash-bucket) histogram
    * of doc/token counts, bounded at |sources|·10⁴ rows REGARDLESS of
    * corpus size, which is collected and finished driver-side (the
    * same bounded-artifact discipline as the k-means centroid cells
    * and IVF pivots; a declarative multi-branch form was measured to
    * re-scan the corpus 4× because column pruning makes the branches
    * non-identical, defeating exchange reuse). The keep rule
    * (bucket < rate_e4) is the same hash a narrow per-doc filter
    * would use, so `sampled_*` is exactly what that filter would
    * keep — the report and the sample cannot disagree. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.documents(spark, sfDir)
      .select($"source",
        (hash60(concat($"doc_id".cast("string"), lit(":mix"))) % 10000L)
          .as("bucket"),
        size(tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("b_docs"), sum($"n_tokens").as("b_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w = MixtureWeights.toMap
    val bySrc = hist.groupBy(_._1)
    val sumW = bySrc.keysIterator
      .map(s => w.getOrElse(s, MixtureDefaultWeight)).sum
    val out = bySrc.toSeq.sortBy(_._1).map { case (s, rows) =>
      val wt = w.getOrElse(s, MixtureDefaultWeight)
      val nDocs = rows.iterator.map(_._3).sum
      val avail = rows.iterator.map(_._4).sum
      val target = MixtureBudget * wt / sumW
      val rate = if (avail == 0L) 0L else math.min(10000L, target * 10000L / avail)
      val kept = rows.filter(_._2 < rate)
      (s, wt, nDocs, avail, target, rate,
        kept.iterator.map(_._3).sum, kept.iterator.map(_._4).sum)
    }
    spark.createDataFrame(out).toDF("source", "weight", "n_docs",
      "avail_tokens", "target_tokens", "rate_e4",
      "sampled_docs", "sampled_tokens")
      .orderBy($"source")
  }

  /** #75b Temperature-rebalanced mixture shares: each source weighted
    * by isqrt(available tokens) — the α = 0.5 temperature-sampling
    * rule (multilingual/multi-source training's standard head-
    * flattener: a 100× bigger source gets only 10× the share) —
    * reported next to the natural (proportional) share so the
    * flattening is visible per source. The integer square root is
    * EXACT in both engines: floor(sqrt(double)) seeded, then a ±1
    * correction by integer comparison, so a half-ulp sqrt difference
    * can never change the answer (squares stay under BIGINT through
    * ~10¹⁸ tokens); the natural-share division runs DECIMAL(38,0).
    *
    * Scale shape: one narrow scan → |sources| partial agg; the 1-row
    * totals frame broadcasts back; everything after is
    * |sources|-bounded. */
  def mixtureTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .select($"source", size(tokens($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"source").agg(sum($"n_tokens").as("avail_tokens"))
      .withColumn("s0",
        expr("CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("weight", expr(
        """CASE WHEN avail_tokens <= 0 THEN 0
          |  WHEN (s0 + 1) * (s0 + 1) <= avail_tokens THEN s0 + 1
          |  WHEN s0 * s0 > avail_tokens THEN s0 - 1
          |  ELSE s0 END""".stripMargin))
      .drop("s0")
    val tot = per.agg(sum($"avail_tokens").as("tot_avail"),
      sum($"weight").as("tot_w"))
    per.crossJoin(broadcast(tot))
      .withColumn("natural_share_e6",
        expr("""CAST((CAST(avail_tokens AS DECIMAL(38,0)) * 1000000)
               |div CAST(tot_avail AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .withColumn("temp_share_e6", expr("weight * 1000000 div tot_w"))
      .select($"source", $"avail_tokens", $"weight",
        $"natural_share_e6", $"temp_share_e6")
      .orderBy($"source")
  }

  /** Sample size for [[uniformSample]]. */
  val UniformK = 100

  /** #76 Exact-k uniform corpus sample: the K docs with the smallest
    * deterministic 60-bit hash — a reproducible fixed-size
    * "reservoir" (md5 order, never rand(): the same K docs come back
    * on every run and engine, and adding documents only ever replaces
    * the highest-hash picks). Physical shape: the [[TopK]] builder
    * keeps O(K) state per partition and merges K-sized buffers, so
    * the corpus is scanned once and NEVER globally sorted — the
    * shuffle carries partitions × K rows where the oracle's
    * ORDER BY ... LIMIT K would sort all of them (PlanSpec pins the
    * no-global-Sort shape). */
  /** The deterministic sample key of [[uniformSample]] over any
    * (doc_id, source) frame — batch or streaming. */
  def uniformKeyed(docs: DataFrame): DataFrame =
    docs.select(hash60(concat($"doc_id".cast("string"), lit(":u"))).as("h"),
      $"doc_id", $"source")

  /** The reservoir stage of [[uniformSample]] — a GLOBAL [[TopK]]
    * over (h, doc_id), shared verbatim by the streaming form (complete
    * mode): the K-smallest merge is commutative, so micro-batch
    * boundaries and arrival order can never change the reservoir —
    * the same K docs fall out of an unbounded stream as out of the
    * batch scan. Output: (rnk, h, doc_id, source). */
  def reservoirAgg(keyed: DataFrame): DataFrame =
    TopK(keyed, Nil, Seq($"h", $"doc_id", $"source"), UniformK, "rnk")

  /** Presentation shared by the batch sample and the streaming spec's
    * final-reservoir readout. */
  def reservoirRows(top: DataFrame): DataFrame =
    top.select($"rnk", $"doc_id", $"h", $"source").orderBy($"rnk")

  def uniformSample(spark: SparkSession, sfDir: String): DataFrame =
    reservoirRows(reservoirAgg(uniformKeyed(Tables.documents(spark, sfDir))))

  /** Sample size for [[weightedSample]]. */
  val WeightedK = 100

  /** #80 Token-weighted exact-k sample (sequential Poisson /
    * priority sampling, Ohlsson 1998): each doc gets priority
    * u div w where u is its deterministic 60-bit hash (uniform on
    * [0, 2^60)) and w = n_tokens + 1; the K smallest priorities win,
    * so inclusion probability is ≈ proportional to token count — the
    * standard size-biased corpus sample (long docs carry more of the
    * token budget, so a token-cost-aware audit samples them more).
    * Deterministic: md5-derived u, never rand(), integer division —
    * the same K docs on every run and engine. Physical shape is
    * [[uniformSample]]'s: one narrow scan into the [[TopK]] builder,
    * O(K) state per partition, no global sort. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val prio = Tables.documents(spark, sfDir)
      .select(hash60(concat($"doc_id".cast("string"), lit(":w"))).as("u"),
        $"doc_id", (size(tokens($"text")).cast(LongType) + 1L).as("w"))
      .select(expr("u div w").as("prio"), $"doc_id", $"w")
    TopK(prio, Nil, Seq($"prio", $"doc_id", $"w"), WeightedK, "rnk")
      .select($"rnk", $"doc_id", $"prio", $"w")
      .orderBy($"rnk")
  }

  /** Per-group sample size for [[groupSample]]. */
  val GroupK = 20

  /** #84 Per-source exact-k sample: the K smallest-hash docs WITHIN
    * each source — the stratified audit sample ("show me 20 random
    * docs from every source") with #76's determinism contract
    * (md5 order, never rand()). Physical shape: one
    * [[TopK]]-aggregated shuffle keyed by source — partial
    * buffers keep O(K) rows per (partition × source) so the shuffle
    * carries sources × partitions × K rows, where the oracle's
    * per-source row_number window would sort every row of each
    * source's partition. Adding a source never perturbs another
    * source's picks (hash order is per-doc, keyed independently). */
  def groupSample(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = Tables.documents(spark, sfDir)
      .select($"source",
        hash60(concat($"doc_id".cast("string"), lit(":g"))).as("h"), $"doc_id")
    TopK(hashed, Seq("source"), Seq($"h", $"doc_id"), GroupK, "rnk")
      .select($"source", $"rnk", $"doc_id", $"h")
      .orderBy($"source", $"rnk")
  }

  /** Docs kept per source by [[sourceCap]]. */
  val SourceCapK = 20

  /** #112 Per-source quality cap: keep each source's [[SourceCapK]]
    * BEST documents by the #95 composite quality percentile — the
    * domain-cap a crawl pipeline applies so one mega-source cannot
    * swamp the mixture with mediocre text (cf. the per-domain page
    * caps in C4/RefinedWeb-style curation). Docs outside the quality
    * domain (< 2 tokens) rank with the −1 sentinel, so a tiny source
    * still fills its cap before any doc is dropped.
    *
    * Scale shape: the quality frame is the materialized #95 artifact
    * (doc-keyed scan, built once per corpus); ranking is the SAME
    * [[TopK]] builder as [[groupSample]] — O(K) state per source
    * carried through a map-side-combined object agg, shuffle
    * volume sources × partitions × K, never a per-source sort of the
    * corpus. */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = qualityPercentile(spark, sfDir)
      .select($"doc_id", $"composite_e4")
    val scored = Tables.documents(spark, sfDir).select($"source", $"doc_id")
      .join(quality, Seq("doc_id"), "left")
      .select($"source", coalesce($"composite_e4", lit(-1L)).as("composite_e4"),
        $"doc_id")
    TopK(scored, Seq("source"), Seq((-$"composite_e4").as("composite_e4"), $"doc_id"),
        SourceCapK, "rnk")
      .select($"source", $"rnk", $"doc_id", (-$"composite_e4").as("composite_e4"))
      .orderBy($"source", $"rnk")
  }

  /** #115 Quality–length regression audit: per source, the exact
    * integer least-squares slope (e6) of the #95 composite quality
    * percentile against token count — the "is our quality score just
    * measuring length?" calibration check run before gating on the
    * composite (a steep slope means the three metrics reward length,
    * and a length-capped source would be scored unfairly). Domain is
    * the quality frame's (docs ≥ 2 tokens).
    *
    * slope_e6 = (n·Σxy − Σx·Σy)·10⁶ div (n·Σx² − (Σx)²), computed
    * sign-split on DECIMAL(38,0) magnitudes so Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` agree on
    * negative numerators (the #88 tdiv pattern); the cross/square
    * sums aggregate in DECIMAL because Σx² overflows BIGINT once
    * book-length docs meet 10⁹-doc corpora. Zero-variance sources
    * (all docs one length) report slope 0.
    *
    * Scale shape: the quality frame is the materialized #95 artifact;
    * one doc-keyed equi-join against the narrow token-count scan (the
    * only row-granularity shuffle), then a |sources|-row partial
    * agg. */
  def qualityLengthSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityPercentile(spark, sfDir).select($"doc_id", $"composite_e4")
    val dec = "DECIMAL(38,0)"
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", size(tokens($"text")).cast(LongType).as("x"))
      .join(q, Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"x").as("sum_tokens"),
        sum($"composite_e4").as("sum_q"),
        sum(($"x" * $"composite_e4").cast(dec)).as("sxy"),
        sum(($"x" * $"x").cast(dec)).as("sxx"))
      .withColumn("den",
        expr(s"CAST(n_docs AS $dec) * sxx - CAST(sum_tokens AS $dec) * sum_tokens"))
      .withColumn("num",
        expr(s"CAST(n_docs AS $dec) * sxy - CAST(sum_tokens AS $dec) * sum_q"))
      .withColumn("slope_e6", expr(
        """CAST(CASE WHEN den = 0 THEN 0
          |  WHEN num < 0 THEN -(((-num) * 1000000) div den)
          |  ELSE (num * 1000000) div den END AS BIGINT)""".stripMargin))
      .select($"source", $"n_docs", $"sum_tokens", $"sum_q", $"slope_e6")
      .orderBy($"source")
  }

  /** #116 Quality yield curve: per composite-quality decile, the doc
    * and token counts plus the CUMULATIVE docs/tokens a pipeline
    * keeps if it gates at that decile or better — the table that
    * prices a quality bar ("p80 keeps 31% of tokens") before
    * committing a 100 TB filter run. Decile = composite_e4 div 1000,
    * the perfect-score edge folded into the top bucket.
    *
    * Scale shape: the quality frame is the materialized #95 artifact;
    * one doc-keyed equi-join against the narrow token-count scan,
    * a 10-group partial agg, and the cumulative window runs over the
    * 10-row bucket frame only (same bounded-frame contract as the
    * #95 histograms). */
  def qualityYield(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityPercentile(spark, sfDir).select($"doc_id", $"composite_e4")
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(tokens($"text")).cast(LongType).as("n_tok"))
    val w = Window.orderBy($"decile".desc)
    q.join(toks, Seq("doc_id"))
      .withColumn("decile", least(expr("composite_e4 div 1000"), lit(9L)))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .withColumn("cum_docs", sum($"n_docs").over(w))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .orderBy($"decile")
  }

  /** #89 Effective dataset size: per source, raw vs dedup-weighted
    * token counts — every doc contributes n_tokens div |its near-dup
    * cluster| (the #50 transitive MinHash clusters; docs in no pair
    * weigh 1/1) — the "how much UNIQUE data is really here" number a
    * token budget should be priced against, plus how many docs sit
    * in near-dup clusters at all. Integer division keeps it §4
    * hash-exact; the weighting is the standard 1/cluster-size
    * de-duplication discount.
    *
    * Scale shape: cluster labels cover only pair-involved docs (the
    * sublinear LSH output, read from the materialized pairs
    * artifact), so both joins broadcast under AQE; the corpus is
    * scanned once narrow and shuffles only into the |sources| agg. */
  def effectiveTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = ClusterOps.clusterLabels(spark, sfDir)
    val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("csz"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", size(tokens($"text")).cast(LongType).as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("csz", coalesce($"csz", lit(1L)))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"csz" > 1L, 1L).otherwise(0L)).as("n_clustered"),
        sum($"n_tokens").as("raw_tokens"),
        sum(expr("n_tokens div csz")).as("effective_tokens"))
      .orderBy($"source")
  }

  /** Shingle width and bucket count of the novelty/boilerplate gram
    * profile — one definition for the operators, their specs, and
    * the oracles. */
  private[graft] val ProfGram = 3
  private[graft] val NoveltyBuckets = 20L
  /** A gram is "common" (boilerplate-grade) once it appears in at
    * least this many distinct docs. */
  private[graft] val BoilerDf = 5L

  /** Per-doc distinct [[ProfGram]]-gram hashes, exploded — the ONE
    * gram stream [[noveltyCurve]] and [[boilerplateRatio]] both
    * aggregate, so their gram universe cannot drift. */
  private def docGrams(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        explode(graft.functions.TextHash.gramHashes($"text", ProfGram)).as("h"))

  /** Gram-level stats over [[docGrams]]: first-appearance doc and
    * document frequency per distinct gram, in ONE partial-agg'd
    * gram-keyed shuffle (min and count ride the same exchange). */
  private def gramStats(spark: SparkSession, sfDir: String): DataFrame =
    docGrams(spark, sfDir).groupBy($"h")
      .agg(min($"doc_id").as("first_doc"), count(lit(1)).as("df"))

  /** #104 Corpus novelty curve: walking the corpus in ingestion order
    * (doc_id), what share of each slice's distinct 3-gram shingles
    * was already seen in earlier docs? The first-occurrence form of
    * dedup pressure — a curve bending toward 10000 says the tail of
    * the crawl is re-crawling the head and the next ingest's marginal
    * value is collapsing (the "data is running out" audit run before
    * buying another crawl batch). Docs are sliced into
    * [[NoveltyBuckets]] equal doc_id RANGES (never an ntile/global
    * sort), a gram counts as seen when its corpus-wide first
    * appearance precedes the doc.
    *
    * Scale shape: one gram-keyed partial-agg shuffle ([[gramStats]]),
    * one gram-keyed join back (same key — the exchange is reusable),
    * one doc-keyed agg, then a bounded bucket agg; the doc_id bounds
    * are a broadcast 1-row frame. No global sort at any scale. */
  /** Per-doc (n_grams, n_seen) novelty counts — the ONE stage behind
    * [[noveltyCurve]] (the WHEN lens) and [[noveltySource]] (the
    * WHICH-crawl lens), so the two reports count the same grams. */
  private def noveltyPerDoc(spark: SparkSession, sfDir: String): DataFrame =
    docGrams(spark, sfDir)
      .join(gramStats(spark, sfDir).select($"h", $"first_doc"), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"first_doc" < $"doc_id", 1L).otherwise(0L)).as("n_seen"))

  def noveltyCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = noveltyPerDoc(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(bounds))
      .select(
        least(lit(NoveltyBuckets - 1L),
          expr(s"(doc_id - lo) * $NoveltyBuckets div (hi - lo + 1)")).as("bucket"),
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_seen", lit(0L)).as("n_seen"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_grams").as("n_grams"), sum($"n_seen").as("n_seen"))
      .withColumn("seen_e4",
        when($"n_grams" === 0L, 0L)
          .otherwise(expr("n_seen * 10000 div n_grams")))
      .orderBy($"bucket")
  }

  /** #104b Per-source novelty contribution: the #104 counts re-keyed
    * by source — which crawl's shingles were already seen elsewhere
    * (doc_id order stands in for ingestion order, so "seen" means an
    * earlier-ingested doc anywhere in the corpus carried the gram
    * first). The curve (#104) says WHEN redundancy set in; this says
    * WHO ships it — the report that decides which feed to cut. Same
    * [[noveltyPerDoc]] stage, one |sources| partial agg. */
  def noveltySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select($"doc_id", $"source")
      .join(noveltyPerDoc(spark, sfDir), Seq("doc_id"), "left")
      .select($"source",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_seen", lit(0L)).as("n_seen"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_grams").as("n_grams"), sum($"n_seen").as("n_seen"))
      .withColumn("seen_e4",
        when($"n_grams" === 0L, 0L)
          .otherwise(expr("n_seen * 10000 div n_grams")))
      .orderBy($"source")

  /** #105 Boilerplate ratio per source: the share of each doc's
    * distinct 3-gram shingles that are corpus-COMMON (document
    * frequency ≥ [[BoilerDf]]) — the C4-style inter-document
    * boilerplate signal (navigation chrome, legal footers, template
    * scaffolding) that intra-doc repetition (#53) and top-token
    * ratios (#92) cannot see, because boilerplate is only visible
    * ACROSS documents. Reports per source the doc count, gram
    * totals, common-gram totals, the e4 pooled ratio, and how many
    * docs are majority-boilerplate (the drop candidates).
    *
    * Scale shape: same [[gramStats]] shuffle + same-key join as #104
    * (one shared definition), then a doc-keyed agg and a |sources|
    * partial agg; no corpus-wide sort, no broadcast of anything
    * corpus-sized. */
  def boilerplateRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = docGrams(spark, sfDir)
      .join(gramStats(spark, sfDir).select($"h", $"df"), "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" >= BoilerDf, 1L).otherwise(0L)).as("n_common"))
    Tables.documents(spark, sfDir).select($"doc_id", $"source")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"source",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_common", lit(0L)).as("n_common"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_grams").as("n_grams"), sum($"n_common").as("n_common"),
        sum(when($"n_grams" > 0L && $"n_common" * 2L >= $"n_grams", 1L)
          .otherwise(0L)).as("n_flagged"))
      .withColumn("boiler_e4",
        when($"n_grams" === 0L, 0L)
          .otherwise(expr("n_common * 10000 div n_grams")))
      .select($"source", $"n_docs", $"n_grams", $"n_common", $"boiler_e4",
        $"n_flagged")
      .orderBy($"source")
  }

  /** #153 Corpus snapshot diff: given two corpus snapshots keyed by
    * doc_id, classify every document as added / removed / changed /
    * unchanged (change = exact text hash inequality — crawl-diff
    * semantics; run the #85 normalized tier separately if casing
    * noise should not count) and report per class: document count and
    * the token mass on each side. The crawl-over-crawl readout run
    * before pricing a re-ingest — "the new snapshot is 3% new pages
    * and 9% re-rendered boilerplate" decides whether the pipeline
    * reprocesses or patches.
    *
    * Scale shape: two narrow scans (doc_id, md5(text), token count),
    * ONE doc_id-keyed full-outer merge (uniform key — doc ids never
    * skew), and a 4-row class agg. Nothing corpus-sized survives the
    * join output but the class rows. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def side(df: DataFrame, pre: String): DataFrame =
      df.select($"doc_id", md5($"text").as(s"${pre}_hash"),
        size(tokens($"text")).cast(LongType).as(s"${pre}_tokens"))
    side(oldDocs, "old")
      .join(side(newDocs, "new"), Seq("doc_id"), "full_outer")
      .select(
        when($"old_hash".isNull, "added")
          .when($"new_hash".isNull, "removed")
          .when($"old_hash" =!= $"new_hash", "changed")
          .otherwise("unchanged").as("change"),
        coalesce($"old_tokens", lit(0L)).as("ot"),
        coalesce($"new_tokens", lit(0L)).as("nt"))
      .groupBy($"change")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ot").as("old_tokens"), sum($"nt").as("new_tokens"))
      .orderBy($"change")
  }

  /** #153b Snapshot change severity: for every CHANGED doc of the
    * #153 diff, the exact 2-gram Jaccard between its old and new
    * text, bucketed cosmetic (J ≥ 9/10) / revised (J ≥ 1/2) /
    * rewritten — HOW different the re-crawl is, the per-doc
    * patch-vs-reprocess decision the class counts of #153 cannot
    * make. A changed doc whose both sides have no 2-grams (single
    * tokens) carries no gram evidence and classes `rewritten` with
    * j_e4 = 0 — defined identically in the oracle. Narrow per-side
    * gram sets (the shared [[graft.functions.TextHash]] kernels),
    * ONE doc_id-keyed join, merge-walk intersections, ≤3-row agg. */
  def diffSeverity(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    import graft.functions.TextHash
    def side(df: DataFrame, pre: String): DataFrame =
      df.select($"doc_id", md5($"text").as(s"${pre}_hash"),
        sort_array(TextHash.gramHashes($"text", 2)).as(s"${pre}_gs"))
    side(oldDocs, "old").join(side(newDocs, "new"), "doc_id")
      .filter($"old_hash" =!= $"new_hash")
      .select(
        TextHash.sortedIntersectCount($"old_gs", $"new_gs").as("n_common"),
        (size($"old_gs") + size($"new_gs")).cast(LongType).as("sz"))
      .select($"n_common", ($"sz" - $"n_common").as("n_union"))
      .select(
        when($"n_union" === 0L, "rewritten")
          .when($"n_common" * 10L >= $"n_union" * 9L, "cosmetic")
          .when($"n_common" * 2L >= $"n_union", "revised")
          .otherwise("rewritten").as("severity"),
        when($"n_union" === 0L, 0L)
          .otherwise(expr("n_common * 10000 div n_union")).as("j_e4"))
      .groupBy($"severity")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(j_e4) div count(1)").as("mean_j_e4"))
      .orderBy($"severity")
  }

  /** The [[diffSeverity]] gate over the same two deterministic
    * snapshots as [[corpusDiff]] — one snapshot-derivation rule. */
  def diffSeverityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val (old, nw) = diffSnapshots(spark, sfDir)
    diffSeverity(old, nw)
  }

  /** The #153 deterministic two-snapshot derivation — ONE definition
    * shared by [[corpusDiff]] and [[diffSeverityGate]] so the two
    * reports describe the same pair of snapshots by construction.
    * Three mutation tiers exercise the three #153b severity classes:
    * doc_id ≡ 5 (mod 11) gets a ` v1` suffix (cosmetic), ≡ 6 keeps
    * only its first ⌈7n/10⌉ tokens (revised — a truncated re-render),
    * ≡ 7 reverses its token order (rewritten — same vocabulary, no
    * shared 2-grams). */
  private def diffSnapshots(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, sfDir)
    val tk = tokens($"text")
    val m = pmod($"doc_id", lit(11L))
    val old = docs.filter(pmod($"doc_id", lit(7L)) =!= 3L)
      .withColumn("text",
        when(m === 5L, concat($"text", lit(" v1")))
          .when(m === 6L,
            array_join(slice(tk, lit(1), floor((size(tk) * 7 + 9) / 10).cast("int")), " "))
          .when(m === 7L, array_join(reverse(tk), " "))
          .otherwise($"text"))
    val nw = docs.filter(pmod($"doc_id", lit(5L)) =!= 2L)
    (old, nw)
  }

  /** The [[snapshotDiff]] gate: two snapshots derived deterministically
    * from the documents table — "old" misses doc_id ≡ 3 (mod 7) (those
    * read as added) and carries a ` v1` text suffix for doc_id ≡ 5
    * (mod 11) (those read as changed); "new" misses doc_id ≡ 2 (mod 5)
    * (removed). */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val (old, nw) = diffSnapshots(spark, sfDir)
    snapshotDiff(old, nw)
  }
}
