package graft.operators

import graft.{ColumnInterpolator, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.tools.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication family for LLM training-data pipelines
  * (SURVEY.md §2.7 #37-42): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine.
  *
  * Scale design (100 TB): exact dedup is one hash shuffle on md5 —
  * uniform keys, no skew. MinHash-LSH bounds the candidate-pair space
  * to band-bucket collisions (equi-join on (band, band_hash) — a
  * plain shuffle join on a uniform key), and only candidates pay the
  * exact-Jaccard verify. n-gram Jaccard uses size-bucket blocking
  * expressed as an explode+equi-join (never a theta join).
  *
  * Performance: shingles are md5-hashed to 60-bit longs ONCE; the 16
  * MinHash permutations are integer universal hashes over that long
  * (16× less md5), and all Jaccard set-intersections run on long
  * arrays, not strings — less CPU and an ~4× smaller shuffle payload.
  * The DuckDB oracles use the identical md5-derived hashes, so
  * results match bit-for-bit even in the (≈2^-60) collision case
  * (SURVEY.md §4).
  */
object DedupOps {

  /** #37 Exact dedup: md5 over normalized text, keep the min doc_id
    * per group. One shuffle; at 100 TB, partial-agg keeps it cheap. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id", contentHash($"text").as("text_hash"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("cnt"))
      .orderBy($"text_hash")

  /** #85 Normalization-canonical dedup (the C4/CCNet "fuzzy-exact"
    * tier between #37 and MinHash): docs agreeing after lowercase +
    * strip-non-alphanumeric + collapse-whitespace are one class —
    * catches punctuation/casing/spacing variants that exact dedup
    * misses at a fraction of near-dup cost. `n_raw_variants` counts
    * how many #37 exact classes each normalized class absorbs (> 1 ⇔
    * normalization did work). Same physical shape as #37: narrow
    * codegen'd normalization, ONE partial-agg'd shuffle on the
    * uniform md5 key. The normalization itself is the native
    * single-pass [[graft.functions.TextHash.normTextData]] fold —
    * value-identical to the oracle's two-regex pipeline (the regex
    * form cost ~38 s of a 40 s sf10 run in per-replaced-char
    * java.util.regex machinery and was the whole ×21/decade
    * "anomaly"; the fold restores linear scaling), still part of the
    * §4 determinism contract. */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        md5(graft.functions.TextHash.normText($"text")).as("norm_hash"),
        contentHash($"text").as("raw_hash"))
      .groupBy($"norm_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("cnt"),
        countDistinct($"raw_hash").as("n_raw_variants"))
      .orderBy($"norm_hash")

  /** Token length of the prefix key used by [[dedupPrefix]]; docs
    * shorter than this stay out of prefix classes (their whole text
    * is already covered by #37/#85). */
  val PrefixTok = 12

  /** #97 Prefix-class dedup: docs agreeing on their first
    * [[PrefixTok]] whitespace tokens form one class — the cheap tier
    * that catches crawl re-fetches whose TAILS diverged (truncation,
    * appended boilerplate, pagination) and which therefore slip past
    * both exact (#37) and normalized (#85) whole-text hashing.
    * `n_raw_variants` counts the #37 exact classes each prefix class
    * absorbs (> 1 ⇔ the prefix tier did work beyond exact dedup). The
    * prefix is built from LOWERCASED tokens so its key domain folds
    * case exactly like #37's `md5(lower(trim(text)))` — otherwise a
    * case-variant exact class would straddle two prefix classes and
    * the coarser tier would miss duplicates the finer tier catches.
    *
    * Scale shape: identical to #37 — a narrow codegen'd projection
    * (built-in `slice`/`array_join`/`md5`, no UDF) into ONE
    * partial-agg'd shuffle on the uniform md5 key. At 100 TB the
    * partial agg collapses each partition's duplicate prefixes before
    * the exchange, and the key is a hash so no skew handling is
    * needed. */
  def dedupPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = graft.functions.TextFunctions.tokens(lower($"text"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", contentHash($"text").as("raw_hash"),
        tk.as("tk"))
      .filter(size($"tk") >= PrefixTok)
      .select($"doc_id", $"raw_hash",
        md5(array_join(slice($"tk", 1, PrefixTok), " ")).as("prefix_hash"))
      .groupBy($"prefix_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("cnt"),
        countDistinct($"raw_hash").as("n_raw_variants"))
      .orderBy($"prefix_hash")
  }

  val numHashes = 16
  val numBands = 8 // 8 bands x 2 rows: P(candidate | J=0.5) ≈ 0.9
  private val ab = minhashAB(numHashes)

  /** Shingle width of the MinHash signature AND its exact-Jaccard
    * verify — one definition shared by every consumer and oracle (a
    * literal at one call site and a default at another silently
    * desynchronize; the oracle's band CTE derives its minima from the
    * same gram CTE, so the two widths MUST agree). */
  private[graft] val VerifyGram = 2

  /** doc_id + distinct word-n-gram shingle set, 60-bit-hashed and
    * sorted (one narrow per-row pass in [[TextHash.gramHashes]]);
    * sorted long arrays make the verify intersections a two-pointer
    * merge walk. */
  private def gramSets(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    gramSetsOf(Tables.documents(spark, sfDir), n)

  private def gramSetsOf(docs: DataFrame, n: Int): DataFrame =
    docs
      .select($"doc_id",
        sort_array(graft.functions.TextHash.gramHashes($"text", n)).as("gs"))
      .filter(size($"gs") > 0)

  /** #38 MinHash signatures banded for LSH: k=16 universal-hash
    * permutations of the shingle hash, minimum per doc, computed in
    * ONE narrow per-row pass ([[TextHash.minhashSig]]) — no explode,
    * no shuffle; bands of 2 rows combined into one integer band key
    * (mh1*P + mh2 — exact in BIGINT). At 100 TB this is a pure map
    * over the corpus scan. */
  /** Sign `text` and explode into (band, band_hash) rows, keeping
    * every other input column — ONE definition of the signature and
    * banding math, shared by the batch operator below and
    * [[graft.streaming.StreamingJobs.streamingNearDup]] so the two
    * can never silently desynchronize. */
  private[graft] def bandExplode(docs: DataFrame): DataFrame = {
    val rows = numHashes / numBands
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b.toLong).as("band"),
        (element_at($"sig", rows * b + 1) * MinhashP +
          element_at($"sig", rows * b + 2)).as("band_hash"))
    }
    val keep = docs.columns.filterNot(_ == "text").map(col).toSeq
    docs
      .withColumn("sig",
        graft.functions.TextHash.minhashSig($"text", VerifyGram, numHashes))
      .filter(element_at($"sig", 1) =!= Long.MaxValue) // docs with ≥1 gram
      .select(keep :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(keep :+ $"bb.band".as("band") :+ $"bb.band_hash".as("band_hash"): _*)
  }

  def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    bandExplode(Tables.documents(spark, sfDir).select($"doc_id", $"text"))

  def minhashBandsQ(spark: SparkSession, sfDir: String): DataFrame =
    minhashBands(spark, sfDir).orderBy($"doc_id", $"band")

  /** Two-pointer intersection count of two SORTED long arrays
    * (delegates to the shared kernel behind
    * [[graft.functions.TextHash.sortedIntersectCount]]). */
  private[graft] def intersectCount(a: Array[Long], b: Array[Long]): Int =
    graft.functions.TextHash.intersectCountJvm(a, b)

  /** #39 MinHash-LSH near-dup pairs: candidates from band-bucket
    * collisions (equi self-join), verified by exact 2-gram Jaccard
    * >= 1/2 in integer math. The verify is two equi joins of the
    * candidate pairs back to [[gramSets]] on doc_a / doc_b — uniform
    * doc_id keys, plain shuffle joins — followed by a two-pointer
    * merge-walk in a native expression. NOTHING is collected to the
    * driver: candidate generation is a groupBy on uniform band keys
    * and the verify is join + narrow map, so the whole operator is
    * shuffle-bounded at 100 TB (candidates are the sublinear LSH
    * output, grams flow through the joins once per side). */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsShared(spark, sfDir).orderBy($"doc_a", $"doc_b")

  private val bandsIndex = new Materialize.FrameArtifact("minhash-bands", "documents")

  private val incrCandIndex = new Materialize.Artifact[
    (Materialize.Stored, Option[Array[Long]])]("incr-cand", "documents")

  /** Max candidate-doc ids inlined as a scan IN filter by
    * [[dedupIncremental]]'s verify; beyond this the id list stops
    * being "driver-trivially small" and the broadcast-semi fallback
    * takes over (same bounded-driver reasoning as ClusterOps's
    * DriverEdgeLimit). */
  val IncrIdPushLimit = 1 << 14

  /** Max distinct candidate-doc ids [[minhashCalibrationDirect]] will
    * FORCE-broadcast for its corpus-side semi-join prunes (~160 MB of
    * longs at the limit — well under the executor/driver budget);
    * past it the prune degrades to an un-hinted semi join: same
    * rows, no forced multi-GB broadcast at corpus scales where
    * candidates approach ~20% of docs. */
  val CalibIdBroadcastLimit = 20000000L

  /** The (doc_new, doc_old) candidate subtree [[dedupIncremental]]'s
    * artifact build executes: fresh drop bands BROADCAST against the
    * stored corpus band artifact. Exposed (not inlined) so DedupSpec
    * asserts the drop-side-only broadcast on the PRODUCTION subtree,
    * not a reconstruction. */
  private[graft] def incrCandFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val newDocs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").filter($"doc_id" % IncrMod === 0L)
    val newB = bandExplode(newDocs)
      .select($"band", $"band_hash", $"doc_id".as("doc_new"))
    val oldB = minhashBandsShared(spark, sfDir)
      .filter($"doc_id" % IncrMod =!= 0L)
      .select($"band", $"band_hash", $"doc_id".as("doc_old"))
    oldB.join(broadcast(newB), Seq("band", "band_hash"))
      .select($"doc_new", $"doc_old").distinct()
  }

  /** Corpus banded signatures (doc_id, band, band_hash) materialized
    * ONCE per corpus fingerprint — the signature artifact a production
    * corpus stores alongside the text (16 longs/doc), so consumers
    * (the [[minhashCalibShared]] build, every [[dedupIncremental]]
    * drop) scan the compact band table instead of re-hashing 100 TB
    * of text. Same supersede-eviction as the calibration/IVF
    * artifacts. */
  private[graft] def minhashBandsShared(spark: SparkSession, sfDir: String): DataFrame =
    bandsIndex(spark, sfDir)(minhashBands(spark, sfDir))

  /** #66 drop-admission lifecycle for the corpus band artifact: once
    * a drop has passed [[dedupIncremental]] and its rows were
    * appended to the corpus table, the band artifact follows by
    * APPENDING the drop's band rows (MBs of new part files) and
    * re-keying the artifact to `updatedFingerprint` — the corpus
    * fingerprint measured AFTER the table append. The 100 TB corpus
    * is never re-hashed for a daily drop; the next drop's candidate
    * build scans only the appended artifact. False when no artifact
    * is live for this dir — the next [[minhashBandsShared]] touch
    * builds fresh (correct, just not incremental). */
  private[graft] def admitDrop(spark: SparkSession, sfDir: String,
      dropDocs: DataFrame, updatedFingerprint: String): Boolean =
    bandsIndex.append(sfDir, updatedFingerprint)(
      bandExplode(dropDocs.select($"doc_id", $"text")))

  /** The verified J ≥ 1/2 near-dup pairs, served as a FILTER over the
    * [[minhashCalibShared]] artifact (which stores the unfiltered
    * per-candidate n_common/n_union): the expensive candidate × gram
    * verify join runs ONCE per corpus fingerprint for BOTH the dedup
    * pipeline and the estimator-calibration reports, instead of once
    * each. The filter is bit-for-bit [[verifyJaccard]]'s bar applied
    * to the stored exact counts, so the pair set is unchanged. */
  private[operators] def minhashPairsShared(spark: SparkSession, sfDir: String): DataFrame =
    minhashCalibShared(spark, sfDir)
      .filter($"n_common" * 2 >= $"n_union")
      .select($"doc_a", $"doc_b", $"n_common", $"n_union")

  /** #69 Cross-source duplication matrix: for every near-dup pair,
    * which (source, source) combination produced it — the provenance
    * report that tells a pipeline which crawls/feeds copy from which
    * (a high src_a×src_b cell means one feed mirrors the other;
    * a hot diagonal means a source self-duplicates). Pure reuse of
    * the materialized [[minhashPairsShared]] artifact: the expensive
    * candidate+verify subtree never re-runs. The (least, greatest)
    * canonicalization makes the matrix upper-triangular, so A→B and
    * B→A copying land in one cell. Scale shape: the pairs frame is
    * the small LSH output while doc→source is corpus-sized, so the
    * lookup is an equi-join ON the corpus (never a corpus broadcast);
    * AQE broadcasts the pairs side when it fits. */
  def dupSourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairsShared(spark, sfDir).select($"doc_a", $"doc_b")
    val src = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  /** #137 (SURVEY §2.7) exact-duplicate source span: duplicated
    * exact classes (cnt ≥ 2) histogrammed by how many distinct
    * SOURCES they span — the exact-tier twin of the #127 cluster
    * span, and the cheapest syndication detector (a verbatim copy
    * across 3 crawls needs no MinHash to find). Same one-shuffle
    * shape as #37 with the source carried into the partial agg;
    * output bounded by |sources|. */
  def exactSpan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(contentHash($"text").as("raw_hash"), $"source")
      .groupBy($"raw_hash")
      .agg(countDistinct($"source").as("n_sources"),
        count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2)
      .groupBy($"n_sources")
      .agg(count(lit(1)).as("n_classes"), sum($"cnt").as("n_docs"))
      .orderBy($"n_sources")

  /** #142 (SURVEY §2.7) MinHash band-bucket occupancy audit: per
    * band — buckets, largest bucket, rows, and the candidate pairs
    * the band generates (Σ sz·(sz−1)/2) — the #131 occupancy report
    * for the DEDUP index: the candidate count IS the banding
    * shuffle's cost function, and a band whose max bucket grows with
    * the corpus is the quadratic-blowup early warning (the same
    * failure mode the sf1 sweep caught on single-block SimHash and
    * 16-bucket embedding LSH). Reads the materialized band artifact;
    * one (band, key) partial agg, 8-row readout. */
  def bandOccupancy(spark: SparkSession, sfDir: String): DataFrame =
    minhashBandsShared(spark, sfDir)
      .groupBy($"band", $"band_hash")
      .agg(count(lit(1)).as("sz"))
      .groupBy($"band".cast(LongType).as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max($"sz").as("max_bucket"),
        sum($"sz").as("n_rows"),
        expr("sum(sz * (sz - 1) div 2)").as("n_cand_pairs"))
      .orderBy($"band")

  /** #139 (SURVEY §2.7) duplication by length: per floor(log2
    * (token count)) bucket: docs, exact-duplicated docs (class
    * cnt ≥ 2), and the e4 duplication rate — WHERE duplication lives
    * on the length axis (short-doc dup is shattered boilerplate the
    * chunk tier handles; long-doc dup is re-crawls worth full-class
    * drops). Reads the [[gainBaseShared]] artifact (one text scan
    * per corpus fingerprint); #37's one-shuffle class agg joined
    * back on its own key, ≤64-bucket readout; bin-length log2, no
    * float at bucket boundaries. */
  def dupByLength(spark: SparkSession, sfDir: String): DataFrame = {
    // the gain-base artifact already materializes exactly this
    // projection — reuse it so the text scan + hashes run once per
    // corpus fingerprint, not twice per call
    val base = gainBaseShared(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"raw_hash")
    val cls = base.groupBy($"raw_hash").agg(count(lit(1)).as("cnt"))
    base.join(cls, Seq("raw_hash"))
      .select((length(bin($"n_tokens")) - 1).cast(LongType).as("log2_len"),
        when($"cnt" >= 2L, 1L).otherwise(0L).as("is_dup"))
      .groupBy($"log2_len")
      .agg(count(lit(1)).as("n_docs"), sum($"is_dup").as("n_dup"),
        expr("sum(is_dup) * 10000 div count(1)").as("dup_rate_e4"))
      .orderBy($"log2_len")
  }

  /** #134 (SURVEY §2.7) dedup-policy gain table: docs and tokens the
    * corpus keeps under each dedup tier — none / exact (#37) /
    * normalized (#85) / prefix (#97, short docs kept) / near-dup
    * cluster canonical (#50, unclustered docs kept) — the one-glance
    * answer to "which policy buys how much shrink", priced in the
    * unit that matters (tokens), using the SAME class keys as the
    * gated per-tier operators so this summary can never disagree
    * with them. Scale shape: one narrow scan computes all three
    * class hashes; each tier is a hash-keyed partial agg joined back
    * on its own key; the near-dup flag left-joins the sublinear
    * cluster-label artifact; the 5-policy readout is a 1-row
    * conditional agg unpivoted by a bounded `stack`. */
  private val gainBase = new Materialize.FrameArtifact("gain-base-", "documents")

  /** The (doc_id, n_tokens, raw/norm/prefix hash) projection behind
    * [[dedupGain]], materialized ONCE per corpus fingerprint: the
    * gain table consumes it four times (three class aggregates + the
    * flag join), and without the artifact each consumer re-scans the
    * corpus text and recomputes three md5s per doc — measured 10.6 s
    * of the sf1 bench before, ~4 s after. Same build-once pattern as
    * the band/LM/quality artifacts. */
  private def gainBaseShared(spark: SparkSession, sfDir: String): DataFrame =
    gainBase(spark, sfDir) {
      val ltk = graft.functions.TextFunctions.tokens(lower($"text"))
      Tables.documents(spark, sfDir).select(
        $"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast(LongType)
          .as("n_tokens"),
        contentHash($"text").as("raw_hash"),
        md5(graft.functions.TextHash.normText($"text")).as("norm_hash"),
        when(size(ltk) >= PrefixTok,
          md5(array_join(slice(ltk, 1, PrefixTok), " "))).as("prefix_hash"))
    }

  def dedupGain(spark: SparkSession, sfDir: String): DataFrame = {
    val base = gainBaseShared(spark, sfDir)
    val ex = base.groupBy($"raw_hash").agg(min($"doc_id").as("ek"))
    val nm = base.groupBy($"norm_hash").agg(min($"doc_id").as("nk"))
    val pf = base.filter($"prefix_hash".isNotNull)
      .groupBy($"prefix_hash").agg(min($"doc_id").as("pk"))
    val flags = base
      .join(ex, Seq("raw_hash"))
      .join(nm, Seq("norm_hash"))
      .join(pf, Seq("prefix_hash"), "left")
      .join(ClusterOps.clusterLabels(spark, sfDir), Seq("doc_id"), "left")
      .select($"n_tokens",
        ($"doc_id" === $"ek").as("kx"),
        ($"doc_id" === $"nk").as("kn"),
        ($"prefix_hash".isNull || $"doc_id" === $"pk").as("kp"),
        ($"cluster_id".isNull || $"doc_id" === $"cluster_id").as("kc"))
    flags.agg(
        count(lit(1)).as("d0"),
        coalesce(sum($"n_tokens"), lit(0L)).as("t0"),
        coalesce(sum(when($"kx", 1L).otherwise(0L)), lit(0L)).as("d1"),
        coalesce(sum(when($"kx", $"n_tokens").otherwise(0L)), lit(0L)).as("t1"),
        coalesce(sum(when($"kn", 1L).otherwise(0L)), lit(0L)).as("d2"),
        coalesce(sum(when($"kn", $"n_tokens").otherwise(0L)), lit(0L)).as("t2"),
        coalesce(sum(when($"kp", 1L).otherwise(0L)), lit(0L)).as("d3"),
        coalesce(sum(when($"kp", $"n_tokens").otherwise(0L)), lit(0L)).as("t3"),
        coalesce(sum(when($"kc", 1L).otherwise(0L)), lit(0L)).as("d4"),
        coalesce(sum(when($"kc", $"n_tokens").otherwise(0L)), lit(0L)).as("t4"))
      .selectExpr(
        """stack(5,
          |  'exact', d1, t1,
          |  'neardup', d4, t4,
          |  'none', d0, t0,
          |  'normalized', d2, t2,
          |  'prefix', d3, t3) AS (policy, n_docs_kept, n_tokens_kept)"""
          .stripMargin)
      .orderBy($"policy")
  }

  /** #128 (SURVEY §2.7) near-dup distance horizon: pairs histogrammed
    * by floor(log2(doc_id distance)) — how far apart in ingestion
    * order duplicates sit. The answer prices a bounded dedup window
    * at ingest: if 95% of pairs land within 2^16 ids, a sliding
    * near-dup buffer catches them at O(window) state and the full
    * corpus-wide job becomes a weekly sweep instead of a daily one.
    * Pure narrow math over the sublinear pairs artifact (bin-length
    * log2 — no float log at bucket boundaries), ≤64-group partial
    * agg. */
  def pairDistanceHist(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsShared(spark, sfDir)
      .select(($"doc_b" - $"doc_a").as("d"))
      .select((length(bin($"d")) - 1).cast(LongType).as("log2_dist"),
        $"d")
      .groupBy($"log2_dist")
      .agg(count(lit(1)).as("n_pairs"), min($"d").as("min_dist"),
        max($"d").as("max_dist"))
      .orderBy($"log2_dist")

  /** #124 (SURVEY §2.7) near-dup language matrix: the #69 provenance
    * report re-keyed by LANGUAGE label — near-dup pairs straddling
    * two language tags are either mislabeled metadata (#54's signal
    * at pair granularity) or boilerplate/markup shells identical
    * across translations; both mean the lang column can't be trusted
    * to partition the corpus for per-language dedup. Same shape as
    * [[dupSourceMatrix]]: the sublinear pairs artifact equi-joins the
    * corpus's (doc_id, lang) projection twice (AQE broadcasts the
    * pairs side when it fits), then a |langs|²-bounded partial agg;
    * the cross-language row count IS the audit number. */
  def pairLangMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairsShared(spark, sfDir).select($"doc_a", $"doc_b")
    val lang = Tables.documents(spark, sfDir).select($"doc_id", $"lang")
    pairs
      .join(lang.select($"doc_id".as("doc_a"), $"lang".as("la")), "doc_a")
      .join(lang.select($"doc_id".as("doc_b"), $"lang".as("lb")), "doc_b")
      .select(least($"la", $"lb").as("lang_a"),
        greatest($"la", $"lb").as("lang_b"))
      .groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"lang_a", $"lang_b")
  }

  /** #106 Source-level MinHash similarity matrix: the estimated
    * gram-set Jaccard between every source PAIR, from one 16-slot
    * signature per source. The content-overlap audit at source
    * granularity — "these two crawls are 40% the same corpus" —
    * where #69 counts realized near-dup DOC pairs, this estimates
    * whole-corpus set overlap even when individual docs never cross
    * the near-dup bar.
    *
    * The scale story is the sketch algebra: a source's signature is
    * the element-wise MIN of its docs' signatures (min over a union
    * is the min of mins), so the per-doc signature stage is the SAME
    * narrow codegen'd map as #38, the merge is one |sources|-group
    * partial agg (16 longs of state per group), and the pairwise
    * matrix is a broadcast self-join of a |sources|-row frame —
    * bounded by design, nothing corpus-sized ever pairs. */
  def sourceSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = Tables.documents(spark, sfDir)
      .select($"source",
        graft.functions.TextHash.minhashSig($"text", VerifyGram, numHashes).as("sig"))
      .filter(element_at($"sig", 1) =!= Long.MaxValue) // docs with ≥1 gram
    val mins = (1 to numHashes).map(i => min(element_at($"sig", i)).as(s"m$i"))
    val srcSigs = sigs.groupBy($"source").agg(mins.head, mins.tail: _*)
    val nMatch = (1 to numHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    srcSigs.as("a")
      .join(broadcast(srcSigs.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        nMatch.as("n_match"))
      .withColumn("jaccard_e4", expr(s"n_match * 10000 div $numHashes"))
      .orderBy($"src_a", $"src_b")
  }

  /** Modulus selecting the stand-in "daily drop" for
    * [[dedupIncremental]]: docs with doc_id % IncrMod == 0 play the
    * NEW side (in production the drop is its own table). Shared with
    * the oracle. */
  val IncrMod = 10L

  /** #66 Incremental near-dup check — the daily-ingest form of
    * [[dedupMinhash]]: only NEW docs (the drop) pair against the
    * EXISTING corpus. Old×old was deduped when the corpus was built
    * and new×new is the intra-drop [[dedupMinhash]] pass, so paying
    * for them again is pure waste — and the asymmetry is the scale
    * win: the drop's band rows are MBs against a 100 TB corpus, so
    * they BROADCAST against the corpus's banded scan (the corpus is
    * never reshuffled for a daily drop) and only the candidates pay
    * the exact-Jaccard verify joins. Emits
    * (doc_new, doc_old, n_common, n_union) at the same J ≥ 1/2 bar as
    * the batch operator. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    // split BEFORE the signature/gram passes: plan-audited on the
    // filter-after-bandExplode shape, the %IncrMod conjunct fused
    // into the signature-validity filter ABOVE the sig projection
    // (minhashSig evaluated for every doc, then 90% discarded)
    // instead of splitting and pushing below it
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val newDocs = docs.filter($"doc_id" % IncrMod === 0L)
    val oldDocs = docs.filter($"doc_id" % IncrMod =!= 0L)
    // the candidate list is itself a pipeline artifact (deterministic
    // per corpus fingerprint, tiny): built once — drop bands computed
    // fresh (new data has no artifact yet) against the STORED corpus
    // band artifact, a compact columnar scan, never a text re-hash —
    // then every consumer pass is a plain scan of the result. It
    // feeds BOTH the verify join and the corpus-side gram pruning
    // below, which without materialization would execute the
    // candidate subtree twice per run.
    val (candS, pushedIds) = incrCandIndex(spark, sfDir) {
      val c = incrCandIndex.store(incrCandFrame(spark, sfDir))
      // the pushable id list is deterministic per fingerprint —
      // collect it ONCE at build time (from the written artifact, so
      // the candidate subtree still runs exactly once) instead of one
      // driver job per steady-state call
      val ids = c.read(spark)
        .select($"doc_old").distinct().take(IncrIdPushLimit + 1)
        .map(_.getLong(0))
      (c, if (ids.length <= IncrIdPushLimit) Some(ids.sorted) else None)
    }
    val cand = candS.read(spark)
    // gram-hash ONLY the candidate old docs, never the whole corpus:
    // the candidate ids are the tiny LSH output of one drop. Up to
    // [[IncrIdPushLimit]] of them they are PUSHED into the corpus
    // scan as an IN filter (row-group pruning — the verify reads
    // O(candidates), not 100 TB); a larger-than-expected candidate
    // set falls back to a broadcast semi join (full scan, still no
    // corpus shuffle and no corpus-wide gram hashing).
    val oldCandDocs = pushedIds match {
      case Some(ids) => oldDocs.filter($"doc_id".isInCollection(ids.toSeq))
      case None => oldDocs.join(
        broadcast(cand.select($"doc_old".as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    }
    val gsOld = gramSetsOf(oldCandDocs, VerifyGram)
    verifyJaccard(cand, gramSetsOf(newDocs, VerifyGram),
      gsOld, "doc_new", "doc_old")
      .orderBy($"doc_new", $"doc_old")
  }

  /** Exact intersection/union gram counts per candidate pair — the
    * unfiltered verify subtree shared by [[verifyJaccard]] (which
    * applies the J ≥ 1/2 bar) and [[minhashCalibration]] (which needs
    * the TRUE Jaccard of every candidate, kept or not). */
  private def jaccardCounts(cand: DataFrame, gsA: DataFrame, gsB: DataFrame,
      aCol: String, bCol: String): DataFrame =
    cand
      .join(gsA.select($"doc_id".as(aCol), $"gs".as("gs_a")), aCol)
      .join(gsB.select($"doc_id".as(bCol), $"gs".as("gs_b")), bCol)
      .select(col(aCol), col(bCol),
        graft.functions.TextHash.sortedIntersectCount($"gs_a", $"gs_b").as("n_common"),
        (size($"gs_a") + size($"gs_b")).cast(LongType).as("sz"))
      .select(col(aCol), col(bCol), $"n_common", ($"sz" - $"n_common").as("n_union"))

  /** [[jaccardCounts]] with the shared J ≥ 1/2 bar applied — ONE
    * definition of the union math and threshold for every MinHash
    * consumer ([[minhashPairsShared]]'s artifact filter,
    * [[dedupIncremental]]), the same no-desync discipline as
    * [[bandExplode]]. */
  private def verifyJaccard(cand: DataFrame, gsA: DataFrame, gsB: DataFrame,
      aCol: String, bCol: String): DataFrame =
    jaccardCounts(cand, gsA, gsB, aCol, bCol)
      .filter($"n_common" * 2 >= $"n_union")

  /** Band-collision candidate pairs (doc_a < doc_b, distinct) — the
    * LSH output behind the [[minhashCalibShared]] build, so
    * "candidate" means the same thing to the dedup pipeline
    * ([[minhashPairsShared]] filters the same table) and to the
    * estimator audit of it. */
  private def minhashCands(spark: SparkSession, sfDir: String): DataFrame =
    // ONE pass over the signatures: group each band bucket, expand its
    // doc list to ordered pairs. Equivalent to the band self-join but
    // the narrow signature computation runs once instead of twice and
    // the join shuffle becomes a single groupBy (bucket sizes are
    // bounded — uniform 62-bit band keys).
    minhashBandsShared(spark, sfDir)
      .groupBy($"band", $"band_hash")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") > 1)
      .select(explode(
        graft.functions.TextSetExprs.orderedPairs($"ids")).as("p"))
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
      .distinct()

  /** #83 MinHash estimator calibration: for every LSH candidate pair,
    * the signature-estimated Jaccard (matching positions over
    * [[numHashes]], e4) next to the TRUE 2-gram Jaccard and their
    * signed error — the audit that tells you whether the banding
    * threshold is set where the estimator thinks it is before you
    * trust it at 100 TB (estimator bias visible here at sf0.1 is the
    * same bias at any scale; candidates are the sublinear LSH
    * output, so the audit costs one signature join + one gram join
    * over pairs, never a corpus re-scan). The per-position match sum
    * is [[numHashes]] codegen'd comparisons — no interpreted
    * higher-order function. */
  private[graft] def minhashCalibrationDirect(spark: SparkSession,
      sfDir: String): DataFrame = {
    // Materialize the candidate pairs once: the subtree feeds the
    // verify join AND the id-prune broadcasts below, and re-running
    // the band groupBy + pair expansion three times would triple the
    // candidate cost for nothing. Pairs-bounded by the parquetRoundTrip
    // contract (the sublinear LSH output; #142's band-occupancy audit
    // is the standing blowup alarm).
    val cand = Materialize.parquetRoundTrip(
      minhashCands(spark, sfDir), "minhash-cands")
    // Semi-join prune BOTH corpus-wide verify inputs (gram sets and
    // signatures) to docs that actually appear in a candidate pair
    // before the equi joins: an inner join discards non-candidate
    // docs anyway, but without the prune the sort-merge join sorts
    // the ENTIRE corpus gram-array table (measured: tens of GB of
    // sort spill at sf100 for a candidate set touching <20% of docs).
    // Size-gated broadcast (r14, ADVICE r13): the forced broadcast is
    // only taken while the distinct candidate-doc count stays under
    // [[CalibIdBroadcastLimit]] (counted off the already-materialized
    // candidate parquet, so nothing re-runs); past it the prune
    // becomes an un-hinted semi join — still no corpus shuffle on the
    // build side of the verify, but no multi-GB forced broadcast
    // either (the IncrIdPushLimit failover discipline).
    val candIds = cand
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
    val candIdsBounded = candIds.count() <= CalibIdBroadcastLimit
    def pruneToCands(df: DataFrame): DataFrame =
      if (candIdsBounded) df.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      else df.join(candIds, Seq("doc_id"), "left_semi")
    val sigs = pruneToCands(Tables.documents(spark, sfDir)
      .withColumn("sig",
        graft.functions.TextHash.minhashSig($"text", VerifyGram, numHashes))
      .filter(element_at($"sig", 1) =!= Long.MaxValue)
      .select($"doc_id", $"sig"))
    val nMatch = (0 until numHashes).map { i =>
      when(element_at($"sig_a", i + 1) === element_at($"sig_b", i + 1), 1L)
        .otherwise(0L)
    }.reduce(_ + _)
    val gs = pruneToCands(gramSets(spark, sfDir, VerifyGram))
    jaccardCounts(cand, gs, gs, "doc_a", "doc_b")
      .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .withColumn("n_match", nMatch)
      .select($"doc_a", $"doc_b", $"n_common", $"n_union",
        expr(s"n_match * 10000 div $numHashes").as("est_e4"),
        expr("n_common * 10000 div n_union").as("exact_e4"))
      .withColumn("err_e4", $"est_e4" - $"exact_e4")
  }

  private val calib = new Materialize.FrameArtifact("minhash-calib", "documents")

  /** The per-pair calibration table materialized ONCE per corpus
    * fingerprint — pairs-bounded (the sublinear LSH candidate set),
    * but its BUILD re-scans the corpus twice (the 16-slot signature
    * pass and the verify gram sets), which #83 and #83b each paid in
    * full before this cache (sf100: 33 + 40 s for one identical
    * frame). Same build-once/probe-many pattern as the bands / pairs
    * / exact-ANN artifacts. */
  private[graft] def minhashCalibShared(spark: SparkSession,
      sfDir: String): DataFrame =
    calib(spark, sfDir)(minhashCalibrationDirect(spark, sfDir))

  def minhashCalibration(spark: SparkSession, sfDir: String): DataFrame =
    // project the report's 5 columns: the artifact additionally stores
    // the raw n_common/n_union so [[minhashPairsShared]] can serve the
    // dedup pair set from the same build
    minhashCalibShared(spark, sfDir)
      .select($"doc_a", $"doc_b", $"est_e4", $"exact_e4", $"err_e4")
      .orderBy($"doc_a", $"doc_b")

  /** #117 Near-dup pair degree histogram: for every doc appearing in
    * a near-dup pair, its partner count, bucketed into (degree →
    * n_docs) — the TOPOLOGY report the cluster-size histogram (#102)
    * cannot give: a 10-doc cluster might be a hub (one template with
    * nine stamped copies — degree 9 + nine degree-1s) or a chain of
    * near-misses (all degree ≤ 2), and the remediation differs (drop
    * the template vs raise the bar). Reads the materialized pairs
    * artifact; two partial-agg'd shuffles over the sublinear pair
    * set, output bounded by the max degree. */
  def pairDegreeHist(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairsShared(spark, sfDir).select($"doc_a", $"doc_b")
    pairs.select($"doc_a".as("doc_id"))
      .unionAll(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
      .orderBy($"degree")
  }

  /** Jaccard bars swept by [[dedupThresholds]] (e4). */
  val CalibTaus: Seq[Long] = Seq(5000L, 6000L, 7000L, 8000L, 9000L)

  /** #83b Threshold-sweep calibration: for each candidate Jaccard bar
    * τ, how many LSH candidate pairs the TRUE 2-gram Jaccard admits,
    * how many the 16-slot signature ESTIMATE would admit, and the two
    * disagreement counts (estimate-only = pairs a signature-gated
    * pipeline would wrongly keep; true-only = pairs it would wrongly
    * drop) — the table a dedup owner reads to PICK the bar before
    * re-running a 100 TB dedup under it, where #83 reports per-pair
    * errors this aggregates them into the decision.
    *
    * Scale shape: one scan of the [[minhashCalibShared]] ARTIFACT
    * (pairs-bounded; the corpus-re-scanning build runs once per
    * fingerprint, not once per report), each row exploded against
    * the 5 constant bars, one 5-group partial agg. */
  def dedupThresholds(spark: SparkSession, sfDir: String): DataFrame =
    minhashCalibShared(spark, sfDir)
      .select($"est_e4", $"exact_e4",
        explode(array(CalibTaus.map(lit): _*)).as("tau_e4"))
      .groupBy($"tau_e4")
      .agg(
        sum(when($"exact_e4" >= $"tau_e4", 1L).otherwise(0L)).as("n_true"),
        sum(when($"est_e4" >= $"tau_e4", 1L).otherwise(0L)).as("n_est"),
        sum(when($"est_e4" >= $"tau_e4" && $"exact_e4" < $"tau_e4", 1L)
          .otherwise(0L)).as("n_est_only"),
        sum(when($"est_e4" < $"tau_e4" && $"exact_e4" >= $"tau_e4", 1L)
          .otherwise(0L)).as("n_true_only"))
      .orderBy($"tau_e4")

  /** Bounded size of the df-hot gram table feeding [[dedupNgram]]'s
    * prefix order (a few KB of task closure via a codegen reference
    * object — same driver-bounded contract as ClusterOps's edge
    * limit). Round 11 measured widening to 32768 at sf100: a NULL
    * result — this corpus's gram dfs are low (max ~25; candidate
    * volume is low-df random collisions, not hot boilerplate), so
    * demotion depth left the 747.8M-row pair volume unchanged and the
    * wider binary search cost +9 s of prefix explode. 4096 stays; the
    * table earns its keep only on boilerplate-heavy corpora. */
  val HotGramK = 4096

  /** Minimum document frequency for a gram to enter the hot table —
    * below this the gram's candidate group is already small and
    * demoting it buys nothing. */
  val HotDfMin = 8

  private val hotGramIndex = new Materialize.Artifact[
    (Array[Long], Array[Int])]("hot-grams", "documents")

  /** The ≤[[HotGramK]] highest-df 3-grams of the corpus with df ≥
    * [[HotDfMin]], as (hash-sorted grams, order rank per gram) arrays
    * for [[graft.functions.DfPrefixExpr]]. Rank runs 1..K ascending
    * df, so the hottest gram sorts last in the prefix order. One
    * partial-agg'd (gram → df) shuffle + a TakeOrdered-K — corpus
    * metadata a production pipeline profiles once and stores; cached
    * here per corpus fingerprint like the band/pairs artifacts. At
    * 100 TB the profile can come from a document SAMPLE: the order
    * only needs to be shared, not exact, so profile error costs
    * candidates, never recall. */
  /** Target document-sample size for the [[hotGrams]] profile pass —
    * the df ORDER only needs to be approximately right (it is a
    * candidate-count hint, never a recall input), so profiling ~50k
    * docs is as good as profiling the corpus and turns the profile
    * from a second full-corpus scan into a constant-cost one
    * (measured 43.7 s of the 171 s sf10 query before sampling). */
  val HotSampleDocs = 50000L

  /** Heavy-gram demotion ceiling divisor: every gram present in more
    * than nDocs/[[HeavyDocShare]] documents is demoted into the hot
    * table by an EXACT full-stream pass, independent of the sampled
    * profile. The heavy set is STRUCTURALLY bounded: Σ df = total
    * gram occurrences, so at most [[HeavyDocShare]] × (average grams
    * per doc) grams can clear the ceiling — a few thousand at any
    * corpus shape, never a closure hazard. */
  val HeavyDocShare = 64L

  /** Hard ceiling on the MERGED hot table (sampled top-K ∪ exact
    * heavy set): keeps the DfPrefixExpr task closure tens-of-KB and
    * the rank width < 2^16 by construction. [[hotGrams]] fails
    * loudly if a corpus shape ever exceeds it (it cannot truncate —
    * dropping a heavy gram would reopen the one-row candidate-bucket
    * hazard the exact pass exists to close). */
  val HotTableCeiling = 1 << 16

  private[graft] def hotGrams(spark: SparkSession, sfDir: String): (Array[Long], Array[Int]) =
    hotGramIndex(spark, sfDir) {
      // deterministic doc_id-keyed sample (≈ HotSampleDocs docs);
      // parquet count() is metadata-only, so sizing the modulus is free
      val nDocs = Tables.documents(spark, sfDir).count()
      val every = math.max(1L, nDocs / HotSampleDocs)
      val rows = gramSetsOf(Tables.documents(spark, sfDir)
          .filter(pmod($"doc_id", lit(every)) === 0L), 3)
        .select(explode($"gs").as("h"))
        .groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" >= math.max(1L, HotDfMin.toLong / every))
        .orderBy($"df".desc, $"h".asc)
        .limit(HotGramK)
        .collect()
      // EXACT heavy pass (round-10): the sampled profile is a
      // probabilistic bound — a gram correlated with the sampling
      // pattern (or losing the top-K race) could stay out of the hot
      // table and build its whole candidate bucket on one row. Every
      // gram with FULL-stream df above the ceiling is demoted
      // unconditionally; the pass reads the materialized 3-gram
      // artifact (no re-tokenize), runs once per corpus fingerprint,
      // and its result size is structurally bounded (see
      // [[HeavyDocShare]]). Demotion is always recall-safe: the
      // prefix lemma holds for ANY shared global gram order.
      val ceiling = math.max(HotDfMin.toLong, nDocs / HeavyDocShare)
      val heavy = gramSets3Shared(spark, sfDir)
        .select(explode($"gs").as("h"))
        .groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" >= ceiling)
        .collect()
      // merge on comparable (estimated-full-df, hash) keys: sampled
      // dfs scale by the sampling modulus; the exact df wins when a
      // gram appears in both. Rank 1..K ascending df — hottest last.
      val est = rows.map(r => r.getLong(0) -> r.getLong(1) * every).toMap
      val merged = (est ++ heavy.map(r => r.getLong(0) -> r.getLong(1))).toSeq
      // ENFORCE (not argue) the closure-size and rank-width contracts
      // (r10 ADVICE): the heavy pass makes the merged table bounded by
      // HeavyDocShare × avg grams/doc rather than HotGramK, so a
      // pathological long-doc corpus could in principle blow past the
      // "few KB task closure" the consumers were sized for. Fail
      // loudly at build time instead of silently shipping a megabyte
      // closure with >2^16 ranks — truncating instead would reopen the
      // round-10 sample-invisible-gram hole for the dropped grams.
      require(merged.size <= HotTableCeiling,
        s"hot-gram table ${merged.size} exceeds ceiling $HotTableCeiling " +
          s"(HotGramK=$HotGramK sampled + ${heavy.length} heavy grams >= " +
          s"df ceiling $ceiling); raise HeavyDocShare or HotTableCeiling " +
          "after re-auditing DfPrefixExpr closure size")
      val rankOf = merged.map { case (h, df) => (df, h) }.sorted
        .iterator.zipWithIndex.map { case ((_, h), i) => h -> (i + 1) }.toMap
      val hotSorted = merged.map(_._1).sorted.toArray
      (hotSorted, hotSorted.map(rankOf))
    }

  /** #41 Exact n-gram Jaccard near-dup (3-grams, J >= 1/2) via PREFIX
    * FILTERING (the AllPairs/PPJoin candidate rule, Bayardo et al.
    * 2007): with gram hashes globally ordered (the sets are stored
    * sorted ascending), any pair with J >= 1/2 must share a gram
    * among each side's floor(n/2)+1 SMALLEST. Proof: J >= 1/2 forces
    * |A∩B| >= (|A|+|B|)/3 and sizes within 2x of each other, so
    * |A∩B| >= max(|A|,|B|)/2; if the smallest common gram sat outside
    * A's prefix, the > |A|/2 grams below it would all be A-only,
    * forcing |A∩B| < |A|/2 — contradiction (symmetrically for B).
    * PropertySpec drives the lemma over random sets.
    *
    * So candidates = an equi self-join on prefix gram hashes: shuffle
    * keys are grams, group sizes are gram document frequencies. The
    * previous length-bucket cogroup was measured QUADRATIC at scale
    * (sf1 bench: x44 at x10 data — bucket occupancy grows with the
    * corpus); prefix groups grow with gram df, which a replica-style
    * corpus growth leaves flat.
    *
    * The prefix order is df-AWARE (the full AllPairs recipe, round
    * 8): grams rank by (df-rank-in-hot-table, hash) with every gram
    * outside the bounded [[hotGrams]] table ranking 0, so hot
    * boilerplate grams — exactly the ones whose candidate groups
    * explode — sort LAST and leave every prefix that has enough rare
    * grams to fill it. The lemma needs only SOME fixed total order
    * shared by both sides (PropertySpec drives it under adversarial
    * hot tables), so the df table is a pure performance hint: stale,
    * sampled, or empty profiles change candidate count, never the
    * verified output — which is also why the ORACLE keeps its plain
    * hash-ordered prefix and still matches exactly. Verify = the
    * shared exact-Jaccard bar ([[verifyJaccard]]).
    *
    * The candidate rule is the k-EXTENDED lemma (round 9): with each
    * prefix widened to min(floor(n/2)+k, n), a J ≥ 1/2 pair must
    * share ≥ min(k, ceil((n_a+n_b)/3)) grams BETWEEN the extended
    * prefixes (proof: if the j-th smallest common gram, j ≤ that
    * bound, escaped A's prefix, the ≥ floor(n_a/2)+1 grams below it
    * would be A-only except < j commons — forcing n_common < n_a/2,
    * contradicting n_common ≥ (n_a+n_b)/3 ≥ n_a/2; PropertySpec
    * drives it over random sets, orders, and k). Requiring that
    * match COUNT — computed by the same groupBy that used to be the
    * `.distinct()` — kills the share-one-medium-df-gram noise pairs
    * that were 99.95%% of candidates (sf10: 56.5M → the verified set
    * is 25.6k), and with it the all-pairs verify join's array drag
    * (measured 387 s of the 171 s+ sf10 run: every candidate row
    * shuffled two ~90-long gram arrays). Doc sizes ride the group
    * stream packed into the id (doc_id·4096 + min(n, 4095); the cap
    * only ever LOWERS the required count — recall-safe), so the
    * count filter needs no extra join. */
  private val gram3Index = new Materialize.Artifact[
    (Materialize.Stored, Long, Long)]("gram3-", "documents")

  /** The 3-gram set frame as a build-once artifact keyed by the
    * corpus fingerprint — [[dedupNgram]]'s plan reads it THREE times
    * (candidate explode + both verify sides), and recomputing the
    * tokenize+hash scan per read was ~3 × 11 s of the sf10 run. Same
    * amortize-to-first-consumer discipline as the band/pairs and
    * gain-base artifacts; at 100 TB this is the "tokenized shingle
    * table" a production dedup pipeline materializes once per crawl
    * snapshot anyway. */
  private[graft] def gramSets3Shared(spark: SparkSession, sfDir: String): DataFrame =
    gramSets3WithIdRange(spark, sfDir)._1

  /** [[gramSets3Shared]] plus the corpus (max, min) doc_id, taken once
    * per fingerprint on the compact artifact at build time — the
    * domain guard for [[dedupNgram]]'s packed pair-agg key (a bounded
    * agg on the artifact, amortized with the build; steady-state calls
    * read the cached longs). The MIN rides along since r13 (r12
    * ADVICE): the packed key's positivity proof needs ids ≥ 0, not
    * just < 2^26, so the guard checks both ends of the id range. */
  private[operators] def gramSets3WithIdRange(spark: SparkSession,
      sfDir: String): (DataFrame, Long, Long) = {
    val (gs, maxId, minId) = gram3Index(spark, sfDir) {
      val b = gram3Index.store(gramSets(spark, sfDir, 3))
      val r = b.read(spark).agg(max(col("doc_id")), min(col("doc_id"))).first()
      val mx = Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val mn = Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      (b, mx, mn)
    }
    (gs.read(spark), maxId, minId)
  }

  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val (gs, maxDocId, minDocId) = gramSets3WithIdRange(spark, sfDir)
    val (hot, rank) = hotGrams(spark, sfDir)
    val pk = NgramPrefixK
    // pid packs (doc_id, clamped set size) into one Long; doc_id must
    // stay in [0, Long.MaxValue / PackN = 2^51) or the packing silently
    // corrupts pair ordering and the size term (a NEGATIVE id breaks
    // truncating div/pmod unpacking in BOTH agg branches, r12 ADVICE —
    // falling back to the two-column agg would not help, so it raises
    // here too). Guarded structurally: an out-of-domain id raises at
    // scan time instead of corrupting (r9 ADVICE).
    val pidSafe = when($"doc_id" >= Long.MaxValue / PackN || $"doc_id" < 0L,
        raise_error(concat(lit(s"doc_id out of pid-packing domain [0, ${Long.MaxValue / PackN}): "),
          $"doc_id".cast("string"))).cast(LongType))
      .otherwise($"doc_id")
    val buckets = gs
      .select((pidSafe * PackN + least(size($"gs").cast(LongType), lit(PackN - 1)))
          .as("pid"),
        explode(graft.functions.TextHash.dfPrefix($"gs", hot, rank, pk)).as("h"))
      .groupBy($"h").agg(collect_list($"pid").as("ids"))
      .filter(size($"ids") > 1)
    // size-compatibility cut BEFORE the pair exchange (round 11):
    // J >= 1/2 forces max(n_a,n_b) <= 2*min(n_a,n_b) (|A∩B| <= min
    // and |A∩B| >= (n_a+n_b)/3 give 3*min >= n_a+n_b = min+max), so
    // a size-incompatible pair can never verify — dropping its rows
    // map-side is exact. Sizes ride the pid packing; the 4095 clamp
    // only ever shrinks the apparent max, so clamped sizes KEEP
    // more, never less — recall-safe. Measured at sf100: 748.1M →
    // 567.2M pair rows (−24% through the widest exchange in the
    // plan). Since r14 the packed branch runs the whole
    // pair-expand → size-cut → re-pack chain inside ONE codegen'd
    // kernel ([[graft.functions.TextSetExprs.packedCandPairs]]):
    // identical arithmetic, but each surviving pair is 8 bytes in a
    // primitive array instead of a struct row allocated, unpacked,
    // filtered, and re-packed across three operators (guide §4).
    // The pair stream is the widest stream in the plan (~4.5x the
    // prefix rows at sf100) and nearly every key is distinct, so a
    // default-width reduce side holds ~n/shufflePartitions live
    // entries per task — at sf100 x 32 that is ~18M keys/task, the
    // sort-spill regime (and the 100 TB failure mode: per-task
    // memory on a real cluster is far tighter than this driver).
    // Pre-partitioning by the group key at PairAggWidth x the
    // session default satisfies the agg's ClusteredDistribution, so
    // the count runs at that width with no extra exchange. The lost
    // map-side combine is noise here: only true pairs repeat within
    // a map partition (~2% of rows).
    //
    // Pair-key packing (round 12): through this widest exchange the
    // agg key is ONE long instead of two — (doc, size) per side
    // re-packed at 5 size bits, halving per-row key bytes and hashing
    // one column. The 31-clamp is EXACT, not just recall-safe: the
    // required count min(k=8, ceil((sa+sb)/3)) saturates at 8 once
    // sa+sb ≥ 22, and whenever a clamp binds (sa > 31) both the
    // clamped and true expressions are already 8 (31+1+2 ≥ 33 ⇒
    // div 3 ≥ 11 ≥ 8). In domain while 0 ≤ doc_id < 2^26 (ka = id·32+31
    // must stay inside [0, 2^31) so the packed key stays positive and
    // div/pmod unpack exactly); the guard reads the artifact's cached
    // (max, min) doc_id, and an out-of-domain corpus keeps the
    // identical two-column agg (negative ids raise at scan via
    // pidSafe before either branch runs).
    val width = spark.sessionState.conf.numShufflePartitions * PairAggWidth
    val counted =
      if (minDocId >= 0L && maxDocId < PairPackMaxDocId)
        buckets
          .select(explode(graft.functions.TextSetExprs
            .packedCandPairs($"ids", PackN)).as("pp"))
          .repartition(width, $"pp")
          .groupBy($"pp").agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= least(lit(pk.toLong),
            expr("(pmod(pp div 4294967296, 32) + pmod(pp, 32) + 2) div 3")))
          .select(expr("(pp div 4294967296) div 32").as("doc_a"),
            expr("pmod(pp, 4294967296) div 32").as("doc_b"))
      else
        buckets
          .select(explode(
            graft.functions.TextSetExprs.orderedPairs($"ids")).as("p"))
          .select($"p.doc_a".as("pa"), $"p.doc_b".as("pb"))
          .filter(greatest(pmod($"pa", lit(PackN)), pmod($"pb", lit(PackN))) <=
            least(pmod($"pa", lit(PackN)), pmod($"pb", lit(PackN))) * 2)
          .repartition(width, $"pa", $"pb")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= least(lit(pk.toLong),
            expr(s"(pmod(pa, $PackN) + pmod(pb, $PackN) + 2) div 3")))
          .select(expr(s"pa div $PackN").as("doc_a"),
            expr(s"pb div $PackN").as("doc_b"))
    verifyJaccard(counted, gs, gs, "doc_a", "doc_b")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Domain bound for [[dedupNgram]]'s packed pair-agg key: with 5
    * size bits per side, ids below 2^26 keep each packed side under
    * 2^31 and the combined key inside a positive signed 64-bit long.
    * Corpora beyond it (ids ≥ ~67 M) fall back to the two-column agg
    * — same result, wider exchange rows. */
  val PairPackMaxDocId = 1L << 26

  /** Prefix extension k of the #41 candidate rule — the required
    * shared-prefix-gram count. Higher k = wider prefixes (more rows
    * into the group stage) but a far stronger candidate filter. */
  val NgramPrefixK = 8

  /** Reduce-side width multiplier (x the session shuffle-partition
    * default) for [[dedupNgram]]'s pair-count aggregation — its input
    * is the plan's widest stream with near-distinct keys, so it needs
    * proportionally more reducers than the narrow joins the session
    * default is sized for. */
  val PairAggWidth = 8

  /** Packing modulus for (doc_id, gram-set size) candidate rows. */
  val PackN = 4096L

  /** Driver-gather bound for [[dedupEmbedding]]'s exact all-pairs
    * audit tier, derived from THIS JVM's max heap exactly like
    * [[ClusterOps.DriverEdgeLimit]]. Steady-state cost of the gathered
    * corpus is ~620 B/vector on-heap (a 64-long quantized array is
    * 528 B with its header; the boxed (Long, Array, Long) tuple and
    * the broadcast's array slot add ~90 B), and the collect's
    * TRANSIENT serialized result buffers roughly double the peak —
    * so the budget is 1/8 of max heap over a 2× 620 B estimate
    * (≈ 1/16 heap steady): a 64 g driver admits ~6.9 M vectors (the
    * sf100 corpus is ~2 M), an 8 g default driver ~860 k, and a 100×
    * corpus fails loud toward [[dedupEmbeddingLsh]] instead of OOMing.
    * The 2^14 floor keeps every correctness-gate corpus in bounds
    * regardless of heap. */
  val DedupEmbeddingMaxVectors: Long = {
    val heapEighth = Runtime.getRuntime.maxMemory() / 8
    math.max(1L << 14, heapEighth / (620L * 2))
  }

  /** SimHash geometry: hash60 supplies 60 entropy bits. The 4 × 15
    * single-block split (exact pigeonhole recall for Hamming ≤ 3 with
    * ANY 4-way split) remains for [[blockedHammingPairs]]' other
    * consumer (visual near-dup, where the df cap applies) and as the
    * independent scheme DedupSpec cross-checks [[dedupSimhash]]
    * against; the TEXT pair path itself uses the C(6,3) combination
    * keys below, whose buckets stay O(1) where single-block buckets
    * grow n/2^15. */
  val SimhashBits = 60
  val SimhashBlocks = 4
  val SimhashBlockBits: Int = SimhashBits / SimhashBlocks
  val SimhashBlockMask: Long = (1L << SimhashBlockBits) - 1

  /** #40 SimHash: 60-bit signature; bit b is the sign of the
    * count-weighted sum of (+-1) over token-hash bit b — computed in
    * one narrow per-row pass (graft.functions.TextHash.simhash; per-bit
    * sums are order-independent so it equals the explode+groupBy
    * form). No shuffle at any scale. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        graft.functions.TextHash.simhash($"text", SimhashBits).as("simhash"))
      .filter($"simhash" =!= -1L) // token-less docs have no signature
      .orderBy($"doc_id")

  /** [[dedupSimhash]] combination blocking: 6 blocks of 10 bits;
    * Hamming ≤ 3 leaves ≥ 3 blocks intact, so every true pair shares
    * at least one C(6,3)=20 block-triple key. */
  val SimhashCombBlocks = 6
  val SimhashCombBlockBits: Int = SimhashBits / SimhashCombBlocks

  /** #40b SimHash near-dup pairs (Hamming ≤ 3) via COMBINATION
    * blocking (Manku/Das Sarma's permuted-table scheme, expressed as
    * an equi-join): the 60-bit signature splits into
    * [[SimhashCombBlocks]] 10-bit blocks; Hamming ≤ 3 corrupts at
    * most 3 of them, so ≥ 3 stay intact and every true pair shares at
    * least one of the C(6,3)=20 block-TRIPLE keys — an equi self-join
    * on the 30-bit (combo, key) with EXACT recall (pigeonhole), then
    * one popcount verifies.
    *
    * Why triples and not single blocks: with single 15-bit blocks the
    * bucket population grows ~n/2^15, so candidate pairs grow
    * ~n²/2^15 — quadratic with a constant, a scale-killer near 10⁹
    * docs. The 30-bit triple keys keep buckets ~n/2^30, so candidates
    * stay near-linear (true pairs + 2^-30 collisions) at the price of
    * 20 explode rows per doc instead of 4 — the right 100 TB trade,
    * and the same answer bit-for-bit. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = Tables.documents(spark, sfDir)
      .select($"doc_id",
        graft.functions.TextHash.simhash($"text", SimhashBits).as("simhash"))
      .filter($"simhash" =!= -1L) // token-less docs have no signature
    comboHammingPairs(sigs, "simhash", SimhashCombBlocks,
      SimhashCombBlockBits, maxHamming = 3)
  }

  /** Combination-blocked Hamming pairing: candidates share the
    * concatenated values of some (blocks − maxHamming)-subset of
    * blocks. Exact recall by pigeonhole (≤ maxHamming corrupted
    * blocks ⇒ ≥ blocks − maxHamming intact ⇒ some emitted subset is
    * fully intact on both sides). Keys are uniform-ish
    * (blocks−maxHamming)·blockBits-bit values, so buckets stay O(1)
    * where single-block buckets grow O(n/2^blockBits).
    *
    * Physical shape: ONE corpus scan (the signature expression runs
    * once), the combo explode, ONE shuffle into (combo, key)
    * buckets, then bucket-LOCAL pair expansion via posexplode ×
    * slice — no self-join, so nothing is scanned or hashed twice and
    * no second exchange exists. Bucket arrays are O(1) for the
    * 2^(pick·blockBits) keyspace; massive exact-dup clusters would
    * inflate them, which is why the documented pipeline order runs
    * exact dedup (#37) first — a pair LISTING over k identical docs
    * is Θ(k²) in its own output no matter the algorithm. */
  private[graft] def comboHammingPairs(hashed: DataFrame, hashCol: String,
      blocks: Int, blockBits: Int, maxHamming: Int): DataFrame = {
    val pick = blocks - maxHamming
    require(pick >= 1 && pick * blockBits <= 62,
      s"combo keys must fit a long: pick=$pick blockBits=$blockBits")
    val mask = (1L << blockBits) - 1
    val combos = (0 until blocks).combinations(pick).toArray
    val blk = hashed.select($"doc_id", col(hashCol).as("hash"))
      .select($"doc_id", $"hash",
        explode(array(combos.zipWithIndex.map { case (combo, ci) =>
          val key = combo.foldLeft(lit(0L): Column) { (acc, b) =>
            shiftleft(acc, blockBits).bitwiseOR(
              shiftright($"hash", blockBits * b).bitwiseAND(mask))
          }
          struct(lit(ci.toLong).as("c"), key.as("key"))
        }: _*)).as("ck"))
      .select($"doc_id", $"hash", $"ck.c".as("c"), $"ck.key".as("key"))
    // Bucket-local pair expansion over sorted equal-key runs. NOT a
    // groupBy+collect_list: with ~one distinct key per row the object
    // hash aggregate falls back to sort-based with per-row object
    // serialization (measured 6.4 s of a 7.7 s total at sf1); the
    // explicit sort keeps the same one-exchange shape at ~none of
    // that cost. mapPartitions is justified here (guideline (d)):
    // the run buffer is genuine per-partition imperative state.
    import hashed.sparkSession.implicits.newProductEncoder
    val mh = maxHamming // avoid capturing `this` in the task closure
    blk.select($"c", $"key", $"doc_id", $"hash")
      .as[(Long, Long, Long, Long)]
      .repartition(col("c"), col("key"))
      .sortWithinPartitions("c", "key")
      .mapPartitions { it =>
        // r14 (guide §4): the run buffer is two primitive long arrays
        // and emission is a hand-rolled iterator — the previous form
        // boxed every buffered row into a (Long, Long) tuple and
        // materialized a Vector per INPUT row (normally empty, but
        // still an allocation on the plan's widest stream); emitted
        // pairs and the scan order are identical.
        new scala.collection.AbstractIterator[(Long, Long, Long)] {
          private var bufD = new Array[Long](64)
          private var bufH = new Array[Long](64)
          private var n = 0
          private var curC = 0L
          private var curK = 0L
          private var started = false
          private var d = 0L
          private var h = 0L
          private var scan = 0
          private var haveRow = false
          private var outA = 0L
          private var outB = 0L
          private var outHam = 0L
          private var ready = false
          private def advance(): Boolean = {
            while (true) {
              if (!haveRow) {
                if (!it.hasNext) return false
                val r = it.next()
                if (!started || r._1 != curC || r._2 != curK) {
                  n = 0; curC = r._1; curK = r._2; started = true
                }
                d = r._3; h = r._4; scan = 0; haveRow = true
              }
              while (scan < n) {
                val i = scan
                scan += 1
                val ham = java.lang.Long.bitCount(h ^ bufH(i)).toLong
                if (ham <= mh) {
                  val d2 = bufD(i)
                  outA = math.min(d, d2); outB = math.max(d, d2)
                  outHam = ham
                  return true
                }
              }
              // current row scanned against the whole run: buffer it
              if (n == bufD.length) {
                bufD = java.util.Arrays.copyOf(bufD, n * 2)
                bufH = java.util.Arrays.copyOf(bufH, n * 2)
              }
              bufD(n) = d; bufH(n) = h; n += 1
              haveRow = false
            }
            false
          }
          override def hasNext: Boolean = {
            if (!ready) ready = advance()
            ready
          }
          override def next(): (Long, Long, Long) = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            ready = false
            (outA, outB, outHam)
          }
        }
      }
      .toDF("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Pigeonhole-blocked Hamming pairing, shared by [[dedupSimhash]]
    * and `Multimodal.visualNearDup`: split each hash into `blocks`
    * blocks of `blockBits` bits; Hamming ≤ blocks−1 can corrupt at
    * most blocks−1 of them, so every true pair shares an intact
    * (block, key) — candidates come from an EQUI self-join on that key
    * with EXACT recall (pigeonhole, which is why maxHamming < blocks
    * is REQUIRED — a larger threshold would silently lose recall),
    * then one popcount verifies. `maxBlockDf > 0` drops block keys
    * shared by more than that many rows first: unlike md5-derived band
    * keys, hash blocks are NOT uniform, and a corpus-common value
    * (flat image regions, boilerplate) would otherwise build a
    * quadratic candidate bucket — the same df bound [[overlapPairs]]
    * applies. */
  private[graft] def blockedHammingPairs(hashed: DataFrame, hashCol: String,
      blocks: Int, blockBits: Int, maxHamming: Int,
      maxBlockDf: Int = 0): DataFrame = {
    require(maxHamming < blocks,
      s"pigeonhole recall needs maxHamming < blocks, got $maxHamming >= $blocks")
    val mask = (1L << blockBits) - 1
    // rename FIRST, explode in a second select: referencing the alias
    // in the same projection is a lateral column reference (internal
    // analyzer error under a typed child plan)
    val blk = hashed.select($"doc_id", col(hashCol).as("hash"))
      .select($"doc_id", $"hash",
        explode(array((0 until blocks).map(b =>
          struct(lit(b.toLong).as("b"),
            shiftright($"hash", blockBits * b)
              .bitwiseAND(mask).as("key"))): _*)).as("blk"))
      .select($"doc_id", $"hash", $"blk.b".as("b"), $"blk.key".as("key"))
    val cands = if (maxBlockDf > 0) {
      val rare = blk.groupBy($"b", $"key").agg(count(lit(1)).as("df"))
        .filter($"df" <= maxBlockDf).select($"b", $"key")
      blk.join(rare, Seq("b", "key"))
    } else blk
    cands.as("x")
      .join(cands.as("y"),
        $"x.b" === $"y.b" && $"x.key" === $"y.key" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.hash".bitwiseXOR($"y.hash")).cast(LongType).as("hamming"))
      .filter($"hamming" <= maxHamming)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Sampling rate for [[overlapPairs]] (keep windows with h % rate
    * == 0) — shared with the q_overlap_pairs oracle. */
  val OverlapSample = 8L

  /** #41b Containment / partial-overlap pairs via CONTENT-DEFINED
    * sampled rolling-hash windows: 16-char window hashes
    * (graft.functions.RollingHash.rollingHashes, window = TextOps.RollWindow),
    * keeping the windows whose hash ≡ 0 mod [[OverlapSample]].
    * Content-defined selection is alignment-independent: an identical
    * span selects the SAME windows in both documents wherever it
    * occurs (positional sampling would miss 7/8 of offsets), and a
    * shared span of length L yields a shared sampled window with
    * P ≈ 1−(7/8)^(L−15) — near-certain by ~70 chars. Catches
    * ASYMMETRIC duplication — a short doc quoted inside a long one —
    * which Jaccard-threshold MinHash structurally misses. Frequent
    * windows (boilerplate, > `maxDf` docs) are dropped before
    * pairing, the standard bound that keeps candidates sublinear at
    * 100 TB; pairs need ≥ 2 shared sampled windows. */
  private val windowsIndex = new Materialize.FrameArtifact("sampled-windows", "documents")

  /** The content-defined sampled rolling-hash windows `(doc_id, h)`,
    * materialized ONCE per corpus fingerprint — the subtree is shared
    * by [[overlapPairs]] (two consumers since the r13 single-exchange
    * rewrite: the df gate and the join side) and
    * [[CurationOps.decontaminateSubstr]], so each query reads a plain
    * parquet scan instead of re-running the rolling-hash explode +
    * distinct shuffle. (Within one query ReuseExchange already
    * deduplicated the subtree — measured 3× faster than
    * MEMORY_AND_DISK caching back in BENCH_r02 — but only the
    * materialized artifact is shared ACROSS queries.) */
  private[operators] def sampledWindowsShared(spark: SparkSession, sfDir: String): DataFrame =
    windowsIndex(spark, sfDir) {
      Tables.documents(spark, sfDir)
        .select($"doc_id",
          explode(graft.functions.RollingHash.rollingHashes($"text", TextOps.RollWindow)).as("h"))
        .filter($"h" % OverlapSample === 0L)
        .distinct()
    }

  def overlapPairs(spark: SparkSession, sfDir: String, maxDf: Int = 10): DataFrame = {
    // One wide exchange of the windows artifact instead of the old
    // three (r13): the df gate keeps its own pre-pass (a COMPACT
    // partial-aggregated count — the artifact is distinct on
    // (doc_id, h), so plain count IS the window's document frequency;
    // the old countDistinct paid a two-phase distinct agg for the
    // same number), but the pair generation drops the a×b self-join:
    // after win ⋈ rare the frame is already hash-partitioned by h, so
    // the bucket grouping runs exchange-free and each ≤ maxDf bucket
    // expands through the codegen'd C(n,2) kernel — the identical
    // bucket-grouped pair-generator shape as dedupNgram's candidate
    // stage and the MinHash band expansion. The df gate stays AHEAD
    // of the grouping on purpose: collecting first and filtering on
    // array size would materialize an unbounded id array for every
    // boilerplate-hot window before dropping it — the 100 TB failure
    // mode the bound exists to prevent — while after the join the
    // collected buckets are ≤ maxDf by construction.
    val win = sampledWindowsShared(spark, sfDir)
    val rare = win.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" <= maxDf && $"df" >= 2)
      .select($"h")
    win.join(rare, "h")
      .groupBy($"h").agg(collect_list($"doc_id").as("ids"))
      .select(explode(
        graft.functions.TextSetExprs.orderedPairs($"ids")).as("p"))
      .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
      .filter($"n_shared" >= 2)
      .orderBy($"doc_a", $"doc_b")
  }

  /** #42 Embedding-cosine near-dup pairs (cos >= 0.4) — the exact
    * all-pairs form, as a broadcast + per-partition primitive-array
    * kernel: the quantized corpus (N×64 longs) broadcasts, each
    * partition scans its slice against the broadcast with tight
    * Array[Long] loops. 2M interpreted higher-order-function dot
    * products → ~0.5 s of primitive multiplies; no shuffle at all.
    * The 100 TB path is [[SimilarityOps.annLsh]]'s bucketed join
    * (same math, LSH-bounded candidates); all-pairs is inherently
    * quadratic and only for broadcastable corpora — and that clause is
    * now ENFORCED, not just documented (r12 VERDICT): the corpus count
    * (one cheap metadata-scale job, the same row the LSH sibling
    * already reads for its plane scaling) is checked against the
    * heap-derived [[DedupEmbeddingMaxVectors]] BEFORE anything is
    * collected, and an over-bound corpus raises an actionable error
    * naming [[dedupEmbeddingLsh]] instead of OOMing the driver.
    * Failing loud rather than silently demoting is deliberate: the
    * exact form is oracle-gated (`q_dedup_embedding`), so a silent
    * route to the LSH tier could change a gated answer. */
  def dedupEmbedding(spark: SparkSession, sfDir: String,
      maxVectors: Long = DedupEmbeddingMaxVectors): DataFrame = {
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    require(n <= maxVectors,
      s"dedupEmbedding is the exact all-pairs AUDIT tier: it collects the " +
      s"whole quantized corpus to the driver, and this corpus ($n vectors) " +
      s"is over the heap-derived bound of $maxVectors (~1/16 of max heap at " +
      s"~620 B/vector, leaving headroom for the collect's transient " +
      s"serialized buffers). Use the scale path instead: " +
      s"DedupOps.dedupEmbeddingLsh (q_dedup_embedding_lsh) — identical " +
      s"integer cosine math, LSH-bounded candidates, nothing collected.")
    val quant = VectorFunctions.quantized(emb)
    val corpus = spark.sparkContext.broadcast(
      quant.collect().sortBy(_._1))
    quant.mapPartitions { it =>
      val all = corpus.value
      it.flatMap { case (ida, qa, n2a) =>
        // pairs (a, b) with b.vec_id > a.vec_id; integer dot, one IEEE
        // division + HALF_UP e6 rounding per pair (SURVEY.md §4)
        all.iterator
          .filter(_._1 > ida)
          .flatMap { case (idb, qb, n2b) =>
            val c6 = VectorFunctions.cosineE6Jvm(qa, qb, n2a, n2b)
            if (c6 >= 400000L) Iterator.single((ida, idb, c6)) else Iterator.empty
          }
      }
    }.toDF("vec_a", "vec_b", "cos_e6")
      .orderBy($"vec_a", $"vec_b")
  }

  /** #42b Embedding-cosine near-dup, SCALE path: sign-bucket every
    * vector with the shared random hyperplanes, self equi-join on the
    * bucket, verify cos_e6 ≥ τ — same integer math as
    * [[dedupEmbedding]], but candidates are LSH-bounded instead of
    * all-pairs and nothing is collected or broadcast.
    *
    * The plane count SCALES with the corpus
    * ([[VectorFunctions.scaledPlanes]] — the "nPlanes ∝ log2(corpus)"
    * rule, implemented after the sf10 sweep measured fixed planes
    * going quadratic): the wide [[VectorFunctions.lshBucketWide]]
    * bucket is truncated by one shift to p = max(8, bitlen((n−1)
    * div 8)) planes, so mean occupancy stays ≤ 8 and the self-join
    * stays linear at any scale. At the correctness-gate SFs (n ≤
    * 2048) p = 8 and the grouping equals the legacy shared 8-plane
    * bucket exactly. The count() is one 1-row job (corpus metadata a
    * production index stores); the oracle computes the identical p
    * from count(*) in exact integer SQL and applies the same shift
    * to the same wide-bucket expression. */
  def dedupEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val v = embBucketed(emb, VectorFunctions.scaledPlanes(emb.count()))
    v.as("a").join(v.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        VectorFunctions.cosineE6(
          VectorFunctions.dotL($"a.q", $"b.q"), $"a.n2", $"b.n2").as("cos_e6"))
      .filter($"cos_e6" >= 400000L)
      .orderBy($"vec_a", $"vec_b")
  }

  /** (vec_id, q, n2, bucket) under the table-0 wide bucket truncated
    * to p planes — THE quantize/norm/bucket projection every
    * embedding dedup consumer shares and the oracles mirror
    * bit-for-bit; one definition so an operator can never
    * desynchronize from the shared artifact. */
  private[graft] def embBucketed(emb: DataFrame, p: Int): DataFrame =
    emb.select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("n2", VectorFunctions.norm2($"q"))
      .withColumn("bucket", shiftright(VectorFunctions.lshBucketWide($"q"),
        VectorFunctions.MaxPlanes - p))

  private val embBucketsIndex = new Materialize.Artifact[
    (Materialize.Stored, Int)]("emb-buckets", "embeddings")

  /** Corpus (vec_id, q, n2, bucket) sign-bucket index materialized
    * ONCE per corpus fingerprint — the vector-index artifact a
    * production store keeps next to the embeddings (the embedding
    * twin of [[minhashBandsShared]]). Bucket is the table-0 wide
    * bucket truncated to the FULL-corpus scaled plane count; that p
    * is stored with the index so incremental consumers bucket their
    * fresh drops under the index's own geometry (the log-scale rule
    * moves p only on decade growth, exactly when a production index
    * rebuilds anyway). */
  private[graft] def embBucketsShared(spark: SparkSession, sfDir: String)
      : (DataFrame, Int) = {
    val (index, p) = embBucketsIndex(spark, sfDir) {
      val emb = Tables.embeddings(spark, sfDir)
      val pb = VectorFunctions.scaledPlanes(emb.count())
      (embBucketsIndex.store(embBucketed(emb, pb)), pb)
    }
    (index.read(spark), p)
  }

  /** Drop-admission lifecycle for the sign-bucket index — the
    * embedding-space twin of [[admitDrop]]: after a drop is admitted
    * (its rows appended to the corpus embeddings table), bucket the
    * NEW vectors under the index's OWN plane geometry, append them to
    * the stored artifact, and re-key the artifact to the grown
    * corpus's fingerprint — the corpus is never re-quantized for a
    * daily drop. The plane count intentionally stays the index's
    * (a vector store keeps its geometry until a rebuild); occupancy
    * drifting past the scaledPlanes rule as the corpus grows is the
    * rebuild signal, visible in the #142-style occupancy audits. */
  private[graft] def admitEmbDrop(spark: SparkSession, sfDir: String,
      dropVecs: DataFrame, updatedFingerprint: String): Boolean =
    embBucketsIndex.rekey(sfDir, updatedFingerprint) { case (index, p) =>
      index.append(embBucketed(dropVecs.select($"vec_id", $"embedding"), p))
    }

  /** #42e Incremental embedding near-dup — the [[dedupIncremental]]
    * daily-ingest shape in the SEMANTIC space: today's drop
    * (vec_id % [[IncrMod]] = 0, standing in for newly embedded docs)
    * is quantized and bucketed FRESH (a narrow map over drop rows
    * only, under the stored index's plane count) and BROADCAST
    * against the corpus side of the [[embBucketsShared]] artifact —
    * a compact columnar scan, never a corpus re-quantize, never a
    * corpus shuffle. Verify is the same integer cos ≥ τ on the q
    * vectors both sides already carry; the whole run is
    * O(drop + candidates) at any corpus size. Same modeling
    * convention as the text path: the artifact covers the full
    * table and the corpus side filters % ≠ 0 on the artifact scan. */
  def dedupEmbeddingIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (index, p) = embBucketsShared(spark, sfDir)
    val drop = embBucketed(
      Tables.embeddings(spark, sfDir).filter($"vec_id" % IncrMod === 0L), p)
    val corpus = index.filter($"vec_id" % IncrMod =!= 0L)
    corpus.as("b").join(broadcast(drop.as("a")), Seq("bucket"))
      .select($"a.vec_id".as("vec_new"), $"b.vec_id".as("vec_old"),
        VectorFunctions.cosineE6(
          VectorFunctions.dotL($"a.q", $"b.q"), $"a.n2", $"b.n2").as("cos_e6"))
      .filter($"cos_e6" >= 400000L)
      .orderBy($"vec_new", $"vec_old")
  }

  /** #42c Embedding-cosine near-dup, OR-construction: the
    * [[dedupEmbeddingLsh]] recall lever made first-class. Each vector
    * is bucketed under [[VectorFunctions.LshOrTables]] INDEPENDENT
    * plane families (table 0 is THE single-table family, so that
    * result is a structural subset of this one); a pair is a
    * candidate if it collides in ANY table — recall rises from
    * (1−θ/π)^p to 1 − (1 − (1−θ/π)^p)^L while candidate volume grows
    * only L×, which is the trade that keeps recall usable as
    * [[VectorFunctions.scaledPlanes]] raises p with the corpus.
    *
    * Physical shape: ONE posexplode into (t, bucket) keys — the
    * MinHash band-explode pattern — then a single (t, bucket)-keyed
    * self equi-join; Catalyst reuses the exchange across the join's
    * two sides, so the corpus is shuffled once, L·N rows total.
    * A pair colliding in several tables is collapsed by the final
    * set-distinct (the oracle's UNION does the same). Still no
    * collect, no broadcast, no cartesian at any scale. */
  def dedupEmbeddingLshOr(spark: SparkSession, sfDir: String): DataFrame =
    embOrPairsShared(spark, sfDir).orderBy($"vec_a", $"vec_b")

  private val embOrPairs = new Materialize.FrameArtifact("emb-or-pairs", "embeddings")

  /** The OR-construction semantic pair set materialized ONCE per
    * embeddings fingerprint. Round 11 left this unmaterialized
    * ("recomputes in seconds at sf10"), but the r13 fresh sweep
    * measured the subtree at ~31 s at sf100 and TWO consumers pay it
    * (the pair report and #50's semantic cluster resolution) — the
    * same two-consumer shape that justified the MinHash pairs
    * artifact. Pairs-bounded storage; at 100 TB the semantic pair
    * table is exactly what an embedding-dedup pipeline persists next
    * to its vector store. */
  private[operators] def embOrPairsShared(spark: SparkSession,
      sfDir: String): DataFrame =
    embOrPairs(spark, sfDir)(embOrPairsDirect(spark, sfDir))

  /** The defining OR-LSH computation behind [[embOrPairsShared]]. */
  private[graft] def embOrPairsDirect(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val p = VectorFunctions.scaledPlanes(emb.count())
    val shift = VectorFunctions.MaxPlanes - p
    val keyed = emb
      .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("n2", VectorFunctions.norm2($"q"))
      .select($"vec_id", $"q", $"n2",
        posexplode(array((0 until VectorFunctions.LshOrTables).map(t =>
          shiftright(VectorFunctions.lshBucketWideT(t, $"q"), shift)): _*))
          .as(Seq("t", "bucket")))
    keyed.as("a").join(keyed.as("b"),
        $"a.t" === $"b.t" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        VectorFunctions.cosineE6(
          VectorFunctions.dotL($"a.q", $"b.q"), $"a.n2", $"b.n2").as("cos_e6"))
      .filter($"cos_e6" >= 400000L)
      .distinct()
  }
}
