package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Codegen-friendly text primitives (SURVEY.md §2.7).
  *
  * Built from codegen'd `org.apache.spark.sql.functions._` built-ins
  * plus native kernels where a built-in form would need an
  * interpreted higher-order function ([[markerHits]]) — no UDF
  * serialization cost, expressions visible to
  * Catalyst for pruning/pushdown, and the per-document projections
  * stay inside whole-stage codegen (PlanSpec guards the text-family
  * plans against `lambdafunction` reappearing). The only hash used is
  * md5, which is bit-identical across engines (the cross-engine
  * determinism contract, SURVEY.md §4).
  */
object TextFunctions {

  /** 60-bit non-negative hash: first 15 hex chars of md5 as a LONG.
    * 15 hex digits < 2^60 always fits BIGINT; identical in DuckDB via
    * `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** hash60 in SQL form, for oracle strings. */
  def hash60Sql(inner: String): String =
    s"CAST(concat('0x', substr(md5($inner),1,15)) AS BIGINT)"

  /** Whitespace tokens, empty strings dropped. `array_remove` is
    * value-identical to `filter(split(text, " "), _ != "")` (drops
    * every "" produced by leading/trailing/consecutive spaces, null
    * text stays null) but is a codegen'd built-in — no interpreted
    * filter-lambda per token. */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** The exact-duplicate content key: md5 of the trimmed, lower-cased
    * text. ONE definition for every exact-dup dedup, keeper and
    * ingest-store key; the SQL and oracle strings spell the same
    * `md5(lower(trim(text)))`. */
  def contentHash(text: Column): Column =
    md5(lower(trim(text)))

  // ---- MinHash universal-hash permutations ---------------------------
  // One md5 per shingle, then k cheap integer permutations
  // h_i(x) = (a_i * (x mod P) + b_i) mod P over the Mersenne prime
  // P = 2^31 - 1 — 16× less hashing than md5-per-permutation, and
  // a_i*(x%P)+b_i ≤ (P-1)^2+P < 2^63 so the arithmetic is exact
  // BIGINT in Spark and DuckDB alike.
  val MinhashP = 2147483647L

  private def md5mod(s: String, m: Long): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16) % m

  /** Deterministic (a_i, b_i) per permutation, derived from md5 so
    * both engines can embed them as literals. a_i ∈ [1, P-1]. */
  def minhashAB(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map(i => (md5mod(s"mh:a:$i", MinhashP - 1) + 1,
      md5mod(s"mh:b:$i", MinhashP)))

  /** Deterministic (a_j, b_j) for the Count-Min rows — the same
    * universal-hash family as the MinHash permutations, distinct seed
    * space. */
  def cmsAB(d: Int): IndexedSeq[(Long, Long)] =
    (0 until d).map(j => (md5mod(s"cms:a:$j", MinhashP - 1) + 1,
      md5mod(s"cms:b:$j", MinhashP)))

  def permute(h: Column, a: Long, b: Long): Column =
    (lit(a) * (h % MinhashP) + lit(b)) % MinhashP

  def permuteSql(inner: String, a: Long, b: Long): String =
    s"($a * ($inner % $MinhashP) + $b) % $MinhashP"

  /** Count of tokens that appear in `markers` (with multiplicity;
    * NULL tokens never match; strings compare byte for byte) — the
    * n-gram-heuristic language-ID building block. The markers ride as
    * one array<string> literal into [[TextSetExprs.countInSetData]];
    * the HOF form `size(filter(tk, isin))` ran one interpreted lambda
    * per token. */
  def markerHits(tk: Column, markers: Seq[String]): Column =
    Kernel.call(TextSetExprs, "countInSetData", LongType, Seq(tk),
      Seq(markers.toArray))

  /** English/German/French stopword markers for the language-ID
    * heuristic. Short, high-frequency function words. */
  val enMarkers = Seq("the", "a", "of", "and", "is", "to", "in")
  val deMarkers = Seq("der", "die", "das", "und", "ist", "ein")
  val frMarkers = Seq("le", "la", "les", "et", "est", "un", "une")

  /** Languages the heuristic can detect — gates that compare against
    * a declared lang must pass through anything else. */
  val detectableLangs = Seq("en", "de", "fr")

  /** The language-ID decision over marker-hit columns (en>de>fr
    * priority tie-break — load-bearing for oracle agreement; ONE
    * definition, mirrored by SparkEntry's detectedLangSql). */
  def detectedLang(en: Column, de: Column, fr: Column): Column =
    when(en >= de && en >= fr && en > 0, "en")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")

  /** The detected language of a token array: [[detectedLang]] over
    * its en/de/fr [[markerHits]]. */
  def detectLang(tk: Column): Column =
    detectedLang(markerHits(tk, enMarkers), markerHits(tk, deMarkers),
      markerHits(tk, frMarkers))
}
