package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Embedding-vector math over `array<float>` columns (SURVEY.md §2.7).
  *
  * Strategy for cross-engine exactness: quantize each float to an
  * integer (`round(x*1000)`), do all cross-element arithmetic (dot
  * product, squared norm) in BIGINT — associative, order-independent —
  * then derive cosine as a single per-row double division/sqrt, which
  * is IEEE-deterministic across engines. The per-element loops run as
  * native expressions ([[VectorExprs]]) — Spark's higher-order
  * functions (`transform`/`zip_with`/`aggregate`) are INTERPRETED,
  * ~16 µs/lambda (NOTES.md), which dominated the ANN family before
  * the switch.
  *
  * Magnitude safety: |element| ≲ 1e3 after e3 quantization, so a
  * 64-dim squared norm ≤ 6.4e7 and a norm product ≤ 4.1e15 — well
  * inside BIGINT.
  */
object VectorFunctions {

  /** Fixed-point e3 quantization of an array<float|double> →
    * array<long>: round(x*1000) HALF_UP per element, identical to
    * `transform(emb, x -> round(x*1000, 0))`. */
  def quantize(emb: Column): Column =
    ColumnBridge.column(QuantizeE3Expr(ColumnBridge.expression(emb)))

  /** Integer dot product of two array<long> columns. NULL when the
    * lengths differ (`zip_with` pad-with-null semantics). */
  def dotL(a: Column, b: Column): Column =
    when(size(a) === size(b),
      Kernel.call(VectorExprs, "dotData", LongType, Seq(a, b)))

  /** Integer squared norm. */
  def norm2(a: Column): Column =
    Kernel.call(VectorExprs, "norm2Data", LongType, Seq(a))

  /** Cosine from integer dot + squared norms (per-row IEEE ops only). */
  def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast(DoubleType) / sqrt((n2a * n2b).cast(DoubleType))

  /** Cosine scaled to e6 BIGINT for deterministic output columns. */
  def cosineE6(dot: Column, n2a: Column, n2b: Column): Column =
    round(cosine(dot, n2a, n2b) * 1e6, 0).cast(LongType)

  // ---- JVM kernel mirrors (for broadcast + mapPartitions paths) -----

  /** HALF_UP rounding away from zero at .5 — the semantics of both
    * Spark's `round(x, 0)` and DuckDB's `round(x)`, so kernel output
    * matches the declarative/oracle forms exactly. */
  def roundHalfUp(d: Double): Long =
    if (d >= 0) math.floor(d + 0.5).toLong else math.ceil(d - 0.5).toLong

  /** e3 quantization of one embedding — same math as [[quantize]]. */
  def quantizeJvm(emb: Array[Float]): Array[Long] = {
    val out = new Array[Long](emb.length)
    var i = 0
    while (i < emb.length) { out(i) = roundHalfUp(emb(i).toDouble * 1000); i += 1 }
    out
  }

  /** (vec_id, quantized, norm2) typed rows — the kernel-side input. */
  def quantized(embeddings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Array[Long], Long)] = {
    import embeddings.sparkSession.implicits._
    embeddings.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, emb) =>
        val q = quantizeJvm(emb)
        var n2 = 0L; var i = 0
        while (i < q.length) { n2 += q(i) * q(i); i += 1 }
        (id, q, n2)
      }
  }

  /** Integer dot + one IEEE division + e6 HALF_UP — identical to
    * `cosineE6(dotL(a,b), n2a, n2b)` evaluated declaratively. */
  def cosineE6Jvm(qa: Array[Long], qb: Array[Long], n2a: Long, n2b: Long): Long = {
    var dot = 0L; var i = 0
    while (i < qa.length) { dot += qa(i) * qb(i); i += 1 }
    roundHalfUp(dot.toDouble / math.sqrt((n2a * n2b).toDouble) * 1e6)
  }

  // ---- random-hyperplane LSH ----------------------------------------

  /** Number of hyperplanes (bucket space = 2^nPlanes = 256). The
    * sf1 (10×) bench measured the cost of leaving this at 4: bucket
    * occupancy grows linearly with the corpus, so the bucketed joins
    * went quadratic (q_dedup_embedding_lsh ×28 at ×10 data). The
    * production rule is nPlanes ∝ log2(corpus) so occupancy stays
    * bounded; the per-pair collision probability falls with each
    * plane — multi-probe (ANN) or OR-construction over independent
    * plane tables (dedup) are the standard recall levers, both
    * equi-join-shaped. */
  val nPlanes = 8
  val dim = 64

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic pseudo-random plane weight in [-1000, 1000]:
    * the same md5-prefix hash the engines use, computed in the JVM so
    * the planes can be embedded as literals on BOTH sides (Spark
    * typedlit + SQL list literal) — no per-row hashing at scan time. */
  def weight(j: Int, i: Int): Long =
    java.lang.Long.parseLong(md5hex(s"$j:$i").substring(0, 15), 16) % 2001 - 1000

  val planes: IndexedSeq[IndexedSeq[Long]] =
    (0 until nPlanes).map(j => (0 until dim).map(i => weight(j, i)))

  /** Sign-bucket id of a quantized embedding: bit j = (q · plane_j) > 0. */
  def lshBucket(q: Column): Column =
    (0 until nPlanes).map { j =>
      val pl = typedLit(planes(j))
      when(dotL(q, pl) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The same planes as a SQL VALUES relation `planes(j, w)` for the
    * DuckDB oracle. */
  def planesSqlValues: String =
    planes.zipWithIndex.map { case (w, j) =>
      s"($j, [${w.mkString(",")}])"
    }.mkString("(VALUES ", ", ", ") planes(j, w)")

  // ---- corpus-scaled planes (the nPlanes ∝ log2(corpus) rule) -------

  /** Plane budget of the WIDE bucket — wide enough for ~8·2^20 = 8M
    * vectors per... plane-count consumer at the default occupancy;
    * raise together with [[planesWide]] if a corpus outgrows it. */
  val MaxPlanes = 20

  /** Target mean bucket occupancy for [[scaledPlanes]] — the knob
    * that keeps the bucketed self-join linear: candidates ≈ N·occ/2. */
  val EmbLshOcc = 8L

  /** Same deterministic weights, extended to [[MaxPlanes]] planes —
    * plane j of [[planes]] IS plane j here (same `weight(j, i)`), so
    * a p = [[nPlanes]] truncation groups vectors exactly like the
    * legacy 8-plane bucket. */
  val planesWide: IndexedSeq[IndexedSeq[Long]] =
    (0 until MaxPlanes).map(j => (0 until dim).map(i => weight(j, i)))

  /** Wide sign bucket with plane j at bit ([[MaxPlanes]]−1−j):
    * keeping only the FIRST p planes is one `>> (MaxPlanes − p)` —
    * which is how a static oracle SQL can apply a data-dependent
    * plane count to a fixed bucket expression. */
  def lshBucketWide(q: Column): Column = lshBucketWideT(0, q)

  /** Number of independent plane tables in the OR-construction
    * ([[graft.operators.DedupOps.dedupEmbeddingLshOr]]) — the
    * standard recall lever: a true pair is a candidate if it
    * collides in ANY table (P = 1 − (1 − (1−θ/π)^p)^L), at L× the
    * candidate volume. Table 0 is THE single-table plane family, so
    * the single-table result is a structural subset. */
  val LshOrTables = 2

  /** Deterministic plane weight for table `t`: table 0 is exactly
    * [[weight]] (the shared legacy family); tables ≥ 1 hash a
    * disjoint `t$t:` key namespace — independent pseudo-random
    * families from the same public md5-prefix construction. */
  def weightT(t: Int, j: Int, i: Int): Long =
    if (t == 0) weight(j, i)
    else java.lang.Long.parseLong(md5hex(s"t$t:$j:$i").substring(0, 15), 16) % 2001 - 1000

  /** Wide plane family of table `t` ([[planesWide]] when t = 0). */
  def planesWideT(t: Int): IndexedSeq[IndexedSeq[Long]] =
    if (t == 0) planesWide
    else (0 until MaxPlanes).map(j => (0 until dim).map(i => weightT(t, j, i)))

  /** [[lshBucketWide]] under table `t`'s plane family. */
  def lshBucketWideT(t: Int, q: Column): Column = {
    val planes = planesWideT(t) // derive the family once, not per plane
    (0 until MaxPlanes).map { j =>
      val pl = typedLit(planes(j))
      when(dotL(q, pl) > 0, lit(1L << (MaxPlanes - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Table `t`'s wide planes as a SQL VALUES relation
    * `planesw$t(j, w)`. */
  def planesWideSqlValuesT(t: Int): String =
    planesWideT(t).zipWithIndex.map { case (w, j) =>
      s"($j, [${w.mkString(",")}])"
    }.mkString("(VALUES ", ", ", s") planesw$t(j, w)")

  /** The corpus-scaled plane count: the smallest p ≥ [[nPlanes]] with
    * 2^p · [[EmbLshOcc]] ≥ n, i.e. max(nPlanes, bitlen((n−1) div occ))
    * — EXACT integer math (no log2 doubles), mirrored bit-for-bit by
    * the oracle's shift-count CTE. Fixed planes were measured
    * quadratic at the sf10 sweep (bucket occupancy ∝ corpus →
    * q_dedup_embedding_lsh ×70 at ×10 data); under this rule mean
    * occupancy stays ≤ occ and the self-join stays linear. The
    * recall trade (collision P = (1−θ/π)^p falls per plane) is the
    * standard LSH one — the OR-construction over independent plane
    * tables is the production recall lever, and the exact all-pairs
    * form remains the small-corpus baseline. */
  def scaledPlanes(n: Long, occ: Long = EmbLshOcc): Int = {
    val x = if (n <= 0) 0L else (n - 1) / occ
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(x)
    math.min(MaxPlanes, math.max(nPlanes, bitlen))
  }
}
