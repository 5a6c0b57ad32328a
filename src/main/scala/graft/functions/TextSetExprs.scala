package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels over string and id arrays: marker counting (behind
  * [[TextFunctions.markerHits]]), token-frequency signals and
  * candidate-pair expansion.
  *
  * The declarative forms (`size(filter(tk, t -> t.isin(markers)))`
  * and the like) are INTERPRETED higher-order functions (a lambda
  * invocation per token — the NOTES.md ~16 µs/lambda class) sitting
  * in the per-document hot path of language ID, quality scoring, and
  * curation. Each kernel keeps the exact semantics in one primitive
  * loop, called through [[Kernel.call]] so the text projections stay
  * inside whole-stage codegen. */
object TextSetExprs {

  /** Occurrence count of the most frequent element of `tk`
    * (array<string>); 0 for an empty array — the Gopher-style
    * repetition signal's kernel. */
  def maxTokenCount(tk: Column): Column =
    Kernel.call(this, "maxTokenCountData", LongType, Seq(tk))

  /** Σ count² over the distinct elements of `tk` (array<string>) —
    * the Simpson-diversity kernel: P(two sampled tokens equal) =
    * Σc²/n². 0 for an empty array. One hash-map pass per document,
    * same narrow codegen'd shape as [[maxTokenCount]]. */
  def sumSqTokenCounts(tk: Column): Column =
    Kernel.call(this, "sumSqTokenCountsData", LongType, Seq(tk))

  /** Every unordered pair of DISTINCT values of a long-id array as
    * array<struct<doc_a, doc_b>> with doc_a < doc_b strictly (equal
    * ids emit nothing, matching the replaced form's filter) — the
    * candidate-pair expansion inside every bucket-grouped pair
    * generator (MinHash band buckets, n-gram prefix buckets). The
    * declarative form (`filter(flatten(transform(ids, a ->
    * transform(ids, b -> ...))))`) allocates n² structs through three
    * interpreted lambdas and discards half; this emits exactly C(n,2)
    * pairs in one codegen'd pass. Bucket sizes are df-/collision-
    * bounded by construction, so the output array stays small. The
    * explicit cast makes an int-element array read as longs in both
    * codegen and interpreted eval. */
  def orderedPairs(ids: Column): Column =
    Kernel.call(this, "orderedPairsData", ArrayType(
      StructType(Seq(
        StructField("doc_a", LongType, nullable = false),
        StructField("doc_b", LongType, nullable = false))),
      containsNull = false), Seq(ids.cast("array<bigint>")))

  /** r14 fusion of dedupNgram's packed candidate-pair stage (guide §4:
    * kill per-row allocation in the hot path). Semantically identical
    * to the chain it replaces —
    * `explode(orderedPairs(ids))` → size-compatibility filter →
    * re-pack both sides into one agg key — but emits the final packed
    * longs directly as one primitive array per bucket, where the old
    * chain allocated a struct row per candidate pair (2 boxed longs +
    * a GenericInternalRow each) just to unpack, filter, and re-pack it
    * in the next two operators. Inputs are pids = doc_id·packN + size
    * (non-negative by the caller's scan guard); for each unordered
    * pair with pidA < pidB it emits
    * `((docA·32 + min(sa,31)) << 32) | (docB·32 + min(sb,31))`
    * iff max(sa,sb) ≤ 2·min(sa,sb), exactly the old pipeline's
    * arithmetic. Inputs are non-negative packed pids (dedupNgram's
    * scan-time guard enforces the domain). */
  def packedCandPairs(ids: Column, packN: Long): Column =
    Kernel.call(this, "packedCandPairsData", Kernel.LongArray,
      Seq(ids.cast("array<bigint>")), Seq(packN))

  def packedCandPairsData(ids: ArrayData, packN: Long): ArrayData = {
    val n = ids.numElements()
    val cap = java.lang.Math.toIntExact(n.toLong * (n - 1) / 2)
    val out = new Array[Long](cap)
    var k = 0
    var i = 0
    while (i < n) {
      // NULL slots emit nothing (same contract as orderedPairs)
      if (!ids.isNullAt(i)) {
        val a = ids.getLong(i)
        var j = i + 1
        while (j < n) {
          if (!ids.isNullAt(j)) {
            val b = ids.getLong(j)
            if (a != b) {
              val lo = if (a < b) a else b
              val hi = if (a < b) b else a
              val sa = lo % packN
              val sb = hi % packN
              val mx = if (sa > sb) sa else sb
              val mn = if (sa > sb) sb else sa
              if (mx <= mn * 2) {
                out(k) = (((lo / packN) * 32L +
                    (if (sa < 31L) sa else 31L)) << 32) |
                  ((hi / packN) * 32L + (if (sb < 31L) sb else 31L))
                k += 1
              }
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(
      if (k == cap) out else java.util.Arrays.copyOf(out, k))
  }

  // codegen kernels (static forwarders; called from generated Java and
  // the interpreted eval paths)
  def orderedPairsData(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    // fail loudly on an array big enough to overflow C(n,2) in Int —
    // bucket inputs are df-/collision-bounded, so this only fires on
    // misuse of the SQL function
    val cap = java.lang.Math.toIntExact(n.toLong * (n - 1) / 2)
    val out = new Array[Any](cap)
    var k = 0
    var i = 0
    while (i < n) {
      // NULL slots emit nothing — the replaced declarative form's
      // `null < x` predicate dropped them; reading them as getLong's
      // default 0 would fabricate phantom doc-0 pairs
      if (!ids.isNullAt(i)) {
        val a = ids.getLong(i)
        var j = i + 1
        while (j < n) {
          if (!ids.isNullAt(j)) {
            val b = ids.getLong(j)
            // strict: equal ids emit nothing (the replaced declarative
            // form's `doc_a < doc_b` filter — a duplicate id in a bucket
            // must not become a Jaccard-1 self-edge downstream)
            if (a != b) {
              out(k) =
                if (a < b) new GenericInternalRow(Array[Any](a, b))
                else new GenericInternalRow(Array[Any](b, a))
              k += 1
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (k == cap) out else out.slice(0, k))
  }

  /** Elements of `a` equal to some element of `markers`, with
    * multiplicity; NULL elements never match. `markers` is a short
    * literal (language ID passes 6–7 stopwords), scanned per token. */
  def countInSetData(a: ArrayData, markers: ArrayData): Long = {
    val n = a.numElements()
    val m = markers.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        var j = 0
        while (j < m && (markers.isNullAt(j) || !t.equals(markers.getUTF8String(j)))) j += 1
        if (j < m) cnt += 1
      }
      i += 1
    }
    cnt
  }

  def maxTokenCountData(a: ArrayData): Long = {
    val n = a.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        val c = counts.merge(s, 1, (x, y) => x + y)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  def sumSqTokenCountsData(a: ArrayData): Long = {
    val n = a.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) counts.merge(a.getUTF8String(i), 1, (x, y) => x + y)
      i += 1
    }
    var ssq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next().toLong; ssq += c * c }
    ssq
  }
}
