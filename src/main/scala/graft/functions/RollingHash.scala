package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Rabin–Karp rolling polynomial hash over a document's characters
  * (SURVEY.md §2.7 #48): every window of `window` chars gets
  * h = Σ c_i · B^(w-1-i) mod P, computed incrementally in O(1) per
  * step (one multiply, one subtract, one add). The full pass is
  * O(len) per document — a narrow map over the corpus scan, which is
  * the content-defined-chunking / local-fingerprint primitive used
  * for partial-overlap detection at 100 TB (compare window hash SETS,
  * not positions, so it composes with the MinHash machinery).
  *
  * B = 257 (> any UTF-16 code unit's low byte spread), P = 2^61 - 1
  * (Mersenne: fast mod, huge collision space). Values are
  * engine-portable longs but the incremental recurrence is the point
  * — the spec proves h(i..i+w) matches the direct polynomial.
  */
object RollingHash {
  val B = 257L
  val P = 2305843009213693951L // 2^61 - 1

  /** (a * b) mod P without overflow for a,b < P, using 128-bit math. */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // fold 128-bit product into mod 2^61-1: (x mod 2^61) + (x >> 61)
    val lo61 = lo & P
    val hi61 = (hi << 3) | (lo >>> 61)
    var r = lo61 + hi61
    if (r >= P) r -= P
    r
  }

  /** All rolling window hashes of `text` (empty if len < window).
    * Iterates Unicode CODEPOINTS, not UTF-16 code units — the same
    * unit DuckDB's `ord(substr(...))` sees, so the oracle matches on
    * non-BMP text (emoji etc.), not just ASCII. */
  def rollingJvm(text: String, window: Int): Array[Long] = {
    val cps = text.codePoints().toArray
    val n = cps.length
    if (n < window) return Array.emptyLongArray
    var pow = 1L // B^(window-1) mod P
    var i = 0
    while (i < window - 1) { pow = mulmod(pow, B); i += 1 }
    val out = new Array[Long](n - window + 1)
    var h = 0L
    i = 0
    while (i < window) { h = (mulmod(h, B) + cps(i)) % P; i += 1 }
    out(0) = h
    i = window
    while (i < n) {
      val drop = mulmod(cps(i - window), pow)
      h = (h - drop + P) % P
      h = (mulmod(h, B) + cps(i)) % P
      out(i - window + 1) = h
      i += 1
    }
    out
  }

  /** Codegen kernel: UTF8String/ArrayData-typed static forwarder. */
  def rollingData(text: UTF8String, window: Int): ArrayData =
    new GenericArrayData(rollingJvm(text.toString, window))

  def rollingHashes(text: Column, window: Int): Column =
    Kernel.call(this, "rollingData", Kernel.LongArray, Seq(text), Seq(window))
}
