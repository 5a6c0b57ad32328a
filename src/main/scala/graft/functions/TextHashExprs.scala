package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the hot text-hashing path.
  *
  * The declarative form of this pipeline (a `transform` over the
  * token n-grams, md5 per gram) goes through interpreted higher-order
  * functions — ~16 µs/doc-gram of UTF8String/hex-string churn. These
  * kernels do the whole tokenize → n-gram → md5 → 60-bit-int pipeline
  * in ONE per-row JVM pass over primitive arrays (~50× less
  * overhead) while keeping the exact same bit-level semantics as the
  * SQL/DuckDB form (SURVEY.md §4): tokens = split on single spaces
  * with empties dropped; hash = first 15 hex digits of md5 as a long
  * (= unsigned(first 8 bytes) >>> 4).
  *
  * `minhashSigData` additionally folds the k universal-hash
  * permutations into the same pass, turning MinHash signatures into a
  * pure narrow map — no explode, no shuffle — which is exactly what
  * you want in front of a 100 TB corpus.
  */
object TextHash {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Per-thread scratch state for the byte-level kernels below (r14,
    * guide §4 "per-task work"): one MD5 instance with a reusable
    * 16-byte output buffer, growable token-boundary arrays, and a
    * generation-stamped open-address table for 128-bit gram dedup.
    * Everything here exists to make the per-ROW cost of the hot text
    * expressions allocation-free: the legacy `*Jvm` paths decode the
    * UTF8String to a java String (full copy), allocate a String per
    * token, RE-ENCODE each token/gram back to UTF-8 for md5, and
    * allocate a fresh 16-byte digest array per hash — pure churn,
    * since the UTF8String already holds the exact UTF-8 bytes md5
    * needs. The byte kernels hash slices of the original buffer
    * directly. Semantics are bit-identical on all VALID UTF-8 input
    * (parquet string columns are valid UTF-8 by spec; the String
    * round-trip would only differ by U+FFFD replacement on invalid
    * bytes, which cannot occur here) — FunctionsSpec drives the
    * byte kernels against the legacy string forms over random
    * unicode/multi-space/empty inputs. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val d16 = new Array[Byte](16)
    var tokOff = new Array[Int](64)
    var tokLen = new Array[Int](64)
    // open-address dedup table keyed by the FULL 128-bit md5 (not the
    // 60-bit output hash: a 60-bit birthday collision is plausible at
    // corpus scale and dedup-by-output would silently drop the second
    // gram; two DISTINCT grams sharing a full md5 do not occur outside
    // crafted collisions). Generation stamps avoid an O(table) clear
    // per document.
    var tblHi = new Array[Long](0)
    var tblLo = new Array[Long](0)
    var tblStamp = new Array[Int](0)
    var gen = 0
    var mask = 0

    /** Split `b[0,len)` on the space byte 0x20 (identical boundaries
      * to String.split(" ") on valid UTF-8: 0x20 never occurs inside
      * a multi-byte sequence), empties dropped. Fills tokOff/tokLen,
      * returns the token count. */
    def tokenize(b: Array[Byte], len: Int): Int = {
      var n = 0
      var i = 0
      while (i < len) {
        if (b(i) != ' ') {
          val s = i
          while (i < len && b(i) != ' ') i += 1
          if (n == tokOff.length) {
            tokOff = java.util.Arrays.copyOf(tokOff, n * 2)
            tokLen = java.util.Arrays.copyOf(tokLen, n * 2)
          }
          tokOff(n) = s
          tokLen(n) = i - s
          n += 1
        } else i += 1
      }
      n
    }

    /** Prepare the dedup table for ≤ `capacityHint` insertions. */
    def resetTable(capacityHint: Int): Unit = {
      var cap = 16
      while (cap < capacityHint * 2) cap <<= 1
      if (tblStamp.length < cap) {
        tblHi = new Array[Long](cap)
        tblLo = new Array[Long](cap)
        tblStamp = new Array[Int](cap)
        gen = 1
      } else {
        gen += 1
        if (gen == 0) { java.util.Arrays.fill(tblStamp, 0); gen = 1 }
      }
      mask = tblStamp.length - 1
    }

    /** Insert (hi, lo); true iff newly inserted. */
    def insert(hi: Long, lo: Long): Boolean = {
      var i = (hi ^ (hi >>> 33)).toInt & mask
      while (true) {
        if (tblStamp(i) != gen) {
          tblHi(i) = hi; tblLo(i) = lo; tblStamp(i) = gen
          return true
        }
        if (tblHi(i) == hi && tblLo(i) == lo) return false
        i = (i + 1) & mask
      }
      false
    }

    /** md5 of the n-gram starting at token `i` (tokens joined by one
      * space), streamed straight from the document's byte buffer into
      * [[d16]] — no gram string, no encode, no per-call allocation. */
    def md5Gram(b: Array[Byte], i: Int, n: Int): Unit = {
      md.update(b, tokOff(i), tokLen(i))
      var o = 1
      while (o < n) {
        md.update(' '.toByte)
        md.update(b, tokOff(i + o), tokLen(i + o))
        o += 1
      }
      md.digest(d16, 0, 16)
    }

    def digestHi: Long =
      ((d16(0) & 0xffL) << 56) | ((d16(1) & 0xffL) << 48) |
        ((d16(2) & 0xffL) << 40) | ((d16(3) & 0xffL) << 32) |
        ((d16(4) & 0xffL) << 24) | ((d16(5) & 0xffL) << 16) |
        ((d16(6) & 0xffL) << 8) | (d16(7) & 0xffL)

    def digestLo: Long =
      ((d16(8) & 0xffL) << 56) | ((d16(9) & 0xffL) << 48) |
        ((d16(10) & 0xffL) << 40) | ((d16(11) & 0xffL) << 32) |
        ((d16(12) & 0xffL) << 24) | ((d16(13) & 0xffL) << 16) |
        ((d16(14) & 0xffL) << 8) | (d16(15) & 0xffL)
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Byte-level [[gramHashesJvm]]: distinct hashed word n-grams in
    * first-occurrence order, md5-streamed from the UTF8String's bytes
    * (dedup on the full 128-bit md5 — see [[Scratch]]). */
  def gramHashesBytes(text: UTF8String, n: Int): Array[Long] = {
    val s = scratch.get()
    val b = text.getBytes
    val nt = s.tokenize(b, b.length)
    if (nt < n) return Array.emptyLongArray
    val maxG = nt - n + 1
    s.resetTable(maxG)
    val out = new Array[Long](maxG)
    var k = 0
    var i = 0
    while (i < maxG) {
      s.md5Gram(b, i, n)
      val hi = s.digestHi
      if (s.insert(hi, s.digestLo)) { out(k) = hi >>> 4; k += 1 }
      i += 1
    }
    if (k == maxG) out else java.util.Arrays.copyOf(out, k)
  }

  // A byte-level gramStrings variant (md5-table dedup instead of the
  // LinkedHashSet) was built and MEASURED SLOWER at sf10
  // (q_ngram_topk 12.67 → 13.18 s): when the output is the gram
  // STRING, dedup by string hash is cheaper than an md5 per gram —
  // md5 only pays for itself when the hash itself is the output
  // (gramHashesBytes) or feeds the signature math (minhashSigBytes).
  // Reverted; the legacy gramsJvm path below stays the gramStrings
  // implementation.

  /** Byte-level chunk hashes (r14): hash60 of every overlapping
    * `width`-token window starting at 0, stride, 2·stride, … < n_tokens
    * (the [[graft.operators.CurationOps.chunkFrame]] grid — the final
    * window is short when fewer than `width` tokens remain), each
    * md5-streamed straight from the document's bytes. Replaces the
    * `hash60(array_join(slice(tokens(text), …), " "))` chain for
    * consumers that need ONLY the hashes: one tokenize pass and zero
    * per-chunk string materialization instead of an array<string>
    * build + slice + join + UTF-8 re-encode per chunk. Empty array for
    * token-less docs (the chain's `filter(n_tokens >= 1)` +
    * explode(sequence(..)) emits nothing for them). */
  def chunkHashesBytes(text: UTF8String, width: Int, stride: Int): Array[Long] = {
    val s = scratch.get()
    val b = text.getBytes
    val nt = s.tokenize(b, b.length)
    if (nt == 0) return Array.emptyLongArray
    val nChunks = (nt - 1) / stride + 1
    val out = new Array[Long](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * stride
      val w = if (width < nt - start) width else nt - start
      s.md5Gram(b, start, w)
      out(c) = s.digestHi >>> 4
      c += 1
    }
    out
  }

  /** Byte-level [[simhashJvm]]: per-token md5 streamed from the
    * document buffer, branchless per-bit counter update. */
  def simhashBytes(text: UTF8String, bits: Int): Long = {
    val s = scratch.get()
    val b = text.getBytes
    val nt = s.tokenize(b, b.length)
    if (nt == 0) return -1L
    val v = new Array[Int](bits)
    var i = 0
    while (i < nt) {
      s.md.update(b, s.tokOff(i), s.tokLen(i))
      s.md.digest(s.d16, 0, 16)
      val h = s.digestHi >>> 4
      var bb = 0
      while (bb < bits) {
        v(bb) += ((((h >>> bb) & 1L) << 1) - 1L).toInt
        bb += 1
      }
      i += 1
    }
    var out = 0L
    var bb = 0
    while (bb < bits) { if (v(bb) > 0) out |= (1L << bb); bb += 1 }
    out
  }

  /** Byte-level [[minhashSigJvm]]. Gram DEDUP is intentionally
    * skipped: sig_i = min over grams of a permuted hash, and the min
    * of a multiset equals the min of its support — duplicate grams
    * cannot change any signature slot, so the distinct pass the
    * legacy form inherited from [[gramHashesJvm]] was pure cost. */
  def minhashSigBytes(text: UTF8String, n: Int,
      pa: Array[Long], pb: Array[Long]): Array[Long] = {
    val s = scratch.get()
    val b = text.getBytes
    val nt = s.tokenize(b, b.length)
    val k = pa.length
    val sig = Array.fill(k)(Long.MaxValue)
    if (nt < n) return sig
    val maxG = nt - n + 1
    var gi = 0
    while (gi < maxG) {
      s.md5Gram(b, gi, n)
      val hm = (s.digestHi >>> 4) % TextFunctions.MinhashP
      var i = 0
      while (i < k) {
        val v = (pa(i) * hm + pb(i)) % TextFunctions.MinhashP
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      gi += 1
    }
    sig
  }

  /** First 15 hex digits of md5(s) as a non-negative long. */
  def hash60Jvm(s: String): Long = {
    val d = digest.get().digest(s.getBytes("UTF-8"))
    val hi =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    hi >>> 4
  }

  /** split(' ') with empties dropped — same as the SQL form. */
  def tokensJvm(text: String): Array[String] = {
    val parts = text.split(" ", -1)
    val out = new Array[String](parts.length)
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(n) = parts(i); n += 1 }
      i += 1
    }
    if (n == parts.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Distinct space-joined word n-grams, first-occurrence order. */
  def gramsJvm(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val tk = tokensJvm(text)
    val seen = new java.util.LinkedHashSet[String](tk.length * 2)
    if (tk.length < n) return seen
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tk.length - n) {
      sb.setLength(0)
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        sb.append(tk(i + o))
        o += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** Distinct hashed word n-grams, first-occurrence order. */
  def gramHashesJvm(text: String, n: Int): Array[Long] = {
    val seen = gramsJvm(text, n)
    val out = new Array[Long](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = hash60Jvm(it.next()); j += 1 }
    out
  }

  /** k-permutation MinHash signature over hashed n-grams; null-marker
    * Long.MaxValue when the doc has no grams (filtered upstream). */
  def minhashSigJvm(text: String, n: Int, ab: Array[(Long, Long)]): Array[Long] = {
    val gs = gramHashesJvm(text, n)
    val k = ab.length
    val sig = Array.fill(k)(Long.MaxValue)
    var gi = 0
    while (gi < gs.length) {
      val hm = gs(gi) % TextFunctions.MinhashP
      var i = 0
      while (i < k) {
        val v = (ab(i)._1 * hm + ab(i)._2) % TextFunctions.MinhashP
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      gi += 1
    }
    sig
  }

  /** SimHash of caller-supplied width (`bits`; DedupOps uses 60) over
    * whitespace tokens (with multiplicity): bit b
    * set iff Σ_tokens (2·bit_b(hash60(tok)) − 1) > 0. Per-bit sums are
    * order-independent integers → identical to the explode+groupBy
    * form and the DuckDB oracle. Token-less docs return -1 (a value
    * no real signature can take) so callers can filter them — the
    * oracle's `unnest(tokens)` naturally drops such docs, and two
    * empty docs must NOT count as Hamming-0 near-dups. */
  def simhashJvm(text: String, bits: Int): Long = {
    val tk = tokensJvm(text)
    if (tk.isEmpty) return -1L
    val v = new Array[Int](bits)
    var i = 0
    while (i < tk.length) {
      val h = hash60Jvm(tk(i))
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Two-pointer intersection count of two SORTED long arrays — the
    * shared verify kernel for every Jaccard-style pair operator. */
  def intersectCountJvm(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  // ---- codegen kernels: ArrayData/UTF8String-typed static forwarders
  // ---- called from both generated Java and the interpreted evals ----

  def gramHashesData(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(gramHashesBytes(text, n))

  def gramStringsData(text: UTF8String, n: Int): ArrayData = {
    val seen = gramsJvm(text.toString, n)
    val out = new Array[Any](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  def simhashData(text: UTF8String, bits: Int): Long =
    simhashBytes(text, bits)

  /** Single-pass equivalent of the #85 normalization pipeline
    * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]",
    * " "), " +", " "))`: ASCII bytes are lowercased and folded
    * in one scan (each non-[a-z0-9 ] code point becomes a space,
    * space runs collapse, ends trim) — the regex form was measured at
    * ~38 s of a 40 s sf10 query (java.util.regex match/append per
    * replaced char). Any NON-ASCII input falls back to the literal
    * legacy pipeline (UTF8String.toLowerCase = what Spark's `lower`
    * calls, then the same two java.util.regex replaceAll passes Spark's
    * `regexp_replace` runs), so the bit-level §4 oracle contract is
    * preserved on every input, not just the corpus's. */
  def normTextData(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < b.length) { if (b(i) < 0) ascii = false; i += 1 }
    if (!ascii) {
      val t = s.toLowerCase.toString
        .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
      return UTF8String.fromString(t)
    }
    val out = new Array[Byte](b.length)
    var n = 0
    var pending = false // a space is owed before the next kept char
    i = 0
    while (i < b.length) {
      var c = b(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pending && n > 0) { out(n) = ' '; n += 1 }
        pending = false
        out(n) = c; n += 1
      } else pending = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  def intersectCountData(a: ArrayData, b: ArrayData): Long =
    intersectCountJvm(a.toLongArray(), b.toLongArray()).toLong

  /** The min(floor(n/2)+k, n) SMALLEST grams of a hash-SORTED gram
    * set under the df-aware total order (rank(g), g), where rank(g) =
    * the gram's slot in the bounded hot-gram table (1..K ascending by
    * document frequency) and 0 for every gram outside it. Any fixed
    * total order preserves the k-EXTENDED AllPairs J ≥ 1/2
    * prefix-recall lemma ([[graft.operators.DedupOps.dedupNgram]]:
    * a J ≥ 1/2 pair shares ≥ min(k, ceil((n_a+n_b)/3)) grams between
    * the two extended prefixes); ordering hot boilerplate grams LAST
    * pushes them out of every prefix, so the candidate join's biggest
    * groups (group size = gram df) vanish. The hot table is a pure
    * performance hint — a wrong/stale/sampled df estimate can only
    * change candidate COUNT, never the verified output.
    *
    * One pass: non-hot grams stream out in existing (hash) order; hot
    * grams collect into a ≤K side buffer appended in (rank, hash)
    * order only when the non-hot stream runs short of the prefix
    * length. `hot` must be sorted ascending (binary-searched). */
  def dfPrefixJvm(gs: Array[Long], hot: Array[Long], rank: Array[Int],
      k: Int): Array[Long] = {
    val n = gs.length
    val pLen = math.min(n / 2 + k, n)
    val out = new Array[Long](pLen)
    var oi = 0
    var hotN = 0
    var hotKeys: Array[Long] = null // the hot gram's RANK (plain, not packed)
    var hotGs: Array[Long] = null
    var i = 0
    while (i < n && oi < pLen) {
      val g = gs(i)
      if (java.util.Arrays.binarySearch(hot, g) < 0) { out(oi) = g; oi += 1 }
      else {
        if (hotGs == null) { hotGs = new Array[Long](n - i); hotKeys = new Array[Long](n - i) }
        hotGs(hotN) = g; hotN += 1
      }
      i += 1
    }
    if (oi == pLen) return out
    // non-hot grams exhausted before the prefix filled: append hot
    // grams in (rank, hash) order. Hashes are 60-bit; rank ≤ K < 2^16
    // does NOT fit a packed key safely, so sort (rank, g) pairs via
    // indices on a boxed-free two-array insertion (hotN is small: it
    // is bounded by the doc's HOT gram count, itself ≤ K).
    var m = 0
    while (m < hotN) {
      hotKeys(m) = rank(java.util.Arrays.binarySearch(hot, hotGs(m))).toLong
      m += 1
    }
    // insertion sort by (key, gram) — hotN is tiny in practice
    m = 1
    while (m < hotN) {
      val kk = hotKeys(m); val gg = hotGs(m)
      var j = m - 1
      while (j >= 0 && (hotKeys(j) > kk || (hotKeys(j) == kk && hotGs(j) > gg))) {
        hotKeys(j + 1) = hotKeys(j); hotGs(j + 1) = hotGs(j); j -= 1
      }
      hotKeys(j + 1) = kk; hotGs(j + 1) = gg
      m += 1
    }
    m = 0
    while (oi < pLen && m < hotN) { out(oi) = hotGs(m); oi += 1; m += 1 }
    if (oi == pLen) out else java.util.Arrays.copyOf(out, oi)
  }

  def dfPrefixData(gs: ArrayData, hot: Array[Long], rank: Array[Int],
      k: Int): ArrayData =
    new GenericArrayData(dfPrefixJvm(gs.toLongArray(), hot, rank, k))

  /** The k permutations' (a_i), (b_i) columns, derived from
    * [[TextFunctions.minhashAB]] once per k. */
  private val minhashTables =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Long]]]()

  def minhashSigData(text: UTF8String, n: Int, k: Int): ArrayData = {
    val ab = minhashTables.computeIfAbsent(k, _ => {
      val t = TextFunctions.minhashAB(k)
      Array(t.map(_._1).toArray, t.map(_._2).toArray)
    })
    new GenericArrayData(minhashSigBytes(text, n, ab(0), ab(1)))
  }

  def gramHashes(text: Column, n: Int): Column =
    Kernel.call(this, "gramHashesData", Kernel.LongArray, Seq(text), Seq(n))

  /** Distinct n-gram STRINGS (not hashes) — for operators whose
    * output is the human-readable gram, e.g. vocabulary profiling. */
  def gramStrings(text: Column, n: Int): Column =
    Kernel.call(this, "gramStringsData",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(n))

  def chunkHashesData(text: UTF8String, width: Int, stride: Int): ArrayData =
    new GenericArrayData(chunkHashesBytes(text, width, stride))

  /** hash60 of every width-token window at the given stride — see
    * [[chunkHashesBytes]]. */
  def chunkHashes(text: Column, width: Int, stride: Int): Column =
    Kernel.call(this, "chunkHashesData", Kernel.LongArray, Seq(text),
      Seq(width, stride))

  /** n_common of two SORTED long-array columns (a two-pointer merge
    * walk) — lets Jaccard verification stay fully declarative after an
    * equi join, with no driver-side gram map (VERDICT r1 #1). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Kernel.call(this, "intersectCountData", LongType, Seq(a, b))

  def simhash(text: Column, bits: Int): Column =
    Kernel.call(this, "simhashData", LongType, Seq(text), Seq(bits))

  def minhashSig(text: Column, n: Int, k: Int): Column =
    Kernel.call(this, "minhashSigData", Kernel.LongArray, Seq(text), Seq(n, k))

  /** df-ordered AllPairs prefix of a sorted gram-set column — see
    * [[dfPrefixJvm]]. `hot`/`rank` ride into codegen as reference
    * objects (the table is bounded, ≤ [[graft.operators.DedupOps.HotGramK]]
    * entries — a few KB in the task closure, never a shuffle). */
  def dfPrefix(gs: Column, hot: Array[Long], rank: Array[Int],
      k: Int = 1): Column =
    ColumnBridge.column(DfPrefixExpr(ColumnBridge.expression(gs),
      hot.toIndexedSeq, rank.toIndexedSeq, k))

  /** The #85 normalization fold — see [[normTextData]]: the
    * lowercase/strip/collapse/trim normalization in one pass. */
  def normText(text: Column): Column =
    Kernel.call(this, "normTextData", StringType, Seq(text))
}

/** [[TextHash.dfPrefixJvm]] as a codegen'd unary expression; the hot
  * table and its order ranks are plan-time constants shipped as
  * codegen reference objects. It is not a [[Kernel.call]] row because
  * the kernel binary-searches the table (up to
  * [[graft.operators.DedupOps.HotGramK]] entries) for every gram: an
  * `Array[Long]` literal arrives as a `GenericArrayData` of boxed
  * longs, so each probe would unbox, or each row would copy it back
  * into a `long[]`. The tables are held as IndexedSeq, NOT bare
  * arrays: case-class equality over arrays is reference-based, so two
  * semantically identical expressions would never compare equal and
  * plan canonicalization / subexpression reuse would silently stop
  * working for this node. Arrays are materialized once, lazily, for
  * the eval/codegen hot path. */
case class DfPrefixExpr(child: Expression, hot: IndexedSeq[Long],
    rank: IndexedSeq[Int], k: Int)
    extends UnaryExpression {
  private lazy val hotArr: Array[Long] = hot.toArray
  private lazy val rankArr: Array[Int] = rank.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(gs: Any): Any =
    TextHash.dfPrefixData(gs.asInstanceOf[ArrayData], hotArr, rankArr, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hotRef = ctx.addReferenceObj("dfPrefixHot", hotArr, "long[]")
    val rankRef = ctx.addReferenceObj("dfPrefixRank", rankArr, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHash.dfPrefixData($c, $hotRef, $rankRef, $k);")
  }
  override protected def withNewChildInternal(c: Expression): DfPrefixExpr =
    copy(child = c)
  override def prettyName: String = "df_prefix"
}
