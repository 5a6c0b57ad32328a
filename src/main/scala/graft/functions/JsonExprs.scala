package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, GetJsonObject, Literal}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Narrow JSON field extraction for the q_json_extract hot path (r14,
  * guide §4: built-in-equivalent, codegen-friendly, parses only the
  * referenced path).
  *
  * [[jsonLongKey]](json, k) ≡ `CAST(get_json_object(json, '$.k') AS
  * BIGINT)` — which is ALSO the oracle's own definition
  * (`CAST(json_extract_string(props, '$.k') AS BIGINT)`), so the swap
  * moves the Spark side CLOSER to the declared semantics than the old
  * `from_json(... 'k LONG')` struct parse while eliminating its
  * per-row costs (a full Jackson tokenization of the document, a
  * FailureSafeParser wrapper, and an InternalRow allocation per row).
  *
  * Two tiers, chosen PER VALUE at runtime:
  *   - **fast path**: a strict byte-level scanner for flat JSON
  *     objects whose keys contain no escapes and whose values are all
  *     plain integer literals — `{"k": 87, "j": -3}` shapes. It
  *     returns the target key's value directly (first occurrence, no
  *     allocation, no Jackson) and REFUSES (falls through) on
  *     anything else: nesting, strings, floats, exponents, literals,
  *     escapes, duplicate target keys, 19+-digit magnitudes, or any
  *     trailing bytes — refusal is based on the WHOLE document, so a
  *     value is only returned when the strict grammar provably
  *     matched end to end.
  *   - **slow path**: Spark's own [[GetJsonObject]] expression
  *     instance (per thread, per key) evaluated on the value, followed
  *     by the exact non-ANSI string→long cast
  *     (`UTF8String.toLong(LongWrapper)` — the same call
  *     `Cast.castToLong` compiles to). Bit-identical to the built-in
  *     composition by construction, for every input the fast scanner
  *     declines.
  *
  * PropertySpec pins fast-path agreement with the slow path over
  * random JSON (well-formed and malformed). */
object JsonExprs {

  /** Nullable LONG; null when the key is absent, the document is
    * malformed, or the extracted text does not cast to BIGINT (all
    * exactly as `CAST(get_json_object(..) AS BIGINT)` decides them) —
    * the kernel's boxed null is the SQL NULL. */
  def jsonLongKey(json: Column, key: String): Column =
    Kernel.call(this, "longKey", LongType, Seq(json), Seq(key),
      returnNullable = true)

  /** Per-thread slow-path state: Spark's GetJsonObject over a bound
    * input slot, one instance per JSON key. */
  private final class SlowPath {
    private val exprs = new java.util.HashMap[String, GetJsonObject]
    val row = new GenericInternalRow(1)
    def expr(key: String): GetJsonObject = {
      var e = exprs.get(key)
      if (e == null) {
        e = GetJsonObject(BoundReference(0, StringType, nullable = true),
          Literal(UTF8String.fromString("$." + key), StringType))
        exprs.put(key, e)
      }
      e
    }
    val lw = new UTF8String.LongWrapper
  }

  private val slow = new ThreadLocal[SlowPath] {
    override def initialValue(): SlowPath = new SlowPath
  }

  /** `CAST(get_json_object(json, '$.key') AS BIGINT)`, boxed (null =
    * SQL NULL). Called from generated code and the interpreted eval. */
  def longKey(json: UTF8String, key: UTF8String): java.lang.Long = {
    val b = json.getBytes
    val kb = key.getBytes
    val n = b.length
    var i = 0
    while (i < n && isWs(b(i))) i += 1
    var found = false
    var out = 0L
    // strict fast scan; any deviation falls through to the slow path
    if (i < n && b(i) == '{') {
      i += 1
      while (i < n && isWs(b(i))) i += 1
      var ok = i < n
      var done = i < n && b(i) == '}' // empty object
      if (done) i += 1
      while (ok && !done) {
        if (i >= n || b(i) != '"') ok = false
        else {
          i += 1
          val ks = i
          while (i < n && b(i) != '"' && b(i) != '\\') i += 1
          if (i >= n || b(i) == '\\') ok = false
          else {
            val isTarget = (i - ks) == kb.length && {
              var j = 0
              var eq = true
              while (eq && j < kb.length) { eq = b(ks + j) == kb(j); j += 1 }
              eq
            }
            i += 1
            while (i < n && isWs(b(i))) i += 1
            if (i >= n || b(i) != ':') ok = false
            else {
              i += 1
              while (i < n && isWs(b(i))) i += 1
              // value: plain integer literal only
              var neg = false
              if (i < n && b(i) == '-') { neg = true; i += 1 }
              val ds = i
              var v = 0L
              while (i < n && b(i) >= '0' && b(i) <= '9') {
                v = v * 10 + (b(i) - '0'); i += 1
              }
              val nd = i - ds
              // 0 digits = not a number; >18 digits risks overflow;
              // a leading-zero multi-digit literal ("007") is invalid
              // JSON Jackson may reject — decline all of these
              if (nd == 0 || nd > 18 || (nd > 1 && b(ds) == '0')) ok = false
              else if (i < n && (b(i) == '.' || b(i) == 'e' || b(i) == 'E')) ok = false
              else {
                if (isTarget) {
                  if (found) ok = false // duplicate target key: defer to Jackson
                  else { found = true; out = if (neg) -v else v }
                }
                while (i < n && isWs(b(i))) i += 1
                if (i < n && b(i) == ',') {
                  i += 1
                  while (i < n && isWs(b(i))) i += 1
                } else if (i < n && b(i) == '}') { done = true; i += 1 }
                else ok = false
              }
            }
          }
        }
      }
      if (ok && done) {
        while (i < n && isWs(b(i))) i += 1
        if (i == n) return if (found) java.lang.Long.valueOf(out) else null
      }
    }
    longKeySlow(json, key)
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** The reference composition itself: Spark's GetJsonObject + the
    * exact non-ANSI string→long cast. */
  def longKeySlow(json: UTF8String, key: UTF8String): java.lang.Long = {
    val s = slow.get()
    s.row.update(0, json)
    s.expr(key.toString).eval(s.row) match {
      case null => null
      case u: UTF8String =>
        if (u.toLong(s.lw)) java.lang.Long.valueOf(s.lw.value) else null
    }
  }
}
