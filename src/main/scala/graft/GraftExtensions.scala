package graft

import graft.functions.{LayoutFunctions, RollingHash, TextFunctions, TextHash, TextSetExprs, VectorFunctions}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL surface for graft's native expressions, injected via
  * `SparkSessionExtensions` — the Spark-idiomatic way to ship an
  * operator library: any SQL user (or JDBC/Thrift client) on a
  * session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) can call
  *
  *   graft_gram_hashes(text, n)     — distinct hashed word n-grams
  *   graft_gram_strings(text, n)    — distinct word n-gram strings
  *   graft_minhash_sig(text, n, k)  — k-permutation MinHash signature
  *   graft_rolling_hashes(text, w)  — Rabin–Karp window fingerprints
  *   graft_count_in_set(arr, csv)   — elements present in a
  *                                    comma-separated literal set
  *   graft_max_token_count(arr)     — top element multiplicity
  *   graft_zvalue(x, y, bits)       — Morton z-order interleave
  *   graft_ordered_pairs(ids)       — C(n,2) (min,max) id pairs
  *   graft_quantize(emb)            — e3 integer quantization of a
  *                                    float embedding (the §4 vector
  *                                    determinism contract)
  *   graft_dot(a, b)                — BIGINT dot of two long arrays
  *   graft_norm2(a)                 — BIGINT squared norm
  *
  * without touching the Scala API. Each function is one row of
  * [[GraftExtensions.functions]] and builds through the same Column
  * builder the Scala API uses. Shape parameters must be integer
  * literals; arity and literal-ness are validated when the analyzer
  * resolves the call, with a usage message rather than an internal
  * index error.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    for (f <- GraftExtensions.functions) ext.injectFunction((
      new FunctionIdentifier(f.name),
      new ExpressionInfo(classOf[GraftExtensions].getName, f.name),
      (args: Seq[Expression]) => {
        if (args.size != f.arity) throw new IllegalArgumentException(
          s"${f.name} expects ${f.arity} arguments: ${f.usage}; got ${args.size}")
        ColumnBridge.convert(f.build(new GraftExtensions.Args(f.name, args)))
      }))
}

object GraftExtensions {

  /** One SQL function: its name, usage string, arity and builder. */
  private final case class SqlFunction(name: String, usage: String, arity: Int,
      build: Args => Column)

  /** The arguments of one call, read as columns or literal shape
    * parameters; a bad literal fails with the function's name. */
  private final class Args(fn: String, args: Seq[Expression]) {
    def col(i: Int): Column = ColumnBridge.column(args(i))

    def int(i: Int, arg: String): Int = args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }

    def csv(i: Int, arg: String): Seq[String] = args(i) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        // trim around commas ('the, a, of' means the/a/of, not ' a');
        // reject empties so a trailing comma fails loudly instead of
        // silently shrinking the set. Markers cannot contain commas.
        val parts = v.toString.split(",", -1).map(_.trim).toSeq
        if (parts.exists(_.isEmpty)) throw new IllegalArgumentException(
          s"$fn: $arg has an empty element (leading/trailing/double comma): '$v'")
        parts
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a comma-separated string literal, got $other")
    }
  }

  private val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_gram_hashes", "(text, n)", 2,
      a => TextHash.gramHashes(a.col(0), a.int(1, "n"))),
    SqlFunction("graft_minhash_sig", "(text, n, k)", 3,
      a => TextHash.minhashSig(a.col(0), a.int(1, "n"), a.int(2, "k"))),
    SqlFunction("graft_rolling_hashes", "(text, window)", 2,
      a => RollingHash.rollingHashes(a.col(0), a.int(1, "w"))),
    SqlFunction("graft_gram_strings", "(text, n)", 2,
      a => TextHash.gramStrings(a.col(0), a.int(1, "n"))),
    SqlFunction("graft_count_in_set", "(arr, 'a,b,c')", 2,
      a => TextFunctions.markerHits(a.col(0), a.csv(1, "set"))),
    SqlFunction("graft_max_token_count", "(arr)", 1,
      a => TextSetExprs.maxTokenCount(a.col(0))),
    SqlFunction("graft_zvalue", "(x, y, bits)", 3,
      a => LayoutFunctions.zvalue(a.col(0), a.col(1), a.int(2, "bits"))),
    SqlFunction("graft_quantize", "(emb)", 1,
      a => VectorFunctions.quantize(a.col(0))),
    SqlFunction("graft_dot", "(a, b)", 2,
      a => VectorFunctions.dotL(a.col(0), a.col(1))),
    SqlFunction("graft_norm2", "(a)", 1,
      a => VectorFunctions.norm2(a.col(0))),
    SqlFunction("graft_ordered_pairs", "(ids)", 1,
      a => TextSetExprs.orderedPairs(a.col(0))))
}
