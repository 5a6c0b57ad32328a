package graft

import graft.functions.{RollingHash, TextHash, VectorFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native expressions ship real `doGenCode` (not CodegenFallback)
  * so the scan→project→join stages around them stay inside
  * whole-stage codegen. Two properties gate that:
  *
  *  1. the generated Java COMPILES — run under
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, where a codegen
  *     failure throws instead of silently falling back to the
  *     interpreted projection;
  *  2. codegen and interpreted eval agree bit-for-bit — run the same
  *     frame under `NO_CODEGEN` and exact-compare.
  *
  * The frames are local `Seq`s, whose projections the optimizer would
  * otherwise fold into a `LocalRelation` — evaluated interpreted in
  * BOTH modes — so `ConvertToLocalRelation` is excluded here; and
  * whole-stage codegen ignores the factory mode, so the `NO_CODEGEN`
  * side also turns it off.
  */
class CodegenSpec extends SparkTestBase {

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  private def collectUnder(mode: String)(df: => DataFrame): Seq[String] = {
    val confs = Seq(
      FactoryMode -> mode,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
      "spark.sql.codegen.wholeStage" -> (mode != "NO_CODEGEN").toString)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().map(_.toString).toSeq.sorted
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def exprFrame: DataFrame = {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the dog"),
      (3L, "completely different words here"),
      (4L, ""),
      (5L, "emoji 😀 text and more tokens to hash")
    ).toDF("id", "text")
    // jsonLongKey inputs: fast path, missing key, malformed document,
    // slow path (a string value that casts), NULL document
    val props = Seq(
      (1L, """{"k": 87, "j": -3}"""),
      (2L, """{"j": 5}"""),
      (3L, """{"k": 4"""),
      (4L, """{"k": "12"}"""),
      (5L, null)
    ).toDF("id", "props")
    val emb = Seq(
      (1L, Array(0.1f, -0.2f, 0.3f, 0.0005f)),
      (2L, Array(0.1f, -0.2f, 0.3f, -0.0005f)),
      (3L, Array(-1.0f, 1.0f, 0.5f, 0.25f))
    ).toDF("vid", "embedding")
    val q = VectorFunctions.quantize(col("embedding"))
    val e = emb.select(
      col("vid"),
      q.as("q"),
      VectorFunctions.norm2(q).as("n2"),
      VectorFunctions.dotL(q, q).as("self_dot"),
      // mismatched lengths must yield NULL (zip_with pad semantics)
      VectorFunctions.dotL(q, slice(q, 1, 2)).as("mismatch_dot"))
    val t = docs.join(props, "id").select(
      col("id"),
      TextHash.gramHashes(col("text"), 3).as("grams"),
      TextHash.simhash(col("text"), 60).as("sh"),
      TextHash.minhashSig(col("text"), 3, 16).as("sig"),
      RollingHash.rollingHashes(col("text"), 8).as("rolling"),
      TextHash.gramStrings(col("text"), 2).as("gram_strs"),
      graft.functions.VectorExprs.sumMod(
        TextHash.gramHashes(col("text"), 3), 1000000007L).as("sum_mod"),
      graft.functions.TextFunctions.markerHits(
        graft.functions.TextFunctions.tokens(col("text")),
        graft.functions.TextFunctions.enMarkers).as("marker_hits"),
      graft.functions.TextSetExprs.maxTokenCount(
        graft.functions.TextFunctions.tokens(col("text"))).as("top_tok"),
      graft.functions.TextSetExprs.sumSqTokenCounts(
        graft.functions.TextFunctions.tokens(col("text"))).as("ssq_tok"),
      TextHash.chunkHashes(col("text"), 4, 2).as("chunks"),
      TextHash.normText(col("text")).as("norm"),
      graft.functions.JsonExprs.jsonLongKey(col("props"), "k").as("jk"))
    val tt = t.select(
      col("id"), col("grams"), col("sh"), col("sig"), col("rolling"),
      col("gram_strs"), col("sum_mod"), col("marker_hits"),
      col("top_tok"), col("ssq_tok"), col("chunks"), col("norm"), col("jk"),
      // packed pids = doc·8 + size: one size-incompatible pair (2 vs 5)
      graft.functions.TextSetExprs.packedCandPairs(
        array(lit(9L), col("id") * 8 + 2, lit(21L), col("id") * 8 + 5),
        8L).as("packed"),
      TextHash.sortedIntersectCount(
        sort_array(col("grams")), sort_array(col("grams"))).as("self_common"),
      TextHash.dfPrefix(sort_array(col("grams")),
        Array(3L, 17L, 40L), Array(2, 1, 3)).as("df_prefix"),
      graft.functions.TextSetExprs.orderedPairs(
        slice(sort_array(col("grams")), 1, 5)).as("pairs5"),
      graft.functions.LayoutFunctions.zvalue(
        pmod(col("id"), lit(4)), col("id"), 7).as("zv"))
    tt.crossJoin(e)
  }

  test("DfPrefixExpr compares by table VALUES, not array reference") {
    // reference-equality here would defeat plan canonicalization and
    // subexpression reuse: two builds of the same hot table are
    // different array objects every time
    import graft.functions.DfPrefixExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val child = Literal.create(Array(1L, 2L), ArrayType(LongType, containsNull = false))
    // two separately-built table copies (distinct objects, equal values)
    val a = DfPrefixExpr(child, Array(3L, 17L, 40L).toIndexedSeq, Array(2, 1, 3).toIndexedSeq, 1)
    val b = DfPrefixExpr(child, Array(3L, 17L, 40L).toIndexedSeq, Array(2, 1, 3).toIndexedSeq, 1)
    val c = DfPrefixExpr(child, Array(3L, 17L, 41L).toIndexedSeq, Array(2, 1, 3).toIndexedSeq, 1)
    assert(a == b, "equal tables must compare equal")
    assert(a.hashCode == b.hashCode, "equal expressions must hash equal")
    assert(a.semanticEquals(b), "equal tables must be semantically equal")
    assert(a != c, "different tables must not compare equal")
  }

  test("normText equals the two-regex normalization pipeline in both codegen modes") {
    import spark.implicits._
    val rows = Seq(
      "The QUICK  brown   Fox!!",
      "  leading and trailing   ",
      "punct,;:!?~#$%^&*()[]{}mix3d CASE 42",
      "",
      "   ",
      "---",
      "a",
      "Z9",
      "tab\tand\nnewline chars",
      "emoji 😀 and ümlauts Übel ÀÉÎ", // non-ASCII: exercises the fallback path
      "ÀB c", "下雨天 mixed ascii 后",
      "double  space~123 suffix~456 tokens"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text").select(
      col("id"),
      TextHash.normText(col("text")).as("fold"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("rx"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val got = collectUnder(mode)(df)
      assert(got.nonEmpty)
      val bad = collectUnder(mode)(df.filter(col("fold") =!= col("rx")))
      assert(bad.isEmpty, s"normText diverges from the regex pipeline under $mode: $bad")
    }
  }

  test("native expressions compile under CODEGEN_ONLY and match interpreted eval") {
    val gen = collectUnder("CODEGEN_ONLY")(exprFrame)
    val interp = collectUnder("NO_CODEGEN")(exprFrame)
    assert(gen.nonEmpty)
    assert(gen == interp)
  }

  test("dot_long is NULL on mismatched lengths in both modes") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("a", "b")
      .select(VectorFunctions.dotL(col("a"), col("b")).as("d"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val rows = collectUnder(mode)(df)
      assert(rows == Seq("[null]"), s"mode=$mode got $rows")
    }
  }
}
