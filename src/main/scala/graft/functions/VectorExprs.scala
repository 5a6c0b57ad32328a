package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native kernels for the embedding hot path — the implementations
  * behind [[VectorFunctions.quantize]] / `dotL` / `norm2`.
  *
  * The declarative forms (`transform`/`zip_with`/`aggregate`) are
  * INTERPRETED higher-order functions — ~128 lambda invocations per
  * 64-dim dot product, which dominates every ANN / embedding-dedup
  * query (NOTES.md measured ~50× penalty vs a JVM loop). These
  * kernels keep the exact integer semantics of the HOF forms
  * (and of the DuckDB oracles) while running one tight primitive
  * loop per row. All are one-pass and evaluated inside the scan/join
  * projections — no change to plan shape.
  *
  * Each one is a static call from generated code — through
  * [[Kernel.call]], except `quantize`, whose [[QuantizeE3Expr]] reads
  * the child's element type. This matters beyond saving a virtual
  * dispatch: `CollapseCodegenStages` refuses whole-stage codegen for
  * ANY plan node containing a `CodegenFallback` expression, so a
  * fallback here would knock the entire scan→project→join stage onto
  * the slow iterator path. With real codegen the ANN/dedup stages
  * stay inside one `WholeStageCodegen` span (asserted in PlanSpec).
  */
object VectorExprs {

  // ---- codegen kernels (static forwarders; called from generated
  // ---- Java and from the interpreted eval paths) --------------------

  def quantizeData(a: ArrayData, elemIsDouble: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (elemIsDouble) a.getDouble(i) else a.getFloat(i).toDouble
      out(i) = VectorFunctions.roundHalfUp(x * 1000)
      i += 1
    }
    // primitive-backed: a GenericArrayData over Array[Long] boxes every
    // element, which the typed consumers of `quantVecs` then unbox
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Dot product; caller guarantees equal lengths. */
  def dotData(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var dot = 0L
    var i = 0
    while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
    dot
  }

  def norm2Data(a: ArrayData): Long = {
    val n = a.numElements()
    var n2 = 0L
    var i = 0
    while (i < n) { val v = a.getLong(i); n2 += v * v; i += 1 }
    n2
  }

  /** Σ elements mod p (elements already in [0, p)) — the reduction
    * behind rollingFp's order-independent window-hash summary. */
  def sumModData(a: ArrayData, p: Long): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s = (s + a.getLong(i)) % p; i += 1 }
    s
  }

  /** Column form of [[sumModData]]. */
  def sumMod(a: Column, p: Long): Column =
    Kernel.call(this, "sumModData", LongType, Seq(a), Seq(p))
}

case class QuantizeE3Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val elemIsDouble =
    child.dataType.asInstanceOf[ArrayType].elementType ==
      org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(emb: Any): Any =
    VectorExprs.quantizeData(emb.asInstanceOf[ArrayData], elemIsDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorExprs.quantizeData($c, $elemIsDouble);")
  override protected def withNewChildInternal(c: Expression): QuantizeE3Expr =
    copy(child = c)
  override def prettyName: String = "quantize_e3"
}
