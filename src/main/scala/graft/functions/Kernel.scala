package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The one way graft turns a native kernel into a Column.
  *
  * A kernel is a static `*Data` function on a top-level object
  * (`TextHash.simhashData`, `VectorExprs.norm2Data`, ...) taking
  * Catalyst's internal values (`UTF8String`, `ArrayData`, primitives)
  * and returning one. [[call]] wraps it in Spark's own `StaticInvoke`
  * — the expression behind built-ins such as `url_encode` — which
  * emits the static call inside whole-stage codegen, invokes the same
  * method reflectively on the interpreted path, and returns NULL when
  * any column argument is NULL. The plan prints the call itself:
  * `static_invoke(graft.functions.TextHash.simhashData(text#3, 60))`.
  *
  * Constant arguments ride as literals after the columns: Int, Long,
  * String, and arrays of them (`TextFunctions.markerHits` passes its
  * markers as one `array<string>`). A literal compares by value —
  * an array literal holds a `GenericArrayData`, which compares and
  * hashes element-wise — so two builds of the same call give equal
  * plans and exchange reuse holds. Two kernels keep their own
  * expression classes, each for its reason (README, "Kernels").
  */
object Kernel {

  /** The array<bigint> (no NULL elements) most hash kernels return. */
  val LongArray: DataType = ArrayType(LongType, containsNull = false)

  /** `owner.fn(cols..., consts...)` as a Column of type `dataType`.
    * `returnNullable` is for kernels with a boxed return, where a
    * Java null is SQL NULL. */
  def call(owner: AnyRef, fn: String, dataType: DataType, cols: Seq[Column],
      consts: Seq[Any] = Nil, returnNullable: Boolean = false): Column =
    ColumnBridge.column(StaticInvoke(owner.getClass, dataType, fn,
      cols.map(ColumnBridge.expression) ++ consts.map(Literal(_)),
      returnNullable = returnNullable))
}
