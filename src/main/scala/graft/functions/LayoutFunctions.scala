package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** Native kernel for multi-dimensional data-layout keys
  * ([[graft.operators.LayoutOps]]): the Morton / z-order interleave
  * that turns two scan-predicate dimensions into ONE cluster key, so
  * parquet row-group min/max statistics prune on BOTH dimensions —
  * a single-column sort can only ever prune on its leading column.
  * Codegen'd through [[Kernel.call]] like every other graft kernel
  * (a fallback would break the write projection's whole-stage span). */
object LayoutFunctions {

  /** Bit-interleave of the low `bits` bits of two non-negative
    * longs: result bit 2i is x's bit i, bit 2i+1 is y's bit i. A
    * contiguous range of z values is a small set of axis-aligned
    * tiles — which is exactly why range-partitioning on z yields
    * files whose min/max are tight in BOTH source columns. */
  def zInterleaveJvm(x: Long, y: Long, bits: Int): Long = {
    // negatives have no grid cell: two's-complement low bits would
    // interleave -1 as the TOP cell and silently corrupt the layout —
    // the one failure this family exists to prevent. Normalize first
    // (zorderWrite does) or shift the domain.
    if (x < 0 || y < 0)
      throw new IllegalArgumentException(
        s"zvalue inputs must be non-negative grid cells, got ($x, $y)")
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** [[zInterleaveJvm]] over two columns. The explicit long casts
    * make an INT argument read as a long in both codegen and
    * interpreted eval (constant folding included); a `bits` past 31
    * would wrap the shift mod 64 (2·i+1 > 63) and scribble high bits
    * over low, so it is rejected here — for the SQL surface as well as
    * the Scala one. */
  def zvalue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zvalue bits must be in [1,31], got $bits")
    Kernel.call(this, "zInterleaveJvm", LongType,
      Seq(x.cast("long"), y.cast("long")), Seq(bits))
  }
}
