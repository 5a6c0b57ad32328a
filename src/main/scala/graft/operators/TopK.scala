package graft.operators

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import graft.{ColumnInterpolator, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Bounded-heap top-K over DISTINCT elements (custom `Aggregator` →
  * `TypedColumn`): duplicates (neither side `better` — `better` is a
  * strict total order) collapse to one slot during the bounded merge,
  * so the buffer is always a sorted duplicate-free K-set. This is
  * exactly the KMV sketch's state (the K smallest distinct hashes);
  * the merge stays a commutative, idempotent monoid, so micro-batch
  * boundaries and re-delivery can never change the sketch. */
class BoundedDistinctTopK[R: TypeTag: ClassTag](k: Int, better: (R, R) => Boolean)
    extends Aggregator[R, Array[R], Array[R]] {

  override def zero: Array[R] = Array.empty[R]

  override def reduce(buf: Array[R], row: R): Array[R] =
    if (buf.length == k && !better(row, buf(k - 1))) buf
    else merge(buf, Array(row))

  override def merge(a: Array[R], b: Array[R]): Array[R] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[R]
    var i = 0; var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      if (j >= b.length) { out += a(i); i += 1 }
      else if (i >= a.length) { out += b(j); j += 1 }
      else if (better(a(i), b(j))) { out += a(i); i += 1 }
      else if (better(b(j), a(i))) { out += b(j); j += 1 }
      else { out += a(i); i += 1; j += 1 } // equal element: one slot
    }
    out.toArray
  }

  override def finish(buf: Array[R]): Array[R] = buf

  override def bufferEncoder: Encoder[Array[R]] = ExpressionEncoder[Array[R]]()
  override def outputEncoder: Encoder[Array[R]] = ExpressionEncoder[Array[R]]()
}

object TopK {

  /** The per-key top-`k` rows of `df` by the ascending `order`, every
    * bounded ranking in the engine goes through this one builder.
    *
    * Mechanism: `groupBy(keys).agg(collect_top_k(struct(order), k))`
    * (a global `agg` when `keys` is empty), then `posexplode`. Spark's
    * `CollectTopK` keeps a k-bounded priority queue per key per
    * partition and merges k-sized buffers, so the shuffle carries
    * O(keys × partitions × k) rows and no row is ever sorted with its
    * key's whole partition, which a `row_number` window would do. The
    * same aggregate serves a complete-mode streaming query unchanged
    * (the reservoir sample), since its merge is commutative.
    *
    * `order` must end in a unique id, so the order is total and the
    * answer deterministic (the oracle's `row_number` contract); columns
    * after the id only ride along. A descending field is passed
    * negated, `(-c).as(name)`, and negated back by the caller; every
    * such field is a bounded integer or a price, so negation is exact.
    *
    * Output: `keys`, then `rank` (1-based, LongType), then the `order`
    * fields under their own names.
    *
    * Two bounded top-ks stay outside this builder:
    *  - [[BoundedDistinctTopK]]: the KMV sketch (`CurationOps.kmvMinsAgg`,
    *    `kmvGate`) must collapse duplicate hashes inside the merge, and
    *    `CollectTopK` keeps duplicates;
    *  - `JoinOps.topnWindow`: q_topn_window's `row_number` form, the
    *    oracle twin that [[topnAgg]] is checked against. */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
      rank: String): DataFrame = {
    val top = ColumnBridge.collectTopK(struct(order: _*), k).as("top")
    val kc = keys.map(col)
    val agg = if (keys.isEmpty) df.agg(top) else df.groupBy(kc: _*).agg(top)
    agg.select(kc :+ posexplode($"top").as(Seq("pos", "r")): _*)
      .select(kc ++ Seq(($"pos" + 1).cast(LongType).as(rank), $"r.*"): _*)
  }

  /** Top-3 orders per priority via the bounded top-k builder — same
    * rows as JoinOps.topnWindow (same oracle), different physical
    * plan: partial bounded buffers, no per-key sort of all rows. */
  def topnAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    TopK(orders, Seq("o_orderpriority"),
        Seq((-$"o_totalprice").as("o_totalprice"), $"o_orderkey"), 3, "rank")
      .select($"o_orderpriority", $"rank", $"o_orderkey",
        (-$"o_totalprice").as("o_totalprice"))
      .orderBy($"o_orderpriority", $"rank")
  }
}
