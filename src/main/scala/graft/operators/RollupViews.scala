package graft.operators

import graft.{ColumnInterpolator, Det, Tables}
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fact-rollup views: the per-ORDER lineitem rollup and the
  * per-CUSTOMER orders rollup, each materialized ONCE per source
  * fingerprint — the second tier of the serving-layer tables a
  * warehouse keeps next to its facts ([[OrderLineView]] is the
  * line-grain tier).
  *
  * Motivation is the same repeated-exchange audit that produced
  * [[OrderLineView]]: #33k (Q18 big orders) and #130 (order fan-out)
  * each paid their own full lineitem shuffle to build the SAME
  * per-order quantity/line-count rollup (81 s at sf100 combined);
  * #135b (cohorts), #144b (RFM), #144 (spend histogram) and #33d
  * (Q13 order-count histogram) each paid their own orders shuffle to
  * build the SAME per-customer profile (88 s combined). Each rollup
  * is ONE partial-agg'd uniform-key exchange written out once;
  * consumers read back a frame that is 1/4 (orders) or 1/10
  * (customers) of the fact's rows and aggregate it in milliseconds.
  *
  * Exactness: every stored aggregate is the exact integer/timestamp
  * form the consumers previously computed inline (counts,
  * [[graft.Det.sumFixed]] fixed-point sums, min/max) — integer sums
  * and extrema reorder freely, so serving from the rollup is
  * bit-identical. `yrs` (the customer's distinct active order years)
  * is `array_sort`ed so the stored artifact is deterministic.
  * Refresh follows the source fingerprint exactly as
  * [[OrderLineView]] does.
  */
object RollupViews {

  private val orderArtifact = new Materialize.FrameArtifact("orderstats-", "lineitem")
  private val custArtifact = new Materialize.FrameArtifact("custstats-", "orders")

  /** Per-order rollup of lineitem: line count + total quantity (e2
    * fixed-point, the [[JoinOps.orderQtyTotals]] definition). One
    * uniform order-key partial-agg exchange, |orders| output rows. */
  private[graft] def orderStatsDirect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        Det.sumFixed($"l_quantity", 2).as("total_qty_e2"))

  def orderStats(spark: SparkSession, sfDir: String): DataFrame =
    orderArtifact(spark, sfDir)(orderStatsDirect(spark, sfDir))

  /** Per-customer rollup of orders: order count, lifetime spend (e2),
    * last order date, first-order year (cohort), and the sorted set
    * of distinct active order years (bounded by |calendar years| —
    * O(1) per customer). One uniform custkey partial-agg exchange,
    * |ordering customers| output rows; zero-order customers are by
    * construction absent (consumers needing them anti-join or
    * left-join the customer dim, exactly as they did against their
    * inline rollups). */
  private[graft] def customerStatsDirect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Det.sumFixed($"o_totalprice", 2).as("spend_e2"),
        max($"o_orderdate").as("last_order"),
        min(year($"o_orderdate").cast("long")).as("cohort"),
        array_sort(collect_set(year($"o_orderdate").cast("long"))).as("yrs"))

  def customerStats(spark: SparkSession, sfDir: String): DataFrame =
    custArtifact(spark, sfDir)(customerStatsDirect(spark, sfDir))
}
