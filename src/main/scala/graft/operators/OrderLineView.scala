package graft.operators

import graft.{ColumnInterpolator, Det, Tables}
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The denormalized order-line view: `lineitem ⋈ orders` on the order
  * key, materialized ONCE per corpus fingerprint and served to every
  * report that needs order attributes at line granularity.
  *
  * Ten TPC-H-style reports (ship-delay #33e-b, supplier late-rate
  * #33p-b, waiting-supplier #33p, local-supplier #33g, trade volume
  * #33i / balance #136, returned items #33j, shipping priority #33,
  * order priority #33e, market share #33o) each consumed the SAME
  * inner `lineitem ⋈ orders` equi-join and each paid its own
  * two-fact-exchange shuffle to build it — at sf100 those ten joins
  * were ~410 s of a 2300 s study, >80 % of it the one repeated
  * exchange; three more (#145 brand returns, #33 brand enrichment,
  * #33f promo share) each re-paid the same part-dim broadcast over a
  * full fact scan, so the view carries `p_brand`/`p_type` too. This
  * is the classic warehouse answer: flatten the star once (the
  * materialized join view every serving layer keeps next to its fact
  * table) and let every report run as a pruned columnar scan +
  * bounded aggregation. The same build-once/probe-many pattern as
  * the ANN exact-ranking and cluster-label artifacts.
  *
  * Scale shape of the build: ONE uniform order-key shuffle
  * (shuffle_hash, build = the 4-column orders side — never a sort of
  * either fact stream, the r10 ledger shape), written as parquet in
  * the join's own hash partitioning. At 100 TB this is the one-off
  * ETL step a production deployment schedules with table refreshes;
  * consumers read back a columnar file whose `ReadSchema` prunes to
  * the 2-4 columns each report touches, so no consumer ever re-pays
  * the join. Refresh tracking is by source fingerprint over all
  * THREE parquet dirs the view reads: a rewritten lineitem, orders or
  * part table supersedes the artifact on next touch.
  *
  * Exactness: the view stores source columns verbatim (timestamps and
  * flags round-trip parquet losslessly) plus the ONE derived column
  * every revenue consumer shares — `rev_e4`, the per-line
  * `round(l_extendedprice·(1−l_discount)·10⁴)` fixed-point term
  * ([[graft.Det.toFixed]]). Per-row IEEE double math is deterministic,
  * so summing stored `rev_e4` is bit-identical to each report's
  * previous inline `Det.sumFixed(..., 4)`; integer sums reorder
  * freely. Consumers that need a DIFFERENT scale or expression read
  * the raw tables (nothing forces this view on them).
  */
object OrderLineView {

  private val view = new Materialize.FrameArtifact(
    "orderline-", "lineitem", "orders", "part")

  /** The view's defining join, directly over the source tables — the
    * build plan, and the spec-side equality reference for [[scan]].
    * Inner join with orders: every lineitem row joins its (unique)
    * order row, so line granularity is preserved exactly (the spec
    * pins |view| = |lineitem|). Part attributes ride a LEFT broadcast
    * join — a part orphan could never silently drop a line from the
    * ten order-attribute consumers; the three part-keyed consumers
    * filter `p_brand.isNotNull`, which is ≡ their previous inner join
    * because `p_brand`/`p_type` are non-null part attributes. (At
    * corpus scales where the part dim outgrows a broadcast, the
    * one-off build switches this to a partkey shuffle join; at TPC-H
    * ratios part is ~1/30 of lineitem rows.)
    *
    * `sortWithinPartitions(o_orderdate)` orders rows inside each
    * written file WITHOUT an extra exchange: parquet row-group
    * min/max stats on o_orderdate become tight, so the many
    * date-sliced consumers (year / quarter / month windows on order
    * or — correlated — ship dates) prune most row groups at scan
    * time instead of decoding the whole corpus, and the date columns
    * delta-encode tightly. The same footer-stats lever as the
    * z-order layout operator (#148), applied to the view. */
  private[graft] def direct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(
      $"l_orderkey", $"l_partkey", $"l_suppkey", $"l_shipdate",
      $"l_returnflag",
      Det.toFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
        .as("rev_e4"))
    val o = Tables.orders(spark, sfDir).select(
      $"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority",
      $"o_orderstatus")
    val p = Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_brand", $"p_type")
    li.join(o.hint("shuffle_hash"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(p), $"l_partkey" === $"p_partkey", "left")
      .drop("o_orderkey", "p_partkey")
      .sortWithinPartitions($"o_orderdate")
  }

  /** The materialized view: built by [[direct]] once per (sfDir,
    * lineitem + orders + part fingerprints) and read back as a plain
    * parquet scan — filters and column pruning push into the artifact
    * exactly as they would into the source tables. */
  def scan(spark: SparkSession, sfDir: String): DataFrame =
    view(spark, sfDir)(direct(spark, sfDir))
}
