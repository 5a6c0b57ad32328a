package graft.operators

import graft.{ColumnInterpolator, Det, Tables}
import graft.tools.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins and the order-analytics job (SURVEY.md §2.5, §2.6).
  *
  * The reference's "double-11 dashboard" (orderTest/OrderAnalysy.scala:453)
  * computes windowed global order totals and per-province grouped
  * totals. Here: per-day totals and per-nation totals over the
  * `orders` star schema. Dimension tables (customer, nation, part)
  * are `broadcast()` — at TPC-H ratios they stay millions of rows
  * when lineitem is 100 TB, so the fact table never shuffles for the
  * join; the only shuffle is the final keyed aggregation.
  */
object JoinOps {

  /** Daily global totals (OrderAnalysy TotalDataFun, reference :719). */
  def orderDaily(spark: SparkSession, sfDir: String): DataFrame =
    orderDailyAgg(Tables.orders(spark, sfDir)).orderBy($"order_day")

  /** The #30 daily aggregation over any orders frame — ONE definition
    * shared by the gated report above and the incremental-maintenance
    * path ([[Maintenance.applyOrdersDelta]]), so a delta-maintained
    * dashboard can never drift from the from-scratch aggregation
    * rule. */
  private[graft] def orderDailyAgg(orders: DataFrame): DataFrame =
    orders
      .groupBy(date_format($"o_orderdate", "yyyy-MM-dd").as("order_day"))
      .agg(count(lit(1)).as("total_num"),
        Det.sumFixed($"o_totalprice", 2).as("total_money_e2"))

  /** Per-nation totals (OrderAnalysy GroupDataFuc, reference :686 —
    * "province" → nation via the customer dimension). */
  def orderNation(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select($"o_custkey", $"o_totalprice")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("total_num"), Det.sumFixed($"o_totalprice", 2).as("total_money_e2"))
      .orderBy($"n_name")
  }

  /** #30b Month-to-date cumulative revenue: the daily dashboard row
    * (#30) plus the running month total a finance dashboard draws —
    * the cumulative window runs per MONTH partition over the
    * already-aggregated |days| frame (≤ 31 rows per partition, never
    * the orders table; a global unpartitioned cumulative would
    * single-partition the whole history at 100 TB). */
  def revenueMtd(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = orderDaily(spark, sfDir)
      .withColumn("month", substring($"order_day", 1, 7))
    val w = Window.partitionBy($"month").orderBy($"order_day".asc)
    daily
      .withColumn("mtd_money_e2", sum($"total_money_e2").over(w))
      .select($"order_day", $"total_num", $"total_money_e2", $"mtd_money_e2")
      .orderBy($"order_day")
  }

  /** Fact×dim enrichment join: revenue per brand. Served from the
    * [[OrderLineView]] materialized view (r13), which carries the
    * brand tag per line — a 2-column pruned scan into a \|brands\|
    * partial agg, no per-query broadcast of the part dim
    * (`p_brand.isNotNull` ≡ the previous inner part join: the view's
    * part join is LEFT and brand is a non-null part attribute). */
  def joinEnrich(spark: SparkSession, sfDir: String): DataFrame =
    OrderLineView.scan(spark, sfDir)
      .filter($"p_brand".isNotNull)
      .groupBy($"p_brand")
      .agg(sum($"rev_e4").as("revenue_e4"),
        count(lit(1)).as("cnt"))
      .orderBy($"p_brand")

  /** #33d (SURVEY §2.6) TPC-H Q13-style customer order-count
    * distribution: how many customers placed 0, 1, 2, … orders — the
    * engagement histogram, and the relational shape (outer join +
    * double aggregation) a naive inner join gets WRONG by silently
    * dropping the zero-order customers, who are usually the business
    * question. Left join keeps them (count(o_orderkey) skips the
    * null), then a second bounded histogram agg.
    *
    * Scale shape (r13): the per-customer counts come from the
    * RollupViews.customerStats view (the one custkey fact shuffle
    * runs once per corpus fingerprint in its build); the customer
    * dim LEFT-joins the |customers|-row view so zero-order customers
    * surface as count 0 exactly as the outer join against raw orders
    * did, and the histogram agg is |distinct-counts|-row. */
  def custOrderHist(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select($"c_custkey")
      .join(RollupViews.customerStats(spark, sfDir)
          .select($"o_custkey", $"n_orders".as("cnt")),
        $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"cnt", lit(0L)).as("n_orders"))
      .groupBy($"n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_orders")

  /** #34b (SURVEY §2.6) Full-outer identity reconciliation: event
    * users vs order customers — how many identities exist on both
    * sides, and how many are orphaned on each (the cross-system
    * consistency check run before any join-based enrichment is
    * trusted; orphans are silent row loss in an inner join). The one
    * outer-join shape the rest of the surface doesn't exercise.
    *
    * Scale shape: both sides reduce to distinct-key frames first
    * (partial-agg'd, ≪ raw), the full-outer join is an equi-join on
    * the uniform key, and the answer is a 1-row conditional agg. */
  def userReconcile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select($"user_id").distinct()
      .join(Tables.customer(spark, sfDir).select($"c_custkey").distinct(),
        $"user_id" === $"c_custkey", "full_outer")
      .agg(
        sum(when($"user_id".isNotNull && $"c_custkey".isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("n_events_only"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("n_customers_only"))

  /** Semi join: parts that ever shipped with quantity > 45. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).select($"p_partkey", $"p_name")
    val li = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" > 45.0).select($"l_partkey")
    p.join(li, $"p_partkey" === $"l_partkey", "left_semi")
      .orderBy($"p_partkey")
  }

  /** Anti join: customers who never placed an URGENT order. */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_name")
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .orderBy($"c_custkey")
  }

  /** Top-3 orders per priority (top-N per group — window + filter,
    * partitioned so no global sort). */
  def topnWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, sfDir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"o_orderpriority", $"rank", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rank")
  }

  /** As-of join — each left row matched to the single right row with
    * the greatest `time` ≤ the left row's `time` for the same `key`
    * (inner semantics: unmatched left rows drop). Spark has no native
    * ASOF join, and the naive `l.key = r.key AND r.time <= l.time`
    * range join explodes into per-key cross products at scale. This
    * is the single-shuffle pattern instead: tag and union both sides,
    * window per key ordered by (time, tag) — right rows (tag 0) sort
    * BEFORE left rows (tag 1) at equal time, giving `<=` — and carry
    * the latest right-side values forward with `last(ignoreNulls)`.
    * One shuffle on the key, a linear within-partition sort, no range
    * explosion: the 100 TB plan. The matched right `time` is emitted
    * as `matchedTimeCol`.
    *
    * Caller contract: one right row per (key, time) — pre-aggregate
    * otherwise — and no column-name overlap between the two payloads. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               matchedTimeCol: String): DataFrame = {
    val lPayload = left.columns.filterNot(c => c == key || c == time).toSeq
    val rPayload = right.columns.filterNot(c => c == key || c == time).toSeq
    require(lPayload.intersect(rPayload).isEmpty,
      s"as-of payload columns must be disjoint; both sides have ${lPayload.intersect(rPayload)}")
    val reserved = Seq("_tag", "_asof", matchedTimeCol)
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"as-of inputs must not contain reserved columns $reserved")
    val l = left.select(
      col(key) +: col(time) +: lit(1).as("_tag") +:
        (lPayload.map(col) ++
          rPayload.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
    val r = right.select(
      col(key) +: col(time) +: lit(0).as("_tag") +:
        (lPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          rPayload.map(col)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time).asc, col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the matched right row is carried as ONE struct, not per-column:
    // per-column last(ignoreNulls) would skip a legitimately-NULL
    // payload value and fuse it with a STALE value from an older right
    // row — a row that never existed. The struct is null exactly on
    // left rows, so ignoreNulls lands on the latest right ROW whole.
    val asofRow = when(col("_tag") === 0,
      struct(col(time).as(matchedTimeCol) +: rPayload.map(col): _*))
    l.unionByName(r)
      .withColumn("_asof", last(asofRow, ignoreNulls = true).over(w))
      .filter(col("_tag") === 1 && col("_asof").isNotNull)
      .select(col(key) +: col(time) +: (lPayload.map(col) ++
        (matchedTimeCol +: rPayload).map(c => col(s"_asof.$c").as(c))): _*)
  }

  /** As-of enrichment of the event stream: each event picks up the
    * most recent order-day summary (count + fixed-point total) of the
    * same user at-or-before the event's day — the "state of the world
    * when the event happened" join every feature/training pipeline
    * needs for point-in-time-correct features (no future leakage).
    * The right side is pre-aggregated to one row per (user, day), so
    * the match is unambiguous and deterministic.
    *
    * This flagship instance is the PACKED specialization of
    * [[asofJoin]]'s union-window shape (same single user_id shuffle,
    * same carry semantics; AsofJoinSpec pins row-for-row equality with
    * the generic operator). The r11 ProfileShuffle attribution put
    * 81 % of the sf100 cost in the window consume phase at ~54 B/row,
    * so both levers here follow the dedupNgram packed-key precedent:
    *
    *  - ordering: `dt = day·2 + tag` — ONE long that is
    *    order-isomorphic to (day asc, tag asc) (days are
    *    microsecond-epoch-derived, so day·2 cannot overflow), with
    *    dim rows (tag 0) sorting before event rows (tag 1) at equal
    *    day, giving the ≤ match.
    *  - carry: the whole dim payload in ONE long,
    *    `p = (day·512 + n_orders)·2^40 + day_total_e2`, so
    *    `last(p, ignoreNulls)` aggregates a PRIMITIVE instead of
    *    building a struct per dim row — and the struct's
    *    null-fuse-safety argument (asofJoin scaladoc) holds trivially
    *    because the carried row is atomic in one value. Unpack is
    *    exact integer div/pmod in the packed domain 0 ≤ day < 2^14,
    *    n_orders < 512, 0 ≤ day_total_e2 < 2^40 (p < 2^63 stays
    *    positive); an out-of-domain dim row RAISES at scan time
    *    (the pidSafe precedent — zero extra guard jobs, and the
    *    oracle-gated answer can never be silently corrupted). The
    *    domain has wide real-data headroom: day < 2^14 covers order
    *    dates to 2014 (TPC-H ends 1998), and a user-day needs > 2^9
    *    orders or > ~10^10 e2 total to overflow. */
  /** [[asofOrderEvents]]' single-long dim carry:
    * `(day·512 + n_orders)·2^40 + day_total_e2`, exact in the domain
    * 0 ≤ day < 2^14, n_orders < 512, 0 ≤ day_total_e2 < 2^40 (the
    * packed value stays < 2^63); any out-of-domain row raises at scan
    * time with the offending values. Shared with AsofJoinSpec so the
    * guard under test is the guard the query runs. */
  private[graft] def asofPackedCarry(day: Column, nOrders: Column,
      totalE2: Column): Column =
    when(
      day < 0L || day >= (1L << 14) || nOrders >= 512L ||
        totalE2 < 0L || totalE2 >= (1L << 40),
      raise_error(concat(
        lit("asofOrderEvents dim row out of packed domain (day in [0, 2^14), " +
          "n_orders < 512, day_total_e2 in [0, 2^40)): "),
        day.cast("string"), lit("/"), nOrders.cast("string"),
        lit("/"), totalE2.cast("string"))).cast("long"))
      .otherwise((day * 512L + nOrders) * (1L << 40) + totalE2)

  def asofOrderEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id",
        expr("unix_micros(ts) div 86400000000").as("day"))
    val dim = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey".as("user_id"),
        datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        Det.sumFixed($"o_totalprice", 2).as("day_total_e2"))
    val packed = asofPackedCarry($"day", $"n_orders", $"day_total_e2")
    // event_day is recovered as `_dt div 2`, which is only exact for
    // day ≥ 0 (truncating div rounds negative odd dts the wrong way) —
    // a pre-1970 event raises at scan rather than silently shifting
    val lDay = when($"day" < 0L,
      raise_error(concat(lit("asofOrderEvents event day out of div-recovery " +
        "domain (day >= 0): "), $"day".cast("string"))).cast("long"))
      .otherwise($"day")
    val l = ev.select($"user_id", (lDay * 2L + 1L).as("_dt"),
      $"event_id", lit(null).cast("long").as("_p"))
    val r = dim.select($"user_id", ($"day" * 2L).as("_dt"),
      lit(null).cast("long").as("event_id"), packed.as("_p"))
    val w = Window.partitionBy($"user_id").orderBy($"_dt".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_c", last($"_p", ignoreNulls = true).over(w))
      .filter(pmod($"_dt", lit(2L)) === 1L && $"_c".isNotNull)
      .select($"event_id", $"user_id",
        expr("_dt div 2").as("event_day"),
        expr("(_c div 1099511627776) div 512").as("order_day"),
        expr("pmod(_c div 1099511627776, 512)").as("n_orders"),
        expr("pmod(_c, 1099511627776)").as("day_total_e2"))
      .orderBy($"event_id")
  }

  /** Banded range join — all (left, right) pairs with the same `key`
    * and |left.time − right.time| ≤ `band`. Spark plans a naive
    * inequality join as BroadcastNestedLoopJoin (a per-key cross
    * product). This is the bucketed form instead: bucket width =
    * `band`, RIGHT side replicated to buckets {b−1, b, b+1}, equi
    * join on (key, bucket), exact band filter after. |l−r| ≤ band
    * guarantees the bucket ids differ by at most 1, and the three
    * replicas have distinct bucket values so each qualifying pair
    * matches exactly once. Cost: one equi shuffle at 3× the right
    * side's rows — the 100 TB shape, never a product. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String, time: String,
                band: Long): DataFrame = {
    require(band > 0, s"band must be positive, got $band")
    val reserved = Seq("_bucket", s"${time}_r")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"range-join inputs must not contain reserved columns $reserved")
    val lb = left.withColumn("_bucket", expr(s"$time div $band"))
    val rb = right
      .withColumn("_bucket",
        explode(array((-1 to 1).map(d => expr(s"$time div $band") + d): _*)))
      .withColumnRenamed(time, s"${time}_r")
    lb.join(rb, Seq(key, "_bucket"))
      .filter(abs(col(time) - col(s"${time}_r")) <= band)
      .drop("_bucket")
  }

  /** Band in [[rangeEventBursts]]: ±12 hours in microseconds. */
  val BurstBandUs = 43200000000L

  /** Range-join query — burst detection: per event, how many OTHER
    * events the same user produced within ±12 hours, and their
    * fixed-point value sum (the "activity around this event" feature;
    * a self band-join, the hardest range-join shape because both
    * sides are the full stream). Inner: solitary events drop.
    *
    * Because this flagship instance needs only per-event AGGREGATES of
    * the band (never the pair rows), it is served by a native
    * RANGE-frame window instead of the generic [[rangeJoin]] (r13):
    * one user_id shuffle + per-partition sort, a sliding value-range
    * frame that Spark advances with two linear pointers — no 3×
    * replication, no candidate pairs, no post-filter. Self-exclusion
    * is exact arithmetic: the frame always contains the row itself, so
    * neighbors = frame count − 1 and the neighbor sum subtracts the
    * row's own pre-scaled e6 value (per-row rounding FIRST, identical
    * to Det.sumFixed's round-then-sum). Ties in `t` are value-based in
    * a RANGE frame, so co-timestamped events count each other exactly
    * once each, matching the join form; AsofJoinSpec pins row-for-row
    * equality with the generic rangeJoin build on the same inputs.
    * [[rangeJoin]] remains the operator for banded joins that DO need
    * pair rows (two-table enrichment), with its own brute-force and
    * plan specs. */
  def rangeEventBursts(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"t")
      .rangeBetween(-BurstBandUs, BurstBandUs)
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", unix_micros($"ts").as("t"),
        Det.toFixed($"value", 6).as("v6"))
      .withColumn("n_band", count(lit(1)).over(w))
      .withColumn("sum_band", sum($"v6").over(w))
      .filter($"n_band" > 1L)
      .select($"event_id", ($"n_band" - 1L).as("n_neighbors"),
        ($"sum_band" - $"v6").as("nbr_value_e6"))
      .orderBy($"event_id")
  }

  /** Multi-way join + date filters (TPC-H Q3-shaped): shipping
    * priority revenue. Served from the [[OrderLineView]] materialized
    * join (r13): both date slices push into the view scan, the
    * segment-filtered customer dim BROADCASTS as a semi join, and the
    * (order, priority) agg is the only fact-sized exchange (map-side
    * combined); top-20 via TakeOrdered. */
  def shippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp")
    val c = Tables.customer(spark, sfDir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    OrderLineView.scan(spark, sfDir)
      .filter($"o_orderdate" < cutoff && $"l_shipdate" >= cutoff)
      .join(broadcast(c), $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy($"l_orderkey".as("o_orderkey"), $"o_orderpriority")
      .agg(sum($"rev_e4").as("revenue_e4"))
      .orderBy($"revenue_e4".desc, $"o_orderkey".asc)
      .limit(20)
  }

  /** #33e (SURVEY §2.6) TPC-H Q4-style order-priority fulfilment
    * report: orders placed in 1996-Q1 with at least one line item
    * shipped more than 60 days after the order date, counted per
    * priority class — the SLA report that says whether urgent orders
    * actually ship faster. The relational shape is the EXISTS
    * subquery: a left-semi equi-join on the order key whose extra
    * non-equi conjunct (shipdate vs orderdate + 60d) is evaluated
    * inside the join, so each order is counted once no matter how
    * many lines were late.
    *
    * Scale shape (r13): served from the [[OrderLineView]]
    * materialized join — the quarter slice pushes into the view scan
    * (no per-query join exists at all; the EXISTS' join was the exact
    * shape whose SMJ sort OOM'd sf100 in r10 and whose shuffle-hash
    * pin this query carried until the view subsumed it), the
    * late-line predicate filters per row, the distinct on
    * (orderkey, priority) partial-aggregates map-side (orders have
    * ~4 lines, so the exchange carries ~1/4 of the slice's lines),
    * and the priority agg is a 5-group readout. o_orderkey is unique
    * per order, so distinct-then-count ≡ the EXISTS count exactly. */
  def orderPriority(spark: SparkSession, sfDir: String): DataFrame =
    OrderLineView.scan(spark, sfDir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-04-01").cast("timestamp") &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
      .select($"l_orderkey".as("o_orderkey"), $"o_orderpriority").distinct()
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy($"o_orderpriority")

  /** #33f (SURVEY §2.6) TPC-H Q14-style promo revenue share: of one
    * month's lineitem revenue, what e6 share came from PROMO-type
    * parts — the marketing-effect number. Conditional agg over the
    * month slice with the part dim BROADCAST; the share division runs
    * DECIMAL(38,0) (≡ DuckDB HUGEINT) because promo_e4 · 10⁶ overflows
    * BIGINT once monthly revenue passes ~9·10¹² currency units —
    * exactly the regime a 100 TB fact table is in. One scan, one
    * 1-row agg, no shuffle beyond the partial-agg exchange. */
  def promoShare(spark: SparkSession, sfDir: String): DataFrame = {
    // Served from the OrderLineView materialized view (r13): the
    // month slice prunes the date-sorted view's row groups and the
    // type tag rides the view — no per-query part broadcast
    // (p_type.isNotNull ≡ the previous inner part join).
    OrderLineView.scan(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp") &&
        $"p_type".isNotNull)
      .agg(
        coalesce(sum(when($"p_type" === "PROMO", $"rev_e4")
          .otherwise(0L)), lit(0L)).as("promo_rev_e4"),
        coalesce(sum($"rev_e4"), lit(0L)).as("total_rev_e4"))
      .withColumn("promo_share_e6",
        expr("""CAST((CAST(promo_rev_e4 AS DECIMAL(38,0)) * 1000000)
               |div CAST(total_rev_e4 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
  }

  /** #33g (SURVEY §2.6) TPC-H Q5-style local-supplier volume: 1996
    * revenue per ASIA nation counting only order lines whose supplier
    * sits in the customer's own nation — the regional-economy report
    * and the canonical star-join, served from the [[OrderLineView]]
    * materialized join (r13): the year slice pushes into the view
    * scan, every dimension (customer, supplier, nation⋈region)
    * BROADCASTS, the customer-nation = supplier-nation conjunct is
    * evaluated inside the broadcast joins — zero fact exchanges.
    * Output is |nations-in-region| rows from a partial agg; revenue
    * sums the view's per-line rev_e4 fixed-point term (bit-identical
    * to the previous inline sumFixed). */
  def localSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey", "left_semi")
      .select($"n_nationkey", $"n_name")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey")
    OrderLineView.scan(spark, sfDir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"rev_e4").as("revenue_e4"))
      .orderBy($"revenue_e4".desc, $"n_name".asc)
  }

  /** The two nations [[tradeVolume]] reports on (both directions). */
  val TradeNations: (String, String) = ("NATION_3", "NATION_7")

  /** #33i (SURVEY §2.6) TPC-H Q7-style bi-national trade volume:
    * revenue shipped between two nations in each direction per ship
    * year — supplier's nation ≠ customer's nation, the cross-border
    * flow report. Served from the [[OrderLineView]] materialized
    * join (r13): the ship-date slice pushes into the view scan, the
    * supplier and customer dims REDUCE to the two nations and
    * BROADCAST (doubling as filters), and the output is a
    * 2-direction × years partial agg — zero fact exchanges. */
  def tradeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val (na, nb) = TradeNations
    val n = Tables.nation(spark, sfDir)
      .filter($"n_name".isin(na, nb)).select($"n_nationkey", $"n_name")
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    OrderLineView.scan(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("ship_year"))
      .agg(sum($"rev_e4").as("revenue_e4"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** #33j (SURVEY §2.6) TPC-H Q10-style returned-item report: the 20
    * customers losing the most revenue to returns in one quarter —
    * the churn-risk list support teams work from. Served from the
    * [[OrderLineView]] materialized join (r13): both slices (return
    * flag, order-date quarter) push into the view scan, the
    * customer→nation enrichment BROADCASTS onto the per-customer
    * agg, top-20 via TakeOrdered (never a global sort). */
  def returnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    OrderLineView.scan(spark, sfDir)
      .filter($"l_returnflag" === "R" &&
        $"o_orderdate" >= lit("1996-10-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      .groupBy($"o_custkey")
      .agg(sum($"rev_e4").as("lost_rev_e4"))
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"lost_rev_e4")
      .orderBy($"lost_rev_e4".desc, $"c_custkey".asc)
      .limit(20)
  }

  /** #33h (SURVEY §2.6) TPC-H Q15-style top supplier: per-supplier
    * revenue over 1996-Q1 and the supplier(s) achieving the maximum —
    * the scalar-subquery shape (`WHERE rev = (SELECT max ...)`)
    * realized as a 1-ROW max frame broadcast back onto the revenue
    * frame (never a global sort or a window over all suppliers; ties
    * all surface, exactly Q15's semantics). Supplier dim broadcast
    * for the name. One fact partial-agg shuffle on the uniform
    * supplier key; everything after is |suppliers|-bounded. */
  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(Det.sumFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
        .as("total_rev_e4"))
    val mx = rev.agg(max($"total_rev_e4").as("max_rev_e4"))
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")
    rev.join(broadcast(mx), $"total_rev_e4" === $"max_rev_e4")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev_e4")
      .orderBy($"s_suppkey")
  }

  /** [[bigOrders]] keeps orders whose total quantity exceeds this
    * (e2 fixed-point; 250 units ≈ the p99 of the synthetic data). */
  val BigOrderQtyE2: Long = 250L * 100

  /** #33k (SURVEY §2.6) TPC-H Q18-style large-volume customers:
    * every order whose total quantity across its lines exceeds
    * [[BigOrderQtyE2]], with the buying customer — the
    * bulk-buyer / fraud-screen list. The HAVING-subquery shape over
    * the per-order rollup view (r13): the full-fact quantity agg
    * lives in the RollupViews.orderStats build (once per corpus
    * fingerprint), the (rare) survivors equi-join orders, and the
    * customer name is a broadcast enrichment on the ~1%-of-orders
    * result. Quantity compares in e2 fixed-point (never a double
    * HAVING). */
  /** Per-order e2 quantity totals over any (l_orderkey, l_quantity)
    * frame — ONE total definition shared by the batch report and the
    * streaming alarm gate (StreamingJobs.bigOrderGate), so the bar
    * they compare against can never drift. Pure keyed agg: batch
    * plans it with map-side combine; streaming runs it in update
    * mode with O(1) state per open order. */
  private[graft] def orderQtyTotals(lines: DataFrame): DataFrame =
    lines.groupBy($"l_orderkey")
      .agg(Det.sumFixed($"l_quantity", 2).as("total_qty_e2"))

  def bigOrders(spark: SparkSession, sfDir: String): DataFrame = {
    // Served from the per-order rollup view (r13): the full-fact
    // quantity agg runs once per corpus fingerprint in the
    // RollupViews.orderStats build (same orderQtyTotals definition —
    // the streaming alarm gate keeps sharing the inline form). The
    // ~1%-of-orders survivors join orders with a SHUFFLE_HASH pin,
    // build = the survivors: without the inline agg's reusable
    // partitioning the default plan SMJ-sorted the full orders
    // stream (the sf100 sort-OOM-class shape; measured 63 s vs 15 s
    // hashed), while hashing the rare survivors per task is O(1%/32)
    // memory and streams orders sort-free at any scale.
    val qty = RollupViews.orderStats(spark, sfDir)
      .select($"l_orderkey", $"total_qty_e2")
      .filter($"total_qty_e2" > BigOrderQtyE2)
    val o = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_name")
    qty.hint("shuffle_hash").join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_day"),
        Det.toFixed($"o_totalprice", 2).as("total_price_e2"),
        $"total_qty_e2")
      .orderBy($"total_qty_e2".desc, $"o_orderkey".asc)
  }

  /** #130 (SURVEY §2.6) order fan-out histogram: orders per
    * line-count — the fact-table shape audit behind join sizing
    * (the order-key shuffle's skew ceiling IS this histogram's
    * tail). Served from the per-order rollup view (r13): the
    * |orders|-row artifact scans into a ≤|max lines|-group agg —
    * the full-fact order-key shuffle runs once per corpus
    * fingerprint in the RollupViews.orderStats build. */
  def orderLinesHist(spark: SparkSession, sfDir: String): DataFrame =
    RollupViews.orderStats(spark, sfDir)
      .groupBy($"n_lines").agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_lines")

  /** [[smallQtyRev]]'s brand slice. */
  val SmallQtyBrand = "Brand#12"

  /** #33l (SURVEY §2.6) TPC-H Q17-style small-quantity revenue: for
    * one brand's parts, the revenue carried by order lines whose
    * quantity is below 20% of that part's average line quantity —
    * what a minimum-order policy would shed. The correlated-AVG
    * shape without any division: qty < avg/5 is evaluated as
    * 5·qty·n < Σqty in e2 integers (exact, engine-independent).
    * The brand dim BROADCAST-narrows the fact scan first, so the
    * one part-keyed shuffle carries only the brand's lines; the
    * per-part stats frame joins back on the SAME key (exchange
    * reuse — no second fact shuffle); output is a 1-row agg. */
  def smallQtyRev(spark: SparkSession, sfDir: String): DataFrame = {
    val brandParts = Tables.part(spark, sfDir)
      .filter($"p_brand" === SmallQtyBrand).select($"p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .join(broadcast(brandParts), $"l_partkey" === $"p_partkey", "left_semi")
      .select($"l_partkey", Det.toFixed($"l_quantity", 2).as("qty_e2"),
        $"l_extendedprice")
    val stats = li.groupBy($"l_partkey".as("pk"))
      .agg(count(lit(1)).as("n_lines"), sum($"qty_e2").as("sum_qty_e2"))
    li.join(stats, $"l_partkey" === $"pk")
      .filter($"qty_e2" * lit(5L) * $"n_lines" < $"sum_qty_e2")
      .agg(count(lit(1)).as("n_small_lines"),
        coalesce(Det.sumFixed($"l_extendedprice", 2), lit(0L))
          .as("small_rev_e2"))
  }

  /** #33m (SURVEY §2.6) TPC-H Q19-style disjunctive-predicate
    * revenue: lines matching any of three (brand, size-range,
    * quantity-range) bundles — the shape that punishes engines that
    * can't evaluate OR-of-ANDs inside a join. The part dim is
    * BROADCAST with the whole disjunction in the join condition
    * (one pass over the fact, no union of three scans); the
    * quantity bounds that appear in every branch ([1, 30]) are
    * pre-filtered on the fact side so the scan prunes row groups
    * before the join. 1-row agg output. */
  def disjunctRev(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" >= 1.0 && $"l_quantity" <= 30.0)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
    val p = Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_brand", $"p_size")
    li.join(broadcast(p), $"l_partkey" === $"p_partkey" && (
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
          $"l_quantity" <= 11.0) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
          $"l_quantity".between(10.0, 20.0)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
          $"l_quantity" >= 20.0)))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(Det.sumFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"),
          4), lit(0L)).as("revenue_e4"))
  }

  /** #145 (SURVEY §2.6) brand return-rate report: per part brand,
    * line and revenue totals with the returned share (e4) — the
    * defect/complaint screen merchandising reads weekly. Served from
    * the [[OrderLineView]] materialized view (r13): a 3-column
    * pruned scan (brand tag rides the view; `p_brand.isNotNull` ≡
    * the previous inner part join) into a \|brands\|-row partial
    * agg; the rate divides in DECIMAL(38,0) (returned·10⁴ passes
    * 2^63 at fact scale). */
  def brandReturns(spark: SparkSession, sfDir: String): DataFrame = {
    OrderLineView.scan(spark, sfDir)
      .filter($"p_brand".isNotNull)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum($"rev_e4").as("rev_e4"),
        sum(when($"l_returnflag" === "R", $"rev_e4").otherwise(0L))
          .as("returned_rev_e4"))
      .withColumn("return_rate_e4",
        expr("""CAST((CAST(n_returned AS DECIMAL(38,0)) * 10000)
               |div CAST(n_lines AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .orderBy($"p_brand")
  }

  /** #143 (SURVEY §2.6) reorder-cadence profile: per market segment,
    * stats over the day gaps between a customer's consecutive orders
    * — the repurchase-rhythm table behind churn windows and campaign
    * timing. Same shape as the #113 event-gap profile on the orders
    * fact: one (custkey)-keyed window sort shuffle (per-customer
    * sequences are small), segment broadcast from the customer dim,
    * \|segments\|-row partial agg; gaps in whole days from µs
    * timestamps by exact integer division. (A stored sorted
    * order-date array on the customer rollup was measured and
    * rejected: it cut this query only 20.2 → 16.5 s at sf100 while
    * quadrupling the rollup's build — the window form is the right
    * trade.) */
  def reorderGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val gaps = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("prev", lag($"o_orderdate", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"o_custkey",
        // o_orderdate reads as TIMESTAMP_NTZ (midnight-aligned days),
        // so whole-day datediff is exact; unix_micros rejects NTZ
        expr("cast(datediff(cast(o_orderdate as date), cast(prev as date)) as bigint)")
          .as("gap_days"))
    val seg = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    gaps.join(broadcast(seg), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_gaps"), min($"gap_days").as("min_days"),
        max($"gap_days").as("max_days"),
        expr("sum(gap_days) div count(1)").as("mean_days"))
      .orderBy($"c_mktsegment")
  }

  /** #144 (SURVEY §2.6) customer-spend histogram: customers per
    * floor(log2(lifetime spend e2)) bucket — the LTV distribution at
    * a glance (a heavy 2^40 tail is the whale cohort a flat mean
    * hides). One uniform-key fact partial agg to per-customer spend,
    * bin-length log2, ≤64-bucket readout. */
  def spendHist(spark: SparkSession, sfDir: String): DataFrame =
    // Served from the per-customer rollup view (r13): the stored
    // spend_e2 is the same fixed-point lifetime sum the inline
    // custkey agg computed.
    RollupViews.customerStats(spark, sfDir)
      .select((length(bin($"spend_e2")) - 1).cast("long").as("log2_spend"),
        $"spend_e2")
      .groupBy($"log2_spend")
      .agg(count(lit(1)).as("n_customers"),
        sum($"spend_e2").as("total_spend_e2"))
      .orderBy($"log2_spend")

  /** #144b (SURVEY §2.6) RFM segmentation: customers bucketed on the
    * three classic behavioral axes — Recency (days since last order,
    * vs the corpus's latest order date), Frequency (order count),
    * Monetary (lifetime spend) — with customer count and spend per
    * (r, f, m) cell; the segmentation marketing prices campaigns
    * against (recent-frequent-big spenders vs lapsed whales).
    * Buckets are log2 bin-lengths (the #144 idiom) rather than
    * rank-quantiles: deterministic, engine-exact, and — decisive at
    * 100 TB — no global customer-frame sort to find quantile bars.
    *
    * Scale shape: one uniform custkey partial-agg shuffle builds the
    * per-customer frame, the reference date broadcasts as a 1-row
    * agg, bucket math is narrow, the cell agg is bounded (≤ a few
    * hundred realized cells). */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    // Served from the per-customer rollup view (r13): last/count/spend
    // are stored exactly as the inline agg computed them, and the
    // corpus reference date is the max of per-customer maxima.
    val cs = RollupViews.customerStats(spark, sfDir)
    val ref = cs.agg(max($"last_order").as("ref"))
    cs.select($"last_order", $"n_orders".as("f"), $"spend_e2".as("m_e2"))
      .crossJoin(broadcast(ref))
      .select(
        (length(bin(datediff($"ref", $"last_order") + 1)) - 1)
          .cast("long").as("r_bucket"),
        (length(bin($"f")) - 1).cast("long").as("f_bucket"),
        (length(bin($"m_e2")) - 1).cast("long").as("m_bucket"),
        $"m_e2")
      .groupBy($"r_bucket", $"f_bucket", $"m_bucket")
      .agg(count(lit(1)).as("n_customers"), sum($"m_e2").as("total_spend_e2"))
      .orderBy($"r_bucket", $"f_bucket", $"m_bucket")
  }

  /** #135b (SURVEY §2.6) Order-cohort retention matrix: customers
    * grouped by FIRST-order year, and for every (cohort, order year)
    * cell the customers still ordering plus their e4 retention
    * against the cohort's size — the classic cohort table behind
    * "are newer customer vintages stickier", the purchase-side twin
    * of #87's event retention. A flat mean churn rate hides exactly
    * what this separates: vintage effects vs calendar effects.
    *
    * Scale shape: the orders scan prunes to (custkey, year) and pays
    * ONE uniform custkey partial-agg'd shuffle that computes the
    * cohort AND the customer's distinct active years together
    * (collect_set bounded by |years| — a handful of calendar years,
    * O(1) per customer); everything after explodes that bounded set
    * and aggregates on ≤ |years|² keys, sizes broadcast. The first
    * cut of this operator paid a (custkey, year) distinct plus a
    * custkey join back and read ×13.8 at the sf1 → sf10 decade —
    * this form removed the join and the second row-granularity
    * shuffle. */
  def orderCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    // Served from the per-customer rollup view (r13): the one
    // custkey-keyed fact shuffle that built (cohort, yrs) runs once
    // per corpus fingerprint in RollupViews.customerStats.
    val per = RollupViews.customerStats(spark, sfDir)
      .select($"cohort", $"yrs")
    val cells = per.select($"cohort", explode($"yrs").as("yr"))
      .groupBy($"cohort", $"yr").agg(count(lit(1)).as("n_active"))
    val sizes = per.groupBy($"cohort").agg(count(lit(1)).as("n_cohort"))
    cells.join(broadcast(sizes), "cohort")
      .withColumn("retention_e4", expr("(10000 * n_active) div n_cohort"))
      .select($"cohort", $"yr", $"n_active", $"n_cohort", $"retention_e4")
      .orderBy($"cohort", $"yr")
  }

  /** #121b (SURVEY §2.6) Brand market-basket affinity: for every
    * brand pair, the orders containing BOTH plus the e4 lift against
    * independence — the cross-sell / co-purchase report (#121's
    * user-type affinity shape applied to the order fact at brand
    * granularity, where the pair space is |brands|² and bounded).
    *
    * Scale shape: the part dim broadcasts onto a 2-column lineitem
    * scan, the (order, brand) frame dedups on one uniform orderkey
    * shuffle, the pair self-join fans out ≤ |brands-per-order|² per
    * order (never corpus-quadratic), per-brand counts + the 1-row
    * order total broadcast back, lift multiplies in DECIMAL(38,0)
    * (n_both·n_orders·10⁴ overflows BIGINT at 100 TB order counts). */
  private val basket = new Materialize.FrameArtifact("basket-", "lineitem", "part")

  def brandBasket(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE fact pass: per-order sorted brand SET via a single
    // map-side-combined collect_set shuffle, materialized once per
    // corpus fingerprint (the gram3/lmCounts artifact pattern). The
    // previous form referenced the 600 M-row distinct subtree FOUR
    // times (self-join both sides + per-brand totals + order total),
    // so the fact scan+shuffle executed four times per run — measured
    // 634.8 s at sf100 (×16.3/decade). Pairs now explode locally from
    // each order's sorted set (ascending ⇒ brand_a < brand_b for
    // free); the totals explode/count the same tiny artifact.
    // the artifact derives from BOTH tables (brands come off the part
    // join), so both are its declared sources — a part.parquet
    // rewrite with lineitem unchanged must rebuild (r10 ADVICE)
    val sets = basket(spark, sfDir) {
      val p = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand")
      Tables.lineitem(spark, sfDir)
        .select($"l_orderkey", $"l_partkey")
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"p_brand")).as("bs"))
    }
    val perBrand = sets.select(explode($"bs").as("p_brand"))
      .groupBy($"p_brand").agg(count(lit(1)).as("n_t"))
    val totOrders = sets.agg(count(lit(1)).as("n_orders_tot"))
    sets
      .select(posexplode($"bs").as(Seq("i", "brand_a")), $"bs")
      .select($"brand_a",
        explode(slice($"bs", $"i" + 2, size($"bs"))).as("brand_b"))
      .groupBy($"brand_a", $"brand_b")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(perBrand.select($"p_brand".as("brand_a"),
        $"n_t".as("n_a"))), Seq("brand_a"))
      .join(broadcast(perBrand.select($"p_brand".as("brand_b"),
        $"n_t".as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(totOrders))
      .withColumn("lift_e4",
        expr("""CAST((CAST(n_both AS DECIMAL(38,0)) * n_orders_tot * 10000)
               |div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""".stripMargin))
      .select($"brand_a", $"brand_b", $"n_both", $"n_a", $"n_b", $"lift_e4")
      .orderBy($"brand_a", $"brand_b")
  }

  /** #33e-b (SURVEY §2.6) Shipping-delay distribution: lines
    * histogrammed by whole WEEKS between order placement and line
    * shipment, split by order priority, with each priority's e4 row
    * share — the SLA distribution behind #33e's binary late-order
    * count (the count says HOW MANY crossed the 60-day bar; this
    * says where the whole mass sits, and whether urgent orders
    * actually ship on a faster curve). Reads the [[OrderLineView]]
    * materialized join (r13): a 3-column pruned scan into a bounded
    * (|priorities| × weeks) partial agg, share window on the bounded
    * frame only — no fact exchange. */
  def shipDelay(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderpriority")
    // Served from the denormalized [[OrderLineView]] (r13): the
    // lineitem ⋈ orders join is materialized once per corpus
    // fingerprint, so this report is a 3-column pruned scan into a
    // bounded partial agg — no fact exchange at all.
    OrderLineView.scan(spark, sfDir)
      .select($"o_orderpriority",
        // greatest(…, 0): a (dirty-data) ship-before-order line lands
        // in week 0 instead of splitting engines on negative division
        expr("greatest(CAST(datediff(l_shipdate, o_orderdate) AS BIGINT), 0) div 7")
          .as("delay_weeks"))
      .groupBy($"o_orderpriority", $"delay_weeks")
      .agg(count(lit(1)).as("n_lines"))
      .withColumn("tot", sum($"n_lines").over(w))
      .withColumn("share_e4", expr("(10000 * n_lines) div tot"))
      .drop("tot")
      .orderBy($"o_orderpriority", $"delay_weeks")
  }

  /** Volume floor for [[supplierDelay]] — a supplier must have shipped
    * at least this many lines before its late RATE is ranked (a
    * 1-line supplier would otherwise top the list at rate 0 or 1e4). */
  val DelayMinLines = 20L

  /** #33p-b (SURVEY §2.6) Supplier late-rate report: the top-20
    * suppliers by SHARE of lines shipped late (> 60 days after order,
    * the #33e/#33p lateness proxy), with a [[DelayMinLines]] volume
    * floor — the rate complement of #33p's sole-blame count: a
    * supplier can dodge sole-late blame on multi-supplier orders and
    * still run a terrible late rate. Reads the [[OrderLineView]]
    * materialized join (r13), so the plan is a 3-column pruned scan
    * into a per-supplier partial agg, names broadcast, top-20
    * TakeOrdered; keyed by s_suppkey (clone-name-safe). */
  def supplierDelay(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")
    // Served from the denormalized [[OrderLineView]] (r13): the report
    // is a 3-column scan into the per-supplier partial agg — the only
    // exchange left is |suppliers| combined rows.
    OrderLineView.scan(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
          1L).otherwise(0L)).as("n_late"))
      .filter($"n_lines" >= DelayMinLines)
      .withColumn("late_e4", expr("(10000 * n_late) div n_lines"))
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_lines", $"n_late", $"late_e4")
      .orderBy($"late_e4".desc, $"s_suppkey".asc)
      .limit(20)
  }

  /** #33e-c (SURVEY §2.6) Open-order aging report: non-finished
    * orders (status ≠ 'F') bucketed by whole weeks of age against
    * the corpus's latest order date, per status, with order counts
    * and value — the WIP backlog report operations reads daily (an
    * old 'O' order is a stuck order; the tail of this histogram is
    * the escalation queue). One narrow scan into a bounded
    * (|statuses| × weeks) partial agg; the reference date broadcasts
    * as a 1-row agg. */
  def orderAging(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select($"o_orderstatus", $"o_orderdate", $"o_totalprice")
    val ref = o.agg(max($"o_orderdate").as("ref"))
    o.filter($"o_orderstatus" =!= "F")
      .crossJoin(broadcast(ref))
      .select($"o_orderstatus",
        expr("greatest(CAST(datediff(ref, o_orderdate) AS BIGINT), 0) div 7")
          .as("age_weeks"),
        $"o_totalprice")
      .groupBy($"o_orderstatus", $"age_weeks")
      .agg(count(lit(1)).as("n_orders"),
        Det.sumFixed($"o_totalprice", 2).as("value_e2"))
      .orderBy($"o_orderstatus", $"age_weeks")
  }

  /** #33q-b (SURVEY §2.6) Dead-part audit: per brand, catalog parts
    * that have NEVER shipped (no lineitem references them) and their
    * e4 share of the brand's catalog — the dead-inventory screen
    * behind the #33q diversity report (a part no one ever shipped is
    * listed capacity, not real supply). The fact side reduces to
    * DISTINCT shipped partkeys first (one uniform partkey shuffle of
    * a shrinking frame), the catalog left-antis against it, and the
    * readout is a |brands| partial agg — the fact table is never
    * joined at row granularity. */
  def deadParts(spark: SparkSession, sfDir: String): DataFrame = {
    val shipped = Tables.lineitem(spark, sfDir)
      .select($"l_partkey").distinct()
    val p = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand")
    val dead = p.join(shipped, $"p_partkey" === $"l_partkey", "left_anti")
      .groupBy($"p_brand").agg(count(lit(1)).as("n_dead"))
    p.groupBy($"p_brand").agg(count(lit(1)).as("n_parts"))
      .join(dead, Seq("p_brand"), "left")
      .na.fill(0L, Seq("n_dead"))
      .withColumn("dead_e4", expr("(10000 * n_dead) div n_parts"))
      .orderBy($"p_brand")
  }

  /** #140 (SURVEY §2.6) discount elasticity profile: per discount
    * level (e2): line count, quantity, revenue — the "does a deeper
    * discount move more units" curve pricing teams read; one narrow
    * scan into a ≤|levels|-group partial agg (discounts are a small
    * finite menu). */
  def discountEffect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(round($"l_discount" * 100, 0).cast("long").as("discount_e2"))
      .agg(count(lit(1)).as("n_lines"),
        Det.sumFixed($"l_quantity", 2).as("sum_qty_e2"),
        Det.sumFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
          .as("revenue_e4"))
      .orderBy($"discount_e2")

  /** #135 (SURVEY §2.6) month-over-year revenue trend: per (year,
    * month): order count, revenue, the same-month-last-year revenue,
    * and the signed e4 YoY growth — the seasonality-corrected trend
    * report (January vs December is noise; January vs last January
    * is signal). One (year, month) partial agg bounds the frame to
    * |months| rows; the self-join on (year−1, month) and the growth
    * division run on that bounded frame. The division is SIGN-SPLIT
    * (both engines divide nonnegative operands only — the #115
    * pattern), because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, and YoY deltas go negative. */
  def revenueYoy(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        Det.sumFixed($"o_totalprice", 2).as("rev_e2"))
    monthly
      .join(broadcast(monthly.select(($"yr" + 1L).as("yr"), $"mo",
        $"rev_e2".as("prev_rev_e2"))), Seq("yr", "mo"), "left")
      .withColumn("yoy_e4",
        expr("""CASE WHEN prev_rev_e2 IS NULL OR prev_rev_e2 = 0 THEN NULL
               |  WHEN rev_e2 >= prev_rev_e2
               |    THEN (rev_e2 - prev_rev_e2) * 10000 div prev_rev_e2
               |  ELSE -((prev_rev_e2 - rev_e2) * 10000 div prev_rev_e2)
               |END""".stripMargin))
      .select($"yr", $"mo", $"n_orders", $"rev_e2", $"prev_rev_e2",
        $"yoy_e4")
      .orderBy($"yr", $"mo")
  }

  /** #136 (SURVEY §2.6) nation trade balance: per nation, revenue
    * its suppliers shipped (exports) vs revenue its customers bought
    * (imports) and the net — the all-nations generalization of the
    * #33i two-nation flow. Both legs are joinless fact passes (r13):
    * the export leg broadcasts the supplier tag straight onto a
    * 2-column lineitem scan; the import leg reads the
    * [[OrderLineView]] materialized join (the per-query order-key
    * shuffle it used to pay is in the view build) and broadcasts the
    * customer tag — each collapses to |nations| rows map-side before
    * the full-outer merge (outer, so a nation with suppliers but no
    * customers still reports). */
  def tradeBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_suppkey",
        Det.toFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
          .as("rev_e4"))
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    val exp = li.join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .groupBy($"n_name").agg(sum($"rev_e4").as("export_rev_e4"))
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val imp = OrderLineView.scan(spark, sfDir)
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"n_name").agg(sum($"rev_e4").as("import_rev_e4"))
    exp.join(imp, Seq("n_name"), "full_outer")
      .select($"n_name",
        coalesce($"export_rev_e4", lit(0L)).as("export_rev_e4"),
        coalesce($"import_rev_e4", lit(0L)).as("import_rev_e4"))
      .withColumn("net_e4", $"export_rev_e4" - $"import_rev_e4")
      .orderBy($"n_name")
  }

  /** #132 (SURVEY §2.6) supplier concentration report: supplier
    * count, total revenue, the Herfindahl–Hirschman index over e6
    * revenue shares, and the top-10 suppliers' combined share — the
    * single-row market-structure answer to "does one supplier's
    * outage take the supply chain down". One fact partial-agg
    * shuffle on the uniform supplier key; everything after is
    * |suppliers|-bounded: shares divide against a 1-row broadcast
    * total in DECIMAL(38,0), HHI sums share² exactly, and the top-10
    * picks via TakeOrdered (never a global sort). */
  def supplierConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    // r14: served from the order-line view — the stored rev_e4 IS the
    // per-line toFixed term sumFixed sums (sumFixed(c,4) ≡
    // sum(toFixed(c,4)), Tables.scala:69), so the per-supplier sums
    // are bit-identical while the scan reads two pruned columns of
    // the flattened view instead of three raw lineitem columns plus
    // per-row double arithmetic.
    // persisted (r14): tot/hhi/top10/final each embed their own copy
    // of this subtree (5 fact scans in
    // plans/r14/q_supplier_conc_before.txt — exchange reuse never
    // fires across the differently-pruned copies); the cached frame
    // is |suppliers| rows. Recomputed fresh per invocation.
    val rev = OrderLineView.scan(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(sum($"rev_e4").as("rev_e4"))
      .persist()
    val tot = rev.agg(sum($"rev_e4").as("tot_e4"),
      count(lit(1)).as("n_suppliers"))
    val shares = rev.crossJoin(broadcast(tot))
      .withColumn("share_e6",
        expr("""CAST((CAST(rev_e4 AS DECIMAL(38,0)) * 1000000)
               |div CAST(tot_e4 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
    val hhi = shares.agg(
      expr("sum(share_e6 * share_e6) div 1000000").as("hhi_e6"))
    val top10 = shares.orderBy($"share_e6".desc, $"l_suppkey".asc).limit(10)
      .agg(sum($"share_e6").as("top10_share_e6"))
    tot.crossJoin(broadcast(hhi)).crossJoin(broadcast(top10))
      .select($"n_suppliers", $"tot_e4".as("total_rev_e4"),
        $"hhi_e6", $"top10_share_e6")
  }

  /** [[dormantRich]]'s recency cutoff: a customer with no order on
    * or after this date counts as dormant. */
  val DormantCutoff = "2000-06-01"

  /** #33n (SURVEY §2.6) TPC-H Q22-style dormant high-balance
    * customers: per nation, customers whose balance beats the
    * positive-balance average but who placed no order since
    * [[DormantCutoff]] — the sales-opportunity report. The global
    * average is a 1-ROW (Σ, n) frame broadcast as a join predicate
    * evaluated multiplication-only (bal·n > Σ — the exact rational
    * mean, no division anywhere); the NOT-EXISTS is a left-anti
    * join against the recent orders' custkey projection (already
    * |customers|-bounded after its partial-agg'd distinct). Output
    * is a |nations| partial agg. */
  def dormantRich(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_nationkey",
        Det.toFixed($"c_acctbal", 2).as("bal_e2"))
    val pos = c.filter($"bal_e2" > 0)
      .agg(sum($"bal_e2").as("sum_bal_e2"), count(lit(1)).as("n_pos"))
    val active = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit(DormantCutoff).cast("timestamp"))
      .select($"o_custkey").distinct()
    val n = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    c.join(broadcast(pos), $"bal_e2" * $"n_pos" > $"sum_bal_e2")
      .join(active, $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"), sum($"bal_e2").as("total_bal_e2"))
      .orderBy($"n_name")
  }

  /** [[marketShare]]'s market: ASIA-region customers buying MEDIUM
    * parts; the tracked supplier nation. */
  val MarketNation = "NATION_3"

  /** #33o (SURVEY §2.6) TPC-H Q8-style national market share: per
    * order year, the e6 share of one part-type's ASIA-market revenue
    * supplied from [[MarketNation]] — the competitive-position
    * trend. Served from the [[OrderLineView]] materialized join
    * (r13): the part-type slice BROADCAST-semi-narrows the view scan
    * (the biggest reducer), the ASIA customer filter and the
    * supplier→nation tag ride broadcast joins — zero fact exchanges
    * before the |years|-group partial agg — and the share divides
    * per-year sums in DECIMAL(38,0) (≡ DuckDB HUGEINT — rev_e4·10⁶
    * overflows BIGINT at fact scale). */
  def marketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val typedParts = Tables.part(spark, sfDir)
      .filter($"p_type" === "MEDIUM").select($"p_partkey")
    val asiaCust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .join(Tables.region(spark, sfDir).filter($"r_name" === "ASIA"),
            $"n_regionkey" === $"r_regionkey", "left_semi")
          .select($"n_nationkey")),
        $"c_nationkey" === $"n_nationkey", "left_semi")
      .select($"c_custkey")
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    OrderLineView.scan(spark, sfDir)
      .join(broadcast(typedParts), $"l_partkey" === $"p_partkey", "left_semi")
      .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey", "left_semi")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("order_year"))
      .agg(
        coalesce(sum(when($"supp_nation" === MarketNation, $"rev_e4")
          .otherwise(0L)), lit(0L)).as("nation_rev_e4"),
        coalesce(sum($"rev_e4"), lit(0L)).as("total_rev_e4"))
      .withColumn("mkt_share_e6",
        expr("""CAST((CAST(nation_rev_e4 AS DECIMAL(38,0)) * 1000000)
               |div CAST(total_rev_e4 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .orderBy($"order_year")
  }

  /** #147 (SURVEY §2.7) join-key skew audit: for each fact-side
    * join/groupBy key the engine shuffles on, the exact key
    * cardinality, the heaviest key's row count and e6 share, and the
    * max/mean imbalance factor (e2) — the number that DECIDES whether
    * a key needs salting (`keyedSumSalted`'s trigger) or can rely on
    * AQE skew splitting. At 100 TB you run this audit BEFORE sizing a
    * shuffle, not after it straggles.
    *
    * Shape: one partial-agg'd shuffle per audited key (map-side
    * combine collapses each partition's repeats, so the exchange
    * carries O(keys) rows), then a 1-row reduction; the four 1-row
    * legs union. The imbalance math is integer-exact in
    * DECIMAL(38,0): share_e6 = max·1e6 div rows, skew_x_e2 =
    * max·keys·1e2 div rows (max/mean, since mean = rows/keys). */
  def keySkewAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def leg(df: DataFrame, label: String, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
          max($"cnt").as("max_key_rows"))
        .select(lit(label).as("key_col"), $"n_rows", $"n_keys",
          $"max_key_rows",
          expr("""CAST((CAST(max_key_rows AS DECIMAL(38,0)) * 1000000)
                 |div CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
            .as("top_share_e6"),
          expr("""CAST((CAST(max_key_rows AS DECIMAL(38,0)) * n_keys * 100)
                 |div CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
            .as("skew_x_e2"))
    leg(Tables.lineitem(spark, sfDir), "lineitem.l_partkey", "l_partkey")
      .unionByName(leg(Tables.lineitem(spark, sfDir),
        "lineitem.l_suppkey", "l_suppkey"))
      .unionByName(leg(Tables.orders(spark, sfDir),
        "orders.o_custkey", "o_custkey"))
      .unionByName(leg(Tables.events(spark, sfDir),
        "events.user_id", "user_id"))
      .orderBy($"key_col")
  }

  /** #150 (SURVEY §2.7) data-quality constraint audit: referential
    * integrity (fact FK → dim, checked in ONE left-join pass — the
    * dim key is unique so the join never fans out and
    * null-right-side = orphan), range/sign rules, null keys, and
    * key uniqueness across the star schema — the expectations gate a
    * 100 TB ingest runs before anything downstream trusts the drop.
    * Each fact table is scanned ONCE: its range rules ride the same
    * pass as its FK join agg; the events/documents legs are narrow
    * conditional aggs; everything collapses to 1 row per table
    * before fanning out to report rows.
    * Violations are 0 on healthy data BY DESIGN — the oracle gates
    * the counting logic, and the spec drives crafted dirty frames
    * through the SAME stage to prove each rule actually fires. */
  def integrityAudit(spark: SparkSession, sfDir: String): DataFrame =
    integrityReport(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.events(spark, sfDir),
      Tables.documents(spark, sfDir))

  /** The lineitem constraint pass of [[integrityReport]] — FK orphans
    * against orders plus both range rules in ONE scan (the order key
    * is unique, so the left join preserves row count and n_checked
    * stays count(*)). ONE definition shared with the streaming
    * per-drop gate (StreamingJobs.integrityGate): against a stream
    * it is a stream-static left join + a complete-mode commutative
    * agg, so the live totals and the batch audit cannot disagree. */
  private[graft] def lineitemChecksAgg(li: DataFrame, o: DataFrame): DataFrame =
    li.select($"l_orderkey", $"l_quantity", $"l_discount")
      .join(o.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left")
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when($"l_quantity" <= 0.0, 1L).otherwise(0L)).as("v_qty"),
        sum(when($"l_discount" < 0.0 || $"l_discount" > 1.0, 1L)
          .otherwise(0L)).as("v_disc"))

  /** The constraint battery behind [[integrityAudit]], over
    * caller-supplied frames so the spec can feed dirty data through
    * the production stage. Each fact table is scanned ONCE: its
    * range rules ride the same pass as its FK left-join (the dim key
    * is unique, so the join preserves row count and every rule's
    * n_checked stays count(*)), the multi-rule 1-row agg fans out to
    * report rows with an explode over literal-named structs. */
  private[graft] def integrityReport(li: DataFrame, o: DataFrame,
      c: DataFrame, ev: DataFrame, docs: DataFrame): DataFrame = {
    def fanOut(agg1: DataFrame, legs: (String, String)*): DataFrame =
      agg1.select(explode(array(legs.map { case (name, vCol) =>
        struct(lit(name).as("check_name"), $"n".as("n_checked"),
          col(vCol).as("n_violations"))
      }: _*)).as("r")).select($"r.*")
    val liLegs = fanOut(lineitemChecksAgg(li, o),
      "fk lineitem.l_orderkey -> orders" -> "v_fk",
      "range lineitem.l_quantity > 0" -> "v_qty",
      "range lineitem.l_discount in [0,1]" -> "v_disc")
    val oLegs = fanOut(
      o.select($"o_custkey", $"o_totalprice")
        .join(c.select($"c_custkey"), $"o_custkey" === $"c_custkey", "left")
        .agg(count(lit(1)).as("n"),
          sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("v_fk"),
          sum(when($"o_totalprice" < 0.0, 1L).otherwise(0L)).as("v_price")),
      "fk orders.o_custkey -> customer" -> "v_fk",
      "range orders.o_totalprice >= 0" -> "v_price")
    val evLeg = fanOut(
      ev.agg(count(lit(1)).as("n"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("v_null")),
      "notnull events.user_id" -> "v_null")
    val docLeg = fanOut(
      docs.agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct($"doc_id")).as("v_dup")),
      "unique documents.doc_id" -> "v_dup")
    liLegs.unionByName(oLegs).unionByName(evLeg).unionByName(docLeg)
      .orderBy($"check_name")
  }

  /** #33p (SURVEY §2.6) TPC-H Q21-style "suppliers who kept orders
    * waiting": over finished orders (status 'F'), the top-20
    * suppliers who were the SOLE late supplier on a multi-supplier
    * order — the blame report purchasing reads before renegotiating
    * a contract. "Late" is the schema's lateness proxy shared with
    * #33e: a line shipped more than 60 days after the order date
    * (this lineitem has no commit/receipt dates; reference Q21 uses
    * `l_receiptdate > l_commitdate`).
    *
    * The classic form is a double EXISTS / NOT-EXISTS self-join on
    * lineitem; re-expressed as a cascading aggregation so the fact
    * table crosses ONE fact-sized exchange: the status filter pushes
    * into the [[OrderLineView]] materialized-join scan (r13 — no
    * per-query fact-fact join to build), the (orderkey, suppkey)
    * late-flag agg is map-side combined before its shuffle, and
    * everything after runs on collapsed frames — the per-order
    * (n_supp, n_late, sole-late-supp) agg sees ≤ suppliers-per-order
    * rows per order, the suppkey count sees one row per sole-late
    * order (when n_late = 1 the max-over-late-suppkeys IS the unique
    * culprit, so no join back onto a per-supplier frame is needed).
    * Supplier names broadcast, top-20 via TakeOrdered. */
  def waitingSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val perSupp = OrderLineView.scan(spark, sfDir)
      .filter($"o_orderstatus" === "F")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        1L).otherwise(0L)).as("late"))
    val soleLate = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum($"late").as("n_late"),
        max(when($"late" === 1L, $"l_suppkey")).as("late_suppkey"))
      .filter($"n_supp" >= 2L && $"n_late" === 1L)
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")
    // group + order on the supplier KEY, not the name: scaled corpora
    // clone suppliers under fresh keys with recurring names, and a
    // name-keyed report would silently weld the clones together
    soleLate.groupBy($"late_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(s), $"late_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_suppkey".asc)
      .limit(20)
  }

  /** #33q (SURVEY §2.6) TPC-H Q16-style supplier diversity: how many
    * distinct suppliers have actually SHIPPED parts of each
    * (brand, type, size) combination — the single-source-risk screen
    * over the product catalog (a combination served by one supplier
    * is a supply-chain outage away from stockout). Reference Q16
    * counts partsupp offers; this schema has no partsupp, so the
    * observed shipping relation (lineitem) stands in — a HARDER
    * audit, since an offer that never shipped is no hedge. One brand
    * is excluded and sizes restricted, Q16-style, so the report
    * answers a concrete sourcing question rather than dumping the
    * catalog.
    *
    * Scale shape: the filtered part dim BROADCASTS onto a 2-column
    * lineitem scan (pruned ReadSchema, no fact shuffle for the
    * join); Spark plans count(DISTINCT) as the two-phase expand —
    * a partial dedup keyed by (brand, type, size, suppkey), then the
    * bounded group-key agg — both exchanges uniform and partial-
    * agg'd; output ≤ |brands|·|types|·|sizes| rows. */
  def supplierDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter($"p_brand" =!= "Brand#1" && $"p_size".isin(1, 4, 7, 10))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val li = Tables.lineitem(spark, sfDir).select($"l_partkey", $"l_suppkey")
    li.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand".asc, $"p_type".asc,
        $"p_size".asc)
  }
}
