package graft.operators

import graft.{ColumnInterpolator, Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Core relational / per-record transforms (SURVEY.md §2.1, §2.6).
  *
  * Re-expresses the reference's DataStream transform surface
  * (map/flatMap/filter/keyBy/sum/reduce/min/max/split/select/
  * connect/union — /root/reference .../transformTest/TransformTest.scala,
  * SplitAndSelect.scala, ConnectAndUnion.scala,
  * helloWorldTest/WordCount.scala) as declarative DataFrame plans:
  * Catalyst pushes the filters into the parquet scan and every
  * aggregation gets map-side partial aggregation — the Spark-native
  * equivalent of Flink's keyed pre-aggregation, and the property
  * that keeps shuffles small at 100 TB.
  */
object CoreOps {

  /** TPC-H Q1-style pricing summary: one shuffle, partial-agg'd.
    * Flagship aggregate (reference keyBy+sum, TransformTest.scala:30). */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Det.sumFixed($"l_quantity", 0).as("sum_qty"),
        Det.sumFixed($"l_extendedprice", 2).as("sum_base_e2"),
        Det.sumFixed($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
          .as("sum_disc_e4"),
        count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** #33c (SURVEY §2.6) TPC-H Q6-style filtered revenue scan: the
    * what-if discount-revenue question — one-year shipdate slice,
    * discount band, small quantities — whose entire answer is a
    * predicate-pushdown test. All three predicates reach the parquet
    * scan (PlanSpec pins PushedFilters), the projection prunes to
    * three columns, and the aggregate is a single partial-agg'd
    * 1-group reduction: at 100 TB this runs at scan speed on exactly
    * the row groups the shipdate min/max stats admit. Revenue is the
    * §4 fixed-point contract: price·discount rounded per row at e4,
    * summed exact. */
  def revenueFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount".between(0.04, 0.06) && $"l_quantity" < 24.0)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(Det.sumFixed($"l_extendedprice" * $"l_discount", 4), lit(0L))
          .as("revenue_e4"))

  /** Batch word count (reference WordCount.scala:22 flatMap→groupBy→sum). */
  def wordCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"word")

  /** map + filter, pushed down to the scan
    * (reference SourceFromListOrFile.scala:28 filter temperature>=20). */
  def mapFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter($"value" >= 50.0 && $"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value")
      .orderBy($"event_id")

  /** keyBy + sum (reference StreamWordCount.scala:28 keyBy(0).sum(1)). */
  def keyedSum(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("cnt"), Det.sumFixed($"value", 6).as("sum_value_e6"))
      .orderBy($"user_id")

  /** Hierarchical totals (per (type, user), per type, grand total) —
    * ROLLUP semantics, levels re-rolled from the finest partial;
    * integer sums keep every level oracle-exact. */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    // ROLLUP without Expand: the built-in rollup duplicates every
    // input row per grouping level (Expand), so the aggregate eats
    // 2× the events — measured ×12.4/decade at sf1→sf10 where the
    // plain (type, user) agg is ×7.1. The levels are re-rolled from
    // the finest partial instead (count rolls up as sum-of-counts,
    // the fixed-point money sum is an associative integer), so the
    // full stream is aggregated ONCE and the coarser levels cost
    // |type×user| ≈ nothing. Same rows as rollup(): NULL-filled
    // grouping columns at the coarser levels.
    val base = Tables.events(spark, sfDir)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("cnt"), Det.sumFixed($"value", 6).as("sum_value_e6"))
    val byType = base.groupBy($"event_type")
      .agg(sum($"cnt").as("cnt"), sum($"sum_value_e6").as("sum_value_e6"))
      .select($"event_type", lit(null).cast(LongType).as("user_id"),
        $"cnt", $"sum_value_e6")
    val grand = byType
      .agg(sum($"cnt").as("cnt"), sum($"sum_value_e6").as("sum_value_e6"))
      .select(lit(null).cast(StringType).as("event_type"),
        lit(null).cast(LongType).as("user_id"), $"cnt", $"sum_value_e6")
    base.unionByName(byType).unionByName(grand)
      .orderBy($"event_type".asc_nulls_first, $"user_id".asc_nulls_first)
  }

  /** Wide per-type totals via PIVOT: one row per user, one integer
    * total column per event type (explicit value list → static
    * schema, single shuffle). */
  def pivotAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(Det.sumFixed($"value", 6))
      // scoped fill: an unscoped fill would also rewrite a NULL
      // user_id group key to 0 and collide with the real user 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy($"user_id")

  /** keyedSum under key skew: two-stage salted aggregation. Stage 1
    * shuffles on (user_id, salt) — a hot key's rows spread over
    * `salts` reducers; stage 2 combines the per-salt partials (tiny:
    * keys × salts rows). Same result as [[keyedSum]] (identical
    * oracle) because the fixed-point sums are associative integers.
    * Salt is derived deterministically from event_id — no rand(), so
    * the plan replays identically (speculative retries, AQE). This is
    * the manual fallback when AQE skew splitting can't help (single
    * hot GROUP BY key, not a skewed join). */
  def keyedSumSalted(spark: SparkSession, sfDir: String, salts: Int = 16): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("salt", pmod(hash($"event_id"), lit(salts)))
      .groupBy($"user_id", $"salt")
      .agg(count(lit(1)).as("cnt_p"), Det.sumFixed($"value", 6).as("sum_p"))
      .groupBy($"user_id")
      .agg(sum($"cnt_p").as("cnt"), sum($"sum_p").as("sum_value_e6"))
      .orderBy($"user_id")

  /** keyBy + min/max (reference WindowTest.scala:76 minBy). min/max of
    * doubles select an existing bit pattern — cross-engine safe. */
  def keyedMinMax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min($"value").as("min_value"), max($"value").as("max_value"),
        count(lit(1)).as("cnt"))
      .orderBy($"user_id")

  /** Shared argmin/argmax kernel for [[minBy]]/[[maxBy]]: a
    * declarative `min_by`/`max_by` over a lexicographic (value,
    * event_id) order struct — a partial-agg'd single shuffle that
    * carries one candidate row per (partition, key). The previous
    * `row_number` window shuffled and SORTED every event row; at
    * sf10 the swap measures 14 s → 1.3 s for identical output.
    * event_id is unique, so the order struct is a strict total order
    * and the surviving row (and the oracle hash) is exactly the
    * window form's (value asc/desc, event_id asc tiebreak — the
    * descending form negates event_id inside the order struct). */
  private def argBy(spark: SparkSession, sfDir: String, asc: Boolean): DataFrame = {
    val payload = struct($"event_id", $"value", unix_micros($"ts").as("ts_us"))
    val pick =
      if (asc) min_by(payload, struct($"value", $"event_id"))
      else max_by(payload, struct($"value", (-$"event_id").as("neg_id")))
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(pick.as("m"))
      .select($"user_id", $"m.event_id", $"m.value", $"m.ts_us")
      .orderBy($"user_id")
  }

  /** minBy: whole row achieving the key's min, deterministic tiebreak
    * (reference minBy(1), WindowTest.scala:76) — (value asc,
    * event_id asc) argmin via [[argBy]]. */
  def minBy(spark: SparkSession, sfDir: String): DataFrame =
    argBy(spark, sfDir, asc = true)

  /** maxBy: whole row achieving the key's max (reference maxBy,
    * WindowTest.scala:76) — (value desc, event_id asc) via [[argBy]]. */
  def maxBy(spark: SparkSession, sfDir: String): DataFrame =
    argBy(spark, sfDir, asc = false)

  /** Running keyed fold — Flink's emit-per-element keyBy.reduce
    * (TransformTest.scala:30): cumulative count/sum per key in event
    * order. Cumulative frame over integers → deterministic. */
  def reduceRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = eventOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        count(lit(1)).over(w).as("running_cnt"),
        sum(Det.toFixed($"value", 6)).over(w).as("running_sum_e6"))
      .orderBy($"user_id", $"ts_us", $"event_id")
  }

  /** split/select (reference SplitAndSelect.scala:25 high/mid/low):
    * tag with CASE — one scan, no shuffle until the count. */
  def splitSelect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("severity",
        when($"value" >= 80.0, "high")
          .when($"value" >= 50.0, "mid")
          .otherwise("low"))
      .groupBy($"severity")
      .agg(count(lit(1)).as("cnt"), Det.sumFixed($"value", 6).as("sum_value_e6"))
      .orderBy($"severity")

  /** connect + CoMap then union (reference ConnectAndUnion.scala:47):
    * two typed branches mapped to a common schema and unioned —
    * Catalyst collapses both branches onto one scan. */
  def unionConnect(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val high = ev.filter($"value" >= 80.0)
      .select($"user_id", $"event_id", lit("error").as("tag"))
    val mid = ev.filter($"value" >= 50.0 && $"value" < 80.0)
      .select($"user_id", $"event_id", lit("warn").as("tag"))
    high.unionByName(mid).orderBy($"event_id")
  }

  /** Side output (reference SideOutPutTest.scala:930: hot temperatures
    * diverted to a tagged side stream). */
  def sideOutput(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter($"value" > 90.0)
      .select($"event_id", $"user_id", $"event_type", $"value",
        lit("hot").as("tag"))
      .orderBy($"event_id")

  /** JSON column access over events.props (§2.6 #36): extract ONLY
    * the referenced path per row. r14 (VERDICT #3, guide §4): the
    * `from_json(... 'k LONG')` struct parse (full Jackson
    * tokenization + FailureSafeParser + an InternalRow per row) is
    * replaced by [[graft.functions.JsonExprs.jsonLongKey]] ≡
    * `CAST(get_json_object(props, '$.k') AS BIGINT)` — byte-scanned
    * for flat integer-valued objects, Spark's own GetJsonObject for
    * anything else, and the oracle's exact definition
    * (`json_extract_string` + CAST) either way. The filter-fence
    * discipline is unchanged: PushPredicateThroughNonJoin would
    * inline the alias and re-evaluate the extraction inside the
    * pushed filter (the 2×-parse flagged in VERDICT r1 #4), so the
    * projection carries a nondeterministic fence column referenced by
    * a never-true disjunct — predicates cannot push through a
    * nondeterministic projection, which pins the filter ABOVE the
    * projection. Exactly one parse per row. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select($"event_id",
        graft.functions.JsonExprs.jsonLongKey($"props", "k").as("k"),
        monotonically_increasing_id().as("_fence"))
      .filter($"k" >= 50 || $"_fence" < 0)
      .select($"event_id", $"k")
      .orderBy($"event_id")

  /** The typed event projection behind [[eventOutliers]]. */
  private[graft] def eventFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts").as("ts_us"), Det.toFixed($"value", 2).as("value_e2"))

  /** Exact per-type integer moments (n, Σv, Σv²) — the broadcastable
    * stats frame [[eventOutliers]] and the streaming gate share. */
  private[graft] def eventMoments(ev: DataFrame): DataFrame =
    ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"value_e2").as("s1"),
        sum($"value_e2" * $"value_e2").as("s2"))

  /** The 3σ predicate over (value_e2, n, s1, s2) — ONE definition
    * shared by the batch operator and
    * [[graft.streaming.StreamingJobs.streamingOutliers]], so the two
    * runtimes cannot drift on the boundary. */
  private[graft] def sigma3Outlier: org.apache.spark.sql.Column = {
    val dev = $"n".cast("double") * $"value_e2".cast("double") - $"s1".cast("double")
    val spread = $"n".cast("double") * $"s2".cast("double") -
      $"s1".cast("double") * $"s1".cast("double")
    dev * dev > lit(9.0) * spread
  }

  /** #71 Statistical outlier detection: events whose value sits more
    * than 3σ from their event_type's mean — the anomaly gate a
    * pipeline runs on metric feeds before trusting aggregates.
    * Determinism contract: the per-type moments (n, Σv, Σv²) are
    * EXACT integer aggregates over e2 fixed-point values
    * (order-independent), and the 3σ test compares
    * (n·v − S1)² > 9·(n·S2 − S1²) — both sides n²-scaled, evaluated
    * per row in IEEE doubles from identical integer inputs, so both
    * engines branch identically (SURVEY.md §4; Σv² fits BIGINT to
    * ~2e10 rows/type at e2 — drop to e1 fixed point beyond).
    * Scale shape: one partial-agg'd shuffle to |event_type| rows, the
    * tiny stats frame broadcast back, the flag a narrow map — the
    * corpus is scanned once and never shuffled. */
  def eventOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventFrame(spark, sfDir)
    ev.join(broadcast(eventMoments(ev)), "event_type")
      .filter(sigma3Outlier)
      .select($"event_type", $"event_id", $"user_id", $"ts_us", $"value_e2")
      .orderBy($"event_type", $"event_id")
  }

  /** #87 Day-over-day retention cohorts over the event stream: per
    * UTC day, active users, first-seen users, users retained from the
    * previous day, and the e4 retention rate vs yesterday's actives —
    * the engagement report every event pipeline ships. Integer end to
    * end (epoch-µs div 86 400 000 000 day bucketing, e4 ratio with a
    * CASE-guarded divisor per the §4 contract).
    *
    * Physical shape at scale: ONE row-granularity shuffle — the
    * (user_id, day) distinct (partial-agg'd, output ≤ users × days ≪
    * events). Everything downstream works on that reduced frame: the
    * retention self-join is an equi-join on uniform (user_id, day)
    * keys, first-seen is a per-user min, and the day-level frames are
    * |days| rows that AQE broadcasts into the final assembly. */
  /** The distinct (user, UTC day) frame — ONE reduction shared by
    * [[retentionDaily]] (#87) and [[rollingActive]] (#87b), the only
    * row-granularity shuffle either report pays. */
  private def userDays(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()

  /** #87b Rolling 7-day active users: per UTC day, the exact distinct
    * users active that day (DAU) and in the trailing 7-day window
    * (WAU) — the engagement pair every growth dashboard tracks, made
    * EXACT without a per-day 7-way distinct union: each (user, day)
    * row claims the 7 window-days it contributes to (a bounded ×7
    * narrow explode), the claim set is de-duplicated once, and the
    * window counts are a partial agg. Days with no events inside a
    * window still count their carried users; only observed days are
    * reported (inner join against the day frame).
    *
    * Scale shape: the (user, day) distinct is the one row-granularity
    * shuffle (shared with #87); the ×7 claim explode re-shuffles
    * user-day rows once more on the uniform (user, window-day) key;
    * day frames are |days| rows, AQE-broadcast into the assembly. */
  def rollingActive(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = userDays(spark, sfDir)
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select($"user_id", explode(sequence($"day", $"day" + 6L)).as("w_day"))
      .distinct()
      .groupBy($"w_day".as("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau7")
      .orderBy($"day")
  }

  def retentionDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = userDays(spark, sfDir)
    val act = ud.groupBy($"day").agg(count(lit(1)).as("n_active"))
    val newu = ud.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_new"))
    val ret = ud.as("a")
      .join(ud.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.day" === $"b.day" + 1)
      .groupBy($"a.day".as("day")).agg(count(lit(1)).as("n_retained"))
    act
      .join(newu, Seq("day"), "left")
      .join(ret, Seq("day"), "left")
      .join(act.select(($"day" + 1).as("day"), $"n_active".as("prev_active")),
        Seq("day"), "left")
      .select($"day", $"n_active",
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        when($"prev_active".isNull || $"prev_active" === 0L, lit(0L))
          .otherwise(expr("coalesce(n_retained, 0) * 10000 div prev_active"))
          .as("retention_e4"))
      .orderBy($"day")
  }

  /** Funnel stage sequence — ONE definition shared by the operator,
    * its spec, and (via the constant) the oracle, so the step order
    * cannot drift between them. */
  private[graft] val FunnelSteps = Seq("view", "click", "purchase")

  /** Furthest funnel stage reachable from a buffered (stepIdx, µs)
    * multiset, by the greedy earliest-entry chain — the definition
    * PropertySpec proves optimal (greedy earliest entry reaches stage
    * k iff ANY strictly-increasing chain through steps 0..k−1 exists).
    * With a finite `gapUs`, each step must land within gapUs of the
    * previous step's entry — the "conversion window" semantic of
    * product-analytics funnels. Greedy earliest is the DEFINITION
    * there, not an optimization: first-touch-then-window is what the
    * funnel means (a user who converted off a later view did not
    * convert off their first interest). */
  private[graft] def chainStage(evs: Seq[(Int, Long)], nSteps: Int,
      gapUs: Long = Long.MaxValue): Long =
    chainStateFrom(evs, nSteps, 0L, Long.MinValue, gapUs)._1

  /** The greedy chain of [[chainStage]] resumed from a partial state
    * (stage0, after0 = entry time of stage0), returning the state it
    * reaches — the TTL-fold kernel of
    * [[graft.streaming.StreamingJobs.funnelGate]] (with no conversion
    * window). Split-equivalence: for event sets P, L with every P time
    * <= every L time, chainStateFrom(P ++ L, 0, -inf) ==
    * chainStateFrom(L, chainStateFrom(P, 0, -inf)) — each level the
    * P-scan reached took the level's minimum eligible time over P,
    * which is at most every L time and hence the minimum over P ++ L;
    * the first level the P-scan failed has no eligible P event at
    * all, so the union scan continues on L alone (a later level's P
    * times are not above the L entry time), which is exactly the
    * resumed scan. */
  private[graft] def chainStateFrom(evs: Seq[(Int, Long)], nSteps: Int,
      stage0: Long, after0: Long, gapUs: Long): (Long, Long) = {
    var after = after0
    var stage = stage0
    var open = true
    (stage0.toInt until nSteps).foreach { k =>
      if (open) {
        // saturating upper bound: MinValue + MaxValue stays a bound
        val hi = if (after == Long.MinValue || gapUs == Long.MaxValue)
          Long.MaxValue else after + gapUs
        val ts = evs.collect {
          case (s, us) if s == k && us > after && us <= hi => us
        }
        if (ts.isEmpty) open = false
        else { after = ts.min; stage = k + 1L }
      }
    }
    (stage, after)
  }

  /** Conversion window of [[eventFunnelWindow]]: each step must
    * follow within this many µs of the previous step's entry. */
  private[graft] val FunnelGapUs = 6L * 3600 * 1000000

  /** #103c Time-bounded conversion funnel: #103 with a
    * [[FunnelGapUs]] conversion window per step — a click a week
    * after the view is a new journey, not a conversion, so the
    * unbounded funnel overstates conversion on long event streams.
    * Same greedy earliest-entry chaining (the first-touch-then-window
    * semantic product analytics defines), same k chained
    * type-filtered user-keyed partial aggs; only the join predicate
    * gains the upper bound. */
  def eventFunnelWindow(spark: SparkSession, sfDir: String): DataFrame =
    funnelReport(spark, sfDir, gapUs = Some(FunnelGapUs))

  /** #103d Funnel conversion-latency report: for each adjacent step
    * pair of the (unbounded) #103 funnel, how long converting users
    * took — n / min / max / integer-mean µs of t_{k+1} − t_k. The
    * where-do-users-stall report that picks the #103c conversion
    * window from data instead of folklore. Same [[stageTimes]]
    * chaining as the funnel counts (one definition), so a user's
    * latency is measured between exactly the entries the funnel
    * counted.
    *
    * Scale shape: the stage frames are per-user aggregates already;
    * each adjacent pair joins on user_id (shrinking frames, AQE
    * broadcasts), and the report is a |steps|-row partial agg. */
  def funnelLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val st = stageTimes(eventTimes(spark, sfDir), None)
    val pairs = st.sliding(2).zipWithIndex.map {
      case (List(a, b), i) =>
        a.select($"user_id", $"t".as("t_a"))
          .join(b.select($"user_id", $"t".as("t_b")), "user_id")
          .select(lit(i + 1L).as("from_stage"),
            lit(FunnelSteps(i)).as("from_step"),
            lit(FunnelSteps(i + 1)).as("to_step"),
            ($"t_b" - $"t_a").as("lat_us"))
      case (frames, i) => sys.error(s"stage pair $i arity ${frames.length}")
    }.reduce(_ union _)
    pairs.groupBy($"from_stage", $"from_step", $"to_step")
      .agg(count(lit(1)).as("n_users"),
        min($"lat_us").as("min_us"), max($"lat_us").as("max_us"),
        expr("sum(lat_us) div count(1)").as("mean_us"))
      .orderBy($"from_stage")
  }

  /** #103 Ordered conversion funnel: users who performed
    * view → click → purchase IN TIME ORDER (each step strictly after
    * the user's EARLIEST qualifying time for the previous step), with
    * per-stage counts and e4 step-conversion rates vs the previous
    * stage — the product-analytics query every event warehouse runs,
    * and one a bare groupBy cannot express (min-per-step ignores
    * ordering; this is a sequential pattern).
    *
    * Earliest-entry semantics: stage k's time for a user is
    * min(ts of step-k events after their stage-(k−1) time). Greedy
    * earliest entry is optimal here — any valid ordered chain implies
    * the greedy one exists — so the operator needs no per-user event
    * sorting, just k chained (filter → user-keyed min) passes.
    *
    * Scale shape: events pruned to (user_id, event_type, ts) at the
    * scan; each stage is one type-filtered partial-agg'd user-keyed
    * shuffle joined to the previous stage's per-user frame (all
    * user-keyed — one exchange family, AQE free to broadcast the
    * shrinking stage frames); the counts are |stages| rows. The event
    * stream itself is scanned once per stage and never re-shuffled at
    * row granularity. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelReport(spark, sfDir, gapUs = None)

  /** The funnel assembly shared by #103 (no window) and #103c
    * (conversion window): per-user earliest time of each step,
    * constrained after — and, when `gapUs` is set, within gapUs of —
    * the previous step's earliest time. */
  /** Per-user earliest entry time of each funnel step under the
    * greedy chain — the frames behind [[funnelReport]] and
    * [[funnelLatency]] (one chaining definition). List index k =
    * stage k+1's (user_id, t). */
  private def stageTimes(ev: DataFrame, gapUs: Option[Long]): List[DataFrame] =
    FunnelSteps.foldLeft(List.empty[DataFrame]) { (acc, step) =>
      val stepEv = ev.filter($"event_type" === step)
      val entered = acc.headOption match {
        case None       => stepEv
        case Some(prev) =>
          val within = gapUs.fold(lit(true))(g => $"us" <= $"t_prev" + g)
          stepEv.join(prev.select($"user_id", $"t".as("t_prev")), "user_id")
            .filter($"us" > $"t_prev" && within)
      }
      entered.groupBy($"user_id").agg(min($"us").as("t")) :: acc
    }.reverse

  private def eventTimes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))

  private def funnelReport(spark: SparkSession, sfDir: String,
      gapUs: Option[Long]): DataFrame = {
    val ev = eventTimes(spark, sfDir)
    val stageFrames = stageTimes(ev, gapUs)
    def cnt(df: DataFrame, stage: Long, step: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stage).as("stage"), lit(step).as("step"), $"n_users")
    val all = cnt(ev.select($"user_id").distinct(), 0L, "all")
    val stages = stageFrames.zipWithIndex.foldLeft(all) { case (u, (df, i)) =>
      u.union(cnt(df, i + 1L, FunnelSteps(i)))
    }
    stages.as("a")
      .join(stages.select(($"stage" + 1L).as("stage"), $"n_users".as("prev")),
        Seq("stage"), "left")
      .select($"stage", $"step", $"n_users",
        when($"stage" === 0L, lit(10000L))
          .when($"prev".isNull || $"prev" === 0L, lit(0L))
          .otherwise(expr("n_users * 10000 div prev")).as("conv_e4"))
      .orderBy($"stage")
  }

  /** #103e A/B funnel comparison: the #103 greedy earliest-entry
    * funnel split by experiment variant (variant = user_id mod 2 —
    * the standard deterministic hash bucketing an experimentation
    * system assigns; any user-keyed variant column drops in), with
    * per-variant stage counts, per-variant step conversion vs the
    * previous stage, and the e4 LIFT of variant 1 over variant 0 per
    * stage — the "did the treatment move the funnel" readout run on
    * every experiment. The chain is the SHARED [[stageTimes]]
    * definition (one greedy-entry rule with #103/#103c/#103d, so the
    * A/B readout can never disagree with the funnel it claims to
    * split), and the variant is derived at the COUNT stage from the
    * per-user frames — the event stream is never re-scanned or
    * re-shuffled per variant.
    *
    * Scale shape: identical to #103 (k chained user-keyed partial
    * aggs) plus a 2-group readout agg; the lift join touches
    * |stages| rows. */
  def abFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventTimes(spark, sfDir)
    val stageFrames = stageTimes(ev, None)
    // signed remainder (% not pmod) so the variant matches the oracle's
    // DuckDB `user_id % 2` EXACTLY even for negative ids — pmod and %
    // agree on the generators' non-negative id domain, but the gate
    // must not depend on that contract (r9 ADVICE)
    def cnt(df: DataFrame, stage: Long, step: String): DataFrame =
      df.select(($"user_id" % 2L).as("variant"))
        .groupBy($"variant").agg(count(lit(1)).as("n_users"))
        .select($"variant", lit(stage).as("stage"), lit(step).as("step"),
          $"n_users")
    val all = cnt(ev.select($"user_id").distinct(), 0L, "all")
    val stages = stageFrames.zipWithIndex.foldLeft(all) { case (u, (df, i)) =>
      u.union(cnt(df.select($"user_id"), i + 1L, FunnelSteps(i)))
    }
    val conv = stages
      .join(stages.select($"variant", ($"stage" + 1L).as("stage"),
        $"n_users".as("prev")), Seq("variant", "stage"), "left")
      .select($"variant", $"stage", $"step", $"n_users",
        when($"stage" === 0L, lit(10000L))
          .when($"prev".isNull || $"prev" === 0L, lit(0L))
          .otherwise(expr("n_users * 10000 div prev")).as("conv_e4"))
    conv.filter($"variant" === 0L)
      .select($"stage", $"step", $"n_users".as("n_a"), $"conv_e4".as("conv_a_e4"))
      .join(conv.filter($"variant" === 1L)
        .select($"stage", $"step", $"n_users".as("n_b"), $"conv_e4".as("conv_b_e4")),
        Seq("stage", "step"))
      .select($"stage", $"step", $"n_a", $"n_b", $"conv_a_e4", $"conv_b_e4",
        when($"conv_a_e4" === 0L, lit(0L))
          .otherwise(expr("conv_b_e4 * 10000 div conv_a_e4")).as("lift_e4"))
      .orderBy($"stage")
  }

  /** #120 (SURVEY §2.6) hour-of-day seasonality profile: events and
    * distinct users per (UTC hour-of-day × event type) — the
    * daily-rhythm table behind load shaping and anomaly baselines
    * (an hour whose user count collapses while events hold is one
    * bot, not an outage). The distinct-user leg is the usual
    * two-phase COUNT DISTINCT: one (hod, type, user) partial-agg'd
    * dedup shuffle, then the 24×|types| count — the events scan
    * stays narrow (ts, type, user) and is never row-shuffled
    * wholesale. */
  def hourlyProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(hour($"ts").cast(LongType).as("hod"), $"event_type", $"user_id")
      .groupBy($"hod", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"hod", $"event_type")

  /** #133 (SURVEY §2.6) daily-volume anomaly report: events per day
    * with the day-over-day delta and a 3σ spike flag — the ops
    * baseline behind "is today's traffic real or a replay bug".
    * Unlike #71 (whose per-row branch takes one IEEE division), the
    * spike test here is EXACT integer arithmetic end to end:
    * (x−μ)² > 9σ² rearranged over (n, Σx, Σx²) as
    * (n·x − S)² > 9·(n·Q − S²) — no division, no floats, so the
    * flag can never straddle an ulp. Products run DECIMAL(38,0)
    * (n·x passes 2^63 at 10¹² events/day). Scale shape: one
    * (day)-keyed partial agg bounds the frame to |days| rows;
    * the lag window and the 1-row moments broadcast both run on
    * that bounded frame. */
  /** The per-day event counts behind [[dailyAnomaly]] — ONE
    * day-bucketing definition shared with the streaming volume
    * dashboard (#133, on a (ts) stream): commutative counts over a bounded
    * |days| key space, so the streaming form runs it verbatim in
    * complete mode and the live dashboard can never disagree with
    * the batch anomaly report's input frame. */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events.select(date_format($"ts", "yyyy-MM-dd").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_events"))

  def dailyAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(Tables.events(spark, sfDir))
    val mom = daily.agg(count(lit(1)).as("n_days"),
      sum($"n_events").as("s"),
      sum($"n_events" * $"n_events").as("q"))
    daily.crossJoin(broadcast(mom))
      .withColumn("delta",
        $"n_events" - coalesce(
          lag($"n_events", 1).over(Window.orderBy($"day")), $"n_events"))
      .withColumn("is_spike",
        expr("""CASE WHEN
               |  (CAST(n_days AS DECIMAL(38,0)) * n_events - s)
               |    * (CAST(n_days AS DECIMAL(38,0)) * n_events - s)
               |  > 9 * (CAST(n_days AS DECIMAL(38,0)) * q
               |         - CAST(s AS DECIMAL(38,0)) * s)
               |THEN 1 ELSE 0 END""".stripMargin).cast(LongType))
      .select($"day", $"n_events", $"delta", $"is_spike")
      .orderBy($"day")
  }

  /** #121 (SURVEY §2.6) event-type affinity matrix: for every type
    * pair, how many users perform BOTH, with the e4 lift against
    * independence (n_both·N / (n_a·n_b)) — the cross-sell /
    * feature-coupling report. The user set per type is bounded by
    * |users|, so the shape is: ONE (user, type) distinct shuffle,
    * a user-keyed self-join of that reduced frame with itself
    * (per-user fan-out ≤ |types|² — bounded, never corpus-quadratic),
    * and a |types|²-group partial agg; the per-type and global user
    * counts ride broadcast joins. Lift multiplies in DECIMAL(38,0)
    * (n_both·N·10⁴ passes 2^63 at billion-user scale). */
  def eventAffinity(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type").distinct()
    val perType = ut.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
    val totUsers = ut.select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    ut.select($"user_id", $"event_type".as("type_a"))
      .join(ut.select($"user_id", $"event_type".as("type_b")), Seq("user_id"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(perType.select($"event_type".as("type_a"),
        $"n_t".as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select($"event_type".as("type_b"),
        $"n_t".as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(totUsers))
      .withColumn("lift_e4",
        expr("""CAST((CAST(n_both AS DECIMAL(38,0)) * n_users * 10000)
               |div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""".stripMargin))
      .select($"type_a", $"type_b", $"n_both", $"n_a", $"n_b", $"lift_e4")
      .orderBy($"type_a", $"type_b")
  }
}
