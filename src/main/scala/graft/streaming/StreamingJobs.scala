package graft.streaming

import graft.ColumnInterpolator
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Batch N's event-time watermark, read from the query's offset log
  * — ONE definition for every per-batch decision that needs it.
  *
  * Before batch N runs, Spark records in `<checkpoint>/offsets/N` the
  * watermark it derived from batches < N (the largest event time seen
  * through batch N−1 minus the delay; 0 before any data). That value
  * is batch N's EVICTION watermark: batch N's stateful operators emit
  * and evict the windows it closes. It is not the boundary Spark 4.1
  * drops late rows on: those are judged against batch N−1's
  * watermark, one step behind. The offset log is the write-ahead
  * record the batch is planned and replayed from, so a replayed or
  * restarted batch N reads the same value. Readers:
  * [[StreamingJobs.lateRouted]] (the late side output) and
  * `OrderDashboard`'s window cut. */
object BatchWatermark {

  /** batchId → watermark (epoch ms) for the query checkpointed at
    * `checkpoint`. Call it for a batch that is running (inside
    * `foreachBatch`), whose entry is always written; a missing entry
    * means `checkpoint` is not that query's, and fails loudly rather
    * than routing every row against watermark 0. */
  def reader(spark: SparkSession, checkpoint: String): Long => Long = {
    val offsets = new OffsetSeqLog(spark, s"$checkpoint/offsets")
    batchId => offsets.offsetSeqMetadataForBatchId(batchId).map(_.batchWatermarkMs)
      .getOrElse(throw new IllegalStateException(
        s"no offset-log entry for batch $batchId under $checkpoint"))
  }
}

/** Structured-Streaming transform builders (SURVEY.md §2.1/§2.2).
  *
  * Each builder is a pure streaming-DataFrame → streaming-DataFrame
  * plan, so specs drive them with `MemoryStream` / file sources and
  * production wires them to Kafka (`sources.Readers.kafkaSource`).
  * Re-expresses the reference's DataStream jobs:
  *  - stream word count (reference helloWorldTest/StreamWordCount.scala:25
  *    socket→flatMap→keyBy→sum, update-per-record) → update-mode
  *    streaming aggregation;
  *  - event-time tumbling windows with
  *    BoundedOutOfOrdernessTimestampExtractor watermarks (reference
  *    windowTest/WindowTest.scala:57,74) → `withWatermark` + `window()`;
  *  - allowedLateness/side-output-late-data (WindowTest.scala:72) →
  *    watermark delay covers the lateness budget; rows beyond it are
  *    split out per micro-batch by [[lateSplit]];
  *  - evictor pre-filter (TestTriggerAndEvictor.scala:130 drops
  *    ts<=0 elements before the window function) → a plain filter
  *    stage ahead of the windowed aggregation.
  *
  * Scale: streaming aggregations shuffle once on the grouping key with
  * map-side partial aggregation; watermarks bound the state store to
  * O(open windows × keys). Nothing here holds unbounded state.
  */
object StreamingJobs {

  /** Streaming word count over a stream of lines (update mode). */
  def wordCount(lines: DataFrame): DataFrame =
    lines
      .select(explode(split($"value", "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word")
      .count()

  /** Tumbling event-time window totals with a bounded-out-of-orderness
    * watermark (reference WindowTest.scala:57-76). */
  def windowedCounts(events: DataFrame, delay: String, size: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window($"ts", size), $"user_id")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sum_value"))
      .select($"window.start".as("window_start"), $"user_id", $"cnt", $"sum_value")

  /** Session windows by inactivity gap — the streaming form of the
    * batch gap-detect in WindowOps.sessionWindow. */
  def sessionCounts(events: DataFrame, delay: String, gap: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("cnt"))
      .select($"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"user_id", $"cnt")

  /** Evictor analog: drop elements with an invalid (non-positive)
    * event time BEFORE the window aggregation — the reference's
    * evictor removes ts<=0 "illegal data" rows
    * (TestTriggerAndEvictor.scala:130). */
  def evictThenWindow(events: DataFrame, delay: String, size: String): DataFrame =
    windowedCounts(events.filter(unix_micros($"ts") > 0L), delay, size)

  /** Flink side-output-late-data analog for one micro-batch: given the
    * current watermark (Spark tracks it per trigger; foreachBatch
    * passes the batch through), split rows into (on-time, late).
    * Used inside a `foreachBatch` on the RAW stream so late rows are
    * observable instead of silently dropped. */
  def lateSplit(batch: DataFrame, watermarkUs: Long): (DataFrame, DataFrame) = {
    val tagged = batch.withColumn("_late", unix_micros($"ts") < watermarkUs)
    (tagged.filter(!$"_late").drop("_late"), tagged.filter($"_late").drop("_late"))
  }

  /** Engine-driven late side output (reference WindowTest.scala:72):
    * a `foreachBatch` query over the RAW watermarked stream,
    * checkpointed at `checkpoint`, that splits every micro-batch by
    * the batch's own watermark ([[BatchWatermark]], read from the
    * query's offset log, so a restart on the same checkpoint resumes
    * on the recorded boundary) and routes each half to a caller sink. */
  def lateRouted(events: DataFrame, delay: String, checkpoint: String)
                (onTime: DataFrame => Unit, late: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val watermarkMs = BatchWatermark.reader(events.sparkSession, checkpoint)
    events
      .withWatermark("ts", delay)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (ok, lateRows) = lateSplit(batch, watermarkMs(batchId) * 1000L)
        onTime(ok)
        late(lateRows)
      }
  }

  /** Streaming as-of enrichment: every micro-batch is point-in-time
    * joined (JoinOps.asofJoin — greatest dim time ≤ event time per
    * key, never a FUTURE dim row) against a batch dimension keyed by
    * (key, time) — the slowly-changing-dimension feature join, with
    * the same no-future-leakage guarantee as the batch form. The dim
    * re-evaluates per micro-batch, so a refreshed dim table is picked
    * up on the next trigger without restarting the query. */
  def asofEnrich(stream: DataFrame, dim: DataFrame, key: String, time: String,
                 matchedTimeCol: String)(sink: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.JoinOps.asofJoin(batch, dim, key, time, matchedTimeCol))
      }

  /** Stream–static enrichment join: a stream joined against a batch
    * dimension table (the Flink broadcast-state / connect-with-
    * control-stream enrichment pattern). Spark broadcasts the static
    * side into every micro-batch — no stream state at all, and the
    * dim can be arbitrarily refreshed between restarts. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, streamKey: String,
                    dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left_outer")
      .drop(dim(dimKey))

  /** Streaming 3σ outlier gate — the stream form of
    * [[graft.operators.CoreOps.eventOutliers]] (#71): per-type
    * moments are computed BATCH-side (the production shape — stats
    * refresh per corpus drop; a stream must not aggregate unbounded
    * global moments) and broadcast into every micro-batch; the flag
    * is the SAME shared predicate as the batch operator, so the two
    * runtimes cannot drift on the boundary. Stateless — no stream
    * state at any scale. `stream` carries the
    * (event_id, user_id, event_type, ts_us, value_e2) projection. */
  def streamingOutliers(stream: DataFrame, stats: DataFrame): DataFrame =
    stream.join(broadcast(stats), "event_type")
      .filter(graft.operators.CoreOps.sigma3Outlier)
      .select($"event_type", $"event_id", $"user_id", $"ts_us", $"value_e2")

  /** Streaming bigram-LM fluency gate: score each arriving doc
    * against the BATCH corpus count tables (TextOps.lmCounts —
    * refreshed per drop; the stream never aggregates global counts,
    * the same stats-broadcast shape as [[streamingOutliers]]).
    * Narrow bigram explode (shared TextOps.lmBigrams definition) +
    * two stream–static joins + ONE streaming agg keyed by doc_id
    * (update mode emits each doc once — its bigrams arrive in one
    * micro-batch). Per-occurrence scoring here is value-identical to
    * the batch scorer's per-(doc, bigram, k) form, because the ratio
    * depends only on the bigram. */
  def lmGate(stream: DataFrame, uni: DataFrame, big: DataFrame): DataFrame =
    graft.operators.TextOps.lmBigrams(stream)
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select($"doc_id", expr("c2 * 1000000 div c1").as("r"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(r) div count(1)").as("lm_score_e6"))

  /** Streaming large-order alarm (SURVEY.md §2.6 #33k streaming
    * form): per-order running quantity totals over a lineitem
    * stream, emitting orders past the [[graft.operators.JoinOps.BigOrderQtyE2]]
    * bar as they cross it — the bulk-buyer / fraud screen at ingest
    * instead of end-of-day. The SAME total definition as the batch
    * report (`JoinOps.orderQtyTotals` — one shared stage), run in
    * update mode: O(1) state per open order, and because quantities
    * are positive the running total is monotone, so an order that
    * crossed the bar stays emitted (the latest update row is the
    * final answer). Input: (l_orderkey, l_quantity). */
  def bigOrderGate(lines: DataFrame): DataFrame =
    graft.operators.JoinOps.orderQtyTotals(lines)
      .filter($"total_qty_e2" > graft.operators.JoinOps.BigOrderQtyE2)

  /** Streaming decontamination gate (SURVEY.md §2.7 #91b): score each
    * drop's embedding vectors against the BROADCAST benchmark table
    * before admitting them — the "is today's crawl contaminated with
    * eval data" check run at ingest instead of over the whole corpus.
    * Same stateless scoring stage as the batch operator
    * (`CurationOps.deconHits` — one shared definition), then one
    * update-mode agg keyed by vec_id (`CurationOps.deconBest`, the
    * vector ingest job's quarantine readout); each vector arrives in exactly
    * one micro-batch, so each contaminated vector emits exactly once
    * (the [[lmGate]] contract). The majority pick is a max over
    * (cos, −bench) structs — an associative merge, so the agg state
    * per key is O(1). StreamingSpec pins stream ≡ batch per vector. */
  def deconGate(stream: DataFrame, bench: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.quantVecs
    import graft.operators.CurationOps.{deconBest, deconHits}
    deconBest(deconHits(quantVecs(stream), bench))
  }

  /** Stream–stream interval join: each order pairs with payment
    * events for the same user within [0, `interval`] after the order
    * (the Flink connect/CoProcessFunction enrichment pattern,
    * Spark-native). Watermarks on BOTH sides + the time-bound
    * condition let the state store evict rows once the interval
    * passes — bounded state at any scale. */
  def intervalJoin(orders: DataFrame, payments: DataFrame, delay: String,
                   interval: String): DataFrame = {
    val o = orders.withWatermark("ts", delay)
      .select($"ts".as("o_ts"), $"user_id".as("o_user"), $"order_id")
    val p = payments.withWatermark("ts", delay)
      .select($"ts".as("p_ts"), $"user_id".as("p_user"), $"amount")
    o.join(p,
      $"o_user" === $"p_user" &&
        $"p_ts" >= $"o_ts" && $"p_ts" <= $"o_ts" + expr(s"INTERVAL $interval"),
      "inner")
      .select($"order_id", $"o_user".as("user_id"), $"o_ts", $"p_ts", $"amount")
  }

  /** Streaming Count-Min sketch: running token-frequency cells over an
    * unbounded stream — the streaming form of
    * `CurationOps.cmsHeavy`'s sketch build (SURVEY.md §2.7 #60). The
    * d×w cell grid IS the streaming aggregation state — bounded by
    * construction, which is the entire point of shipping a sketch
    * instead of a vocab-sized table on a 100 TB/day ingest. Each
    * micro-batch map-side combines into at most d·w updated rows.
    * Cell math is the SHARED cmsAB/permute/hash60 definition, so the
    * batch and streaming sketches cannot drift (StreamingSpec asserts
    * cell-for-cell equality over the same data); estimates are served
    * by probing min over a token's d cells, exactly as in the batch
    * operator. Works on a batch frame too (same plan minus the
    * incremental state). */
  def streamingCms(toks: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{cmsAB, hash60, permute}
    import graft.operators.CurationOps.{CmsRows, CmsWidth}
    val cells = array(cmsAB(CmsRows).map { case (a, b) =>
      permute($"h", a, b) % CmsWidth
    }: _*)
    // hash each token ONCE; the d cells are integer permutes of it —
    // inlining hash60 into the generator would pay d md5s per token
    toks.select(hash60($"token").as("h"))
      .select(posexplode(cells))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "cell"))
      .groupBy($"j", $"cell")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming exact dedup: first occurrence per key wins; the
    * watermark bounds how long keys are remembered
    * (`dropDuplicatesWithinWatermark`) so state doesn't grow without
    * bound — the streaming form of DedupOps.dedupExact for a 100 TB/
    * day ingest pipeline. */
  def streamingDedup(docs: DataFrame, delay: String): DataFrame =
    docs
      .withColumn("text_hash", graft.functions.TextFunctions.contentHash($"text"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Per-band-bucket membership for [[streamingNearDup]]:
    * (doc_id, arrival event-time ms) pairs plus the RUNNING max event
    * time — members older than ttl behind the max are pruned on every
    * update, and the group timeout derives from the running max so an
    * out-of-order arrival can never shorten a previously promised
    * TTL. */
  case class BucketState(members: Seq[(Long, Long)], maxTsMs: Long)

  /** Streaming MinHash-LSH near-dup CANDIDATES — the streaming form
    * of DedupOps.dedupMinhash for a continuous ingest pipeline: each
    * arriving doc is signed and exploded into band buckets by the
    * SAME shared code as the batch operator (DedupOps.bandExplode) and
    * paired against the docs already resident in its buckets via
    * keyed state. State is genuinely O(docs per bucket per TTL
    * window): each update prunes members more than `ttlMs` behind the
    * bucket's max event time — so a continuously-active bucket stays
    * bounded and never emits pairs across more than the TTL horizon —
    * and an idle bucket is dropped whole by the event-time timeout.
    * That horizon is the dedup contract a 100 TB/day pipeline wants
    * (near-dups arrive close in time; full history stays a batch
    * job). Emission is at-least-once per pair (a pair can collide in
    * several bands) — downstream dedups exactly like the batch
    * candidate stream, and candidates still need the exact-Jaccard
    * verify (batch join). */
  def streamingNearDup(docs: DataFrame, delay: String, ttlMs: Long): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    // selective import: the full `spark.implicits._` would make the
    // `$` interpolator ambiguous with graft.ColumnInterpolator
    import spark.implicits.newProductEncoder
    val banded = graft.operators.DedupOps.bandExplode(
        docs.select($"ts", $"doc_id", $"text"))
      .withWatermark("ts", delay)
      .as[(java.sql.Timestamp, Long, Long, Long)]
    banded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (_: (Long, Long), batch: Iterator[(java.sql.Timestamp, Long, Long, Long)],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(BucketState(Nil, 0L))
            var members = prev.members
            var maxTs = prev.maxTsMs
            val out = Seq.newBuilder[(Long, Long)]
            batch.toSeq.sortBy(r => (r._1.getTime, r._2)).foreach { r =>
              val d = r._2
              val tsMs = r._1.getTime
              maxTs = math.max(maxTs, tsMs)
              // evict BEFORE pairing: emitted pairs are always within
              // the ttl horizon of each other
              members = members.filter(_._2 >= maxTs - ttlMs)
              if (!members.exists(_._1 == d)) {
                members.foreach { case (e, _) =>
                  out += ((math.min(d, e), math.max(d, e)))
                }
                members = members :+ (d, tsMs)
              }
            }
            state.update(BucketState(members, maxTs))
            state.setTimeoutTimestamp(
              math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Per-key state of [[ttlFoldGate]]: the FROZEN fold of the events
    * that aged past the TTL horizon, plus the live buffer of the rest,
    * sorted by event time (once a prefix has folded, its first
    * element is the boundary anchor if the gate keeps one). */
  private[graft] case class TtlState[F, E](frozen: F, buffer: Seq[E])

  /** What one CEP gate supplies to [[ttlFoldGate]]: its element's
    * event time and sort order, the empty frozen value, the fold of a
    * time-sorted run of elements into frozen state, the readout of a
    * key's answer from frozen state, and whether a folded prefix keeps
    * its last element as the boundary ANCHOR (the first live element,
    * so a gap or edge that crosses the fold is still computed live and
    * a late in-horizon arrival can still split it). `fold` must split:
    * folding a sorted run in two pieces — behind the anchor, if kept —
    * equals folding it whole; PropertySpec checks this at every cut. */
  private[graft] case class TtlFold[K, E, F, U](empty: F, anchored: Boolean,
      time: E => Long, order: Ordering[E],
      fold: (F, Seq[E]) => F, readout: (K, F) => U) {
    val keep: Int = if (anchored) 1 else 0

    /** Folds the first `n` elements of `s.buffer` into the frozen
      * value; the rest, behind the anchor if kept, stays live. */
    def foldPrefix(s: TtlState[F, E], n: Int): TtlState[F, E] =
      if (n <= 0) s
      else TtlState(fold(s.frozen, s.buffer.take(n)), s.buffer.drop(n - keep))

    /** The key's answer over everything it has seen. */
    def answer(key: K, s: TtlState[F, E]): U = readout(key, fold(s.frozen, s.buffer))
  }

  /** The one state machine behind the event-time CEP gates
    * ([[funnelGate]], [[gapGate]], [[transitionGate]]; the #29f
    * event-time-TTL pattern). Per key, a CEP-style buffer of the
    * events still inside the TTL horizon, re-sorted and re-answered on
    * every arrival, so late/out-of-order arrivals WITHIN the horizon
    * are exact. Update-mode rows: the last row per key is the answer
    * at any point.
    *
    * Horizon: events more than `ttlUs` behind the key's max event
    * time FOLD into the frozen value and leave the buffer, so state is
    * O(events per TTL window), not O(key history). The fold is
    * LOSSLESS for event-time-ordered arrival (the split property of
    * [[TtlFold]]); only a late arrival older than the horizon lands
    * approximate — the same horizon contract as [[streamingNearDup]].
    *
    * DEAD keys leave the store via a two-stage event-time timeout, so
    * the store tracks LIVE keys, not distinct-ever keys: a key silent
    * `ttl` past its max event time (in watermark time) folds its
    * buffer down to the anchor, or to nothing — the O(1) remnant a
    * reappearing key resumes from LOSSLESSLY — and after a further
    * `ttl` of silence the remnant is removed outright (by then any old
    * history sits ≥ 2·ttl beyond the horizon, squarely under the
    * approximation contract). The watermark on `gate_ts =
    * timestamp_micros(us)` drives those timeouts, and the engine drops
    * a row at or behind it before the state function sees it; see
    * [[GateWatermarkDelay]]. `cols` are the input columns of the row
    * type `R`, which `key` and `elem` split. */
  private def ttlFoldGate[R <: Product : TypeTag, K: Encoder, E: TypeTag, F: TypeTag, U: Encoder](
      events: DataFrame, cols: Seq[Column], ttlUs: Long, delay: String,
      key: R => K, elem: R => E, g: TtlFold[K, E, F, U]): Dataset[U] = {
    val spark = events.sparkSession
    import spark.implicits.newProductEncoder
    val ttlMs = math.max(1L, ttlUs / 1000L)
    events
      .withColumn("gate_ts", timestamp_micros($"us"))
      .withWatermark("gate_ts", delay)
      // gate_ts rides along untouched: the engine requires the
      // watermarked column in the stateful operator's child output
      .select(cols :+ $"gate_ts": _*)
      .as[R]
      .groupByKey(key)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (k: K, batch: Iterator[R], state: GroupState[TtlState[F, E]]) =>
          if (state.hasTimedOut) {
            val prev = state.get
            if (prev.buffer.size > g.keep) {
              // stage 1: fold the buffer down to its anchor (or to nothing)
              val next = g.foldPrefix(prev, prev.buffer.size)
              state.update(next)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
              g.answer(k, next)
            } else {
              // stage 2: a further ttl of silence — drop the key
              state.remove()
              g.answer(k, prev)
            }
          } else {
            val prev = state.getOption.getOrElse(TtlState(g.empty, Nil))
            val sorted = (prev.buffer ++ batch.map(elem)).sorted(g.order)
            val last = g.time(sorted.last)
            // first retained index; everything before it folds (> 0
            // guards both the all-live case and ttl overflow to < 0)
            val cut = sorted.indexWhere(g.time(_) >= last - ttlUs)
            val next = g.foldPrefix(TtlState(prev.frozen, sorted), cut)
            state.update(next)
            state.setTimeoutTimestamp(math.max(
              last / 1000L + ttlMs, state.getCurrentWatermarkMs() + 1L))
            g.answer(k, next)
          }
      }
  }

  /** Input rows of [[funnelGate]] and [[gapGate]] (user_id, event_type,
    * us, gate_ts) and of [[transitionGate]] (user_id, us, event_id,
    * event_type, gate_ts). */
  private type TypedEvent = (Long, String, Long, java.sql.Timestamp)
  private type TypedTransition = (Long, Long, Long, String, java.sql.Timestamp)

  /** [[funnelGate]]'s fold: (step index, µs) events into the chain
    * state (stage reached, entry time of that stage). No anchor: the
    * frozen pair already resumes the chain (CoreOps.chainStateFrom
    * documents the split-equivalence proof). */
  private[graft] val FunnelFold = TtlFold[Long, (Int, Long), (Long, Long), (Long, Long)](
    empty = (0L, Long.MinValue), anchored = false,
    time = _._2, order = Ordering.by((e: (Int, Long)) => e._2),
    fold = (s, evs) => graft.operators.CoreOps.chainStateFrom(
      evs, graft.operators.CoreOps.FunnelSteps.length, s._1, s._2, Long.MaxValue),
    readout = (user, s) => (user, s._1))

  /** Streaming form of CoreOps.eventFunnel (#103b): per user, the
    * furthest view → click → purchase stage reachable from the events
    * seen SO FAR, re-evaluated on every arrival — the live funnel
    * dashboard. Exactly the batch operator's greedy earliest-entry
    * chain over the buffered multiset, so a late 'view' that lowers
    * t1 re-opens earlier clicks, which buffered state can honor and a
    * running-min could not. Rows are MONOTONE per user (growing the
    * event set can only extend the chain).
    *
    * Events aging past the TTL horizon fold into a frozen (stage,
    * entry-time) chain state with no anchor, and dead keys leave in
    * two stages, both as [[ttlFoldGate]] describes ([[FunnelFold]]).
    * Input contract: (user_id, event_type, us) — epoch-µs like the
    * batch operator. */
  def funnelGate(events: DataFrame,
      ttlUs: Long = TransitionTtlUs,
      delay: String = GateWatermarkDelay): Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder}
    val steps = graft.operators.CoreOps.FunnelSteps
    // filtering before the watermark plans the same: the optimizer
    // pushes a filter on other columns below EventTimeWatermark
    ttlFoldGate(events.filter($"event_type".isin(steps: _*)),
      Seq($"user_id", $"event_type", $"us"), ttlUs, delay,
      (r: TypedEvent) => r._1, (r: TypedEvent) => (steps.indexOf(r._2), r._3), FunnelFold)
  }

  /** [[gapGate]]'s fold: sorted µs timestamps into (n, min, max, SUM)
    * gap counters — sum, not mean, so the integer mean divides the
    * exact global sum. Anchored: the gap multiset of a sorted sequence
    * splits exactly at any element into prefix-internal gaps +
    * anchor-crossing gaps. */
  private[graft] val GapFold =
    TtlFold[(Long, String), Long, (Long, Long, Long, Long), (Long, String, Long, Long, Long, Long)](
      empty = (0L, 0L, 0L, 0L), anchored = true,
      time = identity, order = Ordering.Long,
      fold = { case (c @ (n, mn, mx, sm), ts) =>
        val gaps = ts.iterator.sliding(2).withPartial(false)
          .map { case Seq(a, b) => b - a }.toSeq
        if (gaps.isEmpty) c
        else if (n == 0L) (gaps.size.toLong, gaps.min, gaps.max, gaps.sum)
        else (n + gaps.size, math.min(mn, gaps.min), math.max(mx, gaps.max),
          sm + gaps.sum)
      },
      readout = { case ((user, tpe), (n, mn, mx, sm)) =>
        if (n == 0L) (user, tpe, 0L, 0L, 0L, 0L) else (user, tpe, n, mn, mx, sm / n)
      })

  /** Streaming form of WindowOps.eventGaps (#113b): per (user, type)
    * key, the count / min / max / integer-mean µs gap between the
    * key's consecutive events seen SO FAR — the live cadence monitor
    * (rate-limit and bot alarms fire on mean/min collapsing, without
    * waiting for a batch profile). An event landing between two
    * already-seen neighbors replaces their gap with two smaller ones —
    * running last-ts state would have welded it to whatever happened
    * to arrive last. Keys with one event report n_gaps = 0.
    *
    * Timestamps aging past the TTL horizon fold their prefix-internal
    * gaps into frozen counters behind the prefix's last timestamp as
    * the boundary anchor, and dead keys leave in two stages, both as
    * [[ttlFoldGate]] describes ([[GapFold]]).
    * Input contract: (user_id, event_type, us). */
  def gapGate(events: DataFrame,
      ttlUs: Long = TransitionTtlUs,
      delay: String = GateWatermarkDelay): Dataset[(Long, String, Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits.newProductEncoder
    ttlFoldGate(events, Seq($"user_id", $"event_type", $"us"), ttlUs, delay,
      (r: TypedEvent) => (r._1, r._2), (r: TypedEvent) => r._3, GapFold)
  }

  /** Default [[transitionGate]] TTL: 30 days in µs — wider than any
    * plausible out-of-orderness, narrow enough that a continuously
    * active user's buffer stays bounded. */
  val TransitionTtlUs: Long = 30L * 24 * 3600 * 1000000L

  /** Default watermark delay for the CEP gates' dead-key timeouts:
    * wide enough that no key can expire within any plausible replay
    * or backfill span (a reverse-order replay of a month of history
    * must not time keys out mid-replay), so the default behaves
    * exactly like the pre-timeout gates; a live deployment passes
    * its real lateness bound so dead keys actually leave the store.
    * The watermark also bounds lateness: the stateful operator drops
    * a row at or behind it, so a delay shorter than the input's real
    * disorder loses rows, not just precision (in-horizon late rows
    * ahead of it fold exactly; beyond-horizon ones land under the
    * documented approximation contract). */
  val GateWatermarkDelay: String = "365 days"

  /** [[transitionGate]]'s fold: (us, event_id, type) events, sorted
    * by (us, event_id), into (from, to, n) next-event edge counts,
    * sorted by edge. Anchored: the edges of a sorted sequence split
    * exactly at any event into prefix-internal edges + the edges from
    * that event on. */
  private[graft] val TransitionFold =
    TtlFold[Long, (Long, Long, String), Seq[(String, String, Long)], (Long, Seq[(String, String, Long)])](
      empty = Nil, anchored = true,
      time = _._1, order = Ordering.by((e: (Long, Long, String)) => (e._1, e._2)),
      fold = (edges, evs) =>
        (edges ++ evs.iterator.sliding(2).withPartial(false)
          .map { case Seq(a, b) => (a._3, b._3, 1L) })
          .groupBy(e => (e._1, e._2)).toSeq.sortBy(_._1)
          .map { case ((f, t), es) => (f, t, es.map(_._3).sum) },
      readout = (user, edges) => (user, edges))

  /** Streaming form of WindowOps.eventTransitions (#120b streaming):
    * per user, the (from, to, n) next-event edge counts over the
    * events seen SO FAR. An event landing between seen neighbors
    * SPLITS their edge into two different edges; running last-event
    * state would weld it to arrival order. The last row per user
    * carries that user's full current edge list; a global reduction of
    * those lists equals the batch matrix.
    *
    * Events aging past the TTL horizon fold into frozen edge counts
    * behind the last folded event as the boundary anchor (the
    * anchor→live edge is still counted and still splittable), and dead
    * keys leave in two stages, both as [[ttlFoldGate]] describes
    * ([[TransitionFold]]). Input contract: (user_id, us, event_id,
    * event_type). */
  def transitionGate(events: DataFrame,
      ttlUs: Long = TransitionTtlUs,
      delay: String = GateWatermarkDelay): Dataset[(Long, Seq[(String, String, Long)])] = {
    val spark = events.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder}
    ttlFoldGate(events, Seq($"user_id", $"us", $"event_id", $"event_type"), ttlUs, delay,
      (r: TypedTransition) => r._1, (r: TypedTransition) => (r._2, r._3, r._4), TransitionFold)
  }

  /** Double-11 dashboard (reference orderTest/OrderAnalysy.scala:453
    * TotalDataFun and :465 GroupDataFuc) as ONE watermarked
    * aggregation with two grouping sets: per-day per-province totals
    * (`grouping_id` 0) and per-day site-wide totals (`grouping_id` 1,
    * `province` NULL). Both sets keep the daily window in their key, so
    * the watermark evicts all of their state; `rollup` would add a
    * grand-total row that never evicts. Update mode, fed to an
    * idempotent upsert sink (jobs.OrderDashboard routes by
    * `grouping_id`, since an order's own province may be NULL);
    * `order_end` is the window end the watermark closes. Money
    * is Det.sumFixed fixed-point, the same cross-engine-exact integer
    * contract as every batch operator. */
  def orderDashboard(orders: DataFrame, delay: String): DataFrame = {
    val day = window($"ts", "1 day")
    orders
      .withWatermark("ts", delay)
      .groupingSets(Seq(Seq(day, $"province"), Seq(day)), day, $"province")
      .agg(count(lit(1)).as("total_num"),
        graft.Det.sumFixed($"amount", 2).as("total_money_e2"),
        grouping_id().as("grouping_id"))
      .select($"window.start".as("order_day"), $"window.end".as("order_end"),
        $"province", $"grouping_id", $"total_num", $"total_money_e2")
  }
}
