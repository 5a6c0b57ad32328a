package graft.jobs

import graft.sinks.{KvStore, Sinks}
import graft.sources.Readers
import graft.streaming.{BatchWatermark, Restarts, StreamingJobs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's flagship end-to-end job re-expressed Spark-first:
  * the "double-11 order dashboard" (reference
  * orderTest/OrderAnalysy.scala:400-580 — Kafka order stream →
  * windowed global totals + per-province totals → MySQL upsert
  * dashboard, exactly-once via checkpoints).
  *
  * Composition of the library's pieces:
  *  - source: Kafka in production ([[Readers.kafkaSource]]); any
  *    directory of order files for backfill/testing
  *    ([[Readers.fileStream]]) — same downstream plan either way;
  *  - transform: [[StreamingJobs.orderDashboard]] — one watermarked
  *    daily-window aggregation with two grouping sets: per-day
  *    per-province totals (the reference's GroupDataFuc) and per-day
  *    site-wide totals (its TotalDataFun), integer money;
  *  - sink: [[Sinks.mergeUpsert]], once per grouping set —
  *    idempotent upsert, so checkpointed replay is exactly-once;
  *  - resilience: [[Restarts.fixedDelay]] around the one checkpointed
  *    query (the reference's RestartStrategies).
  *
  * No-data micro-batches are off for this query, so a call runs one
  * micro-batch per drop and none after it. In Update mode a no-data
  * batch emits nothing; it only evicts the windows the advanced
  * watermark closed. The commit log keeps that watermark, so the next
  * call's data batch evicts those windows, and the sink drops their
  * rows (see `drain`): the store values are the same, and the state
  * holds at most one window more than with eviction at the end of
  * each call.
  *
  * At 100 TB/day: the only shuffle is the one aggregation (keys =
  * days × (provinces + 1) — tiny); state is bounded by the watermark;
  * the sinks write O(keys) rows per trigger from executors.
  */
object OrderDashboard {

  /** Expected order-stream schema: ts TIMESTAMP, province STRING,
    * amount DOUBLE. Global totals upsert under key "day"; province
    * totals under "day|province". Returns total restarts used. */
  def run(spark: SparkSession, sourceDir: String, schema: StructType,
          store: KvStore, checkpoint: String,
          watermarkDelay: String = "1 day",
          maxRestarts: Int = 3, restartDelayMs: Long = 1000): Int =
    drain(Readers.fileStream(spark, sourceDir, schema), store, checkpoint,
      watermarkDelay, maxRestarts, restartDelayMs)

  /** The same dashboard fed by the GENERATED order stream — the
    * reference's own topology (custom `SourceFunction` → windowed
    * totals → upsert sink, OrderAnalysy.scala:338,400-580) with the
    * source realized as the DataSourceV2 micro-batch generator
    * ([[graft.sources.OrderGen]]) instead of file drops. Same
    * transforms, same sink, same checkpoint/restart discipline; the
    * deterministic generator keeps replay exactly-once and gives the
    * spec a batch oracle over the identical rows. */
  def runGenerated(spark: SparkSession, store: KvStore, checkpoint: String,
          maxOrders: Long = graft.sources.OrderGen.DefaultMaxOrders,
          rowsPerBatch: Long = 500L,
          watermarkDelay: String = "1 day",
          maxRestarts: Int = 3, restartDelayMs: Long = 1000): Int =
    drain(Readers.orderStream(spark, maxOrders, rowsPerBatch), store,
      checkpoint, watermarkDelay, maxRestarts, restartDelayMs)

  /** The dashboard query over `orders`, drained to the store under the
    * `dashboard` checkpoint subdirectory with fixed-delay restarts.
    * Returns the restarts used.
    *
    * No-data batches are turned off on the caller's session only
    * around `start()`: the query clones the session's conf when it is
    * built, inside `start()`, and runs every batch on that clone, so
    * the setting reaches this query alone and the caller's session is
    * restored at once (the CEP gates need no-data batches to fire
    * their timeouts). A `newSession()` would not do: it starts from
    * the default conf, not the caller's.
    *
    * Spark drops a late row against the PREVIOUS batch's watermark
    * (see [[BatchWatermark]]). With a no-data batch between two calls,
    * that is the watermark the last data batch advanced to; without
    * one, it is a batch older. So each batch also drops the rows of
    * windows its own watermark closes (`order_end` at or before it)
    * before they reach the store. That is the cut the no-data batch
    * gave, so the store values are the same. */
  private def drain(orders: => DataFrame, store: KvStore, checkpoint: String,
      watermarkDelay: String, maxRestarts: Int, restartDelayMs: Long): Int = {
    val queryCheckpoint = s"$checkpoint/dashboard"
    val upsert = upsertWriter(store)
    Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      val dashboard = StreamingJobs.orderDashboard(orders, watermarkDelay)
      val spark = dashboard.sparkSession
      val watermarkMs = BatchWatermark.reader(spark, queryCheckpoint)
      val upsertOpen: (DataFrame, Long) => Unit = (batch, batchId) =>
        upsert(batch.filter(col("order_end") > timestamp_millis(lit(watermarkMs(batchId)))), batchId)
      val writer = dashboard.writeStream
        .option("checkpointLocation", queryCheckpoint)
        .outputMode(OutputMode.Update)
        .foreachBatch(upsertOpen)
        .trigger(Trigger.AvailableNow())
      val before = spark.conf.getOption(NoDataBatches)
      spark.conf.set(NoDataBatches, "false")
      try writer.start()
      finally before.fold(spark.conf.unset(NoDataBatches))(spark.conf.set(NoDataBatches, _))
    }
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** foreachBatch sink for [[StreamingJobs.orderDashboard]]: routes
    * each row by `grouping_id` — site-wide totals under "day",
    * province totals under "day|province" (a NULL province keeps its
    * own "day|null" key). The batch is persisted so its stateful plan
    * runs once for both upserts. */
  private[graft] def upsertWriter(store: KvStore): (DataFrame, Long) => Unit =
    (batch, _) => {
      val values = Seq("total_num", "total_money_e2")
      batch.persist()
      try {
        Sinks.mergeUpsert(store, Seq("order_day"), values)(
          batch.filter(col("grouping_id") === 1))
        Sinks.mergeUpsert(store, Seq("order_day", "province"), values)(
          batch.filter(col("grouping_id") === 0))
      } finally batch.unpersist()
    }
}
