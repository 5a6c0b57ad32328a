package graft.jobs

import graft.sinks.{KvStore, Sinks}
import graft.sources.Readers
import graft.streaming.{Restarts, StreamingJobs}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *  - transforms: [[StreamingJobs.orderTotals]] (per-day site-wide
  *    totals, the reference's TotalDataFun) and
  *    [[StreamingJobs.orderDashboard]] (per-day per-province, its
  *    GroupDataFuc) — watermarked daily windows, integer money;
  *  - sink: [[Sinks.mergeUpsertWriter]] — idempotent upsert, so
  *    checkpointed replay is exactly-once;
  *  - resilience: [[Restarts.fixedDelay]] around each checkpointed
  *    query (the reference's RestartStrategies).
  *
  * At 100 TB/day: the only shuffles are the two aggregations (keys =
  * days and days × provinces — tiny); state is bounded by the
  * watermark; the sinks write O(keys) rows per trigger from
  * executors.
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

  /** Both dashboard queries over `orders` (a streaming frame, read
    * anew by each query), each drained to the store under its own
    * checkpoint subdirectory with fixed-delay restarts. Returns the
    * restarts used by both. */
  private def drain(orders: => DataFrame, store: KvStore, checkpoint: String,
      watermarkDelay: String, maxRestarts: Int, restartDelayMs: Long): Int = {
    def startQuery(df: DataFrame, keys: Seq[String], ckSubdir: String) =
      df.writeStream
        .option("checkpointLocation", s"$checkpoint/$ckSubdir")
        .outputMode(OutputMode.Update)
        .foreachBatch(Sinks.mergeUpsertWriter(store, keys,
          Seq("total_num", "total_money_e2")))
        .trigger(Trigger.AvailableNow())
        .start()
    val r1 = Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      startQuery(StreamingJobs.orderTotals(orders, watermarkDelay),
        Seq("order_day"), "totals")
    }
    val r2 = Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      startQuery(StreamingJobs.orderDashboard(orders, watermarkDelay),
        Seq("order_day", "province"), "province")
    }
    r1 + r2
  }
}
