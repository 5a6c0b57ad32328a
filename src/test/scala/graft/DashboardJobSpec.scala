package graft

import graft.jobs.OrderDashboard
import graft.sinks.{Sinks, StoreRegistry}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end flagship job (reference OrderAnalysy): file-sourced
  * order stream → dashboard aggregation → idempotent upsert store,
  * resumable across invocations via the checkpoint. */
class DashboardJobSpec extends SparkTestBase {
  import spark.implicits._

  test("order dashboard drains a backlog, upserts totals, and resumes incrementally") {
    val src = tmpDir("dashsrc")
    val ck = tmpDir("dashck")
    val store = StoreRegistry.kv("dashjob")
    def t(s: Long) = new Timestamp(s * 1000L)

    Seq((t(100), "zhejiang", 10.5), (t(200), "shanghai", 2.0))
      .toDF("ts", "province", "amount").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    assert(OrderDashboard.run(spark, src, schema, store, ck) == 0) // no restarts needed
    // per-province totals (reference GroupDataFuc)
    assert(store.get("1970-01-01 00:00:00.0|zhejiang").contains("1|1050"))
    assert(store.get("1970-01-01 00:00:00.0|shanghai").contains("1|200"))
    // site-wide totals (reference TotalDataFun — the headline number)
    assert(store.get("1970-01-01 00:00:00.0").contains("2|1250"))

    // new orders land; a re-run processes ONLY them and upserts totals
    Seq((t(300), "zhejiang", 1.0))
      .toDF("ts", "province", "amount").write.mode("append").parquet(src)
    OrderDashboard.run(spark, src, schema, store, ck)
    assert(store.get("1970-01-01 00:00:00.0|zhejiang").contains("2|1150"))
    assert(store.get("1970-01-01 00:00:00.0|shanghai").contains("1|200"))
    assert(store.get("1970-01-01 00:00:00.0").contains("3|1350"))
    StoreRegistry.clear("dashjob")
  }

  test("order dashboard drops orders behind the watermark and keeps ones inside it") {
    val src = tmpDir("dashlatesrc")
    val ck = tmpDir("dashlateck")
    val store = StoreRegistry.kv("dashlate")
    val day = 86400L
    def t(s: Long) = new Timestamp(s * 1000L)
    def land(rows: (Timestamp, String, Double)*): Unit =
      rows.toDF("ts", "province", "amount").write.mode("append").parquet(src)

    land((t(100), "zhejiang", 10.5), (t(200), "shanghai", 2.0))
    val schema = spark.read.parquet(src).schema
    OrderDashboard.run(spark, src, schema, store, ck)
    land((t(5 * day + 100), "zhejiang", 3.0))
    OrderDashboard.run(spark, src, schema, store, ck)
    val day0 = "1970-01-01 00:00:00.0"
    val day5 = "1970-01-06 00:00:00.0"
    assert(store.get(day0).contains("2|1250"))
    assert(store.get(s"$day5|zhejiang").contains("1|300"))

    // day 0 is behind the 1-day watermark (day 5 minus one day): the
    // late order changes neither the day-0 total nor its province row,
    // while an out-of-order one inside the watermark updates both of
    // its rows
    land((t(300), "zhejiang", 1.0), (t(5 * day + 50), "zhejiang", 0.5))
    OrderDashboard.run(spark, src, schema, store, ck)
    assert(store.get(day0).contains("2|1250"))
    assert(store.get(s"$day0|zhejiang").contains("1|1050"))
    assert(store.get(day5).contains("2|350"))
    assert(store.get(s"$day5|zhejiang").contains("2|350"))
    StoreRegistry.clear("dashlate")
  }

  test("order dashboard runs one micro-batch per call and its state stays bounded over ten daily drops") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    import StreamingQueryListener._
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    val src = tmpDir("dashdailysrc")
    val ck = tmpDir("dashdailyck")
    val store = StoreRegistry.kv("dashdaily")
    val day = 86400L
    val provinces = Seq("zhejiang", "shanghai", "beijing")
    def t(s: Long) = new Timestamp(s * 1000L)

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val ended = new ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    // this job's batches: the ones reading `src`
    def mine = progress.asScala.filter(_.sources.exists(_.description.contains(src))).toSeq
    spark.streams.addListener(listener)
    try {
      for (d <- 0 until 10) {
        provinces.zipWithIndex
          .map { case (p, i) => (t(d * day + 3600L * (i + 1)), p, 1.0 + i) }
          .toDF("ts", "province", "amount").write.mode("append").parquet(src)
        val seen = mine.map(_.runId).toSet
        assert(OrderDashboard.run(spark, src, spark.read.parquet(src).schema, store, ck) == 0)
        // listener events arrive asynchronously; a query's terminated
        // event is posted after all of its progress events
        val deadline = System.nanoTime() + 30L * 1000000000L
        def runs = mine.map(_.runId).filterNot(seen).distinct
        while ((runs.isEmpty || !runs.forall(ended.contains)) && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(runs.size == 1, s"call $d: runs $runs")
        val batches = mine.filter(_.runId == runs.head)
        assert(batches.size == 1, s"call $d ran ${batches.size} micro-batches")
        assert(batches.head.numInputRows == provinces.size)
        // eviction waits for the next data batch: the state holds the
        // days the watermark (max ts − 1 day) has not closed as of the
        // previous batch, at most three, each with its province rows
        // and its day row, whatever the number of drops so far
        val stateRows = batches.head.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows <= 3 * (provinces.size + 1), s"call $d: $stateRows state rows")
      }
    } finally spark.streams.removeListener(listener)
    for (d <- 0 until 10) {
      val k = new Timestamp(d * day * 1000L).toString
      assert(store.get(k).contains("3|600"), s"day $d: ${store.get(k)}")
      assert(store.get(s"$k|shanghai").contains("1|200"), s"day $d shanghai")
    }
    StoreRegistry.clear("dashdaily")
  }

  test("generated-source dashboard equals a batch aggregation of the same rows") {
    // the reference's own topology end to end: custom source
    // (OrderAnalysy.scala:338 OrderSource, here the DataSourceV2
    // micro-batch generator) → windowed totals → upsert store. The
    // generator is a pure function of the order index, so the batch
    // frame over the same index range is an exact oracle.
    import graft.sources.OrderGen
    val ck = tmpDir("gendashck")
    val store = StoreRegistry.kv("gendash")
    val n = 1000L
    // rowsPerBatch 300 < n forces a multi-batch AvailableNow drain —
    // the admission-control path, not a single-batch special case
    assert(OrderDashboard.runGenerated(spark, store, ck,
      maxOrders = n, rowsPerBatch = 300L) == 0)

    val batch = OrderGen.frame(spark, n)
    val wantProv = batch
      .groupBy(window(col("ts"), "1 day")("start").as("order_day"), col("province"))
      .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m"))
      .collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}" -> s"${r.getLong(2)}|${r.getLong(3)}")
      .toMap
    val wantTotal = batch
      .groupBy(window(col("ts"), "1 day")("start").as("order_day"))
      .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m"))
      .collect()
      .map(r => s"${r.get(0)}" -> s"${r.getLong(1)}|${r.getLong(2)}")
      .toMap
    assert(wantProv.nonEmpty && wantTotal.nonEmpty)
    for ((k, v) <- wantProv)
      assert(store.get(k).contains(v), s"province key $k: ${store.get(k)} vs $v")
    for ((k, v) <- wantTotal)
      assert(store.get(k).contains(v), s"total key $k: ${store.get(k)} vs $v")
    // the six reference provinces all appear (北京 double-weighted)
    val provs = wantProv.keySet.map(_.split('|').last)
    assert(provs == OrderGen.Provinces.toSet,
      s"generated provinces $provs must cover the reference list")

    // replay idempotence: a fresh run over the SAME checkpoint adds
    // nothing (the source is fully drained and replay-stable)
    assert(OrderDashboard.runGenerated(spark, store, ck,
      maxOrders = n, rowsPerBatch = 300L) == 0)
    for ((k, v) <- wantTotal)
      assert(store.get(k).contains(v), s"replay must not double-count $k")
    StoreRegistry.clear("gendash")
  }

  test("admission control drains a 2000-order backlog in bounded batches at 8 partitions") {
    // the DataSourceV2 generator under backlog: 2000 rows behind a
    // 600-row admission cap at 8 partitions must drain under
    // Trigger.AvailableNow in ceil(2000/600) = 4 micro-batches, every
    // batch within the cap and planned 8 ways — admission control
    // (bounded state growth) and partition fan-out observed together
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Readers
    val ck = tmpDir("admission8ck")
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val q = Readers.orderStream(spark, maxOrders = 2000L,
        rowsPerBatch = 600L, numPartitions = 8)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += ((df.count(), df.rdd.getNumPartitions))
        ()
      }
      .start()
    q.awaitTermination()
    assert(batches.map(_._1).sum == 2000L, s"drain must be complete: $batches")
    assert(batches.size >= 3, s"backlog must drain across batches: $batches")
    assert(batches.forall(_._1 <= 600L),
      s"every batch must respect the admission cap: $batches")
    assert(batches.forall(b => b._1 == 0L || b._2 == 8),
      s"every non-empty batch must plan 8 partitions: $batches")

    // ReadLimit composition folds to the tightest max (the engine's
    // conjunction semantics), all-available lifts the cap, and the
    // default limit composes min+max when minRowsPerBatch is set
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{OrderMicroBatchStream, OrderOffset}
    val s = new OrderMicroBatchStream(2000L, 500L, 8, 0L,
      minRowsPerBatch = 100L, maxTriggerDelayMs = 1000L)
    def end(from: Long, lim: ReadLimit): Long =
      s.latestOffset(OrderOffset(from), lim).asInstanceOf[OrderOffset].n
    assert(end(0L, ReadLimit.allAvailable()) == 2000L)
    assert(end(0L, ReadLimit.maxRows(300L)) == 300L)
    assert(end(1900L, ReadLimit.maxRows(300L)) == 2000L)
    assert(end(0L, ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(100L, 1000L), ReadLimit.maxRows(300L)))) == 300L)
    // bare min-rows is a trigger floor, not a cap: once satisfiable
    // the batch admits the per-batch default (500), or the floor
    // itself when the floor exceeds the default
    assert(end(0L, ReadLimit.minRows(100L, 1000L)) == 500L)
    assert(end(0L, ReadLimit.minRows(800L, 1000L)) == 800L)
    assert(s.getDefaultReadLimit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.CompositeReadLimit])
    assert(s.planInputPartitions(OrderOffset(0L), OrderOffset(600L)).length == 8)
  }

  test("kafka sink options carry broker/topic and idempotence") {
    val opts = Sinks.kafkaSinkOptions("broker:9092", "dashboard")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("topic") == "dashboard")
    assert(opts("kafka.enable.idempotence") == "true")
  }
}
