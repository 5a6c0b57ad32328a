package graft

import graft.jobs.OrderDashboard
import graft.sinks.{Sinks, StoreRegistry}
import graft.streaming.StreamingJobs
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Sink surface (SURVEY.md §2.4 #25-28, §2.5 #32): KV upsert (Redis),
  * doc index (ES), multi-key merge upsert (JDBC / dashboard). */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("kvUpsert is last-write-wins and idempotent under replay (Redis SET analog)") {
    val store = StoreRegistry.kv("kvspec")
    val batch = Seq(("k1", "1"), ("k2", "2"), ("k1", "9")).toDF("k", "v")
      .orderBy(col("k"), col("v")) // deterministic partition order not required by contract
    Sinks.kvUpsert(store, "k", "v")(batch)
    assert(store.size == 2)
    // replaying the same micro-batch (failure recovery) changes nothing
    Sinks.kvUpsert(store, "k", "v")(batch)
    assert(store.size == 2 && store.get("k2").contains("2"))
    StoreRegistry.clear("kvspec")
  }

  test("docIndex writes one doc per row with remaining columns as fields (ES analog)") {
    val store = StoreRegistry.doc("docspec")
    val batch = Seq(("d1", "alice", 30L), ("d2", "bob", 40L)).toDF("id", "name", "age")
    Sinks.docIndex(store, "id")(batch)
    assert(store.size == 2)
    assert(store.get("d1").contains(Map("name" -> "alice", "age" -> "30")))
    StoreRegistry.clear("docspec")
  }

  test("streaming order dashboard upserts per (day, province) exactly-once (OrderAnalysy analog)") {
    implicit val sqlCtx = spark.sqlContext
    val store = StoreRegistry.kv("dash")
    val in = MemoryStream[(Timestamp, Option[String], Double)]
    val orders = in.toDF().toDF("ts", "province", "amount")
    val q = StreamingJobs.orderDashboard(orders, "1 hour")
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch(OrderDashboard.upsertWriter(store))
      .start()
    val day = "1970-01-01 00:00:00.0"
    val provinces = Seq("zhejiang", "shanghai", "null")
    // the day total row equals the sum of its province rows
    def assertDayIsSumOfProvinces(): Unit = {
      val parts = provinces.flatMap(p => store.get(s"$day|$p"))
        .map(_.split('|').map(_.toLong))
      assert(store.get(day).contains(
        s"${parts.map(_(0)).sum}|${parts.map(_(1)).sum}"), store.get(day))
    }
    try {
      def t(s: Long) = new Timestamp(s * 1000L)
      in.addData((t(100), Some("zhejiang"), 10.5), (t(200), Some("zhejiang"), 1.0),
        (t(300), Some("shanghai"), 2.0))
      q.processAllAvailable()
      assertDayIsSumOfProvinces()
      // update mode re-upserts the same keys as totals grow; an order
      // with no province keeps its own "day|null" key and still counts
      // in the day total
      in.addData((t(400), Some("zhejiang"), 0.5), (t(500), None, 4.0))
      q.processAllAvailable()
      assertDayIsSumOfProvinces()
      assert(store.size == 4)
      assert(store.get(s"$day|zhejiang").contains("3|1200"))
      assert(store.get(s"$day|shanghai").contains("1|200"))
      assert(store.get(s"$day|null").contains("1|400"))
      assert(store.get(day).contains("5|1800"))
    } finally q.stop()
    StoreRegistry.clear("dash")
  }
}
