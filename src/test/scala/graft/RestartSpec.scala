package graft

import graft.sinks.{Sinks, StoreRegistry}
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.util.concurrent.atomic.AtomicInteger

/** Restart strategies (reference CheckPointTest RestartStrategies):
  * a failing sink is retried with fixed delay or under a failure-rate
  * bound; the checkpoint makes
  * the retry resume, not reprocess. */
class RestartSpec extends SparkTestBase {
  import spark.implicits._

  test("fixedDelay restarts a failing query until it succeeds, exactly-once") {
    val srcDir = tmpDir("rssrc")
    val ckDir = tmpDir("rsck")
    val store = StoreRegistry.kv("rs")
    Seq(("a", 1L), ("b", 10L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val failures = new AtomicInteger(2) // first two micro-batch attempts die
    val restarts = Restarts.fixedDelay(maxRestarts = 5, delayMs = 50) { () =>
      Readers.fileStream(spark, srcDir, schema, maxFilesPerTrigger = 1)
        .groupBy(col("k")).agg(sum(col("v")).as("total"))
        .writeStream
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (failures.getAndDecrement() > 0) sys.error("transient sink failure")
          Sinks.kvUpsert(store, "k", "total")(batch)
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(restarts == 2, s"expected 2 restarts, got $restarts")
    assert(store.get("a").contains("1") && store.get("b").contains("10"))
    StoreRegistry.clear("rs")
  }

  test("fixedDelay surfaces the failure once attempts are exhausted") {
    val srcDir = tmpDir("rssrc2")
    Seq(("a", 1L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val e = intercept[Exception] {
      Restarts.fixedDelay(maxRestarts = 1, delayMs = 10) { () =>
        Readers.fileStream(spark, srcDir, schema)
          .writeStream
          .option("checkpointLocation", tmpDir("rsck2"))
          .foreachBatch((_: DataFrame, _: Long) => sys.error("permanent failure"))
          .trigger(Trigger.AvailableNow())
          .start()
      }
    }
    assert(e.getMessage.contains("permanent failure") || e.getCause != null)
  }

  test("failureRate keeps restarting while failures are spaced wider than the interval") {
    val srcDir = tmpDir("frsrc")
    val ckDir = tmpDir("frck")
    val store = StoreRegistry.kv("fr")
    Seq(("a", 1L), ("b", 10L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    // three failures, each at least delayMs after the last — never
    // more than one inside any 50 ms window, so maxFailures = 1 holds
    val failures = new AtomicInteger(3)
    val restarts = Restarts.failureRate(maxFailures = 1, intervalMs = 50, delayMs = 200) { () =>
      Readers.fileStream(spark, srcDir, schema)
        .groupBy(col("k")).agg(sum(col("v")).as("total"))
        .writeStream
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (failures.getAndDecrement() > 0) sys.error("transient sink failure")
          Sinks.kvUpsert(store, "k", "total")(batch)
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(restarts == 3, s"expected 3 restarts, got $restarts")
    assert(store.get("a").contains("1") && store.get("b").contains("10"))
    StoreRegistry.clear("fr")
  }

  test("failureRate rethrows the last failure once more than maxFailures land inside the interval") {
    val srcDir = tmpDir("frsrc2")
    val ckDir = tmpDir("frck2")
    Seq(("a", 1L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val attempts = new AtomicInteger(0)
    val e = intercept[Exception] {
      Restarts.failureRate(maxFailures = 2, intervalMs = 60000, delayMs = 10) { () =>
        Readers.fileStream(spark, srcDir, schema)
          .writeStream
          .option("checkpointLocation", ckDir)
          .foreachBatch { (_: DataFrame, _: Long) =>
            sys.error(s"permanent failure #${attempts.incrementAndGet()}")
          }
          .trigger(Trigger.AvailableNow())
          .start()
      }
    }
    // maxFailures = 2 tolerates two failures; the third is thrown
    assert(attempts.get == 3, s"expected 3 attempts, got ${attempts.get}")
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains("permanent failure #3")),
      s"expected the last failure to surface, got: $messages")
  }
}
