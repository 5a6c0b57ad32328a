package graft.jobs

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}

import graft.functions.TextFunctions.contentHash
import graft.operators.{CurationOps, TextOps}
import graft.sinks.{DocStore, KvStore}
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** End-to-end LLM-data ingest job — the training-data twin of
  * [[OrderDashboard]] (the reference's flagship source→transform→
  * upsert-sink composition, orderTest/OrderAnalysy.scala:400-580),
  * built from the SAME stage definitions the batch pipeline gates:
  *
  *  - source: a directory of document drops
  *    ([[Readers.fileStream]]; Kafka in production via
  *    [[Readers.kafkaSource]] — same downstream plan);
  *  - gates: `CurationOps.curationFlagsFrame` — the ONE quality +
  *    language gate definition behind `q_curation`/`q_funnel`, so the
  *    live pipeline admits exactly the docs the batch funnel counts;
  *  - redaction: `TextOps.redactStage` — the ONE rewrite behind
  *    `q_pii_redact`, applied at admission so drops land clean;
  *  - exact dedup: store-backed first-occurrence-wins on the same
  *    `TextFunctions.contentHash` key as the batch keeper rule
  *    (the reference's Redis-SET dedup shape: the store IS the state,
  *    so dedup survives restarts with zero Spark state);
  *  - sinks: the curated corpus lands in a [[DocStore]] (ES-style
  *    doc-per-record); the live funnel counters land in a [[KvStore]];
  *  - resilience: checkpoints + [[Restarts.fixedDelay]]; both sinks
  *    are idempotent under micro-batch replay, so the composition is
  *    exactly-once end to end.
  *
  * One checkpointed, stateless (append-mode) query over the flags
  * frame, so each drop is read and scored once. Its `foreachBatch`
  * persists the batch and feeds both sinks from it:
  *
  *  1. corpus: gate filter → redact → per-batch collapse to one
  *     min-doc_id row per content hash → insert-if-absent into the
  *     corpus store. The dedup state lives in the store, which a
  *     production deployment backs with Redis/JDBC and which scales
  *     past any executor memory bound.
  *  2. funnel: the batch's per-source (n_raw, n_quality, n_gated),
  *     gathered to the driver (O(|sources|) rows), added to the
  *     running totals, and the touched sources' totals put into the
  *     store. The totals are versioned by batch id in a metadata log
  *     under the query's checkpoint (`funnel-totals`, Spark's own
  *     atomically written log, the shape of its offset and commit
  *     logs): totals(N) = totals(latest version < N) + counts(N) is
  *     recorded before any put. A batch that fails after that is
  *     replayed from the same offsets, so it recomputes the same
  *     counts over the same base version and puts the same values:
  *     the store is never counted twice, and it holds only the
  *     per-source keys. The log keeps versions N-1 and N, all a
  *     replay of N or the next batch can read.
  *
  * At 100 TB/day: every per-doc stage is a narrow codegen'd map; the
  * only Spark shuffles are the per-batch hash collapse (uniform md5
  * key, batch-sized not corpus-sized) and the |sources|-group agg;
  * store traffic is one get+put per NEW hash, written from executors,
  * and O(|sources|) funnel puts per trigger from the driver.
  */
object IngestPipeline {

  /** Run the query over `sourceDir` (schema = the documents table:
    * doc_id, text, lang, source, n_chars) until no files remain
    * (AvailableNow), with up to `maxRestarts` fixed-delay restarts.
    * Corpus docs are stored under their content hash with fields
    * (doc_id, source, red_text, n_tokens); funnel counters under the
    * source name as "n_raw|n_quality|n_gated". Returns restarts
    * used. */
  def run(spark: SparkSession, sourceDir: String, schema: StructType,
          corpus: DocStore, funnel: KvStore, checkpoint: String,
          maxRestarts: Int = 3, restartDelayMs: Long = 1000): Int = {
    val queryCheckpoint = s"$checkpoint/ingest"
    val totals = new FunnelTotals(spark, s"$queryCheckpoint/funnel-totals")

    def writeCorpus(batch: DataFrame): Unit = {
      val gated = batch.filter(col("q_ok") === 1L && col("l_ok") === 1L)
        .withColumn("h", contentHash(col("text")))
      // one candidate per content hash per batch — the min-doc_id row,
      // the batch-local analog of the batch keeper rule (min over the
      // corpus); across batches the store's first write wins, the
      // streaming dedup contract. The collapse also removes any
      // same-hash write race between partitions.
      val perHash = TextOps.redactStage(gated, carry = Seq("h", "n_tokens"))
        .groupBy(col("h"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("red_text"),
          col("n_tokens")), col("doc_id")).as("w"))
        .select(col("h"), col("w.doc_id"), col("w.source"),
          col("w.red_text"), col("w.n_tokens"))
      perHash.foreachPartition { rows: Iterator[Row] =>
        rows.foreach { r =>
          val h = r.getString(0)
          if (corpus.get(h).isEmpty)
            corpus.index(h, Map(
              "doc_id" -> String.valueOf(r.get(1)),
              "source" -> String.valueOf(r.get(2)),
              "red_text" -> String.valueOf(r.get(3)),
              "n_tokens" -> String.valueOf(r.get(4))))
        }
      }
    }

    def addFunnel(batch: DataFrame, batchId: Long): Unit = {
      val counts = batch.groupBy(col("source"))
        .agg(count(lit(1)), sum(col("q_ok")), sum(col("q_ok") * col("l_ok")))
        .collect()
        .map(r => String.valueOf(r.get(0)) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val prevId = totals.listBatchesOnDisk.filter(_ < batchId).maxOption
      val prev = prevId.flatMap(totals.get).getOrElse(Map.empty)
      val next = prev ++ counts.map { case (source, n) =>
        source -> prev.getOrElse(source, Seq(0L, 0L, 0L)).zip(n).map { case (a, b) => a + b }
      }
      // false on a replay of N: version N already holds these totals
      totals.add(batchId, next)
      counts.keys.foreach(source => funnel.put(source, next(source).mkString("|")))
      prevId.foreach(totals.purge)
    }

    def writer(batch: DataFrame, batchId: Long): Unit = {
      batch.persist()
      try {
        writeCorpus(batch)
        addFunnel(batch, batchId)
      } finally batch.unpersist()
    }

    Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      CurationOps.curationFlagsFrame(Readers.fileStream(spark, sourceDir, schema))
        .writeStream
        .option("checkpointLocation", queryCheckpoint)
        .outputMode(OutputMode.Append)
        .foreachBatch(writer _)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  /** Running per-source funnel totals (n_raw, n_quality, n_gated),
    * one version per batch id. */
  private final class FunnelTotals(spark: SparkSession, path: String)
      extends HDFSMetadataLog[Map[String, Seq[Long]]](spark, path) {
    override def serialize(t: Map[String, Seq[Long]], out: OutputStream): Unit = {
      val d = new DataOutputStream(out)
      d.writeInt(t.size)
      t.foreach { case (source, n) => d.writeUTF(source); n.foreach(d.writeLong) }
      d.flush()
    }

    override def deserialize(in: InputStream): Map[String, Seq[Long]] = {
      val d = new DataInputStream(in)
      Iterator.fill(d.readInt())(d.readUTF() -> Seq.fill(3)(d.readLong())).toMap
    }
  }
}
