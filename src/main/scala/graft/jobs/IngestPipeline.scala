package graft.jobs

import graft.operators.{CurationOps, TextOps}
import graft.sinks.{DocStore, KvStore, Sinks}
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  *    `md5(lower(trim(text)))` content hash as the batch keeper rule
  *    (the reference's Redis-SET dedup shape: the store IS the state,
  *    so dedup survives restarts with zero Spark state);
  *  - sinks: the curated corpus lands in a [[DocStore]] (ES-style
  *    doc-per-record); the live funnel counters land in a [[KvStore]]
  *    via idempotent merge upsert;
  *  - resilience: checkpoints + [[Restarts.fixedDelay]]; both sinks
  *    are idempotent under micro-batch replay, so the composition is
  *    exactly-once end to end.
  *
  * Two checkpointed queries share the source (one query would need
  * the store to add each batch's funnel counts, guarded by batch id):
  *
  *  1. "corpus": flags → gate filter → redact → per-batch collapse to
  *     one min-doc_id row per content hash → insert-if-absent into
  *     the corpus store. Stateless in Spark (append mode) — the
  *     dedup state lives in the store, which a production deployment
  *     backs with Redis/JDBC and which scales past any executor
  *     memory bound.
  *  2. "funnel": flags → per-source (n_raw, n_quality, n_gated)
  *     complete-mode agg → merge upsert. Commutative sums over a
  *     bounded |sources| key space — O(|sources|) state,
  *     micro-batch-invariant.
  *
  * At 100 TB/day: every per-doc stage is a narrow codegen'd map; the
  * only Spark shuffles are the per-batch hash collapse (uniform md5
  * key, batch-sized not corpus-sized) and the |sources|-group agg;
  * store traffic is one get+put per NEW hash and O(|sources|) upserts
  * per trigger, written from executors.
  */
object IngestPipeline {

  /** Run both queries over `sourceDir` (schema = the documents table:
    * doc_id, text, lang, source, n_chars) until no files remain
    * (AvailableNow), with up to `maxRestarts` fixed-delay restarts
    * each. Corpus docs are stored under their content hash with
    * fields (doc_id, source, red_text, n_tokens); funnel counters
    * under the source name as "n_raw|n_quality|n_gated". Returns
    * restarts used. */
  def run(spark: SparkSession, sourceDir: String, schema: StructType,
          corpus: DocStore, funnel: KvStore, checkpoint: String,
          maxRestarts: Int = 3, restartDelayMs: Long = 1000): Int = {
    def docs: DataFrame = Readers.fileStream(spark, sourceDir, schema)

    def admitted: DataFrame = {
      val flags = CurationOps.curationFlagsFrame(docs)
      val gated = flags.filter(col("q_ok") === 1L && col("l_ok") === 1L)
        .withColumn("h", md5(lower(trim(col("text")))))
      TextOps.redactStage(gated, carry = Seq("h", "n_tokens"))
    }

    def corpusWriter(batch: DataFrame, batchId: Long): Unit = {
      // one candidate per content hash per batch — the min-doc_id row,
      // the batch-local analog of the batch keeper rule (min over the
      // corpus); across batches the store's first write wins, the
      // streaming dedup contract. The collapse also removes any
      // same-hash write race between partitions.
      val perHash = batch
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

    def funnelCounts: DataFrame =
      CurationOps.curationFlagsFrame(docs)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"), sum(col("q_ok")).as("n_quality"),
          sum(col("q_ok") * col("l_ok")).as("n_gated"))

    val r1 = Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      admitted.writeStream
        .option("checkpointLocation", s"$checkpoint/corpus")
        .outputMode(OutputMode.Append)
        .foreachBatch(corpusWriter _)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val r2 = Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      funnelCounts.writeStream
        .option("checkpointLocation", s"$checkpoint/funnel")
        .outputMode(OutputMode.Complete)
        .foreachBatch(Sinks.mergeUpsertWriter(funnel, Seq("source"),
          Seq("n_raw", "n_quality", "n_gated")))
        .trigger(Trigger.AvailableNow())
        .start()
    }
    r1 + r2
  }
}
