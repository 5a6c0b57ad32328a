package graft.jobs

import graft.ColumnInterpolator
import graft.operators.{CurationOps, SimilarityOps}
import graft.sinks.DocStore
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** End-to-end VECTOR ingest job — the embedding-store twin of
  * [[IngestPipeline]], closing the jobs family (orders dashboard,
  * document ingest, vector ingest): arriving embedding drops are
  * screened against the held-out benchmark, and clean vectors are
  * ENCODED into the PQ scan tier while contaminated ones land in a
  * quarantine store with their best-matching benchmark item — the
  * admission path a production vector store runs so eval-set
  * neighbors never enter the index.
  *
  * Every stage is a SHARED definition with a gated batch operator:
  *  - contamination scoring and readout: `CurationOps.deconHits` and
  *    `deconBest` — the exact #91 judgment (the #91b streaming gate
  *    uses the same two stages);
  *  - PQ coding: `SimilarityOps.encodeFrame` against the
  *    batch-trained codebooks — the #44d scorer's own encoder;
  *  - dedup-by-key: the [[DocStore]] is keyed by vec_id, so replayed
  *    micro-batches overwrite idempotently (exactly-once with the
  *    checkpoint).
  *
  * One append-mode query, stateless in Spark: the benchmark table and
  * the codebooks ride the closure/broadcast, admission is a per-batch
  * anti-join on the τ-hits, state lives in the stores.
  *
  * At 100 TB/day: per-vector work is the |bench|-row broadcast score
  * plus M·K codebook distances — both narrow; store traffic is one
  * put per vector; nothing shuffles except the batch-local hit
  * anti-join on vec_id (AQE broadcasts the tiny hit side). */
object VectorIngest {

  /** Drain `sourceDir` (schema = the embeddings table: vec_id,
    * embedding, label). Clean vectors land in `index` as
    * vec_id → comma-joined PQ codes; contaminated ones land in
    * `quarantine` as vec_id → (best bench id, cos_e6, n_hits).
    * Returns restarts used. */
  def run(spark: SparkSession, sourceDir: String, schema: StructType,
          index: DocStore, quarantine: DocStore, checkpoint: String,
          bench: DataFrame, books: SimilarityOps.PqBooks,
          maxRestarts: Int = 3, restartDelayMs: Long = 1000): Int = {
    def vecs: DataFrame = Readers.fileStream(spark, sourceDir, schema)

    def writer(batch: DataFrame, batchId: Long): Unit = {
      val qv = CurationOps.quantVecs(batch)
      val hits = CurationOps.deconHits(qv, bench)
      // quarantine: the #91 readout rule per contaminated vector,
      // the streaming gate's own readout over the same hits
      CurationOps.deconBest(hits)
        .foreachPartition { rows: Iterator[Row] =>
          rows.foreach { r =>
            quarantine.index(String.valueOf(r.getLong(0)), Map(
              "best_bench" -> String.valueOf(r.getLong(1)),
              "max_cos_e6" -> String.valueOf(r.getLong(2)),
              "n_hits" -> String.valueOf(r.getLong(3))))
          }
        }
      // index admission: clean vectors only, coded by the shared stage
      val admitted = batch.join(
        hits.select($"vec_id").distinct(), Seq("vec_id"), "left_anti")
      SimilarityOps.encodeFrame(admitted, books)
        .foreachPartition { rows: Iterator[Row] =>
          rows.foreach { r =>
            index.index(String.valueOf(r.getLong(0)), Map(
              "codes" -> r.getSeq[Int](1).mkString(",")))
          }
        }
    }

    Restarts.fixedDelay(maxRestarts, restartDelayMs) { () =>
      vecs.writeStream
        .option("checkpointLocation", s"$checkpoint/vectors")
        .outputMode(OutputMode.Append)
        .foreachBatch(writer _)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }
}
