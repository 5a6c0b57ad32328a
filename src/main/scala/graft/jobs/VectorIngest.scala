package graft.jobs

import graft.ColumnInterpolator
import graft.functions.VectorFunctions
import graft.operators.{CurationOps, SimilarityOps}
import graft.sinks.{DocStore, Sinks}
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.array_join
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
  * the codebooks ride the closure/broadcast, each batch is scored once
  * into a persisted readout (one row per contaminated vector) that
  * both the quarantine write and the admission anti-join read, state
  * lives in the stores; both stores are written by [[Sinks.docIndex]].
  *
  * At 100 TB/day: per-vector work is the |bench|-row broadcast score
  * plus M·K codebook distances — both narrow; store traffic is one
  * put per vector; nothing shuffles except the τ-survivors' per-vector
  * readout and the batch-local anti-join on vec_id (AQE broadcasts the
  * tiny readout side). */
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
      val dirty = CurationOps.deconBest(
        CurationOps.deconHits(VectorFunctions.quantVecs(batch), bench)).persist()
      try {
        Sinks.docIndex(quarantine, "vec_id")(dirty)
        val admitted = batch.join(dirty.select($"vec_id"), Seq("vec_id"), "left_anti")
        Sinks.docIndex(index, "vec_id")(SimilarityOps.encodeFrame(admitted, books)
          .select($"vec_id", array_join($"codes".cast("array<string>"), ",").as("codes")))
      } finally dirty.unpersist()
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
