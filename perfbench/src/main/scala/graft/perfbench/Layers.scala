package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TextHash, VectorFunctions}
import graft.operators.{CurationOps, DedupOps}

/** Turns tracer counters into the per-layer metrics of BENCHMARK.json. */
object Layers {
  def span[T](tr: Option[Tracer], name: String, parent: Long, phase: String)(f: Long => T): T =
    tr.fold(f(0L))(_.span(name, parent, phase)(f))

  /** Scheduler, shuffle, source and Catalyst metrics from counters
    * already divided per pass (or per round); `wallS` is that pass's
    * wall time. */
  def exec(c: Map[String, Double], wallS: Double, cores: Int): Map[String, Double] = {
    def g(k: String) = c.getOrElse(k, 0.0)
    val passthrough = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
      "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s", "shuffle.write_bytes",
      "shuffle.read_bytes", "shuffle.write_s", "shuffle.fetch_wait_s", "spill.disk_bytes",
      "sources.records_read", "sources.bytes_read", "planner.analysis_s",
      "planner.optimization_s", "planner.planning_s")
    passthrough.map(k => k -> g(k)).toMap ++ Map(
      "exec.single_task_stage_share" ->
        (if (g("exec.stages") > 0) g("exec.single_task_stages") / g("exec.stages") else 0.0),
      "exec.core_busy" -> g("exec.task_run_s") / (wallS * cores))
  }

  /** The job-only layers, zero on a batch workload that never runs them. */
  val noJobs: Map[String, Double] = Seq("streaming.batches", "streaming.empty_batch_share",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
    "streaming.start_ms", "streaming.state_rows", "streaming.state_bytes",
    "streaming.checkpoint_bytes", "sinks.puts", "sinks.gets", "sinks.put_s",
    "sinks.changed_share", "jobs.dashboard_s", "jobs.ingest_s", "jobs.vector_s",
    "jobs.restarts").map(_ -> 0.0).toMap

  /** Writes the span tree of a traced run, one JSON object a line,
    * beside the run's work directory. */
  def writeSpans(o: Opts, t: Tracer): Unit = {
    val dir = new File(new File(o.work).getParentFile, "traces")
    dir.mkdirs()
    val f = new File(dir, s"${o.workload}-seed${o.seed}.jsonl")
    Files.write(f.toPath, t.spansJson.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Main.log(s"spans written to $f")
  }
}

/** Per-row cost of the public `graft.functions` kernels: each kernel
  * is projected over a cached single-partition copy of the workload's
  * text or embedding column and written to `noop`. A plain projection
  * of the same column is timed the same way and subtracted, so what
  * remains is the kernel's own time on one core. */
object Kernels {
  val Rows = 20000L
  val Reps = 3

  def time(spark: SparkSession, docsPath: String, embPath: String): Map[String, Double] = {
    val docs = load(spark, docsPath, "text")
    val embs = load(spark, embPath, "embedding")
    val text = col("text")
    val r = Seq(
      "functions.tokens_ns_per_row" -> perRow(docs, text, TextFunctions.tokens(text)),
      "functions.gram_hashes_ns_per_row" -> perRow(docs, text, TextHash.gramHashes(text, 3)),
      "functions.minhash_sig_ns_per_row" -> perRow(docs, text,
        TextHash.minhashSig(text, DedupOps.VerifyGram, DedupOps.numHashes)),
      "functions.simhash_ns_per_row" -> perRow(docs, text,
        TextHash.simhash(text, DedupOps.SimhashBits)),
      "functions.chunk_hashes_ns_per_row" -> perRow(docs, text,
        TextHash.chunkHashes(text, CurationOps.ChunkWidth, CurationOps.ChunkStride)),
      "functions.norm_text_ns_per_row" -> perRow(docs, text, TextHash.normText(text)),
      "functions.quantize_ns_per_row" -> perRow(embs, col("embedding"),
        VectorFunctions.quantize(col("embedding")))).toMap
    docs.unpersist(blocking = true)
    embs.unpersist(blocking = true)
    r
  }

  /** [[Rows]] rows of column `c`, repeated as needed, cached in one partition. */
  private def load(spark: SparkSession, path: String, c: String): DataFrame = {
    val src = spark.read.parquet(path).select(col(c))
    val times = math.max(1L, (Rows + src.count() - 1) / src.count())
    val df = src.withColumn("rep", explode(sequence(lit(1L), lit(times)))).drop("rep")
      .limit(Rows.toInt).coalesce(1).cache()
    df.count()
    df
  }

  private def perRow(df: DataFrame, plain: Column, kernel: Column): Double = {
    def t(c: Column) = Stats.median((1 to Reps).map { _ =>
      Stats.timed(df.select(c.as("k")).write.format("noop").mode("overwrite").save())._2
    })
    (t(kernel) - t(plain)) * 1e9 / Rows
  }
}
