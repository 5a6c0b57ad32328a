package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Det, SparkEntry}
import graft.jobs.{IngestPipeline, OrderDashboard, VectorIngest}
import graft.operators.{CurationOps, SimilarityOps}
import graft.sinks.{DocStore, KvStore, StoreRegistry}
import graft.sources.OrderGen

/** `jobs_incremental`: the write path. A closed loop with one caller,
  * as a scheduler re-running the jobs would be. Each round lands one
  * drop per job, then calls `OrderDashboard.run`, `IngestPipeline.run`
  * and `VectorIngest.run` in turn; one op is one job call, from its
  * drop landing until `run` returns with the stores updated. */
object Jobs {
  /** [[Drops]] cuts the sf1 documents and corpus embeddings into this
    * many parts; each round lands the next part in a seeded order, so
    * no row is admitted twice. It bounds the rounds of one run. */
  val Parts = 128
  val OrdersPerRound = 2500L
  /** One order in this many is late, by up to half a day: inside the
    * jobs' 1-day watermark, so the dashboard must count every order. */
  val LateOneIn = 10
  private val Day0 = 1767225600L // 2026-01-01T00:00:00Z

  final case class JobOp(job: String, round: Int, s: Double, ok: Boolean, restarts: Int)

  /** Store names; cleared at the start of every run. */
  private val Names = Seq("dash", "corpus", "funnel", "index", "quarantine").map("perfbench." + _)

  def run(o: Opts): Result = {
    val root = new File(o.work, "jobs")
    Names.foreach(StoreRegistry.clear)
    val p = Setup.run(o) { spark =>
      val benchDir = new File(root, "bench").getPath
      CurationOps.embBench(spark, o.sf1).write.mode("overwrite").parquet(benchDir)
      (benchDir, SimilarityOps.pqCodebooksShared(spark, o.sf1))
    }
    val (benchDir, books) = p.value
    var spark = p.spark
    def bench = spark.read.parquet(benchDir)
    val tr = p.tracer
    val src = Map("orders" -> new File(root, "orders"), "docs" -> new File(root, "docs"),
      "vecs" -> new File(root, "vecs")).map { case (k, f) => k -> f.getPath }
    val ck = new File(root, "checkpoints")
    val order = new scala.util.Random(o.seed).shuffle((0 until Parts).toList)
    val docSchema = spark.read.parquet(s"${o.sf1}/documents.parquet").schema
    val vecSchema = corpusVectors(spark, o.sf1).schema
    val orderSchema = orders(spark, 0, o.seed).schema

    /** Lands round `r`'s three drops; returns the rows they hold. The
      * orders are generated; the documents and vectors are the files of
      * one [[Drops]] part, copied in. */
    def land(r: Int): Long = {
      orders(spark, r, o.seed).coalesce(1).write.mode("append").parquet(src("orders"))
      OrdersPerRound + Seq("docs", "vecs").map { kind =>
        val part = new File(o.drops, s"$kind/part=${order(r)}")
        val to = new File(src(kind))
        to.mkdirs()
        part.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          Files.copy(f.toPath, new File(to, s"r$r-${f.getName}").toPath)
        }
        spark.read.parquet(part.getPath).count()
      }.sum
    }

    def call(job: String, r: Int, t: Option[Tracer])(f: => Int): JobOp = {
      Setup.reset(spark)
      try {
        val (restarts, s) = Stats.timed(Layers.span(t, s"job $job", 0L, "")(_ => f))
        JobOp(job, r, s, ok = true, restarts)
      } catch {
        case NonFatal(e) =>
          Main.log(s"$job failed in round $r: $e")
          JobOp(job, r, 0.0, ok = false, 0)
      }
    }

    /** Round `r`; a traced round counts its sink calls. */
    def round(r: Int, t: Option[Tracer]): (Seq[JobOp], Long) = {
      val rows = land(r)
      def kv(n: String): KvStore = {
        val s = StoreRegistry.kv(s"perfbench.$n")
        if (t.isDefined) new CountingKv(s) else s
      }
      def doc(n: String): DocStore = {
        val s = StoreRegistry.doc(s"perfbench.$n")
        if (t.isDefined) new CountingDoc(s) else s
      }
      val ops = Seq(
        call("dashboard", r, t)(OrderDashboard.run(spark, src("orders"), orderSchema,
          kv("dash"), s"$ck/dash")),
        call("ingest", r, t)(IngestPipeline.run(spark, src("docs"), docSchema, doc("corpus"),
          kv("funnel"), s"$ck/ingest")),
        call("vector", r, t)(VectorIngest.run(spark, src("vecs"), vecSchema, doc("index"),
          doc("quarantine"), s"$ck/vec", bench, books)))
      Main.log(s"round $r: ${ops.map(op => f"${op.job} ${op.s}%.2f s").mkString(", ")}")
      (ops, rows)
    }

    System.gc()
    val (cold, _) = round(0, tr)
    tr.foreach(_.uninstall())
    val b = tr.map(_.counters.snapshot)
    val sb = SinkStats.snapshot
    val streamMark = tr.map(_.batchDurations.size).getOrElse(0)
    tr.foreach(_.startLatencies.clear())
    // one partition stays for the single-core round of a traced run
    val (warm, traced) = Window.run(o.seconds, tr, cap = Parts - 2)((i, t) => round(i + 1, t))
    val tracedCounters = tr.map(t => Counters.delta(t.counters.snapshot, b.get)).getOrElse(Map.empty)
    val sinkCounters = Counters.delta(SinkStats.snapshot, sb)
    val rssMb = Stats.peakRssMb()

    val roundS = (ops: Seq[JobOp]) => ops.map(_.s).sum
    val settled = Settled(warm)
    val warmS = Stats.median(settled.map(w => roundS(w._1)))
    val warmOps = settled.flatMap(_._1).map(_.s)
    val e2e = Map(
      "setup_s" -> p.setupS,
      "cold_s" -> roundS(cold),
      "warm_s" -> warmS,
      "op_p50_s" -> Stats.median(warmOps),
      "rows_per_s" -> settled.map(_._2).sum / settled.map(w => roundS(w._1)).sum,
      "peak_rss_mb" -> rssMb)
    val notes = Map[String, Any](
      "workload" -> o.workload, "warm_rounds" -> warm.size, "warm_ops" -> warmOps.size,
      "warm_round_s" -> warm.map(w => roundS(w._1)),
      "prerequisites_s" -> p.prepareS,
      "op_p90_s" -> (if (warmOps.size >= 100) Some(Stats.quantile(warmOps, 0.9)) else None))

    var single = Seq.empty[JobOp]
    val layers = tr.map { t =>
      val n = traced.size.toDouble
      val tracedS = Stats.median(Settled(traced).map(w => roundS(w._1)))
      val perRound = tracedCounters.map { case (k, v) => k -> v / n }
      val batches = t.batchDurations.drop(streamMark).toSeq
      def partMs(k: String) = Stats.median(batches.map(_.getOrElse(k, 0L).toDouble))
      def jobS(j: String) = Stats.median(Settled(traced).flatMap(_._1).filter(_.job == j).map(_.s))
      val sinks = sinkCounters.map { case (k, v) => k -> v / n }
      val kernels = Kernels.time(spark, s"${o.sf1}/documents.parquet",
        s"${o.sf1}/embeddings.parquet")
      // single-core reference: one more round on a local[1] session
      spark.stop()
      spark = Setup.session(1)
      single = round(1 + warm.size + traced.size, None)._1
      Layers.exec(perRound, tracedS, o.cores) ++ kernels ++ Map(
        "operators.build_s" -> 0.0,
        "operators.build_jobs" -> 0.0,
        "artifacts.build_s" -> p.prepareS,
        "artifacts.build_jobs" -> p.prepareCounters.getOrElse("exec.jobs", 0.0),
        "artifacts.disk_bytes" -> Stats.du(new File(benchDir)).toDouble,
        "exec.parallel_speedup" -> roundS(single) / warmS,
        "streaming.batches" -> perRound.getOrElse("streaming.batches", 0.0),
        "streaming.empty_batch_share" -> perRound.getOrElse("streaming.empty_batches", 0.0) /
          math.max(1.0, perRound.getOrElse("streaming.batches", 0.0)),
        "streaming.trigger_ms" -> partMs("triggerExecution"),
        "streaming.add_batch_ms" -> partMs("addBatch"),
        "streaming.query_planning_ms" -> partMs("queryPlanning"),
        "streaming.wal_commit_ms" -> partMs("walCommit"),
        "streaming.commit_offsets_ms" -> partMs("commitOffsets"),
        "streaming.latest_offset_ms" -> partMs("latestOffset"),
        "streaming.start_ms" -> Stats.median(t.startLatencies.toSeq),
        "streaming.state_rows" -> t.stateByQuery.values.map(_._1).sum.toDouble,
        "streaming.state_bytes" -> t.stateByQuery.values.map(_._2).sum.toDouble,
        "streaming.checkpoint_bytes" -> Stats.du(ck).toDouble,
        "sinks.puts" -> sinks("puts"),
        "sinks.gets" -> sinks("gets"),
        "sinks.put_s" -> sinks("put_s"),
        "sinks.changed_share" -> sinks("changed") / math.max(1.0, sinks("puts")),
        "jobs.dashboard_s" -> jobS("dashboard"),
        "jobs.ingest_s" -> jobS("ingest"),
        "jobs.vector_s" -> jobS("vector"),
        "jobs.restarts" -> (cold ++ (warm ++ traced).flatMap(_._1)).map(_.restarts).sum.toDouble,
        "trace.overhead" -> (tracedS / warmS - 1.0))
    }.getOrElse(Map.empty)
    tr.foreach(t => Layers.writeSpans(o, t))

    val checks = check(spark, o, root, src, books)
    Main.log("stores checked")
    val ops = cold ++ (warm ++ traced).flatMap(_._1) ++ single
    val failedChecks = checks.filterNot(_("ok") == true).map(_("check").toString).toSet
    Names.foreach(StoreRegistry.clear)
    Result(e2e, layers, notes,
      opsByKey = ops.groupBy(_.job).map { case (k, v) => k -> v.size.toLong },
      failedByKey = ops.groupBy(_.job).map { case (k, v) =>
        k -> (if (failedChecks(k)) v.size.toLong else v.count(!_.ok).toLong)
      },
      checkDir = "", oracleData = "", checks = checks)
  }

  /** Round `r`'s orders, a pure function of (r, seed): day `r` in order,
    * with one in [[LateOneIn]] stamped up to half a day into day r-1. */
  def orders(spark: SparkSession, r: Int, seed: Long): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(r), lit(seed), lit(salt))
    val base = Day0 + r * 86400L
    val provinces = array(OrderGen.Provinces.map(lit): _*)
    spark.range(OrdersPerRound).select(
      timestamp_seconds(when(pmod(h(1), lit(LateOneIn)) === 0, lit(base - 1) - pmod(h(2), lit(43200L)))
        .otherwise(lit(base) + pmod(h(3), lit(86400L)))).as("ts"),
      element_at(provinces, (pmod(h(4), lit(OrderGen.Provinces.size)) + 1).cast("int")).as("province"),
      (pmod(h(5), lit(100000L)) / 100.0).as("amount"))
  }

  /** The sf1 embeddings the vector job admits: all but the benchmark
    * rows that `embBench` holds out. */
  def corpusVectors(spark: SparkSession, sf1: String): DataFrame =
    spark.read.parquet(s"$sf1/embeddings.parquet")
      .filter(col("vec_id") % CurationOps.EmbDecontMod =!= 0L)

  /** Parity of the job stores with batch answers over exactly the rows
    * that landed. */
  private def check(spark: SparkSession, o: Opts, root: File, src: Map[String, String],
      books: SimilarityOps.PqBooks): Seq[Map[String, Any]] = {
    val dir = new File(root, "check").getPath
    spark.read.parquet(src("docs")).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"${o.sf1}/embeddings.parquet")
      .filter(col("vec_id") % CurationOps.EmbDecontMod === 0L)
      .unionByName(spark.read.parquet(src("vecs")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def result(name: String)(f: => Option[String]): Map[String, Any] = {
      val problem = try f catch { case NonFatal(e) => Some(s"check threw: $e") }
      problem.foreach(p => Main.log(s"$name check failed: $p"))
      Map("check" -> name, "ok" -> problem.isEmpty, "detail" -> problem.getOrElse(""))
    }
    def diff(got: Map[String, String], want: Map[String, String]): Option[String] =
      if (got == want) None
      else Some(s"${got.size} entries vs ${want.size} expected; first difference: " +
        (want.keySet ++ got.keySet).toSeq.sorted
          .find(k => got.get(k) != want.get(k))
          .map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").getOrElse(""))

    val dashboard = result("dashboard") {
      val all = spark.read.parquet(src("orders"))
      val day = window(col("ts"), "1 day")("start")
      def agg(keys: Seq[Column]) = all.groupBy(keys: _*)
        .agg(count(lit(1)), Det.sumFixed(col("amount"), 2)).collect()
        .map(r => (0 until keys.size).map(r.get).mkString("|") ->
          s"${r.getLong(keys.size)}|${r.getLong(keys.size + 1)}")
      val want = (agg(Seq(day)) ++ agg(Seq(day, col("province")))).toMap
      diff(entries(StoreRegistry.kv("perfbench.dash"), want.keys), want)
        .orElse(sizeDiff(StoreRegistry.kv("perfbench.dash").size, want.size))
    }
    val ingest = result("ingest") {
      val funnel = SparkEntry.queries("q_funnel")(spark, dir)
        .select("source", "n_raw", "n_quality", "n_gated").collect()
        .map(r => r.getString(0) -> s"${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}").toMap
      val store = StoreRegistry.kv("perfbench.funnel")
      diff(entries(store, funnel.keys), funnel)
        .orElse(sizeDiff(store.size, funnel.size))
        .orElse(sizeDiff(StoreRegistry.doc("perfbench.corpus").size,
          SparkEntry.queries("q_curation")(spark, dir).count().toInt))
    }
    val vector = result("vector") {
      val report = SparkEntry.queries("q_decon_embedding")(spark, dir).collect()
        .map(r => r.getLong(0).toString ->
          s"${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}").toMap
      val quarantine = StoreRegistry.doc("perfbench.quarantine")
      val gotQ = report.keys.flatMap(k => quarantine.get(k).map(d =>
        k -> s"${d("best_bench")}|${d("max_cos_e6")}|${d("n_hits")}")).toMap
      val codes = SimilarityOps.encodeFrame(spark.read.parquet(src("vecs")), books)
        .collect().map(r => r.getLong(0).toString -> r.getSeq[Int](1).mkString(","))
        .filterNot { case (id, _) => report.contains(id) }.toMap
      val index = StoreRegistry.doc("perfbench.index")
      val gotI = codes.keys.flatMap(k => index.get(k).map(d => k -> d("codes"))).toMap
      diff(gotQ, report).orElse(sizeDiff(quarantine.size, report.size))
        .orElse(diff(gotI, codes)).orElse(sizeDiff(index.size, codes.size))
    }
    Seq(dashboard, ingest, vector)
  }

  private def entries(s: KvStore, keys: Iterable[String]): Map[String, String] =
    keys.flatMap(k => s.get(k).map(k -> _)).toMap

  private def sizeDiff(got: Int, want: Int): Option[String] =
    if (got == want) None else Some(s"store holds $got entries, expected $want")
}

/** Cuts the sf1 documents and corpus embeddings into [[Jobs.Parts]]
  * fixed parts by a hash of their id, one directory per part
  * (`<out>/docs/part=<n>`, `<out>/vecs/part=<n>`), for the rounds of
  * `jobs_incremental` to land. `run.py` runs it once per sf1.
  *
  * Usage: `Drops <sf1 dir> <out dir> <cores>` */
object Drops {
  def main(args: Array[String]): Unit = {
    val Array(sf1, out, cores) = args
    val spark = Setup.session(cores.toInt)
    def split(df: DataFrame, id: String, kind: String): Unit =
      df.withColumn("part", pmod(xxhash64(col(id)), lit(Jobs.Parts)))
        .repartition(col("part"))
        .write.mode("overwrite").partitionBy("part").parquet(s"$out/$kind")
    split(spark.read.parquet(s"$sf1/documents.parquet"), "doc_id", "docs")
    split(Jobs.corpusVectors(spark, sf1), "vec_id", "vecs")
    spark.stop()
  }
}

/** Sink call counters shared by every copy of the counting stores
  * (tasks get deserialized copies; the counters live in the JVM). */
object SinkStats {
  val puts = new AtomicLong
  val gets = new AtomicLong
  val putNs = new AtomicLong
  val changed = new AtomicLong

  def snapshot: Map[String, Double] = Map("puts" -> puts.get.toDouble,
    "gets" -> gets.get.toDouble, "put_s" -> putNs.get / 1e9, "changed" -> changed.get.toDouble)

  def put(changedValue: Boolean)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    putNs.addAndGet(System.nanoTime() - t0)
    puts.incrementAndGet()
    if (changedValue) changed.incrementAndGet()
  }
}

/** A [[KvStore]] that counts and times the calls into `inner`. */
final class CountingKv(inner: KvStore) extends KvStore {
  def put(key: String, value: String): Unit =
    SinkStats.put(!inner.get(key).contains(value))(inner.put(key, value))
  def get(key: String): Option[String] = { SinkStats.gets.incrementAndGet(); inner.get(key) }
  def size: Int = inner.size
}

/** A [[DocStore]] that counts and times the calls into `inner`. */
final class CountingDoc(inner: DocStore) extends DocStore {
  def index(id: String, doc: Map[String, String]): Unit =
    SinkStats.put(!inner.get(id).contains(doc))(inner.index(id, doc))
  def get(id: String): Option[Map[String, String]] = {
    SinkStats.gets.incrementAndGet()
    inner.get(id)
  }
  def size: Int = inner.size
}
