package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `olap_sf01`: a fixed list of `SparkEntry.queries` keys, run pass
  * after pass in a seeded order. One op builds the query's DataFrame
  * and fully materializes it through a `noop` write. */
object Batch {
  /** Ten of the 79 keys that read only the star schema and `events`,
    * directly or through the `OrderLineView`/`RollupViews` artifacts.
    * `perfbench/profile_keys.py` chose them from a measured per-key
    * profile (`perfbench/olap_profile.json`): their build and plan
    * share, single-task stage share, core use, cold-over-warm ratio and
    * artifact build share match the 79 keys' within a few percent, and
    * a warm pass takes about 5 s. */
  val Keys = Seq("q_anti_join", "q_cust_order_hist", "q_dead_parts", "q_event_gaps",
    "q_keyed_sum_salted", "q_order_cohorts", "q_order_priority", "q_ship_delay",
    "q_shipping_priority", "q_state_jump")

  /** The input tables. Their row count over `warm_s` is `rows_per_s`,
    * which BENCHMARK.json lists for every workload; here it only
    * restates `warm_s`. */
  val Tables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
    "events")

  final case class Op(key: String, pass: Int, buildS: Double, execS: Double, ok: Boolean) {
    def s: Double = buildS + execS
  }

  def run(o: Opts): Result = {
    val dir = o.data
    val p = Setup.run(o)(_ => ())
    val spark = p.spark
    val rng = new scala.util.Random(o.seed)
    def pass(i: Int, tr: Option[Tracer]): Seq[Op] = {
      val ops = rng.shuffle(Keys).map(k => op(spark, k, dir, i, tr))
      Main.log(f"pass $i: ${ops.map(_.s).sum}%.2f s (" +
        ops.map(op => f"${op.key} ${op.buildS}%.2f+${op.execS}%.2f").mkString(", ") + ")")
      ops
    }

    val tr = p.tracer
    val before = tr.map(_.counters.snapshot)
    System.gc()
    val cold = pass(0, tr)
    val coldCounters = tr.map { t => t.drain(); Counters.delta(t.counters.snapshot, before.get) }
    val artifactBytes = artifactDiskBytes()

    tr.foreach(_.uninstall())
    val b = tr.map(_.counters.snapshot)
    val (warm, traced) = Window.run(o.seconds, tr)((i, t) => pass(i + 1, t))
    val tracedCounters = tr.map(t => Counters.delta(t.counters.snapshot, b.get)).getOrElse(Map.empty)
    val rssMb = Stats.peakRssMb()
    val inputRows = Tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum.toDouble

    val passS = (ops: Seq[Op]) => ops.map(_.s).sum
    val warmS = Stats.median(Settled(warm).map(passS))
    val warmOps = Settled(warm).flatten.map(_.s)
    val all = cold +: (warm ++ traced)
    val e2e = Map(
      "setup_s" -> p.setupS,
      "cold_s" -> passS(cold),
      "warm_s" -> warmS,
      "op_p50_s" -> Stats.median(warmOps),
      "rows_per_s" -> inputRows / warmS,
      "peak_rss_mb" -> rssMb)
    val notes = Map[String, Any](
      "workload" -> o.workload, "keys" -> Keys, "warm_passes" -> warm.size,
      "warm_ops" -> warmOps.size, "input_rows" -> inputRows,
      "warm_pass_s" -> warm.map(passS),
      "op_p90_s" -> (if (warmOps.size >= 100) Some(Stats.quantile(warmOps, 0.9)) else None))

    // Dump each output and its DuckDB query as graft.Verify does, for
    // tools/compare.py; a key whose dump fails has no output there.
    val checkDir = new File(o.work, "check")
    checkDir.mkdirs()
    Keys.foreach { k =>
      Setup.reset(spark)
      try SparkEntry.queries(k)(spark, dir).write.mode("overwrite").parquet(new File(checkDir, k).getPath)
      catch { case NonFatal(e) => Main.log(s"$k check dump failed: $e") }
    }
    Files.write(new File(checkDir, "oracle_sql.json").toPath,
      Json.render(Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap).getBytes(StandardCharsets.UTF_8))

    Main.log("outputs dumped for checking")
    var single = Seq.empty[Op]
    val layers = tr.map { t =>
      val nt = traced.size.toDouble
      val tracedS = Stats.median(Settled(traced).map(passS))
      val perPass = tracedCounters.map { case (k, v) => k -> v / nt }
      val kernels = Kernels.time(spark, s"$dir/documents.parquet", s"$dir/embeddings.parquet")
      single = singleCorePass(dir)
      Layers.exec(perPass, tracedS, o.cores) ++ kernels ++ Layers.noJobs ++ Map(
        "operators.build_s" -> Stats.median(Settled(traced).map(_.map(_.buildS).sum)),
        "operators.build_jobs" -> perPass.getOrElse("build.jobs", 0.0),
        "artifacts.build_s" -> (cold.map(_.buildS).sum -
          Stats.median(Settled(warm).map(_.map(_.buildS).sum))),
        "artifacts.build_jobs" -> (coldCounters.get.getOrElse("build.jobs", 0.0) -
          perPass.getOrElse("build.jobs", 0.0)),
        "artifacts.disk_bytes" -> artifactBytes.toDouble,
        "exec.parallel_speedup" -> single.map(_.s).sum / warmS,
        "trace.overhead" -> (tracedS / warmS - 1.0))
    }.getOrElse(Map.empty)
    tr.foreach(t => Layers.writeSpans(o, t))

    val ops = all.flatten ++ single
    Result(e2e, layers, notes,
      opsByKey = ops.groupBy(_.key).map { case (k, v) => k -> v.size.toLong },
      failedByKey = ops.filterNot(_.ok).groupBy(_.key).map { case (k, v) => k -> v.size.toLong },
      checkDir = checkDir.getPath, oracleData = dir, checks = Seq.empty)
  }

  /** One op: reset, build, `noop` write. A failure is recorded, not thrown. */
  def op(spark: SparkSession, key: String, dir: String, pass: Int, tr: Option[Tracer]): Op = {
    Setup.reset(spark)
    var buildS = 0.0
    var execS = 0.0
    val ok = try {
      Layers.span(tr, s"op $key", 0L, "") { id =>
        tr.foreach(_.currentOp = id)
        val (df, b) = Stats.timed(Layers.span(tr, "build", id, "build") { _ =>
          SparkEntry.queries(key)(spark, dir)
        })
        buildS = b
        // the built frame was analyzed eagerly; the write re-analyzes nothing
        tr.foreach(_.phases(df.queryExecution))
        execS = Stats.timed(Layers.span(tr, "exec", id, "exec") { _ =>
          df.write.format("noop").mode("overwrite").save()
        })._2
        tr.foreach(_.drain())
      }
      true
    } catch {
      case NonFatal(e) =>
        Main.log(s"$key failed in pass $pass: $e")
        false
    }
    Op(key, pass, buildS, execS, ok)
  }

  /** One warm pass on a single-core session, for `exec.parallel_speedup`.
    * The session is stopped and a `local[1]` one started in its place;
    * the artifact caches live in the JVM, so the pass is warm. */
  private def singleCorePass(dir: String): Seq[Op] = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = Setup.session(1)
    Keys.map(k => op(spark, k, dir, -1, None))
  }

  /** Bytes held by the `tools.Materialize` artifact directories. */
  private def artifactDiskBytes(): Long =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft-materialize-"))
      .map(Stats.du).sum
}
