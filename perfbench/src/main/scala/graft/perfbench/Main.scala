package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Options passed by `run.py`. `data` is the sf0.1 directory, `sf1`
  * the GenScale output, `drops` the [[Drops]] output, `work` a scratch
  * directory this run owns. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, sf1: String, drops: String, work: String, cores: Int, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("sf1"), req("drops"), req("work"), req("cores").toInt, req("out"))
  }
}

/** What one run reports back to `run.py`.
  *
  * `opsByKey` counts the timed executions of each op; `run.py` marks
  * all of them failed when the op's output fails the DuckDB check.
  * `checkDir` holds, as graft.Verify writes them, one parquet dump per
  * batch op and `oracle_sql.json`, the DuckDB query each must equal
  * over the tables in `oracleData`; it is empty for the jobs. */
final case class Result(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    notes: Map[String, Any],
    opsByKey: Map[String, Long],
    failedByKey: Map[String, Long],
    checkDir: String,
    oracleData: String,
    checks: Seq[Map[String, Any]]) {
  def json: String = Json.render(Map(
    "e2e" -> e2e, "layers" -> layers, "notes" -> notes, "ops_by_key" -> opsByKey,
    "failed_by_key" -> failedByKey, "check_dir" -> checkDir,
    "oracle_data" -> oracleData, "checks" -> checks))
}

/** A prepared session: its set-up time from JVM start, the value the
  * prerequisites returned and what they cost, and the tracer on the
  * session (traced runs only). */
final case class Prepared[T](spark: SparkSession, tracer: Option[Tracer],
    setupS: Double, value: T, prepareS: Double, prepareCounters: Map[String, Double])

object Setup {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Free what an op left behind (cached plans, persisted or
    * checkpointed RDD blocks) so it cannot slow the next op. A full GC
    * runs before each pass or round instead, in [[Window.run]] and
    * before the cold one: one per op took a quarter of the window. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Exercise codegen, the parquet reader, a shuffle and a join once on
    * two tiny tables, so the first op does not pay the JVM's warm-up. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    val nation = spark.read.parquet(s"$data/nation.parquet")
    val region = spark.read.parquet(s"$data/region.parquet")
    nation.join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
  }

  /** Session, warm-up, then the workload's prerequisites `prepare`,
    * timed from JVM start: the time until the first op can run. */
  def run[T](o: Opts)(prepare: SparkSession => T): Prepared[T] = {
    val spark = session(o.cores)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    warmUp(spark, o.data)
    val before = tracer.map { t => t.drain(); t.counters.snapshot }
    val (value, prepareS) = Stats.timed(prepare(spark))
    val prepareCounters = tracer.map { t => t.drain(); Counters.delta(t.counters.snapshot, before.get) }
      .getOrElse(Map.empty)
    val setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1e3
    Main.log(f"set-up: $setupS%.2f s from JVM start (prerequisites $prepareS%.2f s)")
    Prepared(spark, tracer, setupS, value, prepareS, prepareCounters)
  }
}

/** The measured part of a run. */
object Window {
  /** Runs `step` (a pass or a round) repeatedly, each after a full GC:
    * another step starts while one as long as the last still ends
    * inside `seconds`, and at least one runs, at most `cap`. With a tracer, steps alternate
    * untraced and traced (at least one each), so both halves see the
    * same JVM warm-up and their medians give the tracing overhead; the
    * tracer listens only around traced steps. Returns the untraced and
    * the traced results. */
  def run[T](seconds: Double, tracer: Option[Tracer], cap: Int = Int.MaxValue)(
      step: (Int, Option[Tracer]) => T): (Seq[T], Seq[T]) = {
    val untraced = mutable.ArrayBuffer.empty[T]
    val traced = mutable.ArrayBuffer.empty[T]
    val min = if (tracer.isDefined) 2 else 1
    val t0 = System.nanoTime()
    var lastS = 0.0
    var i = 0
    while (i < cap && (i < min || (System.nanoTime() - t0) / 1e9 + lastS <= seconds)) {
      val t = tracer.filter(_ => i % 2 == 1)
      System.gc()
      t.foreach(_.install())
      val (v, s) = Stats.timed(step(i, t))
      t.foreach(_.uninstall())
      (if (t.isDefined) traced else untraced) += v
      lastS = s
      i += 1
    }
    (untraced.toSeq, traced.toSeq)
  }
}

/** The steps a timing is taken over: all but the first, which still
  * settles the JIT after the cold pass (in twenty 25 s runs it took a
  * median 16 % longer than the later steps); all of them when only one
  * ran. */
object Settled {
  def apply[T](steps: Seq[T]): Seq[T] = if (steps.size > 1) steps.drop(1) else steps
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total size of the regular files under `f`, bytes. */
  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** Seconds taken by `f`, with its value. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val code = try {
      val o = Opts.parse(args)
      val result = o.workload match {
        case "olap_sf01" => Batch.run(o)
        case "jobs_incremental" => Jobs.run(o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.write(Paths.get(o.out), result.json.getBytes(StandardCharsets.UTF_8))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    try SparkSession.getActiveSession.foreach(_.stop())
    catch { case NonFatal(e) => log(s"stop failed: $e") }
    sys.exit(code)
  }

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f] $msg")
}
