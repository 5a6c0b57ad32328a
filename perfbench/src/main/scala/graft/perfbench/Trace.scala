package graft.perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is 0 for
  * a root span. Spark jobs and stages become spans below the benchmark
  * span that was current when they started. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Named counters, added to from listener threads. */
final class Counters {
  private val m = mutable.HashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Everything the traced run records: a Spark listener for jobs,
  * stages and tasks, a query-execution listener for Catalyst phases,
  * a streaming listener for micro-batch progress, and the span list.
  * Counters only grow; callers take [[snapshot]]s around the interval
  * they measure. Spans stay in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L

  /** The op whose queries are running; Catalyst phase spans hang below it. */
  @volatile var currentOp: Long = 0L

  def nowUs: Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  /** Run `f` inside a span named `name`; Spark jobs it starts carry the
    * span id and `phase` as local properties. */
  def span[T](name: String, parent: Long, phase: String = "")(f: Long => T): T = {
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val prevSpan = sc.getLocalProperty(SpanProp)
    val prevPhase = sc.getLocalProperty(PhaseProp)
    sc.setLocalProperty(SpanProp, id.toString)
    if (phase.nonEmpty) sc.setLocalProperty(PhaseProp, phase)
    val start = nowUs
    try f(id)
    finally {
      addSpan(Span(id, parent, name, start, nowUs))
      sc.setLocalProperty(SpanProp, prevSpan)
      sc.setLocalProperty(PhaseProp, prevPhase)
    }
  }

  private def addSpan(s: Span): Unit = synchronized { spans += s }

  def spansJson: Seq[String] = synchronized {
    spans.sortBy(_.startUs).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs))
    }.toSeq
  }

  private val SpanProp = "perfbench.span"
  private val PhaseProp = "perfbench.phase"

  // --- Spark scheduler events ---------------------------------------
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (span id, parent, start)
  private val stageJob = mutable.HashMap.empty[Int, Long] // stage -> job span id

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counters.add("exec.jobs", 1)
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(PhaseProp) == "build"))
        counters.add("build.jobs", 1)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val id = nextId.getAndIncrement()
      Tracer.this.synchronized {
        jobSpan(e.jobId) = (id, parent, e.time * 1000L)
        e.stageIds.foreach(s => stageJob(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        spans += Span(id, parent, s"job ${e.jobId}", start, e.time * 1000L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      counters.add("exec.stages", 1)
      if (si.numTasks == 1) counters.add("exec.single_task_stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime) Tracer.this.synchronized {
        val parent = stageJob.remove(si.stageId).getOrElse(0L)
        spans += Span(nextId.getAndIncrement(), parent, s"stage ${si.stageId}",
          s * 1000L, c * 1000L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      counters.add("exec.tasks", 1)
      counters.add("exec.task_run_s", m.executorRunTime / 1e3)
      counters.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      counters.add("exec.gc_s", m.jvmGCTime / 1e3)
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      counters.add("exec.sched_delay_s", math.max(0L, info.duration - overhead) / 1e3)
      counters.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      counters.add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      counters.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      counters.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      counters.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      counters.add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
      counters.add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }

  // --- Catalyst phases of every executed query ----------------------
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** Records the Catalyst phases `qe` has run so far as counters and
    * as spans below [[currentOp]]. */
  def phases(qe: QueryExecution): Unit =
    for ((phase, key) <- Seq("analysis" -> "planner.analysis_s",
        "optimization" -> "planner.optimization_s", "planning" -> "planner.planning_s"))
      qe.tracker.phases.get(phase).foreach { p =>
        counters.add(key, p.durationMs / 1e3)
        addSpan(Span(nextId.getAndIncrement(), currentOp, s"plan.$phase",
          p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }

  // --- micro-batch progress -----------------------------------------
  /** Per-batch `durationMs` parts, in arrival order. */
  val batchDurations = mutable.ArrayBuffer.empty[Map[String, Long]]
  /** Latest (state rows, state bytes) per running query id. */
  val stateByQuery = mutable.HashMap.empty[String, (Long, Long)]
  /** Query start to first trigger start, ms, one per query run. */
  val startLatencies = mutable.ArrayBuffer.empty[Double]
  private val queryStart = mutable.HashMap.empty[String, Long]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        queryStart(e.runId.toString) = Instant.parse(e.timestamp).toEpochMilli
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      counters.add("streaming.batches", 1)
      if (p.numInputRows == 0) counters.add("streaming.empty_batches", 1)
      Tracer.this.synchronized {
        batchDurations += p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        stateByQuery(p.id.toString) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
        queryStart.remove(p.runId.toString).foreach { s =>
          startLatencies += (Instant.parse(p.timestamp).toEpochMilli - s).toDouble
        }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

/** Minimal JSON rendering for the result file and span dump. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
