package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Per-key profile of the keys `olap_sf01` draws from; run by
  * `perfbench/profile_keys.py`, which chooses [[Batch.Keys]] from it.
  *
  * `--data` holds only the star-schema tables and `events`, so the
  * keys that run there are exactly the ones that read nothing else.
  * Every key runs once cold (this pass also finds the candidates),
  * then `--passes` traced warm passes. Each op is measured as in
  * [[Batch.op]], with the tracer's counters taken around it. */
object Profile {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val (data, cores, passes) = (m("data"), m("cores").toInt, m("passes").toInt)
    val spark = Setup.session(cores)
    Setup.warmUp(spark, data)
    val t = new Tracer(spark)
    t.install()

    def measure(key: String, pass: Int): (Batch.Op, Map[String, Double]) = {
      t.drain()
      val before = t.counters.snapshot
      val op = Batch.op(spark, key, data, pass, Some(t))
      (op, Counters.delta(t.counters.snapshot, before))
    }
    val cold = SparkEntry.queries.keys.toSeq.sorted.map(k => k -> measure(k, 0))
      .filter(_._2._1.ok).toMap
    val keys = cold.keys.toSeq.sorted
    Main.log(s"${keys.size} keys run on the star schema and events")
    val warm = (1 to passes).map { p =>
      val r = keys.map(k => k -> measure(k, p)).toMap
      Main.log(f"warm pass $p: ${r.values.map(_._1.s).sum}%.2f s")
      r
    }

    def count(c: Map[String, Double], n: String) = c.getOrElse(n, 0.0)
    val profile = keys.map { k =>
      val w = warm.map(_(k))
      def med(f: ((Batch.Op, Map[String, Double])) => Double) = Stats.median(w.map(f))
      val (coldOp, coldC) = cold(k)
      k -> Map(
        "cold_s" -> coldOp.s,
        "cold_build_s" -> coldOp.buildS,
        "cold_build_jobs" -> count(coldC, "build.jobs"),
        "warm_s" -> med(_._1.s),
        "build_s" -> med(_._1.buildS),
        "exec_s" -> med(_._1.execS),
        "plan_s" -> med { case (_, c) =>
          count(c, "planner.optimization_s") + count(c, "planner.planning_s") },
        "build_jobs" -> med { case (_, c) => count(c, "build.jobs") },
        "jobs" -> med { case (_, c) => count(c, "exec.jobs") },
        "stages" -> med { case (_, c) => count(c, "exec.stages") },
        "single_task_stages" -> med { case (_, c) => count(c, "exec.single_task_stages") },
        "tasks" -> med { case (_, c) => count(c, "exec.tasks") },
        "task_run_s" -> med { case (_, c) => count(c, "exec.task_run_s") })
    }.toMap
    Files.write(Paths.get(m("out")), Json.render(Map("cores" -> cores, "warm_passes" -> passes,
      "keys" -> profile)).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
