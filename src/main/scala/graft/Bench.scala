package graft
import org.apache.spark.sql.SparkSession

/** Driver-run throughput bench: one JSON line with per-query seconds.
  * Queries run in sorted name order after a warm-up pass so JVM/
  * codegen/parquet-reader startup cost doesn't land on whichever
  * query happens to run first. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: exercise codegen, shuffle, and the parquet reader once
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => }
    // Per-query isolation so BENCH_rN is attributable: any session
    // debris a query leaves (SQL cache, persisted/checkpointed RDD
    // blocks, garbage) must not charge its cost to whoever runs next —
    // BENCH_r03's phantom regressions were exactly that (leaked
    // localCheckpoint blocks inflating q_json_extract 0.5 s → 21 s).
    def resetSession(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // Best-of-2 per query (each attempt behind a session reset):
    // transient host/CPU contention during a single pass otherwise
    // reads as a uniform phantom regression — observed 45 s → 106 s
    // for identical code between two runs minutes apart. The minimum
    // of two isolated attempts is the query's cost, not the noise's.
    // A failed query reports -1, never a plausible-looking time.
    // optional comma-list restricting the benched queries — for scale
    // studies at SFs where the documented-quadratic oracle baselines
    // (q_dedup_embedding's broadcast all-pairs) are out of budget
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would silently bench nothing and print a
    // plausible-looking near-empty snapshot — fail instead
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    // DOCUMENTED-QUADRATIC audit baselines: correct (oracle-gated via
    // Verify) but intentionally all-pairs — each exists as the exact
    // yardstick its LSH scale path is recall-measured against
    // (q_dedup_embedding → q_dedup_embedding_lsh/_or,
    // q_decon_embedding → q_decon_embedding_lsh). They are NOT part
    // of the default throughput surface: at sf10 the decon baseline
    // alone was 579 s — 34% of the total — which says nothing about
    // the engine, only about what an exact audit costs. Bench them
    // explicitly via SPARK_GRAFT_BENCH_AUDIT=1 or by naming them in
    // BENCH_ONLY.
    val auditOnly = Set("q_dedup_embedding", "q_decon_embedding")
    val withAudit = sys.env.get("SPARK_GRAFT_BENCH_AUDIT").contains("1")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) =>
        withAudit || only.exists(_.contains(name)) || !auditOnly.contains(name) }
      .map { case (name, fn) =>
      val attempts = (1 to 2).map { _ =>
        resetSession()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      val best = if (attempts.exists(_ < 0)) -1.0 else attempts.min
      // per-query progress on stderr (the driver parses only the final
      // stdout JSON line): long scale-study runs stay observable, and
      // a killed run still yields every completed measurement
      System.err.println(f"[bench] $name%-28s $best%8.2f s")
      name -> best
    }
    // millisecond precision: full double repr doubled the line length
    // and overflowed the driver's stdout tail buffer (BENCH_r08.json
    // landed with "parsed": null) — 3 decimals is already below the
    // host-noise floor. Round ONCE per value (HALF_UP, the same mode
    // the Formatter prints with) and both print and sum the rounded
    // value, so the printed total is exactly the sum of the printed
    // queries map at every tie — r10 ADVICE: math.rint (half-even)
    // disagreed with %.3f (half-up) on .xxx5 ties by 0.001.
    def round3(v: Double): Double =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(round3(v)))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total = sum of the ROUNDED per-query values, so the printed JSON
    // is internally consistent: tooling re-deriving the total from the
    // queries map sees zero drift (r9 ADVICE)
    val total = results.map(_._2).filter(_ >= 0).map(round3).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Output layout (r14 analysis — every prior round's "parsed":
    // null traces to sbt's "[info] " logger prefix, fixed by the
    // build's StdoutOutput; the ordering below already dominates
    // under every parser the driver could plausibly run):
    //   1. canonical contract line (full queries map, ~5.6 KB) — a
    //      whole-stream scan for the first/only total+queries line
    //      gets complete per-query data;
    //   2. small self-contained "part" chunk lines — whatever window
    //      a bounded stdout TAIL lands on contains complete JSON;
    //   3. a short totals line (no queries map, fits any tail) — a
    //      last-JSON-line parser still recovers the total.
    // Emitting the canonical line LAST instead would leave a
    // 2000-char tail holding only its unparseable mid-line fragment.
    // bench_out.json persists the canonical line as the artifact of
    // record. All three prints run AFTER spark.stop(): if the caller
    // merges stderr into stdout, Spark's shutdown messages must not
    // land between (or after) the JSON lines.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: $e") }
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
    val chunked = results.grouped(20).toSeq
    chunked.zipWithIndex.foreach { case (c, i) =>
      val cq = c.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"part","i":${i + 1},"n":${chunked.size},"queries":$cq}""")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
  }
}
