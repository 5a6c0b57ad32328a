package graft

import graft.SparkEntry
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Physical-plan properties the 100 TB design depends on (NOTES.md):
  * filter pushdown, column pruning, broadcast dims, map-side partial
  * aggregation, bounded shuffle counts. These are assertions on the
  * OPTIMIZED plan so a regression (e.g. a filter that stops pushing)
  * fails CI, not just the bench. */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def fullPlanString(name: String): String =
    planOf(name).toString

  /** Every node of the plan with AdaptiveSparkPlanExec wrappers
    * unwrapped (including in subqueries) — `plan.collect` alone sees
    * an AQE plan as a single leaf, so any node-type assertion made
    * without this walk is vacuous under the session default
    * (adaptive on). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      val s = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      out += s
      s.children.foreach(walk)
      s.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private def countShuffles(p: SparkPlan): Int =
    allNodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  test("q_map_filter pushes both predicates into the parquet scan") {
    val plan = fullPlanString("q_map_filter")
    assert(plan.contains("PushedFilters"))
    // plan toString truncates long filter lists; match the prefix
    assert(plan.contains("GreaterThanOrEqual(value,50.0)"), plan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    assert(plan.contains("EqualTo(event_type,purc"))
  }

  test("q1_agg prunes the lineitem scan to used columns and partial-aggregates") {
    val plan = fullPlanString("q1_agg")
    assert(plan.contains("partial_sum"), "map-side combine must be present")
    assert(!plan.contains("l_comment"), "unused columns must not be read")
    // one shuffle for the agg + one range partition for the output sort
    assert(countShuffles(planOf("q1_agg")) <= 2)
  }

  test("q_minby/q_maxby argmin is a partial-agg'd min_by — never a window sort of all rows") {
    for (q <- Seq("q_minby", "q_maxby")) {
      val plan = fullPlanString(q)
      assert(!plan.contains("Window"), s"$q must not window-sort every event row")
      assert(plan.contains("partial_min_by") || plan.contains("partial_max_by"),
        s"$q must combine map-side")
      // one keyed agg exchange + the output range sort
      assert(countShuffles(planOf(q)) <= 2, s"$q shuffle count")
    }
  }

  test("q_dedup_embedding_or joins on equi keys and reuses the keyed exchange") {
    // OR-construction must stay an equi-join on (t, bucket) — never a
    // product — at any scale. Since r13 the query key serves from the
    // emb-or-pairs artifact, so the pin inspects the DEFINING build
    // subtree (the plan that actually runs once per corpus) directly.
    def buildPlan: String = graft.operators.DedupOps
      .embOrPairsDirect(spark, sf).queryExecution.executedPlan.toString
    val plan = buildPlan
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "OR-construction must never plan a product")
    assert(plan.contains("HashJoin"), "bucket match must be an equi join")
    // at scale (broadcast off = the shuffle-join regime a real corpus
    // lands in) the self-join's two sides are the SAME subplan, so
    // the corpus shuffles ONCE and the second side is a ReusedExchange
    // AQE applies exchange reuse at runtime, not in the static plan —
    // disable it here so the planner-level ReuseExchange rule is
    // visible to the assertion
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(buildPlan.contains("ReusedExchange"),
        "self-join sides must share one exchange in the shuffle regime")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    // and the steady-state query key is a pure artifact scan
    assert(fullPlanString("q_dedup_embedding_or").contains("emb-or-pairs"),
      "q_dedup_embedding_or must serve from the materialized pair artifact")
  }

  test("q_order_nation broadcasts both dimension tables") {
    val plan = fullPlanString("q_order_nation")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "fact must not shuffle for dim joins")
    assert(countShuffles(planOf("q_order_nation")) <= 2)
  }

  test("q_shipping_priority pushes date filters and avoids a global sort") {
    val plan = fullPlanString("q_shipping_priority")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    // PushedFilters lists truncate in plan strings; the Filter node
    // text carries the full predicate, so assert the pushdown there
    // (the scan's DataFilters mirror the same list)
    assert("l_shipdate#\\d+ >= 1997-01-01".r.findFirstIn(plan).isDefined,
      "ship date must push to scan")
    assert(plan.contains("LessThan(o_orderdate"), "order date must push to scan")
  }

  test("q_minhash_band is a pure narrow map — no shuffle beyond the output sort") {
    assert(countShuffles(planOf("q_minhash_band")) <= 1,
      "signature computation must not shuffle (<=1 for the output sort)")
  }

  test("q_event_outliers broadcasts the stats frame — the corpus never shuffles for the join") {
    val plan = fullPlanString("q_event_outliers")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-type moments must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the events scan must not shuffle to meet its own statistics")
    // moments aggregate + output sort only
    assert(countShuffles(planOf("q_event_outliers")) <= 2)
  }

  test("q_dedup_exact partial-aggregates before its single shuffle") {
    val plan = fullPlanString("q_dedup_exact")
    assert(plan.contains("partial_min") || plan.contains("partial_count"))
  }

  test("q_json_extract parses JSON exactly once per row") {
    // The filter must stay ABOVE the parse projection (the _fence
    // contract in CoreOps.jsonExtract); if a Spark upgrade re-enables
    // pushing it through, the extraction appears twice — once inlined
    // inside the pushed filter (VERDICT r1 #4's 2× parse). r14: the
    // extraction is the narrow JsonExprs.longKey kernel (≡
    // CAST(get_json_object AS BIGINT)); the full-struct from_json must
    // not reappear.
    val plan = fullPlanString("q_json_extract")
    assert(!plan.contains("from_json"), "must use JsonExprs.longKey, not from_json")
    val parses = "longKey\\(".r.findAllIn(plan).size
    assert(parses == 1, s"expected exactly 1 longKey( call in the plan, saw $parses")
  }

  test("native hash expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // CollapseCodegenStages refuses WSCG for any node holding a
    // CodegenFallback expression — so this asserts the expressions
    // ship real doGenCode, keeping the scan→project stage fused.
    for ((q, marker) <- Seq(
        "q_minhash_band" -> "minhashSigData",
        "q_simhash" -> "simhashData",
        "q_dedup_ngram" -> "df_prefix")) {
      val df = SparkEntry.queries(q)(spark, sf)
      // AQE only inserts WSCG into the FINAL plan at execution; collect()
      // (not count(), which builds a separate QueryExecution) runs THIS plan
      df.collect()
      var fused = List.empty[WholeStageCodegenExec]
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case w: WholeStageCodegenExec =>
          if (w.child.toString.contains(marker)) fused ::= w
          w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(fused.nonEmpty,
        s"$q: expected the $marker projection inside WholeStageCodegen:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("kernel calls with constant arguments compare by value: independent builds reuse one exchange") {
    import graft.functions.{TextFunctions, TextHash}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    def tk = TextFunctions.tokens(col("text"))
    // each builder call makes fresh constant objects (a new markers
    // array per call), so only value equality makes the two builds equal
    val cases = Seq[(String, () => Column)](
      "minhashSig" -> (() => TextHash.minhashSig(col("text"), 3, 16)),
      "markerHits" -> (() => TextFunctions.markerHits(tk, TextFunctions.enMarkers)))
    for ((name, build) <- cases) {
      def agg = docs.groupBy(build().as("key")).count()
      val (a, b) = (agg, agg)
      assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan),
        s"$name: two independent builds must give sameResult plans")
      val u = a.union(b)
      u.collect()
      def reused(p: SparkPlan): Boolean = p match {
        case _: ReusedExchangeExec => true
        case x: AdaptiveSparkPlanExec => reused(x.executedPlan)
        case q: QueryStageExec => reused(q.plan)
        case other => other.children.exists(reused)
      }
      assert(reused(u.queryExecution.executedPlan),
        s"$name: the self-union must plan a ReusedExchangeExec:\n" +
          u.queryExecution.executedPlan)
    }
    // and value equality still tells different constants apart
    val en = docs.select(TextFunctions.markerHits(tk, TextFunctions.enMarkers))
    val de = docs.select(TextFunctions.markerHits(tk, TextFunctions.deMarkers))
    assert(!en.queryExecution.optimizedPlan.sameResult(de.queryExecution.optimizedPlan))
  }

  test("q_token_drift keeps top-k in a bounded aggregator — no vocab-sized window sort") {
    // the per-source top-k must be the TopK builder's collect_top_k
    // (O(k) state, map-side merged), never a row_number window whose
    // partition holds a source's entire vocabulary
    val plan = fullPlanString("q_token_drift")
    assert(!plan.contains("Window"),
      s"q_token_drift must not plan a window operator:\n$plan")
    assert(plan.contains("partial_collect_top_k"),
      s"expected the bounded top-k aggregate:\n$plan")
  }

  test("every TopK site partial-aggregates collect_top_k and plans no Window") {
    for (q <- Seq("q_topn_agg", "q_sample_uniform", "q_sample_weighted",
        "q_sample_group", "q_source_cap", "q_token_drift", "q_bm25_topk",
        "q_hybrid_rrf", "q_tfidf_topk", "q_ann_pq", "q_ann_lsh",
        "q_ann_multiprobe", "q_ann_ivf")) {
      val plan = fullPlanString(q)
      assert(plan.contains("partial_collect_top_k"),
        s"$q: expected the map-side bounded top-k:\n$plan")
      assert(!plan.contains("Window"), s"$q: no window sort:\n$plan")
    }
  }

  test("text/curation plans contain no interpreted higher-order functions") {
    // Spark HOFs (aggregate/transform/zip_with) evaluate the lambda
    // INTERPRETED (~16 µs/element — NOTES.md) and always print as
    // `lambdafunction(...)` in the plan; the text family must stay
    // fully codegen'd (q_rolling_fp's mod-P fold is now the native
    // VectorExprs.sumMod kernel, so no exceptions remain).
    for (q <- Seq("q_text_quality", "q_text_langid", "q_token_count",
        "q_text_pii", "q_curation", "q_text_repetition", "q_ngram_topk",
        "q_lang_mismatch", "q_rolling_fp", "q_fingerprint",
        "q_cms_heavy", "q_tfidf_topk", "q_token_drift",
        "q_decontaminate_substr", "q_embed_profile",
        "q_kmeans", "q_pack_sequences", "q_dup_matrix", "q_cluster_best",
        "q_chunks", "q_chunk_dedup", "q_funnel", "q_event_outliers",
        "q_sample_balanced", "q_quality_gate", "q_bm25_topk",
        "q_sample_uniform", "q_decon_bloom", "q_dedup_prefix",
        "q_pmi_topk", "q_meta_audit", "q_pii_redact", "q_dedup_ngram")) {
      val plan = fullPlanString(q)
      assert(!plan.contains("lambdafunction"),
        s"$q: interpreted HOF found in plan:\n" +
          plan.linesIterator.filter(_.contains("lambdafunction")).take(3).mkString("\n"))
    }
  }

  test("q_cluster_best label join: counted broadcast gate, shuffle-hash above the bound, never SMJ") {
    // default path (labels tiny at test sf): the counted gate takes
    // the broadcast — but it is GATED, not unconditional, which the
    // forced-over-bound case below proves
    val dflt = fullPlanString("q_cluster_best")
    assert(!dflt.contains("SortMergeJoin"),
      s"label probe must never SMJ (the 5.6 B-char tokenize regression):\n$dflt")
    assert(dflt.contains("BroadcastHashJoin"),
      s"in-bound labels must broadcast:\n$dflt")
    // labels over the bound: shuffle-hash fallback — no driver-side
    // size hazard, and tokenize moves BELOW the exchange so the
    // corpus ships 16-byte (doc_id, n_tokens) rows, never text
    val overPlan = graft.operators.ClusterOps
      .clusterBestWithBound(spark, sf, 0L)
      .queryExecution.executedPlan
    val over = overPlan.toString
    assert(!over.contains("SortMergeJoin"),
      s"over-bound labels must not SMJ:\n$over")
    assert(!over.contains("BroadcastHashJoin"),
      s"over-bound labels must not broadcast:\n$over")
    assert(over.contains("ShuffledHashJoin"),
      s"over-bound labels must take the shuffle-hash hint:\n$over")
    // allNodes, not overPlan.collect: with AQE on, the executed plan
    // is an AdaptiveSparkPlanExec LEAF and a bare collect would find
    // zero exchanges no matter what they carry (r11 ADVICE)
    val textShuffles = allNodes(overPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.output.exists(_.name == "text") => e
    }
    assert(textShuffles.isEmpty,
      s"no exchange may carry the corpus text — the over-bound shape " +
        s"tokenizes map-side and ships (doc_id, n_tokens) only:\n$over")
  }

  test("q_ngram_topk partial-aggregates and takes top-k without a global sort") {
    val plan = fullPlanString("q_ngram_topk")
    assert(plan.contains("partial_count"), "doc-frequency count must map-side combine")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("q_dedup_minhash steady state is lazy — a pure scan of the shared pairs artifact") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    // first touch builds the corpus-fingerprint-keyed pairs artifact
    // (the one-time amortized cost both dedup consumers share) —
    // force it so the assertions below observe steady state, and
    // drain the async listener bus so no build-stage event can race
    // into the listener registered next
    SparkEntry.queries("q_dedup_minhash")(spark, sf).queryExecution.executedPlan
    org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.add(s.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // Steady state: a collect+broadcast verify (or a per-call
      // rebuild of the pairs) would have to run a corpus-scan job
      // here. The only jobs allowed are `spark.read.parquet`'s
      // constant-size schema-inference reads (one footer per table
      // open — they don't scan data).
      val plan = SparkEntry.queries("q_dedup_minhash")(spark, sf).queryExecution
      plan.executedPlan
      org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
      val offending = stages.toArray(Array.empty[String])
        .filterNot(_.startsWith("parquet at "))
      assert(offending.isEmpty,
        s"steady-state plan construction must not run data-scanning jobs; saw: ${offending.mkString("; ")}")
      // and the steady-state source IS the materialized pairs frame —
      // the candidate+verify subtree runs once per corpus, not per call
      val scanPaths = plan.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      // since r13 the pair set is a filter over the calibration
      // artifact (one verify join per corpus for dedup AND the
      // calibration reports) — the steady-state scan is minhash-calib
      assert(scanPaths.exists(_.contains("minhash-calib")),
        s"q_dedup_minhash must read the shared materialized calibration artifact; scans: $scanPaths")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("exact-ANN readouts serve from the materialized ranking artifact — no per-call corpus scan") {
    // first touch builds the fingerprint-keyed exact ranking (the one
    // corpus scan all five exact-tier readouts share)
    SparkEntry.queries("q_ann_topk")(spark, sf).queryExecution.executedPlan
    def scansOf(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    // the four pure exact readouts must read ONLY the artifact: a
    // FileScan over embeddings.parquet here means the broadcast ×
    // corpus ranking re-executed per call (the 238 s / 5× redundancy
    // the artifact exists to remove)
    for (q <- Seq("q_ann_topk", "q_ann_negatives", "q_ann_margin",
        "q_ann_purity")) {
      val scans = scansOf(q)
      assert(scans.exists(_.contains("ann-exact")),
        s"$q must read the exact-ranking artifact; scans: $scans")
      assert(!scans.exists(_.contains("embeddings")),
        s"$q must not re-scan the embedding corpus; scans: $scans")
    }
    // the recall report's approximate legs legitimately scan the
    // corpus (they ARE the production probes), but its exact baseline
    // must come from the artifact
    val recallScans = scansOf("q_ann_recall")
    assert(recallScans.exists(_.contains("ann-exact")),
      s"q_ann_recall's exact leg must read the artifact; scans: $recallScans")
  }

  test("q_cluster_best steady state is lazy — constructing the frame runs zero data-scanning jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    // first touch builds the fingerprint-keyed labels artifact (CC
    // resolution + stored count — the amortized once-per-corpus cost
    // all six cluster-family consumers share); force it so the
    // listener below observes steady state only
    SparkEntry.queries("q_cluster_best")(spark, sf).queryExecution.executedPlan
    org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.add(s.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // Steady state: re-running connectedComponents (edge count +
      // gather) or the broadcast gate's labels.count() would fire
      // jobs right here, during CONSTRUCTION (the r11 finding). Only
      // `spark.read.parquet`'s constant-size footer reads may appear.
      val plan = SparkEntry.queries("q_cluster_best")(spark, sf).queryExecution
      plan.executedPlan
      org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
      val offending = stages.toArray(Array.empty[String])
        .filterNot(_.startsWith("parquet at "))
      assert(offending.isEmpty,
        s"steady-state q_cluster_best construction must not run jobs; saw: ${offending.mkString("; ")}")
      // and the label side IS the materialized artifact
      val scanPaths = plan.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scanPaths.exists(_.contains("cluster-labels")),
        s"q_cluster_best must read the materialized labels artifact; scans: $scanPaths")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def preorder(p: SparkPlan): Seq[SparkPlan] = {
    val s = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    s +: s.children.flatMap(preorder)
  }

  test("q_sample_uniform keeps bounded buffers — the corpus is never sorted") {
    val p = planOf("q_sample_uniform")
    val plan = p.toString
    assert(plan.contains("ObjectHashAggregate"), "typed bounded-heap agg expected")
    assert(!plan.contains("Window"))
    // below the PARTIAL aggregate (the deepest one — this plan is
    // linear under the agg) only scan+project may appear: a Sort
    // there would mean the K-row sample sorted the whole corpus
    val aggs = preorder(p).filter(_.nodeName.contains("ObjectHashAggregate"))
    assert(aggs.nonEmpty)
    val below = preorder(aggs.last).drop(1)
    assert(below.forall(_.nodeName != "Sort"),
      s"no Sort below the partial agg; saw: ${below.map(_.nodeName).mkString(",")}")
  }

  test("q_bm25_topk ranks with the bounded aggregator, not a Window sort") {
    val plan = fullPlanString("q_bm25_topk")
    assert(!plan.contains("Window"), "per-query ranking must be the bounded heap")
    assert(plan.contains("ObjectHashAggregate"))
    // the ranker serves from the materialized query-term posting
    // artifact (round-10: tf/dl are build-once per corpus
    // fingerprint, shared by BM25 / TF·IDF / RRF) — the serving plan
    // must scan post-tf, never re-tokenize the corpus (no Generate at
    // or below the partial top-k; the one above it unnests the ≤ K
    // ranked rows per query)
    assert(plan.contains("post-tf"),
      "tf must serve from the posting artifact")
    val aggs = preorder(planOf("q_bm25_topk"))
      .filter(_.nodeName.contains("ObjectHashAggregate"))
    assert(aggs.nonEmpty)
    assert(preorder(aggs.last).forall(_.nodeName != "Generate"),
      "the serving plan must not re-explode the corpus")
  }

  test("q_decon_bloom probes constant bloom bits and verifies without a raw-set broadcast") {
    val plan = fullPlanString("q_decon_bloom")
    assert(plan.contains("might_contain"), "bloom prefilter must be in the scan-side filter")
    assert(plan.contains("ShuffledHashJoin"),
      "exact verify joins survivors by shuffle — the regime where the raw set can't broadcast")
  }

  test("weighted and per-source samples keep bounded buffers — no Sort below the partial agg") {
    for (q <- Seq("q_sample_weighted", "q_sample_group")) {
      val p = planOf(q)
      val plan = p.toString
      assert(plan.contains("ObjectHashAggregate"), s"$q: typed bounded-heap agg expected")
      assert(!plan.contains("Window"), s"$q: no window sort")
      val aggs = preorder(p).filter(_.nodeName.contains("ObjectHashAggregate"))
      assert(aggs.nonEmpty)
      val below = preorder(aggs.last).drop(1)
      assert(below.forall(_.nodeName != "Sort"),
        s"$q: no Sort below the partial agg; saw: ${below.map(_.nodeName).mkString(",")}")
    }
  }

  test("q_lm_quality scores with joins and aggregates only — no window, no cartesian") {
    val plan = fullPlanString("q_lm_quality")
    assert(!plan.contains("Window"), "per-doc mean must be an aggregate, not a window")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "count tables must partial-aggregate map-side")
  }

  test("q_dedup_ngram candidates are count-filtered partial aggs — no cartesian, no window") {
    val plan = fullPlanString("q_dedup_ngram")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"), "pair counting must be an aggregate")
    assert(plan.contains("partial_count"),
      "the shared-prefix-gram count (the candidate filter) must combine map-side")
    assert(plan.contains("df_prefix"), "candidates must come from the df-aware prefix")
  }

  test("q_hybrid_rrf fuses two bounded-heap rankings — broadcast postings, no window sort") {
    val plan = fullPlanString("q_hybrid_rrf")
    assert(!plan.contains("Window"), "rankings must be the bounded aggregator, not row_number")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastExchange"),
      "df/query/stats frames must broadcast — posting lists never sort-merge-join")
  }

  test("q_ab_funnel splits at the count stage — no window, no cartesian, partial aggs") {
    val plan = fullPlanString("q_ab_funnel")
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "stage chaining must partial-aggregate user-keyed mins map-side")
  }

  test("q_vocab_growth reduces through two vocab-bounded aggregations") {
    val plan = fullPlanString("q_vocab_growth")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "map-side combine on the (source, term) agg")
    assert(!plan.contains("Window"))
    // (source, term) agg + source agg + output sort — nothing else
    // may shuffle the exploded token stream
    assert(countShuffles(planOf("q_vocab_growth")) <= 3)
  }

  test("q_embed_cov folds per partition — no per-vector Generate, no joins, bounded shuffle") {
    val plan = fullPlanString("q_embed_cov")
    assert(!plan.contains("Generate"),
      "the d²/2-per-vector posexplode stream must not come back (r10 perf-weak)")
    assert(plan.contains("partial_sum"),
      "the 2080-rows-per-partition partials must combine map-side")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct"),
      "the single-pass kernel needs no joins at all")
    // one exchange for the (i, j) fold + the output range sort
    assert(countShuffles(planOf("q_embed_cov")) <= 2)
  }

  test("q_token_diversity is a narrow scan — no explode, no (doc, token) aggregate") {
    val plan = fullPlanString("q_token_diversity")
    assert(!plan.contains("Generate"),
      "Σc² must come from the native per-doc kernel, not explode + count")
    assert(!plan.contains("HashAggregate"), "no token-granularity shuffle")
  }

  test("q_decon_embedding broadcasts the benchmark side against one corpus scan") {
    val plan = fullPlanString("q_decon_embedding")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the benchmark vectors must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_contamination broadcasts the benchmark grams; the corpus never sort-merge-joins") {
    val plan = fullPlanString("q_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      "the benchmark gram frame must broadcast against the corpus gram stream")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_dedup_prefix is one partial-agg'd shuffle on the prefix hash") {
    val plan = fullPlanString("q_dedup_prefix")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"prefix classes must map-side combine before the exchange:\n$plan")
    assert(!plan.contains("lambdafunction"),
      "the prefix projection must stay codegen'd (built-in slice/array_join)")
  }

  test("q_length_gate broadcasts the per-source bounds frame back onto the scan") {
    val plan = fullPlanString("q_length_gate")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_quality_percentile build ranks via broadcast histograms, never a corpus row_number") {
    // pin the BUILD subtree: the served query reads the materialized
    // per-doc artifact (next test), so the histogram-rank shape is
    // asserted on the builder itself
    val plan = graft.operators.CurationOps.qualityPercentileBuild(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the ~100-row bucket histograms must broadcast back onto the metric frames")
    assert(!plan.contains("row_number"),
      "percentiles must come from bucket counts, not a corpus-wide rank")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_quality_percentile steady state scans the shared per-doc artifact") {
    SparkEntry.queries("q_quality_percentile")(spark, sf).queryExecution.executedPlan
    val plan = SparkEntry.queries("q_quality_percentile")(spark, sf).queryExecution
    plan.executedPlan
    val scanPaths = plan.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanPaths.nonEmpty && scanPaths.forall(_.contains("quality-pct")),
      s"q_quality_percentile must read only the materialized composite artifact; scans: $scanPaths")
  }

  test("q_novelty / q_boilerplate: gram stats join without a cartesian, docs pruned at the scan") {
    for (q <- Seq("q_novelty", "q_boilerplate")) {
      val plan = fullPlanString(q)
      assert(!plan.contains("CartesianProduct"), s"$q must never go all-pairs")
      // the 1-row bounds frame (novelty) joins as a broadcast nested
      // loop over one row, never a shuffled product; the gram join is
      // an equi-join on h
      assert(plan.contains("partial_min") || plan.contains("partial_count"),
        s"$q gram stats must partial-aggregate before the gram shuffle")
      val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("lang")),
        s"$q documents scan must prune unused metadata columns: $readSchemas")
    }
  }

  test("q_event_funnel: events pruned to three columns, stage joins are equi-joins") {
    val plan = fullPlanString("q_event_funnel")
    assert(!plan.contains("CartesianProduct"))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => !l.contains("props") && !l.contains("value")),
      s"events scan must prune to (user_id, event_type, ts): $readSchemas")
    assert(plan.contains("partial_min"),
      "per-user stage times must partial-aggregate before their shuffle")
  }

  test("q_revenue_filter pushes all three predicates to the scan and prunes columns") {
    val plan = fullPlanString("q_revenue_filter")
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      s"shipdate/quantity must reach the parquet scan: $pushed")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("l_orderkey")),
      s"scan must prune to the filter+agg columns: $readSchemas")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the 1-group aggregate must partial-aggregate")
  }

  test("session-6 report queries never plan a shuffled cartesian product") {
    // bounded-frame pairwise joins (source_sim's |sources|² matrix,
    // ann_margin's broadcast queries) must stay broadcast-side;
    // a ShuffleExchange-fed CartesianProduct would be the corpus
    // pairing itself
    for (q <- Seq("q_source_sim", "q_session_stats", "q_cluster_hist",
        "q_cust_order_hist", "q_user_reconcile", "q_ann_margin",
        "q_shard_assign", "q_event_funnel")) {
      val plan = fullPlanString(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
    }
  }

  test("q_source_sim merges signatures map-side and broadcasts the source matrix join") {
    val plan = fullPlanString("q_source_sim")
    assert(plan.contains("partial_min"),
      "the per-source signature merge must partial-aggregate")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the |sources|-row pairwise join must broadcast, never shuffle")
    assert(!plan.contains("SortMergeJoin"), "nothing in this plan may SMJ")
  }

  test("q_session_stats prunes the events scan and reuses the user partitioning") {
    val plan = fullPlanString("q_session_stats")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    // the shared sessionFrame computes a value sum this report drops;
    // Catalyst must prune it all the way to the scan
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => !l.contains("props") && !l.contains("value")),
      s"events scan must prune to (event_id, ts, user_id): $readSchemas")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_retention shuffles rows once — everything else works on the (user, day) frame") {
    val p = planOf("q_retention")
    val plan = p.toString
    // events parquet must be pruned to the two columns the report uses
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(l => !l.contains("props") && !l.contains("event_type")),
      s"events scan must prune to (user_id, ts): $readSchemas")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "the (user, day) distinct must partial-aggregate before its shuffle")
  }

  test("TPC-H-style reports broadcast their dims and never go all-pairs") {
    for (q <- Seq("q_local_supplier", "q_top_supplier")) {
      val plan = fullPlanString(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q must broadcast its dimension/1-row side:\n$plan")
      assert(!plan.contains("CartesianProduct"), q)
    }
    // promo share serves from the OrderLineView (brand/type tags ride
    // the view) — joinless month-sliced scan into a 1-row agg
    val ps = fullPlanString("q_promo_share")
    assert(!ps.contains("Join") && !ps.contains("CartesianProduct"),
      s"q_promo_share must be a joinless view scan:\n$ps")
    val tv = fullPlanString("q_trade_volume")
    assert(tv.contains("BroadcastHashJoin") && !tv.contains("CartesianProduct"),
      "trade volume must broadcast the two-nation dim filters")
    val op = fullPlanString("q_order_priority")
    // served from the OrderLineView materialized join (r13): the
    // EXISTS needs NO per-query join at all — the quarter slice
    // filters the view scan and the (okey, priority) distinct
    // partial-aggregates map-side. The join this pin used to allow
    // (shuffle-hash, never the fact-sorting SMJ that OOM'd sf100 in
    // r10) now runs once per corpus fingerprint in the view build.
    assert(!op.contains("Join") && !op.contains("CartesianProduct"),
      s"q_order_priority must be a joinless view scan:\n$op")
    assert(op.contains("HashAggregate"),
      "the (okey, priority) distinct must partial-aggregate")
    // the quarter slice must reach the view's parquet scan
    assert(op.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("o_orderdate")),
      "order-date slice must push to the view parquet scan")
  }

  test("materialized-view consumers scan ONLY their artifact — source facts never re-scan") {
    // steady state of the OrderLineView / RollupViews serves: once
    // the artifact exists, these plans must not touch the raw fact
    // parquet at all (the ANN-artifact discipline). Queries that
    // legitimately keep a raw fact leg (q_trade_balance's export
    // scan) or dim scans are not in this list.
    val pure = Seq(
      "q_ship_delay" -> "orderline-", "q_order_priority" -> "orderline-",
      "q_promo_share" -> "orderline-", "q_order_lines" -> "orderstats-",
      "q_spend_hist" -> "custstats-", "q_order_cohorts" -> "custstats-",
      "q_rfm_segments" -> "custstats-")
    for ((q, artifact) <- pure) {
      val plan = fullPlanString(q)
      assert(plan.contains(artifact), s"$q must serve from $artifact*:\n$plan")
      assert(!plan.contains("lineitem.parquet") && !plan.contains("orders.parquet"),
        s"$q must not re-scan a source fact table:\n$plan")
    }
  }

  test("q_waiting_supplier cascades partial aggs off one fact pass; dims broadcast") {
    val plan = fullPlanString("q_waiting_supplier")
    assert(plan.contains("BroadcastHashJoin"),
      "order slice / supplier names must broadcast at gate scale")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      "no all-pairs and no window sort — the culprit pick is an agg")
    assert(plan.contains("partial_max") || plan.contains("partial_count"),
      "the late-flag agg must combine map-side before its shuffle")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("o_orderstatus")),
      "the status slice must push to the orders parquet scan")
    // (okey,skey) agg + per-order agg + suppkey agg on collapsed frames
    assert(countShuffles(planOf("q_waiting_supplier")) <= 3)
  }

  test("q_supplier_diversity broadcasts the part slice and pushes its filters") {
    val plan = fullPlanString("q_supplier_diversity")
    assert(plan.contains("BroadcastHashJoin"), "part dim must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("p_size")),
      "brand/size slice must push to the part parquet scan")
    assert(plan.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("l_partkey") && !l.contains("l_quantity")),
      "lineitem scan must prune to (l_partkey, l_suppkey)")
    // two-phase distinct (dedup + group agg) + output sort
    assert(countShuffles(planOf("q_supplier_diversity")) <= 3)
  }

  test("q_ann_pq is a joinless coded scan — codebooks ride the closure, top-k is a bounded agg") {
    val plan = fullPlanString("q_ann_pq")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "ADC scoring must be a single corpus pass with closure-side tables, never a join")
    assert(!plan.contains("Window"),
      "per-query top-k must be the bounded-heap aggregator, not a window sort")
    // the |queries|-key agg + the output range sort
    assert(countShuffles(planOf("q_ann_pq")) <= 2)
  }

  test("session report family: no cartesian, map-side combine everywhere") {
    for (q <- Seq("q_rfm_segments", "q_order_cohorts", "q_brand_basket",
        "q_ship_delay", "q_supplier_delay", "q_event_transitions",
        "q_rate_profile", "q_session_conversion", "q_pack_sweep",
        "q_lang_diversity", "q_vocab_coverage", "q_embed_drift")) {
      val plan = fullPlanString(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
        plan.contains("partial_min"), s"$q must combine map-side")
    }
    // the cohort rewrite holds: no row-granularity join survives —
    // sizes ride a broadcast, never a sort-merge join
    assert(!fullPlanString("q_order_cohorts").contains("SortMergeJoin"),
      "cohort sizes must broadcast")
  }

  test("q_oov_rate broadcasts the vocab; tokens never shuffle by token") {
    // force the unigram artifact first so steady state is observed
    SparkEntry.queries("q_oov_rate")(spark, sf).queryExecution.executedPlan
    val plan = fullPlanString("q_oov_rate")
    assert(plan.contains("BroadcastHashJoin"),
      "the 1000-row vocab must broadcast against the token stream")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q_quality_slope joins doc-keyed frames and partial-aggregates per source") {
    val plan = fullPlanString("q_quality_slope")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the per-source moment sums must map-side combine")
  }

  test("q_revenue_mtd windows per month over the aggregated day frame — never globally") {
    val plan = fullPlanString("q_revenue_mtd")
    assert(!plan.contains("SinglePartition"),
      s"the cumulative window must partition by month:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the daily totals must map-side combine before the day shuffle")
  }

  test("q_event_gaps windows per (user, type) — never a single global sort partition") {
    val plan = fullPlanString("q_event_gaps")
    assert(!plan.contains("SinglePartition"),
      s"gap lag must partition by (user_id, event_type):\n$plan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(l => !l.contains("props")),
      s"events scan must prune unused columns: $readSchemas")
  }

  test("q_disjunct_rev pushes the OR-of-ANDs and the quantity envelope to the scans") {
    val plan = fullPlanString("q_disjunct_rev")
    // the all-branch quantity envelope must reach the fact scan
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("GreaterThanOrEqual(l_quantity,1.0)")),
      "quantity envelope must push to the lineitem scan")
    // the brand/size disjunction must reach the part scan (as an Or tree)
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("Or(")), "the disjunction must push to the part scan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"))
    assert(countShuffles(planOf("q_disjunct_rev")) <= 1,
      "one single-partition agg exchange only")
  }

  test("q_small_qty_rev narrows the fact to one brand before its only keyed shuffle") {
    val plan = fullPlanString("q_small_qty_rev")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("EqualTo(p_brand")), "brand slice must push to the part scan")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.forall(l => !l.contains("l_shipdate") && !l.contains("l_tax")),
      s"lineitem must prune to (partkey, quantity, extendedprice): $readSchemas")
    // partkey stats exchange + the final single-partition agg
    assert(countShuffles(planOf("q_small_qty_rev")) <= 2)
  }

  test("q_big_orders filters the per-order rollup view and broadcasts its dims") {
    // the quantity agg lives in the RollupViews.orderStats build
    // (once per fingerprint); the served plan is a rollup scan whose
    // HAVING bar pushes into the artifact parquet, joined to orders
    // with the customer enrichment broadcast
    val plan = fullPlanString("q_big_orders")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("total_qty_e2")),
      "the quantity bar must push into the rollup scan")
    assert(plan.contains("BroadcastHashJoin"), "customer enrichment must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_dormant_rich plans the mean as a 1-row broadcast and the NOT-EXISTS as an anti join") {
    val plan = fullPlanString("q_dormant_rich")
    assert(plan.contains("LeftAnti"), "recent-order exclusion must be an anti join")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("o_orderdate")), "recency cutoff must push to the orders scan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_market_share semi-narrows the fact and broadcasts every dim") {
    val plan = fullPlanString("q_market_share")
    assert(plan.contains("LeftSemi"), "part-type and ASIA filters must be semi joins")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("EqualTo(p_type")), "part-type slice must push to the part scan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_hourly_profile prunes the events scan to (ts, type, user)") {
    val plan = fullPlanString("q_hourly_profile")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => !l.contains("props") && !l.contains("value")),
      s"events scan must prune unused columns: $readSchemas")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_event_affinity reduces to the (user, type) frame before any join") {
    val plan = fullPlanString("q_event_affinity")
    // inspect only the schema struct — the line's path text also matches
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema"))
      .map(_.split("ReadSchema:").last).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => !l.contains("props") && !l.contains("value") &&
        !l.contains("ts:")),
      s"events scans must prune to (user_id, event_type): $readSchemas")
    assert(!plan.contains("CartesianProduct"),
      "the pair expansion must be the user-keyed equi self-join")
  }

  test("q_label_centroids prunes embeddings and keeps all joins on bounded frames") {
    val plan = fullPlanString("q_label_centroids")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(l => !l.contains("vec_id")),
      s"embeddings scan must prune vec_id: $readSchemas")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_zipf_topk takes its head via TakeOrdered, never a vocab-wide window") {
    val plan = fullPlanString("q_zipf_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered on the vocab frame:\n$plan")
  }

  test("q_pii_redact is a narrow projection — no shuffle beyond the output sort") {
    assert(countShuffles(planOf("q_pii_redact")) <= 1,
      "the redaction rewrite must run at scan speed (<=1 for the gate's sort)")
  }

  test("q_bpe_apply broadcasts the vocab and shuffles exactly once beyond the sort") {
    val plan = fullPlanString("q_bpe_apply")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"the trained vocab must broadcast, never shuffle the token stream:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-source sums must map-side combine:\n$plan")
    // token-occurrence stream: one per-source agg exchange + the
    // output sort; training's vocab-bounded rounds are separate jobs
    assert(countShuffles(planOf("q_bpe_apply")) <= 2,
      "the fit report must not shuffle token occurrences more than once")
  }

  test("q_decon_embedding_lsh probes the bucket index without any cartesian product") {
    val plan = fullPlanString("q_decon_embedding_lsh")
    assert(!plan.contains("CartesianProduct"),
      s"bucket equi-join only — the exact form owns the all-pairs cost:\n$plan")
    // both sides scan the materialized index, never the raw embeddings
    assert(!plan.toLowerCase.contains("embeddings.parquet"),
      s"steady state must read the sign-bucket artifact, not re-quantize:\n$plan")
  }

  test("q_skew_keys partial-aggregates every audited key before its exchange") {
    val plan = fullPlanString("q_skew_keys")
    assert(plan.contains("partial_count"),
      s"per-key counts must map-side combine:\n$plan")
    // 4 per-key aggs + 4 single-row reductions + the output sort; the
    // audited fact tables must never shuffle raw rows twice
    assert(countShuffles(planOf("q_skew_keys")) <= 9)
  }
}
