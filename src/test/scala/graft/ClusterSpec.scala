package graft

import graft.operators.ClusterOps
import org.apache.spark.sql.functions._

/** Connected-components clustering (ClusterOps): label = min id in
  * the component, only paired nodes returned, both execution paths —
  * driver union–find under the broadcast-sized edge limit,
  * diameter-insensitive large-star/small-star contraction above it
  * (exercised by forcing `driverEdgeLimit = 0`; the chain graphs
  * force multiple rounds). */
class ClusterSpec extends SparkTestBase {

  private def cc(pairs: Seq[(Long, Long)], limit: Long): Map[Long, Long] = {
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    ClusterOps.connectedComponents(df, "a", "b", driverEdgeLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // chain 1-2-3-4-5-6-7-8 (diameter 7 → needs >1 contraction round),
  // triangle {100,101,102}, pair {200,201}
  private val chainTrianglePair = (1L to 7L).map(i => (i, i + 1)) ++
    Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))

  private def assertChainTrianglePair(labels: Map[Long, Long]): Unit = {
    assert((1L to 8L).forall(labels(_) == 1L))
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    assert(labels(200L) == 200L && labels(201L) == 200L)
    assert(labels.size == 13) // no isolated nodes invented
  }

  test("chain, triangle, and isolated pair resolve to min-id labels (both paths agree)") {
    val driver = cc(chainTrianglePair, limit = ClusterOps.DriverEdgeLimit)
    val distributed = cc(chainTrianglePair, limit = 0)
    assertChainTrianglePair(driver)
    assert(driver == distributed,
      "driver union–find and star contraction must produce identical labels")
  }

  test("edge direction does not matter (both paths)") {
    val pairs = Seq((5L, 3L), (3L, 9L), (9L, 1L))
    assert(cc(pairs, limit = ClusterOps.DriverEdgeLimit).values.toSet == Set(1L))
    assert(cc(pairs, limit = 0).values.toSet == Set(1L))
  }

  test("empty pair set yields an empty, schema-correct result (both paths)") {
    // the distributed path (limit = -1 so 0 edges still exceeds it)
    // exercises the all-empty parquet round-trip — the shape
    // q_dedup_cluster hits on a tiny SF with no near-dup pairs
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (limit <- Seq(ClusterOps.DriverEdgeLimit, -1L)) {
      val out = ClusterOps.connectedComponents(empty, "a", "b", driverEdgeLimit = limit)
      assert(out.columns.toSeq == Seq("id", "label"))
      assert(out.count() == 0)
    }
  }

  test("no persisted or checkpointed blocks survive a call on either path (BENCH_r03 leak)") {
    import spark.implicits._
    // capture baseline: other suites may share the session
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("a", "b")
    for (limit <- Seq(ClusterOps.DriverEdgeLimit, 0L)) {
      val result = ClusterOps.connectedComponents(pairs, "a", "b", driverEdgeLimit = limit)
      assert(result.count() == 10)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"connectedComponents must free every persist/localCheckpoint it creates (limit=$limit); leaked RDD ids: $leaked")
      // and the RESULT must not depend on block-manager state at all:
      // its plan recomputes fine after a cache wipe
      spark.catalog.clearCache()
      assert(result.count() == 10)
    }
  }

  test("star contraction: rounds are logarithmic in chain length, ≤2 jobs per round") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // chain of 16 → diameter 15. The r11 loop walked ~one edge-hop
    // per round (ProfileCc: 52 rounds on a 12.6 k chain); star
    // contraction must stay logarithmic here AND on the 700-chain in
    // the stats-reset test below — diameter-insensitivity is the
    // whole point of the algorithm swap.
    val pairs = (1L to 15L).map(i => (i, i + 1)).toDF("a", "b")
    // AQE turns every query stage into its own job and broadcast
    // joins add broadcast-collect jobs — both would drown the claim
    // under test (bounded actions per round), so pin plain
    // one-job-per-action execution for the duration
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(l)
    try {
      ClusterOps.connectedComponents(pairs, "a", "b", driverEdgeLimit = 0).count()
      org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
      val rounds = ClusterOps.lastRounds.get()
      assert(rounds >= 2, s"chain-16 must take multiple rounds, took $rounds")
      assert(rounds <= 8, s"chain-16 must contract in O(log n) rounds, took $rounds")
      // per round: the materializing count + (on equal-count rounds)
      // the exact set-equality check — ≤2 jobs; plus constants: the
      // init count, reset-round parquet writes (≤ rounds/4), the
      // final label write + the count above. Trading ≤2 jobs/round
      // for LOGARITHMIC rounds is the round-12 swap: the old loop ran
      // 1 job/round × O(diameter) rounds.
      val total = jobs.get()
      assert(total <= 2 * rounds + rounds / ClusterOps.CcStatsResetRounds + 7,
        s"expected ≤2 jobs/round (+constant), saw $total jobs for $rounds rounds")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("propagation survives a plan-stats reset boundary (sf100 BigInteger overflow regression)") {
    // A lazy localCheckpoint INHERITS the child plan's statistics and
    // each round's joins square the inherited sizeInBytes — the
    // BigInt doubles its bit length per round until stats estimation
    // overflows ("BigInteger would overflow supported range", round
    // ~28; q_embed_cluster hit it live at sf100, and this case is its
    // regression guard). starContract resets plan state with a parquet
    // round trip every CcStatsResetRounds rounds; this chain's
    // length forces the round count PAST that boundary, so the test
    // proves labels stay exact and blocks stay freed ACROSS a reset.
    import spark.implicits._
    val n = 700L // log-round contraction still crosses the period-4 boundary
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val labels = ClusterOps.connectedComponents(pairs, "a", "b", driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rounds = ClusterOps.lastRounds.get()
    assert(rounds > ClusterOps.CcStatsResetRounds,
      s"chain-$n must cross the reset boundary (${ClusterOps.CcStatsResetRounds}), took $rounds rounds")
    // the diameter-insensitivity pin on a long chain: the r11
    // min-propagation loop needed rounds proportional to hop count
    assert(rounds <= 16,
      s"chain-$n must contract in O(log n) rounds, took $rounds")
    assert(labels.size == n && (1L to n).forall(labels(_) == 1L),
      "labels must be exact across the reset")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"reset rounds must free their blocks too; leaked: $leaked")
  }

  test("clusterBest keeps exactly the longest doc per cluster, same clusters as dedupCluster") {
    val best = ClusterOps.clusterBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(best.nonEmpty)
    // identical transitive membership — only the keep policy differs
    val minPolicy = ClusterOps.dedupCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best.map(t => (t._1, t._2)).toMap == minPolicy)
    best.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $cid must keep exactly one doc")
      // the keep is the (n_tokens desc, doc_id asc) maximum
      val want = members.minBy(t => (-t._3, t._1))
      assert(kept.head == want.copy(_4 = 1L))
    }
  }

  test("clusterQuality keeps exactly the best-scored doc per cluster, same clusters as dedupCluster") {
    val best = ClusterOps.clusterQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(best.nonEmpty)
    // identical transitive membership — only the keep policy differs
    val minPolicy = ClusterOps.dedupCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best.map(t => (t._1, t._2)).toMap == minPolicy)
    // scores agree with the #95 operator (or the −1 out-of-domain sentinel)
    val comp = graft.operators.CurationOps.qualityPercentile(spark, sf)
      .select("doc_id", "composite_e4").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    best.foreach { case (id, _, s, _) =>
      assert(s == comp.getOrElse(id, -1L), s"doc $id score diverges from #95")
    }
    best.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $cid must keep exactly one doc")
      // the keep is the (composite desc, doc_id asc) maximum
      val want = members.minBy(t => (-t._3, t._1))
      assert(kept.head == want.copy(_4 = 1L))
    }
  }

  test("dedupCluster keeps exactly one doc per cluster") {
    val df = ClusterOps.dedupCluster(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid, s"cluster $cid label is not the min doc_id")
      assert(members.count(_.getLong(2) == 1L) == 1, s"cluster $cid must keep exactly one doc")
      members.filter(_.getLong(2) == 1L)
        .foreach(r => assert(r.getLong(0) == cid))
    }
  }

  test("embedCluster labels cover exactly the OR-pair vectors and link every pair") {
    val pairs = graft.operators.DedupOps.dedupEmbeddingLshOr(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = ClusterOps.embedCluster(spark, sf).collect()
    assert(pairs.nonEmpty && rows.nonEmpty)
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // membership = every vector in some pair, nothing else
    assert(label.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // both endpoints of every pair share a component label
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters") }
    // one keeper per cluster, at the min id
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid)
      assert(members.count(_.getLong(2) == 1L) == 1)
    }
  }

  test("effective dataset size reconciles with an independent cluster recompute") {
    import spark.implicits.{newProductEncoder, newLongEncoder, newStringEncoder}
    import graft.functions.TextFunctions.tokens
    val rows = graft.operators.CurationOps.effectiveTokens(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nClustered, raw, eff) =>
      assert(nClustered <= nDocs, src)
      assert(eff <= raw, s"$src: effective must never exceed raw")
      assert(eff >= 0L && raw >= 0L)
    }
    // independent recompute: cluster sizes from dedupCluster, token
    // lengths from a fresh narrow scan — per-source sums must agree
    val csz = ClusterOps.dedupCluster(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val label = ClusterOps.dedupCluster(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .as[(Long, String, Long)].collect()
    val want = docs.groupBy(_._2).view.mapValues { ds =>
      val eff = ds.map { case (id, _, t) =>
        t / label.get(id).map(csz).getOrElse(1L)
      }.sum
      (ds.length.toLong, ds.count(d => label.contains(d._1)).toLong,
        ds.map(_._3).sum, eff)
    }.toMap
    rows.foreach { case (src, nDocs, nClustered, raw, eff) =>
      assert((nDocs, nClustered, raw, eff) == want(src), s"$src diverges")
    }
    // clusters weight the discount: every clustered doc divides by
    // its true cluster size, so sources with no clustered docs are
    // identity
    rows.filter(_._3 == 0L).foreach { case (src, _, _, raw, eff) =>
      assert(raw == eff, s"$src: untouched source must keep raw == effective")
    }
  }

  test("cluster-size histogram reconciles exactly with dedupCluster memberships") {
    val hist = ClusterOps.clusterHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.nonEmpty)
    // every clustered doc is in a pair, so no size-1 bars can exist
    assert(hist.forall(_._1 >= 2L), "histogram must start at size 2")
    // strictly one bar per size, sorted
    assert(hist.map(_._1).toSeq == hist.map(_._1).sorted.toSeq.distinct)
    // row arithmetic: n_docs = size·clusters, n_redundant = (size−1)·clusters
    hist.foreach { case (sz, nc, nd, nr) =>
      assert(nd == sz * nc && nr == (sz - 1) * nc, s"bar $sz arithmetic")
    }
    // reconciliation against the membership table it summarizes
    val labels = ClusterOps.dedupCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wantBars = labels.groupBy(_._2).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, cs) => sz -> cs.size.toLong }
    assert(hist.map(t => t._1 -> t._2).toMap == wantBars,
      "bars must equal the size distribution of dedupCluster's clusters")
    assert(hist.map(_._3).sum == labels.length.toLong,
      "sum n_docs = clustered docs")
    assert(hist.map(_._4).sum == labels.count(_._3 == 0L).toLong,
      "sum n_redundant = docs any retention policy drops (keep=0)")
  }

  test("policy audit counts equal a recompute from the three keeper sets") {
    def keeps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().filter(_.getLong(df.columns.indexOf("keep")) == 1L)
        .map(r => r.getLong(df.columns.indexOf("cluster_id")) ->
          r.getLong(df.columns.indexOf("doc_id"))).toMap
    val mn = keeps(ClusterOps.dedupCluster(spark, sf))
    val lg = keeps(ClusterOps.clusterBest(spark, sf))
    val ql = keeps(ClusterOps.clusterQuality(spark, sf))
    assert(mn.keySet == lg.keySet && lg.keySet == ql.keySet,
      "all three policies must keep over the same clusters")
    val got = ClusterOps.clusterPolicyAudit(spark, sf).collect().head
    val cs = mn.keySet.toSeq
    assert(got.getLong(0) == cs.length.toLong)
    assert(got.getLong(1) == cs.count(c => mn(c) == lg(c)).toLong, "min=long")
    assert(got.getLong(2) == cs.count(c => mn(c) == ql(c)).toLong, "min=qual")
    assert(got.getLong(3) == cs.count(c => lg(c) == ql(c)).toLong, "long=qual")
    assert(got.getLong(4) ==
      cs.count(c => mn(c) == lg(c) && lg(c) == ql(c)).toLong, "unanimous")
    // unanimity is the intersection of the pairwise agreements
    assert(got.getLong(4) <= Seq(got.getLong(1), got.getLong(2), got.getLong(3)).min)
  }

  test("contamination closure = direct hits plus dirty-cluster members, labels from #50") {
    import spark.implicits.{newLongEncoder, newProductEncoder}
    import graft.operators.CurationOps
    val hits = CurationOps.decontaminate(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val labels = ClusterOps.dedupCluster(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val dirtyClusters = labels.filter(p => hits(p._1)).map(_._2).toSet
    val wantDocs = hits ++
      labels.filter(p => dirtyClusters(p._2)).map(_._1)
    val got = CurationOps.decontaminateClosure(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == wantDocs,
      "closure must be exactly direct hits union dirty-cluster members")
    assert(got.map(_._1).distinct.length == got.length, "one row per doc")
    // a positive n_hit marks exactly the direct hits; cluster ids are
    // #50's labels, with the -1 sentinel exactly on unclustered docs
    val labelMap = labels.toMap
    got.foreach { case (d, c, n) =>
      assert((n > 0L) == hits(d), s"doc $d: n_hit=$n vs direct=${hits(d)}")
      assert(c == labelMap.getOrElse(d, -1L), s"doc $d: label $c drifts")
    }
  }
}
