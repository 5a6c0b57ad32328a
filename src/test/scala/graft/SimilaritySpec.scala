package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** ANN quality: the LSH-bucketed path must agree with brute force on
  * what it returns (same cosines) and keep usable recall
  * (SURVEY.md §2.7 #43-44). */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("brute-force top-k is deterministically ranked and complete") {
    val rows = SimilarityOps.annTopk(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val byQuery = rows.groupBy(_._1)
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_._2).toSeq == (1L to rs.length))
      // ranks ordered by descending cosine, vec_id tiebreak
      val cos = rs.sortBy(_._2).map(_._4)
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("rankTop refuses k deeper than the exact-rank artifact materializes") {
    // the artifact holds only the top-AnnExactK per (query, label), so
    // a deeper serve would be a silently truncated ranking — it must
    // fail loud before touching the input (r12 ADVICE)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.rankTop(spark.emptyDataFrame, SimilarityOps.AnnExactK + 1)
    }
    assert(e.getMessage.contains("AnnExactK"))
    // the boundary k is fine: the flagship consumer serves at exactly K
    assert(SimilarityOps.annTopk(spark, sf).count() > 0)
  }

  test("IVF probes the materialized index — corpus cell assignment is not recomputed") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SimilarityOps.annIvf(spark, sf)
    df.collect() // finalize the adaptive plan
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val s = scans(df.queryExecution.executedPlan)
    def paths(f: FileSourceScanExec) =
      f.relation.location.rootPaths.map(_.toString)
    assert(s.exists(paths(_).exists(_.contains("ivf-index"))),
      s"the corpus side must be a scan of the saved IVF index table; scans: ${s.flatMap(paths)}")
    // the raw embeddings are read ONLY for the 10 probe vectors — if
    // the corpus side re-derived cells per query batch, a second
    // embeddings scan (plus the pivot-distance map) would show up here
    val embScans = s.filter(paths(_).exists(_.contains("embeddings")))
    assert(embScans.size == 1,
      s"exactly one embeddings scan (probe side) expected, saw ${embScans.size}")
    // ...and that probe-side scan must prune on vec_id AT THE SCAN: a
    // typed-lambda filter after the quantize map would read (and
    // quantize) the whole corpus to extract 10 query vectors — the
    // exact cost the materialized index exists to avoid
    val pushed = embScans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("vec_id"),
      s"probe-side embeddings scan must push the vec_id filter, got PushedFilters: $pushed")
  }

  test("Hamming-1 multi-probe strictly improves bucket recall over single-probe LSH") {
    import graft.functions.VectorFunctions._
    // JVM mirror of lshBucket: bit j = (q · plane_j) > 0
    def bucketOf(q: Array[Long]): Long =
      (0 until nPlanes).map { j =>
        var d = 0L; var i = 0
        while (i < dim) { d += q(i) * planes(j)(i); i += 1 }
        if (d > 0) 1L << j else 0L
      }.sum
    // tiny base (quantizes to 2 per coord) keeps every plane dot small
    // (|2·Σw| ≲ tens of thousands), so a one-coordinate nudge — worth
    // up to ±500k dot units — can cross exactly one plane's boundary
    val base = Array.fill(dim)(0.002f)
    val bq = bucketOf(quantizeJvm(base))
    // deterministic search: nudge ONE coordinate until exactly one
    // hyperplane sign flips — a true near neighbor (63 of 64 coords
    // identical) that single-probe LSH structurally cannot see
    val neighbor = (0 until dim).iterator.flatMap { i =>
      Seq(0.004f, 0.0f, 0.01f, 0.02f, 0.05f, 0.1f, -0.002f, 0.2f, 0.5f)
        .iterator.map { v => val cand = base.clone(); cand(i) = v; cand }
    }.find(c => java.lang.Long.bitCount(bucketOf(quantizeJvm(c)) ^ bq) == 1)
      .getOrElse(fail("no single-coordinate nudge flips exactly one plane"))
    val dir = tmpDir("graft-multiprobe-")
    // query 0 = base; corpus: 10 = the Hamming-1 neighbor, 11 = base
    // itself (same bucket, so single-probe still returns rows)
    Seq((0L, base.toSeq), (10L, neighbor.toSeq), (11L, base.toSeq))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val single = SimilarityOps.annLsh(spark, dir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val multi = SimilarityOps.annMultiprobe(spark, dir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(single.contains((0L, 11L)) && !single.contains((0L, 10L)),
      s"construction broken: single-probe saw $single")
    assert(single.subsetOf(multi) && multi.contains((0L, 10L)),
      s"multi-probe must be a strict superset: single=$single multi=$multi")
  }

  test("LSH top-k results appear in the brute-force ranking with identical cosines") {
    val brute = SimilarityOps.annTopk(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (q, _, v, c) => (q, v) -> c }.toMap
    val lsh = SimilarityOps.annLsh(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    // every LSH hit that brute force also ranked must carry the same cosine
    val overlapping = lsh.filter { case (q, _, v, _) => brute.contains((q, v)) }
    assert(overlapping.forall { case (q, _, v, c) => brute((q, v)) == c })
    // rank sequences are dense 1..n per query (single-probe recall is a
    // tunable — 4 planes ⇒ P(collide | cos 0.4) ≈ 0.16 — so agreement
    // with brute-force top-1 is NOT asserted; see NOTES.md)
    lsh.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length))
    }
  }

  test("k-means clusters partition the corpus and report consistent stats") {
    val corpusN = Tables.embeddings(spark, sf).count()
    val rows = SimilarityOps.kmeansProfile(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    // every cluster id in [0, K), all K non-empty on this corpus, and
    // the memberships partition the corpus exactly
    assert(rows.map(_._1).toSeq == (0L until SimilarityOps.KmeansK))
    assert(rows.map(_._2).sum == corpusN)
    rows.foreach { case (_, n, minId, sumD, meanD) =>
      assert(n > 0 && minId >= 0 && sumD >= 0)
      // mean_dist is the HALF_UP rounding of sum_dist / n_members —
      // the same one-IEEE-division contract the oracle applies
      assert(meanD == math.floor(sumD.toDouble / n + 0.5).toLong)
    }
  }

  test("k-means is deterministic across invocations") {
    val a = SimilarityOps.kmeansProfile(spark, sf).collect().toSeq
    val b = SimilarityOps.kmeansProfile(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("Lloyd convergence profile is deterministic and settles on a fixed corpus") {
    val rows = SimilarityOps.kmeansConverge(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == (1L to SimilarityOps.KmeansRounds))
    rows.foreach { case (_, sumDist, shift) =>
      assert(sumDist >= 0 && shift >= 0)
    }
    assert(rows == SimilarityOps.kmeansConverge(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq)
    // degenerate corpus: seeds ARE the vectors, so every round is a
    // perfect singleton assignment — zero distance, zero shift
    val dir = tmpDir("graft-converge-degen-")
    Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val degen = SimilarityOps.kmeansConverge(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(degen.forall(r => r._2 == 0L && r._3 == 0L), degen.toSeq)
  }

  test("k-means and balanced sampling survive a corpus smaller than K") {
    val dir = tmpDir("graft-degen-emb-")
    Seq((0L, Array(1.0f, 0.0f), "a"), (1L, Array(0.0f, 1.0f), "a"),
        (2L, Array(-1.0f, 0.0f), "b"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    // 3 vectors < KmeansK=8: seeds are just the 3 vectors, each its
    // own singleton cluster after the update
    val prof = SimilarityOps.kmeansProfile(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(prof.map(_._2).sum == 3)
    assert(prof.forall(_._4 == 0L), "singleton clusters have zero distance")
    // min cluster size 1 → hash % 1 == 0 < 1 keeps every vector
    val bal = SimilarityOps.sampleBalanced(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(bal.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("balanced sample equals an independent recompute from the assignment table") {
    // independent model: read the materialized assignment, apply the
    // documented rule (keep iff hash60(vec_id) % n_members <
    // min_members) with the JVM hash — catches a wrong hash column, a
    // wrong modulus, or a wrong threshold, not just self-consistency
    val asg = SimilarityOps.kmeansAssignShared(spark, sf)
      .select("cluster_id", "vec_id").as[(Long, Long)].collect()
    val sizes = asg.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val minN = sizes.values.min
    val expected = asg.flatMap { case (c, v) =>
      val bucket = graft.functions.TextHash.hash60Jvm(v.toString) % sizes(c)
      if (bucket < minN) Some((v, c, bucket)) else None
    }.sortBy(_._1).toSeq
    val kept = SimilarityOps.sampleBalanced(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(kept == expected)
    // deterministic: same corpus, same rows
    val again = SimilarityOps.sampleBalanced(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(kept == again)
  }

  test("ann recall report: multi-probe dominates single-bucket LSH per query") {
    val rows = SimilarityOps.annRecall(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, nExact, nHit, recall) =>
      assert(nExact == 3L, "exact baseline is top-3")
      assert(nHit >= 0L && nHit <= nExact)
      assert(recall == nHit * 10000L / nExact)
    }
    // multi-probe's candidate set is a superset of the query's own
    // bucket (mask 0 is among the probes), so per-query recall can
    // never be lower than single-bucket LSH
    val byQuery = rows.groupBy(_._2)
    byQuery.foreach { case (q, rs) =>
      val m = rs.map(r => r._1 -> r._4).toMap
      assert(m("multiprobe") >= m("lsh"),
        s"query $q: multiprobe ${m("multiprobe")} < lsh ${m("lsh")}")
    }
  }

  test("embedding covariance: full upper triangle, PSD diagonal, Cauchy-Schwarz") {
    val rows = SimilarityOps.embedCovariance(spark, sf)
      .as[(Long, Long, Long, Long)].collect() // i, j, n, cov_num
    val diag = rows.filter(r => r._1 == r._2)
    val d = diag.length
    assert(d > 0 && rows.length == d * (d + 1) / 2,
      s"expected full upper triangle of $d dims, got ${rows.length} rows")
    assert(rows.forall { case (i, j, n, _) => i <= j && n == rows.head._3 },
      "every pair sees the same vector count")
    // variance numerators n·Σx² − (Σx)² are non-negative exactly
    assert(diag.forall(_._4 >= 0L))
    // Cauchy–Schwarz in numerator form: cov(i,j)² ≤ var(i)·var(j) —
    // holds EXACTLY for the integer numerators (BigInt: the squares
    // overflow Long)
    val varOf = diag.map(r => r._1 -> BigInt(r._4)).toMap
    assert(rows.forall { case (i, j, _, c) =>
      BigInt(c) * BigInt(c) <= varOf(i) * varOf(j)
    }, "a covariance numerator violates Cauchy-Schwarz")
  }

  test("cluster purity partitions the corpus and reconciles with the k-means profile") {
    val purity = SimilarityOps.clusterPurity(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val prof = SimilarityOps.kmeansProfile(spark, sf)
      .select("cluster_id", "n_members").as[(Long, Long)].collect().toMap
    val total = Tables.embeddings(spark, sf).count()
    assert(purity.map(_._2).sum == total, "cluster members must partition the corpus")
    assert(purity.map(_._1).toSet == prof.keySet,
      "purity must cover exactly the profile's clusters")
    purity.foreach { case (c, n, _, nMaj, pe4) =>
      assert(n == prof(c), s"cluster $c size diverges from the profile")
      assert(nMaj >= 1L && nMaj <= n)
      assert(pe4 == nMaj * 10000L / n && pe4 >= 1L && pe4 <= 10000L)
    }
  }

  test("embedding decontamination equals a plain-JVM model over the quantized vectors") {
    import graft.functions.VectorFunctions.{quantizeJvm, cosineE6Jvm}
    import graft.operators.CurationOps
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> quantizeJvm(r.getSeq[Float](1).toArray))
    val n2 = emb.map { case (id, q) => id -> q.map(x => x * x).sum }.toMap
    val bench = emb.filter(_._1 % CurationOps.EmbDecontMod == 0L)
    val want = emb.filter(_._1 % CurationOps.EmbDecontMod != 0L).flatMap { case (cid, cq) =>
      val hits = bench
        .map { case (bid, bq) => (bid, cosineE6Jvm(cq, bq, n2(cid), n2(bid))) }
        .filter(_._2 >= CurationOps.EmbDecontCos)
      if (hits.isEmpty) None
      else {
        val (bid, cos) = hits.minBy { case (b, c) => (-c, b) }
        Some((cid, bid, cos, hits.length.toLong))
      }
    }.sortBy(_._1).toSeq
    val got = CurationOps.deconEmbedding(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want, "operator diverges from the JVM model")
  }

  test("hard negatives equal a plain-JVM wrong-label ranking model") {
    import graft.functions.VectorFunctions.{quantizeJvm, cosineE6Jvm}
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), quantizeJvm(r.getSeq[Float](1).toArray),
        r.getInt(2).toLong))
    val n2 = emb.map { case (id, q, _) => id -> q.map(x => x * x).sum }.toMap
    val queries = emb.filter(_._1 < 10)
    val corpus = emb.filter(_._1 >= 10)
    val want = queries.flatMap { case (qid, qq, ql) =>
      corpus.filter(_._3 != ql)
        .map { case (cid, cq, cl) =>
          (cid, cosineE6Jvm(qq, cq, n2(qid), n2(cid)), cl) }
        .sortBy { case (cid, cos, _) => (-cos, cid) }
        .take(5).zipWithIndex
        .map { case ((cid, cos, cl), i) => (qid, i + 1L, cid, cos, ql, cl) }
    }.sortBy(r => (r._1, r._2)).toSeq
    val got = SimilarityOps.annNegatives(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, "hard negatives diverge from the JVM model")
    // every negative is genuinely wrong-label — the property that
    // makes the pair a NEGATIVE and not just a neighbor
    got.foreach { case (_, _, _, _, ql, l) => assert(ql != l) }
  }

  test("LSH decon is a recall-correct subset of the exact decon judgment") {
    import graft.operators.CurationOps
    // sf0.1: the gate scale where both forms produce rows (sf0.001's
    // 6-vector benchmark makes every assertion vacuous)
    val big = "/root/testdata/sf0.1"
    val exact = CurationOps.deconEmbedding(spark, big)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val lsh = CurationOps.deconEmbeddingLsh(spark, big)
      .as[(Long, Long, Long, Long)].collect()
    assert(lsh.nonEmpty, "multi-probe recall must find hits at sf0.1")
    lsh.foreach { case (vec, best, cos, nHits) =>
      val (_, exCos, exHits) = exact.getOrElse(vec,
        fail(s"LSH flagged $vec which the exact judgment did not"))
      // candidate subset ⇒ the approximate report can only UNDER-state
      assert(nHits <= exHits && cos <= exCos,
        s"LSH overstates contamination for $vec")
      // and its best pair is a genuine τ-hit under the exact bar
      assert(cos >= CurationOps.EmbDecontCos && best % CurationOps.EmbDecontMod == 0L)
    }
  }

  test("ann margin agrees with the exact ranking and is non-negative") {
    val top = SimilarityOps.annTopk(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val margins = SimilarityOps.annMargin(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(margins.nonEmpty)
    val byQ = top.groupBy(_._1)
    margins.foreach { case (q, topVec, c1, c2, m) =>
      val rs = byQ(q).sortBy(_._2)
      assert(topVec == rs.head._3, s"query $q top vec")
      assert(c1 == rs.head._4 && c2 == rs(1)._4, s"query $q cosines")
      assert(m == c1 - c2 && m >= 0L, s"query $q margin")
    }
    assert(margins.map(_._1).toSet == byQ.keySet)
  }

  test("embedding-norm health report equals a plain-JVM moments model") {
    import graft.functions.VectorFunctions
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"), col("embedding"))
      .as[(Long, Long, Array[Float])].collect()
    val nrm = rows.map { case (id, lbl, emb) =>
      val q = VectorFunctions.quantizeJvm(emb)
      (id, lbl, q.map(x => x * x).sum / 1000L)
    }
    val want = nrm.groupBy(_._2).map { case (lbl, vs) =>
      val n = vs.length.toLong
      val s1 = vs.map(_._3).sum
      val s2 = vs.map(v => v._3 * v._3).sum
      val outs = vs.count { case (_, _, v) =>
        val dev = n.toDouble * v.toDouble - s1.toDouble
        dev * dev > 9.0 * (n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble)
      }.toLong
      lbl -> (n, vs.map(_._3).min, vs.map(_._3).max, s1 / n, outs)
    }
    val got = SimilarityOps.embedOutliers(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toMap == want, "per-label report must equal the model")
    // the report always covers the full corpus, outliers or not
    assert(got.map(_._2._1).sum == rows.length.toLong)
  }

  test("pca top component: normalized, sign-stabilized, aligned with the true eigenvector") {
    val v = SimilarityOps.pcaTop(spark, sf)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(v.length > 0)
    // max-abs normalization pins the pivot to exactly ±1e6, and the
    // sign convention makes it +1e6
    assert(v.map(math.abs).max == 1000000L)
    assert(v(v.indexWhere(x => math.abs(x) == 1000000L)) == 1000000L,
      "lowest max-magnitude dim must be positive")
    // the integer orbit after PcaIters steps must align with the TRUE
    // dominant eigenvector; a double-precision power iteration run to
    // convergence (3x the steps) is the reference. 0.98 leaves room
    // for the near-isotropic spectrum of the synthetic embeddings
    // (measured 0.9999 at this sf).
    val cov = SimilarityOps.embedCovariance(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val d = v.length
    val n = cov.head._3
    val C = Array.ofDim[Double](d, d)
    cov.foreach { case (i, j, _, cn) =>
      val c = (BigInt(cn) / BigInt(n)).toDouble
      C(i.toInt)(j.toInt) = c; C(j.toInt)(i.toInt) = c
    }
    var ref = Array.fill(d)(1.0)
    for (_ <- 1 to 3 * SimilarityOps.PcaIters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => C(i)(j) * ref(j)).sum)
      val mx = w.map(math.abs).max
      ref = w.map(_ / mx)
    }
    val dot = v.zip(ref).map { case (a, b) => a.toDouble * b }.sum
    val cos = math.abs(dot) /
      (math.sqrt(v.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(ref.map(x => x * x).sum))
    assert(cos >= 0.98, s"integer iteration diverged from the eigenvector: cos $cos")
  }

  test("pca explained-variance share sits between the isotropic floor and 1") {
    val rows = SimilarityOps.pcaVar(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 1)
    val (d, trace, share) = rows.head
    assert(d > 0 && trace > 0)
    assert(share > 0L && share <= 1000000L, s"share_e6 $share out of (0, 1e6]")
    // the dominant direction explains at least the per-dim average
    // (true for the eigenvector; the iterate is within cos 0.98 of it
    // — pinned above — so the Rayleigh share clears the floor too)
    assert(share * d >= 1000000L,
      s"share_e6 $share below the isotropic floor 1e6/$d")
  }

  test("pca tolerates an empty embeddings table (no crash, empty/zero output)") {
    val dir = tmpDir("graft-pca-empty-")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(SimilarityOps.pcaTop(spark, dir).count() == 0L)
    val rows = SimilarityOps.pcaVar(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(rows.toSeq == Seq((0L, 0L, 0L)))
  }

  test("ann label purity equals a recompute from the exact ranking") {
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long")).as[(Long, Long)]
      .collect().toMap
    val top = SimilarityOps.annTopk(spark, sf)
      .as[(Long, Long, Long, Long)].collect() // query_id, rank, vec_id, cos
    val model = top.groupBy(r => labels(r._1)).view.mapValues { rs =>
      val n = rs.length.toLong
      val same = rs.count(r => labels(r._1) == labels(r._3)).toLong
      (n, same, same * 10000L / n)
    }.toMap
    val got = SimilarityOps.annLabelPurity(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (ql, n, same, p) =>
      assert((n, same, p) == model(ql), s"label $ql diverges from the ranking")
      assert(p >= 0L && p <= 10000L)
    }
    assert(got.map(_._1).toSet == model.keySet,
      "every query label must report")
  }

  test("embedding drift report equals a plain-JVM halves model and covers the corpus") {
    import graft.functions.VectorFunctions.{quantizeJvm, roundHalfUp}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> quantizeJvm(r.getSeq[Float](1).toArray))
    val lo = emb.map(_._1).min
    val hi = emb.map(_._1).max
    val (ha, hb) = emb.partition { case (id, _) => id * 2 <= lo + hi }
    val want = (0 until emb.head._2.length).map { dim =>
      val (sa, sb) = (ha.map(_._2(dim)).sum, hb.map(_._2(dim)).sum)
      val (ma, mb) = (roundHalfUp(sa.toDouble / ha.length),
        roundHalfUp(sb.toDouble / hb.length))
      (dim.toLong, ha.length.toLong, hb.length.toLong, ma, mb, mb - ma)
    }
    val got = SparkEntry.queries("q_embed_drift")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, "drift report diverges from the JVM halves model")
    // both halves cover the corpus on every dimension
    val total = emb.length.toLong
    assert(got.forall(r => r._2 + r._3 == total && r._2 > 0 && r._3 > 0))
  }

  test("random-projection distortion audit equals a plain-BigInt model") {
    import graft.functions.VectorFunctions.{quantizeJvm, nPlanes, planes}
    import graft.operators.SimilarityOps.RpMod
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> quantizeJvm(r.getSeq[Float](1).toArray))
      .toMap
    val sample = emb.keys.filter(_ % RpMod == 0L).toSeq.sorted
    def proj(q: Array[Long]) =
      Array.tabulate(nPlanes)(j => q.indices.map(i => q(i) * planes(j)(i)).sum)
    val ratios = sample.flatMap { a =>
      emb.get(a + RpMod).map { qb =>
        val (qa, pa, pb) = (emb(a), proj(emb(a)), proj(emb(a + RpMod)))
        val d2o = qa.indices.map(i => (qa(i) - qb(i)) * (qa(i) - qb(i))).sum
        val d2p = pa.indices.map(j => (pa(j) - pb(j)) * (pa(j) - pb(j))).sum
        (d2o, (BigInt(d2p) * 1000000 / BigInt(d2o max 1)).toLong)
      }
    }
    val live = ratios.filter(_._1 != 0L).map(_._2)
    val want = (ratios.size.toLong, ratios.count(_._1 == 0L).toLong,
      live.min, live.max,
      (live.map(BigInt(_)).sum / BigInt(live.size max 1)).toLong)
    val got = SparkEntry.queries("q_rp_distortion")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == want, s"operator $got diverges from the model $want")
    assert(got._3 >= 0L && got._3 <= got._5 && got._5 <= got._4,
      "ratio band must bracket its mean")
  }

  /** Plain-JVM PQ model shared by the #44d and #44f tests: quantized
    * vectors, trained codebooks (one Lloyd round per subspace), and
    * the slice/distance/code helpers — an independent reimplementation
    * of the operator's training + coding rule. */
  private def pqModel(): (Seq[(Long, Array[Long])], Array[Array[(Int, Array[Long])]], Int) = {
    import graft.functions.VectorFunctions.{quantizeJvm, roundHalfUp}
    import graft.operators.SimilarityOps.{PqK, PqM}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> quantizeJvm(r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val sd = emb.head._2.length / PqM
    def sub(q: Array[Long], m: Int) = q.slice(m * sd, (m + 1) * sd)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val seeds = Array.tabulate(PqM)(m => emb.take(PqK).map(e => sub(e._2, m)).toArray)
    // surviving cells KEEP their original seed id (gaps allowed) —
    // the same labeling contract as the operator's pqTrain
    val books: Array[Array[(Int, Array[Long])]] = Array.tabulate(PqM) { m =>
      emb.map { case (_, q) =>
        val s = sub(q, m)
        (seeds(m).zipWithIndex.minBy { case (c, i) => (d2(s, c), i) }._2, s)
      }.groupBy(_._1).toArray.sortBy(_._1).map { case (c, members) =>
        (c, Array.tabulate(sd) { dim =>
          roundHalfUp(members.map(_._2(dim)).sum.toDouble / members.length)
        })
      }
    }
    (emb, books, sd)
  }

  test("product-quantization ANN equals a plain-JVM PQ model end to end") {
    import graft.operators.SimilarityOps.{PqM, PqTopK}
    val (emb, books, sd) = pqModel()
    def sub(q: Array[Long], m: Int) = q.slice(m * sd, (m + 1) * sd)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val queries = emb.filter(_._1 < 10)
    val corpus = emb.filter(_._1 >= 10)
    def code(q: Array[Long], m: Int): Int =
      books(m).minBy { case (c, b) => (d2(sub(q, m), b), c) }._1
    def centroid(m: Int, c: Int): Array[Long] =
      books(m).find(_._1 == c).get._2
    val want = queries.flatMap { case (qid, qv) =>
      corpus.map { case (vid, cv) =>
        (qid, vid, (0 until PqM).map(m => d2(sub(qv, m), centroid(m, code(cv, m)))).sum)
      }.sortBy { case (_, vid, ad) => (ad, vid) }.take(PqTopK)
        .zipWithIndex.map { case ((_, vid, ad), i) => (qid, (i + 1).toLong, vid, ad) }
    }
    val got = SparkEntry.queries("q_ann_pq")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want, "operator diverges from the JVM PQ model")
    assert(got.forall(_._4 >= 0L), "squared ADC distances are non-negative")
  }

  test("PQ cell audit equals the JVM model and partitions the corpus per subspace") {
    import graft.operators.SimilarityOps.PqM
    val (emb, books, sd) = pqModel()
    def sub(q: Array[Long], m: Int) = q.slice(m * sd, (m + 1) * sd)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val corpus = emb.filter(_._1 >= 10)
    val cells = corpus.flatMap { case (_, q) =>
      (0 until PqM).map { m =>
        val (c, d) = books(m)
          .map { case (i, b) => (i, d2(sub(q, m), b)) }
          .minBy { case (i, d) => (d, i) }
        ((m.toLong, c.toLong), d)
      }
    }.groupBy(_._1)
    val want = cells.toSeq.sortBy(_._1).map { case ((m, c), ds) =>
      val errs = ds.map(e => BigInt(e._2))
      (m, c, ds.size.toLong,
        10000L * ds.size / corpus.size,
        (errs.sum / errs.size).toLong)
    }
    val got = SparkEntry.queries("q_pq_cells")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"cell audit diverges from the JVM model")
    // each subspace's cells partition the corpus
    for (m <- 0L until PqM.toLong)
      assert(got.filter(_._1 == m).map(_._3).sum == corpus.size.toLong,
        s"subspace $m cells must cover the corpus exactly once")
  }

  test("PQ codes keep ORIGINAL centroid ids when a cell is absent from the book") {
    // the emptied-seed-cell scenario (two identical seed subvectors):
    // surviving entries must keep their seed ids, never re-compact
    // positionally — otherwise codes silently shift against the
    // oracle's id labeling
    import graft.operators.SimilarityOps
    import graft.operators.SimilarityOps.PqM
    val (emb, books0, sd) = pqModel()
    val books: SimilarityOps.PqBooks = books0.map(_.drop(1)) // gap at each book's first id
    def sub(q: Array[Long], m: Int) = q.slice(m * sd, (m + 1) * sd)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val want = emb.map { case (id, q) =>
      id -> Array.tabulate(PqM)(m =>
        books(m).minBy { case (c, b) => (d2(sub(q, m), b), c) }._1)
    }.toMap
    val got = SimilarityOps.encodeFrame(Tables.embeddings(spark, sf), books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(got.keySet == want.keySet)
    for ((id, codes) <- got) {
      assert(codes.sameElements(want(id)), s"codes for vec $id diverge from the id-labeled model")
      for (m <- 0 until PqM)
        assert(codes(m) != books0(m).head._1, "a dropped cell id must never be emitted")
    }
    // k-means is the one-subspace book: drop a cluster the update
    // kept and the assignment must route by the survivors' ORIGINAL
    // ids, dist = the squared L2 to the chosen centroid
    val cents0 = SimilarityOps.kmeansCentroidsShared(spark, sf)
    val dropped = cents0(0)(1)._1
    val cents: SimilarityOps.PqBooks = Array(cents0(0).filter(_._1 != dropped))
    val wantAsg = emb.map { case (id, q) =>
      val (c, d) = cents(0).map { case (c, b) => (c, d2(q, b)) }
        .minBy { case (c, d) => (d, c) }
      (c.toLong, id, d)
    }.toSet
    val gotAsg = SimilarityOps.assignFrame(Tables.embeddings(spark, sf), cents)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotAsg == wantAsg, "assignment diverges from the id-labeled argmin model")
    assert(!gotAsg.exists(_._1 == dropped.toLong), "a dropped cluster id must never be emitted")
  }
}
