package graft

import graft.functions.{TextFunctions, TextHash}
import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** Dedup-quality properties that the SQL oracles can't express:
  * hash-function semantics, SimHash Hamming locality, MinHash-LSH
  * recall against exact Jaccard (SURVEY.md §2.7 #38-41). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("hash60Jvm equals the declarative conv(substr(md5)) form") {
    val samples = Seq("hello world", "a", "", "the quick brown fox", "héllo ünïcode")
    val declarative = samples.toDF("s")
      .select(TextFunctions.hash60(col("s")).as("h")).as[Long].collect()
    val jvm = samples.map(TextHash.hash60Jvm)
    assert(declarative.toSeq == jvm)
  }

  test("gram hashes: distinct word n-grams, order-insensitive set semantics") {
    val g = TextHash.gramHashesJvm("a b a b a", 2).toSet
    // grams: "a b", "b a" (each appearing twice, deduped)
    assert(g.size == 2)
    assert(g == Set(TextHash.hash60Jvm("a b"), TextHash.hash60Jvm("b a")))
    assert(TextHash.gramHashesJvm("one", 2).isEmpty)
    assert(TextHash.tokensJvm("  a   b ").toSeq == Seq("a", "b"))
  }

  test("shared artifacts tolerate a dedup-clean / short-doc corpus (empty frames)") {
    // every text unique and shorter than the rolling window → the
    // minhash-pairs AND sampled-windows artifacts are EMPTY frames,
    // which the stored-schema read-back must serve
    val dir = tmpDir("graft-clean-corpus-")
    Seq((1L, "alpha one", "en", "srcA", 9L),
        (2L, "beta two", "en", "srcA", 8L),
        (3L, "gamma three", "en", "srcB", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupOps.dedupMinhash(spark, dir).count() == 0L)
    assert(graft.operators.ClusterOps.dedupCluster(spark, dir).count() == 0L)
    assert(DedupOps.overlapPairs(spark, dir).count() == 0L)
    assert(graft.operators.CurationOps.decontaminateSubstr(spark, dir).count() == 0L)
  }

  test("ultra-hot gram outside the sampled profile is demoted by the exact heavy pass") {
    // ADVERSARIAL: a gram correlated with the hotGrams sampling
    // pattern — present in every ODD doc_id while the profile samples
    // doc_id % every == 0 (even ids at this corpus size) — so the
    // SAMPLED table can never see it. Without the exact full-stream
    // heavy pass it would sit inside ~half the prefixes and build a
    // ~50k-id candidate bucket (≈10⁹ pair rows); with it the gram is
    // demoted out of every long doc's prefix, buckets stay tiny, and
    // the output is UNCHANGED (= the brute-force J ≥ 1/2 pair set,
    // demotion being recall-safe under any shared global order).
    import graft.operators.DedupOps
    val dir = tmpDir("graft-hotgram-")
    val n = 100002L // > 2×HotSampleDocs so the sample modulus is 2
    val base = (0L until n).map { i =>
      val uniq = (0 until 21).map(j => s"w${i}x$j").mkString(" ")
      (i, if (i % 2 == 1) s"$uniq zz yy xx" else uniq)
    }
    // two true near-dup pairs, one of them THROUGH the hot gram
    val extra = Seq(
      (n + 1L, (0 until 21).map(j => s"p$j").mkString(" ") + " zz yy xx"),
      (n + 3L, (0 until 21).map(j => s"p$j").mkString(" ") + " zz yy xx"),
      (n + 2L, (0 until 21).map(j => s"q$j").mkString(" ") + " q21 q22 q23"),
      (n + 4L, (0 until 21).map(j => s"q$j").mkString(" ") + " q21 q22 q99"))
    (base ++ extra).toDF("doc_id", "text")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // 1) the exact pass caught the sample-invisible gram
    val hotHash = TextHash.hash60Jvm("zz yy xx")
    val (hot, rank) = DedupOps.hotGrams(spark, dir)
    assert(java.util.Arrays.binarySearch(hot, hotHash) >= 0,
      "full-stream heavy pass must demote the sample-invisible gram")

    // 2) demoted out of every long doc's prefix (prefix = n/2 + k
    // smallest in the df order; the hot gram ranks last)
    val oddDoc = base(101)._2
    val gs = TextHash.gramHashesJvm(oddDoc, 3).sorted
    val prefix = TextHash.dfPrefixJvm(gs, hot, rank, DedupOps.NgramPrefixK)
    assert(!prefix.contains(hotHash),
      "a 22-gram doc's prefix must exclude the demoted gram")

    // 3) output unchanged: exactly the brute-force J >= 1/2 pairs
    val pairs = DedupOps.dedupNgram(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((n + 1L, n + 3L), (n + 2L, n + 4L)),
      s"got $pairs")
  }

  test("combination blocking equals brute-force all-pairs Hamming <= 3") {
    import graft.operators.DedupOps.SimhashBits
    // combination blocking has EXACT recall at Hamming ≤ 3, so it must
    // produce every pair a scan of ALL signature pairs finds — this
    // cross-checks the combo key packing and the run-buffer expansion
    // independently of the DuckDB oracle
    val sigs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextHash.simhash(col("text"), SimhashBits).as("simhash"))
      .filter(col("simhash") =!= -1L)
      .as[(Long, Long)].collect().sortBy(_._1)
    val reference = (for {
      i <- sigs.indices
      j <- i + 1 until sigs.length
      ham = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2).toLong
      if ham <= 3
    } yield (sigs(i)._1, sigs(j)._1, ham)).sorted
    val combo = DedupOps.dedupSimhash(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(combo == reference,
      s"extra=${combo.diff(reference)} missing=${reference.diff(combo)}")
  }

  test("prefix dedup partitions the long-doc corpus and is refined by exact classes") {
    import graft.operators.DedupOps.PrefixTok
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val long = docs.filter { case (_, t) =>
      TextHash.tokensJvm(t).length >= PrefixTok }
    val res = DedupOps.dedupPrefix(spark, sf)
      .select("prefix_hash", "keep_id", "cnt", "n_raw_variants")
      .as[(String, Long, Long, Long)].collect()
    // the classes partition exactly the ≥PrefixTok-token subset
    assert(res.map(_._3).sum == long.length)
    // exact-equal docs share a prefix, so exact classes refine prefix
    // classes: the per-class variant counts must sum to the number of
    // distinct exact hashes among long docs (no class double-counts)
    assert(res.map(_._4).sum ==
      long.map { case (_, t) => t.toLowerCase.trim }.distinct.length)
    assert(res.forall { case (_, _, cnt, v) => cnt >= v && v >= 1 })
    // ≡ plain-Scala model: group by the first PrefixTok LOWERCASED
    // tokens (the prefix key folds case, matching #37's raw_hash)
    val model = long.groupBy { case (_, t) =>
      TextHash.tokensJvm(t.toLowerCase).take(PrefixTok).mkString(" ") }
    assert(res.length == model.size)
    assert(res.map(_._2).toSet == model.values.map(_.map(_._1).min).toSet)
  }

  test("prefix classes fold case: a case-variant exact class never straddles") {
    import graft.operators.DedupOps.PrefixTok
    // two case variants of one text (same #37 class after lower+trim)
    // plus a genuinely different doc: the variants MUST land in one
    // prefix class, so exact classes refine prefix classes
    val words = (1 to PrefixTok + 2).map(i => s"w$i").mkString(" ")
    val dir = tmpDir("graft-prefix-case-")
    Seq((1L, words, "en", "srcA", 9L),
        (2L, words.toUpperCase, "en", "srcA", 9L),
        (3L, (1 to PrefixTok + 2).map(i => s"x$i").mkString(" "), "en", "srcB", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val res = DedupOps.dedupPrefix(spark, dir)
      .select("keep_id", "cnt", "n_raw_variants")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(res.toSeq == Seq((1L, 2L, 1L), (3L, 1L, 1L)))
  }

  test("contamination report equals a plain-JVM reverse-decontamination model") {
    import graft.operators.CurationOps
    import CurationOps.{DecontGram, DecontMod}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val corpusGrams = docs.filter(_._1 % DecontMod != 0)
      .map { case (id, t) => (id, TextHash.gramHashesJvm(t, DecontGram).toSet) }
    val model = docs.filter(_._1 % DecontMod == 0).map { case (bid, t) =>
      val gs = TextHash.gramHashesJvm(t, DecontGram).toSet
      (bid, gs.size.toLong,
        corpusGrams.count { case (_, cg) => gs.exists(cg.contains) }.toLong,
        gs.count(g => corpusGrams.exists(_._2.contains(g))).toLong)
    }.sortBy(_._1).toSeq
    val got = CurationOps.contaminationReport(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == model)
  }

  test("incremental dedup equals the full pair listing restricted to one-new-one-old") {
    import graft.operators.DedupOps.IncrMod
    val full = DedupOps.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val expected = full.flatMap { case (a, b) =>
      // exactly one side in the drop → emitted as (new, old)
      (a % IncrMod == 0, b % IncrMod == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _ => None
      }
    }.toSet
    val incrDf = DedupOps.dedupIncremental(spark, sf)
    val incr = incrDf.select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    assert(incr == expected,
      s"drift between incremental and full pair listing: " +
        s"extra=${incr.diff(expected)} missing=${expected.diff(incr)}")
    // candidate BUILD path: the drop side must be the broadcast build
    // side — auto-broadcast off, so the hinted exchange is the only
    // one and the assertion can't pass vacuously off a size-based
    // broadcast of the corpus. incrCandFrame IS the subtree the
    // operator's artifact build executes (exposed for exactly this
    // spec — a hand reconstruction would pin the test's own hint,
    // not the production plan).
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bjs = DedupOps.incrCandFrame(spark, sf).queryExecution.sparkPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bjs.nonEmpty, "the band join must broadcast the drop side")
      assert(bjs.forall { b =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        build.output.map(_.name).contains("doc_new")
      }, "only the drop side may broadcast — the corpus band artifact must never be built")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // verify path (steady state): the candidate ids must reach the
    // corpus documents scan as a PUSHED IN filter — the verify reads
    // O(candidates), never a second full-corpus pass per drop
    val planStr = incrDf.queryExecution.executedPlan.toString
    assert(planStr.contains("In(doc_id"),
      s"expected the candidate-id IN filter pushed into the corpus scan:\n$planStr")
  }

  test("admitted embedding drops append to the sign-bucket index under its own geometry") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tmpDir("graft-admit-emb-")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => ((seed * 31 + i * 7) % 13 - 6) / 6.0f)
    (0 until 12).map(i => (i.toLong, vec(i), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val (before, p) = DedupOps.embBucketsShared(spark, dir)
    before.count()
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      }.flatten
    val pathBefore = scanPaths(before).filter(_.contains("emb-buckets"))
    assert(pathBefore.nonEmpty)
    // a drop is admitted: corpus table grows, then the index follows
    val drop = (100 until 103).map(i => (i.toLong, vec(i), i % 3))
      .toDF("vec_id", "embedding", "label")
    drop.write.mode("append").parquet(s"$dir/embeddings.parquet")
    val newFp = graft.tools.Materialize.fingerprint(spark, s"$dir/embeddings.parquet")
    assert(DedupOps.admitEmbDrop(spark, dir, drop, newFp),
      "a live index must re-key instead of falling back to a rebuild")
    val (after, pAfter) = DedupOps.embBucketsShared(spark, dir)
    // same directory (appended, not rebuilt), same plane geometry
    assert(scanPaths(after).filter(_.contains("emb-buckets")) == pathBefore,
      "admission must append to the SAME index directory")
    assert(pAfter == p, "the index keeps its plane geometry until a rebuild")
    // content equals a from-scratch bucketing of the grown corpus
    // under the index's geometry
    val got = after.select(col("vec_id"), col("bucket"))
      .as[(Long, Long)].collect().sorted.toSeq
    val want = DedupOps.embBucketed(Tables.embeddings(spark, dir), p)
      .select(col("vec_id"), col("bucket"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == want, "appended index diverges from a rebuild")
    assert(got.map(_._1) == (0L until 12L) ++ (100L until 103L),
      "every corpus and drop vector must be indexed exactly once")
  }

  test("admitted drops append to the band artifact — the next drop never re-hashes the corpus") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tmpDir("graft-admit-drop-")
    Seq((1L, "alpha beta gamma delta"),
        (2L, "epsilon zeta eta theta"),
        (3L, "iota kappa lambda mu"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // corpus v1 artifact
    val before = DedupOps.minhashBandsShared(spark, dir)
    before.count()
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      }.flatten
    val pathBefore = scanPaths(before).filter(_.contains("minhash-bands"))
    assert(pathBefore.nonEmpty)

    // a drop passes the incremental check and is admitted: rows
    // appended to the corpus table, then the artifact follows
    val drop = Seq((10L, "alpha beta gamma delta"), (11L, "nu xi omicron pi"))
      .toDF("doc_id", "text")
    drop.write.mode("append").parquet(s"$dir/documents.parquet")
    val newFp = graft.tools.Materialize.fingerprint(spark, s"$dir/documents.parquet")
    assert(DedupOps.admitDrop(spark, dir, drop, newFp),
      "a live artifact must re-key instead of falling back to a rebuild")

    // listener pin (the PlanSpec steady-state pattern): serving the
    // grown corpus's bands runs ZERO jobs — not even footer reads
    // (explicit schema); a silent from-scratch rebuild would surface
    // as write-job stages here
    org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.add(s.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(l)
    val after =
      try {
        val a = DedupOps.minhashBandsShared(spark, dir)
        a.queryExecution.executedPlan
        org.apache.spark.sql.graftbridge.SparkInternals.flushListenerBus(spark.sparkContext)
        assert(stages.isEmpty,
          s"post-admission band serving must run no jobs; saw: ${stages.toArray.mkString("; ")}")
        a
      } finally spark.sparkContext.removeSparkListener(l)

    // the artifact kept its directory (appended, not rebuilt) ...
    assert(scanPaths(after).filter(_.contains("minhash-bands")) == pathBefore,
      "admission must append to the SAME artifact directory")
    // ... its content equals a from-scratch rebuild of the grown corpus ...
    val got = after.select(col("doc_id"), col("band"), col("band_hash"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val want = DedupOps.bandExplode(
        spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("band"), col("band_hash"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == want)
    // ... and the NEXT drop's candidate build reads ONLY the artifact:
    // no file scan of the corpus text anywhere in the plan
    val drop2 = Seq((20L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cand = DedupOps.bandExplode(drop2)
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_new")).as("n")
      .join(after.select(col("band"), col("band_hash"), col("doc_id").as("doc_old")),
        Seq("band", "band_hash"))
      .select(col("doc_new"), col("doc_old")).distinct()
    val candScans = scanPaths(cand)
    assert(candScans.nonEmpty && candScans.forall(_.contains("minhash-bands")),
      s"candidate build must scan only the band artifact, saw: $candScans")
    // the admitted duplicate is found via the appended rows
    assert(cand.as[(Long, Long)].collect().toSet.contains((20L, 10L)))
  }

  test("source similarity equals a plain-JVM union-sketch model (min of mins = min of union)") {
    val ab = TextFunctions.minhashAB(DedupOps.numHashes).toArray
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).as[(String, String)].collect()
    // model: signature straight from each source's gram UNION — the
    // operator instead min-merges per-doc signatures; equality IS the
    // mergeability claim under test
    val model = docs.groupBy(_._1).flatMap { case (src, ds) =>
      val grams = ds.flatMap(d => TextHash.gramHashesJvm(d._2, DedupOps.VerifyGram)).toSet
      if (grams.isEmpty) None
      else Some(src -> ab.map { case (a, b) =>
        grams.map(h => (a * (h % TextFunctions.MinhashP) + b) % TextFunctions.MinhashP).min
      })
    }
    val wantPairs = (for {
      (sa, siga) <- model; (sb, sigb) <- model if sa < sb
    } yield {
      val m = siga.zip(sigb).count(p => p._1 == p._2).toLong
      (sa, sb) -> (m, m * 10000L / DedupOps.numHashes)
    }).toMap
    val got = DedupOps.sourceSimilarity(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
    assert(got.toMap == wantPairs, "matrix must equal the union-sketch model")
    assert(got.length == wantPairs.size && got.forall { case ((a, b), (m, _)) =>
      a < b && m >= 0L && m <= DedupOps.numHashes.toLong
    }, "upper-triangular, bounded matches")
  }

  test("SimHash: near-identical docs land within small Hamming distance") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val out = DedupOps.simhash(spark, sf).as[(Long, Long)].collect().toMap
    // synth near-dups: doc and itself (distance 0) sanity, plus the
    // distribution property — unrelated docs differ in many bits
    val vals = out.values.toSeq
    val pairs = for (i <- vals.indices.take(20); j <- vals.indices.take(20) if i < j)
      yield hamming(vals(i), vals(j))
    assert(pairs.nonEmpty && pairs.max > 8, "unrelated docs must differ in many bits")
  }

  test("MinHash-LSH finds the high-Jaccard pairs that exact ngram dedup finds (recall)") {
    // exact 2-gram Jaccard >= 0.5 pairs within the same length bucket
    // should nearly all collide in >=1 of 8 bands (P ~ 0.9 at J=0.5,
    // ~1.0 at J>=0.7). Verify recall over the sf0.001 corpus.
    val lsh = DedupOps.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute-force exact Jaccard >= 0.7 on 2-grams (high-sim pairs only,
    // where LSH recall should be ~certain)
    val gs = Tables.documents(spark, sf)
      .select(col("doc_id"), sort_array(TextHash.gramHashes(col("text"), 2)).as("gs"))
      .filter(size(col("gs")) > 0)
      .as[(Long, Array[Long])].collect()
    val strong = for {
      (ida, ga) <- gs; (idb, gb) <- gs if ida < idb
      common = ga.intersect(gb).length
      union = ga.length + gb.length - common
      if union > 0 && common * 10 >= union * 7
    } yield (ida, idb)
    val missed = strong.filterNot(lsh.contains)
    assert(strong.isEmpty || missed.length * 10 <= strong.length,
      s"LSH recall too low: missed ${missed.length} of ${strong.length} strong pairs")
  }

  test("embedding dedup pairs are symmetric-free and above threshold") {
    val rows = DedupOps.dedupEmbedding(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (a, b, c) => a < b && c >= 400000L })
  }

  test("exact embedding dedup fails loud toward the LSH path over the gather bound") {
    // the audit tier collects the whole corpus to the driver; an
    // over-bound corpus must raise an ACTIONABLE error (naming the
    // gated LSH scale path) before anything is collected — never a
    // driver OOM, never a silent demotion of an oracle-gated answer
    val e = intercept[IllegalArgumentException] {
      DedupOps.dedupEmbedding(spark, sf, maxVectors = 1L)
    }
    assert(e.getMessage.contains("dedupEmbeddingLsh"),
      s"guard error must name the scale path: ${e.getMessage}")
    assert(e.getMessage.contains("q_dedup_embedding_lsh"),
      s"guard error must name the gated scale-path query: ${e.getMessage}")
    // an in-bound corpus is untouched by the guard: identical pairs
    // whether the bound is the heap-derived default or effectively off
    val guarded = DedupOps.dedupEmbedding(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val unbounded = DedupOps.dedupEmbedding(spark, sf, maxVectors = Long.MaxValue)
      .as[(Long, Long, Long)].collect().toSeq
    assert(guarded == unbounded)
    // the corpora this engine is correctness-gated on sit under the bound
    assert(DedupOps.DedupEmbeddingMaxVectors >= (1L << 14))
  }

  test("dup-source matrix is canonical and accounts for every pair") {
    val nPairs = DedupOps.dedupMinhash(spark, sf).count()
    val m = DedupOps.dupSourceMatrix(spark, sf)
      .as[(String, String, Long)].collect()
    // upper-triangular (A→B and B→A land in one cell), every verified
    // pair counted exactly once
    assert(m.forall { case (a, b, _) => a <= b })
    assert(m.map(_._3).sum == nPairs)
  }

  test("calibration artifact equals the defining computation and builds once") {
    // #83b re-reads the same frame #83 serves — the artifact must be
    // row-for-row the direct computation, and a second touch must not
    // re-pay the corpus-scanning build
    val direct = DedupOps.minhashCalibrationDirect(spark, sf)
    val served = DedupOps.minhashCalibShared(spark, sf)
    assert(served.count() === direct.count())
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty)
    assert(DedupOps.minhashCalibShared(spark, sf).inputFiles.toSet ===
      served.inputFiles.toSet, "second touch must serve the same files")
  }

  test("minhash calibration covers the LSH candidates and agrees with the kept pairs") {
    val cal = DedupOps.minhashCalibration(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(cal.nonEmpty)
    cal.foreach { case (a, b, est, exact, err) =>
      assert(a < b, "canonical ordering")
      assert(est >= 0L && est <= 10000L, s"est_e4 $est out of range")
      assert(exact >= 0L && exact <= 10000L, s"exact_e4 $exact out of range")
      assert(err == est - exact, "err column must be the signed difference")
    }
    // exact_e4 >= 5000 is EXACTLY the J >= 1/2 verify bar (integer
    // floor preserves the inequality both ways), so the calibration
    // rows at/above the bar must be precisely the kept pair listing
    val kept = DedupOps.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val calKept = cal.filter(_._4 >= 5000L).map(c => (c._1, c._2)).toSet
    assert(calKept == kept,
      s"calibration kept ${calKept.size} pairs, dedup kept ${kept.size}")
  }

  test("normalized dedup refines exact dedup and accounts for every doc") {
    val norm = DedupOps.dedupNormalized(spark, sf)
      .as[(String, Long, Long, Long)].collect() // norm_hash, keep_id, cnt, n_raw_variants
    val exact = DedupOps.dedupExact(spark, sf)
      .as[(String, Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    // both partitions cover the corpus exactly
    assert(norm.map(_._3).sum == nDocs)
    assert(exact.map(_._3).sum == nDocs)
    // normalization only MERGES exact classes (norm is a function of
    // the trimmed-lower text), so: fewer-or-equal classes, and the
    // per-class raw-variant counts partition the exact classes
    assert(norm.length <= exact.length)
    assert(norm.map(_._4).sum == exact.length,
      "every exact class must land in exactly one normalized class")
    assert(norm.forall(r => r._4 >= 1L && r._4 <= r._3),
      "1 <= n_raw_variants <= cnt")
  }

  test("threshold sweep equals a recompute from the calibration rows and is monotone") {
    val cal = DedupOps.minhashCalibration(spark, sf)
      .select(col("est_e4"), col("exact_e4")).as[(Long, Long)].collect()
    assert(cal.nonEmpty, "calibration frame must be non-empty at the gate SF")
    val got = DedupOps.dedupThresholds(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == DedupOps.CalibTaus,
      "one output row per swept bar, in bar order")
    got.foreach { case (tau, nTrue, nEst, nEstOnly, nTrueOnly) =>
      assert(nTrue == cal.count(_._2 >= tau), s"tau=$tau n_true")
      assert(nEst == cal.count(_._1 >= tau), s"tau=$tau n_est")
      assert(nEstOnly == cal.count(c => c._1 >= tau && c._2 < tau), s"tau=$tau n_est_only")
      assert(nTrueOnly == cal.count(c => c._1 < tau && c._2 >= tau), s"tau=$tau n_true_only")
    }
    // raising the bar can only shrink the admitted sets
    got.sliding(2).foreach {
      case Array(lo, hi) => assert(hi._2 <= lo._2 && hi._3 <= lo._3,
        s"admitted counts must be non-increasing in tau (${lo._1} -> ${hi._1})")
      case _ =>
    }
  }

  test("pair degree histogram reconciles with the pair listing") {
    val pairs = DedupOps.dedupMinhash(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val model = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = DedupOps.pairDegreeHist(spark, sf)
      .as[(Long, Long)].collect()
    assert(got.map(_._1).toSet == model.keySet)
    got.foreach { case (deg, n) =>
      assert(n == model(deg), s"degree $deg diverges from the pair listing")
    }
    // conservation: degree-weighted doc count = 2 * pairs
    assert(got.map(r => r._1 * r._2).sum == 2L * pairs.length,
      "sum degree*n_docs must equal twice the pair count")
  }

  test("split leakage reconciles with the pair listing under the split map") {
    import graft.operators.CurationOps
    val split = CurationOps.splitTrainVal(spark, sf)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val pairs = DedupOps.dedupMinhash(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val model = pairs.map { case (a, b) =>
      val (sa, sb) = (split(a), split(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = CurationOps.splitLeakage(spark, sf)
      .as[(String, String, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == model.keySet)
    got.foreach { case (lo, hi, n, leaky) =>
      assert(n == model((lo, hi)), s"($lo,$hi) diverges from the pair listing")
      assert(leaky == (if (lo != hi) 1L else 0L))
    }
    // every pair lands in exactly one split-pair bucket
    assert(got.map(_._3).sum == pairs.length.toLong)
  }

  test("dedup-policy gain table reconciles with the per-tier operators") {
    import graft.operators.ClusterOps
    val gain = DedupOps.dedupGain(spark, sf)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(gain.keySet ==
      Set("none", "exact", "normalized", "prefix", "neardup"))
    val nDocs = Tables.documents(spark, sf).count()
    assert(gain("none")._1 == nDocs)
    // tier keeper counts equal the gated class tables' cardinalities
    assert(gain("exact")._1 == DedupOps.dedupExact(spark, sf).count())
    assert(gain("normalized")._1 ==
      DedupOps.dedupNormalized(spark, sf).count())
    // near-dup keepers = canonical docs + unclustered docs
    val cl = ClusterOps.dedupCluster(spark, sf)
      .agg(count(lit(1)), sum(col("keep"))).as[(Long, Long)].head()
    assert(gain("neardup")._1 == nDocs - (cl._1 - cl._2))
    // coarser whole-text tiers keep no more docs; every tier's token
    // mass is bounded by the undeduped corpus
    assert(gain("normalized")._1 <= gain("exact")._1)
    assert(gain("exact")._1 <= nDocs && gain("neardup")._1 <= nDocs)
    assert(gain.values.forall(_._2 <= gain("none")._2))
  }

  test("scaled-plane embedding LSH equals the legacy 8-plane form at gate scale") {
    import graft.functions.VectorFunctions
    // at n <= 2048 scaledPlanes = nPlanes, and the wide bucket's
    // first 8 planes are THE 8 legacy planes — so the output must
    // equal a recompute with the legacy shared bucket exactly
    val n = Tables.embeddings(spark, sf).count()
    assert(VectorFunctions.scaledPlanes(n) == VectorFunctions.nPlanes,
      s"gate fixture grew past 2048 vectors ($n) — pick a legacy-equal pin differently")
    val got = DedupOps.dedupEmbeddingLsh(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val legacy = {
      val v = Tables.embeddings(spark, sf)
        .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
        .withColumn("n2", VectorFunctions.norm2(col("q")))
        .withColumn("bucket", VectorFunctions.lshBucket(col("q")))
      v.as("a").join(v.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          VectorFunctions.cosineE6(
            VectorFunctions.dotL(col("a.q"), col("b.q")),
            col("a.n2"), col("b.n2")).as("cos_e6"))
        .filter(col("cos_e6") >= 400000L)
        .orderBy(col("vec_a"), col("vec_b"))
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(got.nonEmpty && got == legacy)
  }

  test("incremental embedding dedup equals the single-table pairs restricted to one-new-one-old") {
    import graft.operators.DedupOps.IncrMod
    // the same-bucket pair set under one plane table, one side in the
    // drop — exactly what the artifact-backed incremental path emits
    val full = DedupOps.dedupEmbeddingLsh(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val expected = full.flatMap { case (a, b) =>
      (a % IncrMod == 0, b % IncrMod == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _ => None
      }
    }.toSet
    val incrDf = DedupOps.dedupEmbeddingIncremental(spark, sf)
    val incr = incrDf.select("vec_new", "vec_old").as[(Long, Long)].collect().toSet
    assert(incr == expected,
      s"extra=${incr.diff(expected)} missing=${expected.diff(incr)}")
    // the drop must be the broadcast side (never the corpus index)
    val plan = incrDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "drop join must broadcast")
    assert(!plan.contains("SortMergeJoin"), "corpus index must not shuffle")
  }

  test("OR-construction embedding LSH: single-table ⊆ OR ⊆ exact all-pairs") {
    // table 0 of the OR IS the single-table plane family, so its
    // pairs must all reappear; every OR pair passes the same cos
    // verify, so none can escape the exact all-pairs baseline
    val single = DedupOps.dedupEmbeddingLsh(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val or = DedupOps.dedupEmbeddingLshOr(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val exact = DedupOps.dedupEmbedding(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(single.nonEmpty && single.subsetOf(or) && or.subsetOf(exact))
  }
}
