package graft

import graft.functions.{RollingHash, TextFunctions, TextHash}
import graft.operators.{DedupOps, TopK}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the kernel math the oracle-gated queries
  * rely on — pure JVM, except the TopK builder property, which runs on
  * the shared test session. Deterministic seed so failures
  * reproduce. */
class PropertySpec extends AnyFunSuite {

  private def forSamples[A](g: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '))).map(_.mkString)

  test("rolling hash equals the direct polynomial on every window") {
    forSamples(Gen.zip(asciiText, Gen.choose(1, 12))) { case (s, w) =>
      def direct(t: String): Long =
        t.foldLeft(0L)((h, c) => (RollingHash.mulmod(h, RollingHash.B) + c) % RollingHash.P)
      val rolled = RollingHash.rollingJvm(s, w)
      val naive = if (s.length < w) Array.empty[Long]
        else s.sliding(w).map(direct).toArray
      assert(rolled.toSeq == naive.toSeq, s"text='$s' w=$w")
    }
  }

  test("mulmod equals BigInt multiplication mod 2^61-1") {
    val inP = Gen.choose(0L, RollingHash.P - 1)
    forSamples(Gen.zip(inP, inP)) { case (a, b) =>
      val expect = (BigInt(a) * BigInt(b) % BigInt(RollingHash.P)).toLong
      assert(RollingHash.mulmod(a, b) == expect, s"a=$a b=$b")
    }
  }

  test("tokensJvm equals split-on-space with empties dropped") {
    forSamples(asciiText) { s =>
      assert(TextHash.tokensJvm(s).toSeq == s.split(" ").filter(_.nonEmpty).toSeq)
    }
  }

  test("gram hashes are the distinct n-gram set; hash60 stays in [0, 2^60)") {
    forSamples(Gen.zip(asciiText, Gen.choose(1, 4))) { case (s, n) =>
      val tk = TextHash.tokensJvm(s)
      val expect = tk.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq.distinct
      val got = TextHash.gramHashesJvm(s, n)
      assert(got.toSeq == expect.map(TextHash.hash60Jvm), s"text='$s' n=$n")
      assert(got.forall(h => h >= 0 && h < (1L << 60)))
    }
  }

  test("byte-level text kernels equal the legacy string forms on any input") {
    // r14: the hot-path expressions hash UTF8String bytes directly
    // (no String decode, no per-token re-encode, streamed md5); this
    // pins them against the legacy *Jvm string implementations over
    // unicode (multi-byte UTF-8), runs of spaces, and empty inputs.
    import org.apache.spark.unsafe.types.UTF8String
    val anyText: Gen[String] = Gen.listOf(Gen.frequency[String](
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ß", "中", "文", "🦊", "Ω"),
      1 -> Gen.const("  "))).map(_.mkString)
    val ab = TextFunctions.minhashAB(16).toArray
    val pa = ab.map(_._1)
    val pb = ab.map(_._2)
    forSamples(Gen.zip(anyText, Gen.choose(1, 4)), n = 400) { case (s, n) =>
      val u = UTF8String.fromString(s)
      assert(TextHash.gramHashesBytes(u, n).toSeq ==
        TextHash.gramHashesJvm(s, n).toSeq, s"gramHashes text='$s' n=$n")
      assert(TextHash.simhashBytes(u, 60) == TextHash.simhashJvm(s, 60),
        s"simhash text='$s'")
      assert(TextHash.minhashSigBytes(u, n, pa, pb).toSeq ==
        TextHash.minhashSigJvm(s, n, ab).toSeq, s"minhashSig text='$s' n=$n")
    }
  }

  test("chunk hashes equal the tokens→slice→join→hash60 chain on any input") {
    // r14: chunkDedup's fused kernel vs the legacy declarative chain
    // hash60(array_join(slice(tokens(text), start+1, width), " ")) at
    // the chunkFrame grid (starts 0, stride, … < n_tokens).
    import org.apache.spark.unsafe.types.UTF8String
    val anyText: Gen[String] = Gen.listOf(Gen.frequency[String](
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "中", "Ω"))).map(_.mkString)
    forSamples(Gen.zip(anyText, Gen.choose(1, 5), Gen.choose(1, 4)), n = 300) {
      case (s, width, stride) =>
        val tk = TextHash.tokensJvm(s)
        val model = (0 until tk.length by stride).map { start =>
          TextHash.hash60Jvm(
            tk.slice(start, math.min(start + width, tk.length)).mkString(" "))
        }
        assert(TextHash.chunkHashesBytes(
          UTF8String.fromString(s), width, stride).toSeq == model,
          s"text='$s' width=$width stride=$stride")
    }
  }

  test("json long-key fast path agrees with Spark's GetJsonObject + cast") {
    // r14 q_json_extract kernel: longKey must equal the reference
    // composition (GetJsonObject + non-ANSI string→long cast, which
    // longKeySlow IS) on every input — simple objects the fast scanner
    // accepts, and everything it must decline (nesting, strings,
    // floats, escapes, duplicates, malformed tails, huge magnitudes).
    import org.apache.spark.unsafe.types.UTF8String
    val key = UTF8String.fromString("k")
    val sp = Gen.oneOf("", " ", "  ", "\t")
    val intVal = Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString)
    val oddVal = Gen.oneOf("1.5", "-0.25", "1e3", "\"42\"", "\"x\"", "null",
      "true", "[1,2]", "{\"a\":1}", "007", "-", "99999999999999999999",
      "18446744073709551616")
    val entry = for {
      k <- Gen.oneOf("k", "j", "kk", "", "a b", "k\\n")
      v <- Gen.frequency(3 -> intVal, 1 -> oddVal)
      s1 <- sp; s2 <- sp; s3 <- sp
    } yield s"$s1\"$k\"$s2:$s3$v"
    val objGen = for {
      es <- Gen.listOfN(3, entry).map(_.take(3))
      n <- Gen.choose(0, 3)
      s1 <- sp; s2 <- sp
      tail <- Gen.oneOf("", "", "", " ", "x", ",")
    } yield s"$s1{${es.take(n).mkString(",")}}$s2$tail"
    val junk = Gen.oneOf("", "{", "}", "[1,2]", "12", "\"k\"", "{\"k\":}",
      "{\"k\" 1}", "{\"k\":1,,}", "{\"k\":1", "not json")
    forSamples(Gen.frequency(8 -> objGen, 2 -> junk), n = 500) { s =>
      val u = UTF8String.fromString(s)
      assert(graft.functions.JsonExprs.longKey(u, key) ==
        graft.functions.JsonExprs.longKeySlow(u, key), s"json='$s'")
    }
  }

  test("minhash signature: supersets only lower the per-permutation minima") {
    val ab = TextFunctions.minhashAB(16).toArray
    forSamples(Gen.zip(asciiText, asciiText)) { case (a, b) =>
      val sa = TextHash.minhashSigJvm(a, 2, ab)
      val sab = TextHash.minhashSigJvm(a + " " + b, 2, ab)
      // grams(a) ⊆ grams(a ++ b): concatenation only adds shingles
      assert(sa.zip(sab).forall { case (x, y) => y <= x }, s"a='$a' b='$b'")
    }
  }

  test("prefix filtering has exact recall: any J>=1/2 pair shares a prefix gram") {
    // the candidate rule behind dedupNgram: each set's floor(n/2)+1
    // SMALLEST elements form its prefix; a J >= 1/2 pair must collide
    // on at least one prefix element (the AllPairs lemma)
    val setGen = Gen.nonEmptyListOf(Gen.choose(0L, 60L)).map(_.distinct.sorted)
    forSamples(Gen.zip(setGen, setGen)) { case (a, b) =>
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.size + b.size - inter
      if (inter * 2 >= union) {
        val pa = a.take(a.size / 2 + 1).toSet
        val pb = b.take(b.size / 2 + 1).toSet
        assert(pa.intersect(pb).nonEmpty, s"a=$a b=$b")
      }
    }
  }

  test("df-ordered prefix: kernel matches the order model and keeps exact recall") {
    // dfPrefixJvm under ADVERSARIAL hot tables AND extensions k ≥ 1:
    // any (rank, gram) total order must (a) be what the kernel
    // computes and (b) preserve the k-EXTENDED AllPairs J >= 1/2
    // recall lemma — a true pair shares at least
    // min(k, ceil((|a|+|b|)/3)) grams BETWEEN the two extended
    // prefixes (k = 1 is the classic shares-one-gram lemma). The
    // count bound is what dedupNgram's candidate filter keys on, so
    // this property IS the operator's recall proof.
    val setGen = Gen.nonEmptyListOf(Gen.choose(0L, 60L)).map(_.distinct.sorted)
    val hotGen = for {
      hot <- Gen.listOf(Gen.choose(0L, 60L)).map(_.distinct.sorted)
      ranks <- Gen.listOfN(hot.size, Gen.choose(1, 9))
    } yield (hot.toArray, ranks.toArray)
    val kGen = Gen.choose(1, 8)
    forSamples(Gen.zip(setGen, setGen, hotGen, kGen)) { case (a, b, (hot, rank), k) =>
      def rankOf(g: Long): Int = {
        val i = java.util.Arrays.binarySearch(hot, g)
        if (i >= 0) rank(i) else 0
      }
      def model(s: List[Long]): List[Long] =
        s.sortBy(g => (rankOf(g), g)).take(math.min(s.size / 2 + k, s.size))
      val ka = TextHash.dfPrefixJvm(a.toArray, hot, rank, k).toList
      // the kernel returns the model prefix AS A SET (emission order
      // differs: non-hot stream first); candidates join on membership
      assert(ka.toSet == model(a).toSet && ka.size == math.min(a.size / 2 + k, a.size),
        s"a=$a hot=${hot.toList} rank=${rank.toList} k=$k")
      val inter = a.toSet.intersect(b.toSet).size
      if (inter * 2 >= a.size + b.size - inter) {
        val kb = TextHash.dfPrefixJvm(b.toArray, hot, rank, k).toSet
        val needed = math.min(k, (a.size + b.size + 2) / 3)
        assert(ka.toSet.intersect(kb).size >= needed,
          s"recall lost: a=$a b=$b hot=${hot.toList} rank=${rank.toList} k=$k needed=$needed")
      }
    }
  }

  test("scaled LSH planes keep the bucketed self-join linear where fixed planes go quadratic") {
    import graft.functions.VectorFunctions._
    // the exact integer rule, pinned at its boundaries
    assert(scaledPlanes(0) == nPlanes && scaledPlanes(200) == nPlanes)
    assert(scaledPlanes(2048) == 8 && scaledPlanes(2049) == 9)
    assert(scaledPlanes(200000) == 15)
    assert(scaledPlanes(Long.MaxValue) == MaxPlanes)
    // candidate-pair count on a deterministic pseudo-random corpus:
    // with the scaled p the within-bucket pair total stays ~n·occ/2;
    // frozen at 8 planes it is ~2^(p-8)× larger — the sf10 blowup
    val n = 1 << 15
    val vs = Array.tabulate(n)(id =>
      Array.tabulate(dim)(i => TextHash.hash60Jvm(s"v:$id:$i") % 2001 - 1000))
    def pairs(p: Int): Long = {
      val counts = new java.util.HashMap[java.lang.Long, Integer]()
      vs.foreach { q =>
        var b = 0L
        var j = 0
        while (j < p) {
          val w = planesWide(j)
          var dot = 0L
          var i = 0
          while (i < dim) { dot += q(i) * w(i); i += 1 }
          if (dot > 0) b |= 1L << (p - 1 - j)
          j += 1
        }
        counts.merge(b, 1, (x, y) => x + y)
      }
      var s = 0L
      counts.values.forEach(c => s += c.toLong * (c - 1) / 2)
      s
    }
    val p = scaledPlanes(n)
    assert(p == 12, s"expected 12 planes for n=$n, got $p")
    val scaled = pairs(p)
    val fixed = pairs(nPlanes)
    assert(scaled <= n.toLong * 16,
      s"scaled-plane candidates not linear: $scaled for n=$n")
    assert(scaled * 8 <= fixed,
      s"scaling planes should cut candidates ~16x: scaled=$scaled fixed=$fixed")
  }

  test("ordered-pairs kernel equals the nested-loop model exactly") {
    // the codegen'd bucket-pair expansion behind the MinHash band and
    // n-gram prefix candidate generators — must emit each unordered
    // pair once as (min, max), C(n,2) total
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // duplicates allowed: equal ids must emit NO self-pair (the
    // replaced declarative form's doc_a < doc_b filter)
    val idsGen = Gen.listOf(Gen.choose(0L, 50L))
    forSamples(idsGen) { ids =>
      val out = graft.functions.TextSetExprs
        .orderedPairsData(new GenericArrayData(ids.toArray))
      val got = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }
      val model = for {
        i <- ids.indices; j <- i + 1 until ids.size
        if ids(i) != ids(j)
      } yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
      assert(got == model, s"ids=$ids")
    }
  }

  test("packed candidate pairs equal orderedPairs + size cut + re-pack") {
    // r14: dedupNgram's fused packed-pair kernel must emit exactly the
    // multiset the replaced three-operator chain produced — expand
    // (min, max) pid pairs, drop size-incompatible ones
    // (max(sa,sb) > 2·min(sa,sb)), emit ((doc·32+min(s,31))<<32)|…
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val packN = 4096L
    // pids = doc·packN + size with sizes clustered small so the size
    // cut actually bites; include duplicate pids (no self-pair)
    val pidGen = Gen.listOf(Gen.zip(Gen.choose(0L, 2000L),
      Gen.oneOf(Gen.choose(1L, 12L), Gen.choose(1L, 4095L)))
      .map { case (doc, sz) => doc * packN + sz })
    forSamples(pidGen) { ids =>
      val out = graft.functions.TextSetExprs
        .packedCandPairsData(new GenericArrayData(ids.toArray), packN)
      val got = (0 until out.numElements()).map(out.getLong).sorted
      val model = (for {
        i <- ids.indices; j <- i + 1 until ids.size
        if ids(i) != ids(j)
        lo = math.min(ids(i), ids(j)); hi = math.max(ids(i), ids(j))
        sa = lo % packN; sb = hi % packN
        if math.max(sa, sb) <= 2 * math.min(sa, sb)
      } yield ((lo / packN) * 32L + math.min(sa, 31L)) * (1L << 32) +
        ((hi / packN) * 32L + math.min(sb, 31L))).sorted
      assert(got == model, s"ids=$ids")
    }
  }

  test("simhash sentinel: token-less docs return -1, real docs never do") {
    assert(TextHash.simhashJvm("", 32) == -1L)
    assert(TextHash.simhashJvm("    ", 32) == -1L)
    forSamples(asciiText.suchThat(_.exists(_ != ' '))) { s =>
      val h = TextHash.simhashJvm(s, 32)
      assert(h >= 0 && h < (1L << 32))
    }
  }

  test("rolling hash iterates codepoints: surrogate pairs count as one unit") {
    val emoji = "abc😀defghij" // 😀 is one codepoint, two chars
    val w = 4
    val rolled = RollingHash.rollingJvm(emoji, w)
    assert(rolled.length == emoji.codePointCount(0, emoji.length) - w + 1)
    def direct(cps: Array[Int]): Long =
      cps.foldLeft(0L)((h, c) => (RollingHash.mulmod(h, RollingHash.B) + c) % RollingHash.P)
    val cps = emoji.codePoints().toArray
    assert(rolled.toSeq == cps.sliding(w).map(direct).toSeq)
  }

  test("content-defined window sampling is alignment-independent (containment survives any offset)") {
    // the sampled windows of a span are selected by hash value, so a
    // doc containing that span at ANY offset shares them — the
    // property positional sampling (pos % k) lacks
    val span = "the quick brown fox jumps over the lazy dog again and again"
    def sampled(t: String): Set[Long] =
      RollingHash.rollingJvm(t, 16).filter(_ % 8 == 0).toSet
    val spanWins = sampled(span)
    assert(spanWins.nonEmpty, "test span must select at least one window")
    forSamples(Gen.zip(Gen.choose(0, 13), Gen.alphaNumStr, Gen.alphaNumStr), n = 100) {
      case (pad, pre, post) =>
        val host = pre.take(pad) + " " + span + " " + post.take(7)
        assert(spanWins.subsetOf(sampled(host)),
          s"containment lost at offset ${pre.take(pad).length + 1}")
    }
  }

  test("intersectCount on sorted distinct arrays equals set intersection size") {
    val arr = Gen.listOf(Gen.choose(0L, 50L)).map(_.distinct.sorted.toArray)
    forSamples(Gen.zip(arr, arr)) { case (a, b) =>
      assert(DedupOps.intersectCount(a, b) == a.toSet.intersect(b.toSet).size)
    }
  }

  test("KMV sketch is mergeable: k-minima of a union = k-minima of merged sketches") {
    // the 100 TB contract behind q_kmv_distinct: per-partition sketches
    // (k smallest hashes) merge by re-taking the k smallest of the
    // union — the result is EXACTLY the sketch of the combined stream,
    // so partial aggregation / multi-day merges lose nothing
    val k = graft.operators.CurationOps.KmvK
    val hashes = Gen.listOf(Gen.choose(0L, 1L << 60))
    forSamples(Gen.zip(hashes, hashes)) { case (a, b) =>
      val whole = (a ++ b).distinct.sorted.take(k)
      val merged = (a.distinct.sorted.take(k) ++ b.distinct.sorted.take(k))
        .distinct.sorted.take(k)
      assert(merged == whole)
    }
  }

  test("BoundedDistinctTopK equals sorted-distinct-take-k under any reduce/merge schedule") {
    // the streaming KMV gate's state contract: however the stream is
    // chopped into micro-batches (reduce runs, buffer merges), the
    // buffer is the k smallest DISTINCT values
    val k = 8
    val vals = Gen.listOf(Gen.choose(0L, 30L)) // tight range → many dups
    forSamples(Gen.zip(vals, vals)) { case (a, b) =>
      val agg = new graft.operators.BoundedDistinctTopK[Long](k, _ < _)
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.merge(bufA, bufB).toList
      val model = (a ++ b).distinct.sorted.take(k)
      assert(merged == model)
      // idempotent: merging a sketch with itself changes nothing
      assert(agg.merge(bufA, bufA).toList == bufA.toList)
    }
  }

  test("prefix-filtered candidates equal brute-force J>=1/2 pairs on random corpora") {
    // end-to-end model check of the dedupNgram candidate rule over
    // random gram-set corpora: prefix-join candidates, after the
    // exact-Jaccard verify, equal the all-pairs result exactly
    val setGen = Gen.nonEmptyListOf(Gen.choose(0L, 40L)).map(_.distinct.sorted)
    forSamples(Gen.listOfN(12, setGen)) { sets =>
      val docs = sets.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      def jOk(a: Seq[Long], b: Seq[Long]): Boolean = {
        val inter = a.toSet.intersect(b.toSet).size
        inter * 2 >= a.size + b.size - inter
      }
      val brute = (for {
        (ia, ga) <- docs; (ib, gb) <- docs
        if ia < ib && jOk(ga, gb)
      } yield (ia, ib)).toSet
      val viaPrefix = (for {
        (ia, ga) <- docs; (ib, gb) <- docs
        if ia < ib
        if ga.take(ga.size / 2 + 1).toSet.intersect(gb.take(gb.size / 2 + 1).toSet).nonEmpty
        if jOk(ga, gb)
      } yield (ia, ib)).toSet
      assert(viaPrefix == brute, s"sets=$sets")
    }
  }

  test("TopK over any partitioning equals per-key sorted take-k, ascending and negated") {
    val spark = SparkTestBase.session
    import spark.implicits._
    // tight value range → many ties, broken by the unique id
    val rows = Gen.listOf(for {
      key <- Gen.oneOf("a", "b", "c"); v <- Gen.choose(0L, 4L); id <- Gen.choose(0L, 500L)
    } yield (key, v, id)).map(_.distinctBy(_._3))
    forSamples(Gen.zip(rows, Gen.choose(1, 5), Gen.choose(1, 4)), n = 20) {
      case (xs, k, parts) =>
        val df = xs.toDF("key", "value", "id").repartition(parts)
        def model(desc: Boolean, keyOf: String => String) =
          xs.groupBy(r => keyOf(r._1)).toSeq.flatMap { case (key, g) =>
            g.sortBy { case (_, v, id) => (if (desc) -v else v, id) }.take(k)
              .zipWithIndex.map { case ((_, v, id), i) => (key, i + 1L, v, id) }
          }.sortBy(r => (r._1, r._2))
        def run(keys: Seq[String], desc: Boolean) = {
          val v = if (desc) (-col("value")).as("value") else col("value")
          TopK(df, keys, Seq(v, col("id")), k, "rank")
            .select(if (keys.isEmpty) lit("") else col("key"), col("rank"),
              if (desc) -col("value") else col("value"), col("id"))
            .as[(String, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
        }
        for (desc <- Seq(false, true)) {
          val ctx = s"desc=$desc k=$k parts=$parts xs=$xs"
          assert(run(Seq("key"), desc) == model(desc, identity), ctx)
          assert(run(Nil, desc) == model(desc, _ => ""), ctx)
        }
    }
  }

  test("funnel greedy earliest-entry chain is optimal and arrival-order-invariant") {
    import graft.operators.CoreOps
    // brute force: stage k reachable iff ANY strictly-increasing
    // chain t_0 < t_1 < ... < t_{k-1} exists through steps 0..k-1
    def brute(evs: Seq[(Int, Long)], nSteps: Int): Long =
      (nSteps to 0 by -1).find { k =>
        def ok(i: Int, after: Long): Boolean =
          i == k || evs.exists { case (s, us) =>
            s == i && us > after && ok(i + 1, us)
          }
        ok(0, Long.MinValue)
      }.getOrElse(0).toLong
    val events: Gen[List[(Int, Long)]] = Gen.listOf(
      Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L)))
    forSamples(events, n = 500) { evs =>
      val greedy = CoreOps.chainStage(evs, 3)
      assert(greedy == brute(evs, 3), s"evs=$evs")
      // shuffling arrival order cannot change the answer (the
      // streaming gate buffers, so this IS its correctness)
      assert(CoreOps.chainStage(evs.reverse, 3) == greedy, s"evs=$evs reversed")
      assert(CoreOps.chainStage(evs.sortBy(_._2), 3) == greedy, s"evs=$evs sorted")
      // conversion-window forms: gap=∞ is the unbounded chain, and
      // widening the window never loses a stage
      assert(CoreOps.chainStage(evs, 3, Long.MaxValue) == greedy, s"evs=$evs inf gap")
      val g2 = CoreOps.chainStage(evs, 3, 2L)
      val g5 = CoreOps.chainStage(evs, 3, 5L)
      assert(g2 <= g5 && g5 <= greedy, s"evs=$evs gap monotonicity")
    }
  }

  test("TTL fold is lossless at every cut") {
    import graft.streaming.StreamingJobs.{FunnelFold, GapFold, TransitionFold, TtlFold, TtlState}
    // what the gates rely on: folding any time-sorted prefix (behind
    // its anchor, if kept) and answering over the rest equals answering
    // over the whole list from the empty frozen value — once, or at
    // a second cut of the buffer the first one left
    def lossless[K, E, F, U](g: TtlFold[K, E, F, U], key: K, evs: Seq[E]): Unit = {
      val sorted = evs.sorted(g.order)
      val whole = g.answer(key, TtlState(g.empty, sorted))
      (0 to sorted.size).foreach { i =>
        val once = g.foldPrefix(TtlState(g.empty, sorted), i)
        assert(g.answer(key, once) == whole, s"cut $i of $sorted")
        (0 to once.buffer.size).foreach { j =>
          assert(g.answer(key, g.foldPrefix(once, j)) == whole,
            s"cuts $i then $j of $sorted")
        }
      }
    }
    forSamples(Gen.listOf(Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L)))) { evs =>
      lossless(FunnelFold, 7L, evs)
    }
    forSamples(Gen.listOf(Gen.choose(0L, 40L))) { ts =>
      lossless(GapFold, (7L, "view"), ts)
    }
    forSamples(Gen.listOf(Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 99L),
        Gen.oneOf("view", "click", "purchase")))) { evs =>
      lossless(TransitionFold, 7L, evs)
    }
  }
}
