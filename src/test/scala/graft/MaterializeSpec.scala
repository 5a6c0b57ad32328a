package graft

import graft.tools.Materialize
import org.apache.spark.sql.functions._

/** Materialization machinery behind the build-once artifacts (pairs,
  * windows, IVF cells): fingerprint sensitivity and the
  * [[Materialize.Artifact]] contract. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  test("fingerprint tracks content writes and distinguishes paths") {
    val dir = tmpDir("graft-fp-")
    assert(Materialize.fingerprint(spark, s"$dir/t.parquet") == "absent")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val fp1 = Materialize.fingerprint(spark, s"$dir/t.parquet")
    assert(fp1 != "absent" && fp1.nonEmpty)
    assert(Materialize.fingerprint(spark, s"$dir/t.parquet") == fp1, "stable between reads")
    // rewrite → part names/sizes/mtimes change → new key
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Materialize.fingerprint(spark, s"$dir/t.parquet") != fp1,
      "a regenerated table must fingerprint differently")
    // the FULL path participates, not just the base name (partition
    // dirs carry data)
    assert(fp1.contains(dir.stripPrefix("/").takeRight(8)) || fp1.contains("t.parquet"))
  }

  /** Overwrite `<dir>/<t>.parquet` with `n` rows. */
  private def writeTable(dir: String, t: String, n: Int): Unit =
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/$t.parquet")

  test("an artifact builds once per key and evicts the superseded entry") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dirA = tmpDir("graft-art-a-")
    val dirB = tmpDir("graft-art-b-")
    writeTable(dirA, "t", 1)
    writeTable(dirB, "t", 1)
    val art = new Materialize.Artifact[String]("spec-once-", "t")
    var builds = 0
    def build(tag: String): String = { builds += 1; tag }
    assert(art(spark, dirA)(build("a1")) == "a1")
    assert(art(spark, dirA)(build("a1-again")) == "a1")
    assert(builds == 1, "same (dir, fingerprint) must not rebuild")
    // independent dirs don't interfere
    assert(art(spark, dirB)(build("b1")) == "b1")
    assert(builds == 2)
    // snapshot dirA's v1 files, mtimes included, to restore later
    val tA = Paths.get(s"$dirA/t.parquet")
    val saved = Paths.get(tmpDir("graft-art-saved-"), "t.parquet")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString),
        StandardCopyOption.COPY_ATTRIBUTES))
      finally walk.close()
    }
    val fp1 = Materialize.fingerprint(spark, tA.toString)
    copyTree(tA, saved)
    // a rewritten source supersedes: evicts v1's ENTRY
    writeTable(dirA, "t", 2)
    assert(art(spark, dirA)(build("a2")) == "a2")
    assert(builds == 3)
    // restoring the v1 files brings back v1's key, which must rebuild
    // (stale key, regenerated source)
    val walk = Files.walk(tA)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.delete(f))
    finally walk.close()
    copyTree(saved, tA)
    assert(Materialize.fingerprint(spark, tA.toString) == fp1)
    assert(art(spark, dirA)(build("a1-rebuilt")) == "a1-rebuilt")
    assert(builds == 4, "a superseded key must have been evicted")
    // dirB's entry was untouched by dirA's supersession
    assert(art(spark, dirB)(build("b1-again")) == "b1")
    assert(builds == 4)
  }

  test("concurrent first touches of one artifact run one build") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("graft-art-race-")
    writeTable(dir, "t", 3)
    val art = new Materialize.Artifact[Int]("spec-race-", "t")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val touches = (1 to 2).map { _ =>
      Future {
        start.await()
        art(spark, dir) { Thread.sleep(300); builds.incrementAndGet() }
      }
    }
    start.countDown()
    val got = Await.result(Future.sequence(touches), 60.seconds)
    assert(builds.get == 1, "two racing first touches must share one build")
    assert(got == Seq(1, 1))
  }

  test("a build that serves another artifact completes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("graft-art-nested-")
    writeTable(dir, "t", 5)
    val inner = new Materialize.FrameArtifact("spec-inner-", "t")
    val outer = new Materialize.Artifact[Long]("spec-outer-", "t")
    def innerFrame = inner(spark, dir)(spark.read.parquet(s"$dir/t.parquet"))
    // the outer build touches the inner artifact for the SAME key
    val n = Await.result(Future(outer(spark, dir)(innerFrame.count())), 120.seconds)
    assert(n == 5L)
    assert(outer(spark, dir)(-1L) == 5L, "the outer value is served, not rebuilt")
  }

  test("rewriting only a second declared source rebuilds the artifact") {
    val dir = tmpDir("graft-art-two-")
    writeTable(dir, "a", 2)
    writeTable(dir, "b", 3)
    val art = new Materialize.FrameArtifact("spec-two-", "a", "b")
    var builds = 0
    def served: Long = art(spark, dir) {
      builds += 1
      spark.read.parquet(s"$dir/a.parquet")
        .crossJoin(spark.read.parquet(s"$dir/b.parquet").withColumnRenamed("id", "j"))
    }.count()
    assert(served == 6L && builds == 1)
    assert(served == 6L && builds == 1, "unchanged sources must not rebuild")
    writeTable(dir, "b", 4)
    assert(served == 8L, "the served frame must follow the rewritten source")
    assert(builds == 2)
  }
}
