package graft.tools

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Block-manager hygiene helpers for iterative operators, and the
  * build-once [[Artifact]] registry every shared derived table uses.
  *
  * `localCheckpoint` truncates lineage by persisting the plan's RDD,
  * but `Dataset.unpersist` does NOT free those blocks (it only drops
  * the SQL cache entry) — they stay resident for the session unless
  * the underlying RDD itself is unpersisted. That leak measurably
  * taxed every later query sharing the session (BENCH_r03:
  * q_json_extract 21 s in-bench vs 0.5 s isolated). These helpers
  * give iterative code an explicit lifetime: find the checkpoint RDD
  * behind a frame, free it once superseded, and copy a final result
  * OUT of the block manager via a short parquet round-trip (on a real
  * cluster that round-trip is the reliable-checkpoint / write-out step
  * a production pipeline does anyway).
  */
object Materialize {

  /** The persisted RDDs behind a `localCheckpoint`ed frame (every
    * `LogicalRDD` leaf Spark rewrote the plan to) — plural, so a
    * join/union of checkpointed frames frees ALL of them, not just
    * the first leaf. Works on any projection of the checkpointed
    * frame(s) too. */
  def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.distinct

  /** Free the checkpoint blocks behind `df` (no-op if none). Safe to
    * call once the frame's data has been copied or superseded —
    * recomputation is impossible after this (lineage was truncated). */
  def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close() // an unclosed walk leaks a directory fd
    }

  private lazy val tmpRoot: Path = {
    val dir = Files.createTempDirectory("graft-materialize-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  /** A frame written as parquet under the session-temp root, with the
    * schema captured when it was written. */
  final class Stored private[Materialize] (path: String, schema: StructType) {
    /** A plain scan of the stored frame: filters and column pruning
      * push into it as into any source table. */
    def read(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(path)

    /** Append rows of the stored schema (see [[Artifact.rekey]]). */
    def append(df: DataFrame): Unit = df.write.mode("append").parquet(path)
  }

  private def store(df: DataFrame, name: String): Stored = {
    val dir = Files.createTempDirectory(tmpRoot, name).toString
    df.write.mode("overwrite").parquet(dir)
    new Stored(dir, df.schema)
  }

  /** Copy `df` out of the block manager: write parquet under a
    * session-temp dir and return a plain scan of it. The result holds
    * no cached/checkpointed blocks, so every checkpoint feeding `df`
    * can be freed immediately after this returns.
    *
    * Lifetime: the backing dir lives until JVM exit (reclaimed by the
    * [[tmpRoot]] shutdown hook), so the returned frame is valid no
    * matter how late it is consumed. An earlier last-K-per-name eager
    * eviction could delete the dir under a still-held lazily-read
    * frame; frames round-tripped here are small by contract (label /
    * index frames, never corpora), so session temp growth is bounded
    * by call count, not data size — per-call eviction buys nothing
    * worth that failure mode. */
  def parquetRoundTrip(df: DataFrame, name: String): DataFrame =
    store(df, name).read(df.sparkSession)

  /** (name, size, mtime) fingerprint of a table path, resolved through
    * the path's Hadoop FileSystem — works on hdfs:// and s3:// the
    * same as file:// (a java.io.File walk would fingerprint every
    * remote store as a constant, silently serving stale derived data).
    * "absent" when the path does not exist. */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true) // recursive, files only
      while (it.hasNext) {
        val st = it.next()
        // FULL path, not base name: partition-dir names carry data
        // (year=2026/...), so a layout-only move must change the key
        files += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      }
      files.sorted.mkString(",")
    }
  }

  /** A derived artifact, declared once by its `name` (the prefix of
    * its dirs under the `graft-materialize-` temp root) and the
    * `sources` it derives from (table names under an sf dir, e.g.
    * "lineitem" for `<sfDir>/lineitem.parquet`). `apply` serves the
    * value built for `(sfDir, fingerprint of every declared source)`,
    * running `build` once per such key. `V` is the stored value:
    * [[Stored]] frames written by [[store]], plus whatever small
    * extras a consumer needs next to them (a row count, an id range, a
    * verdict), or a driver-side value with no frame at all.
    *
    * Frames are read back with the schema captured at build time: a
    * stored schema skips the footer-read job that parquet schema
    * inference runs, so a steady-state touch is one fingerprint
    * listing per source plus one plan over the stored files, and runs
    * no Spark job.
    *
    * SUPERSEDE: when a new key lands for an sf dir, the old MAP ENTRY
    * is dropped, so the artifact holds one live value per dir. The
    * superseded temp dir itself is NOT deleted eagerly: fingerprints
    * carry no ordering, so under racing callers (one computed its
    * fingerprint just before a source rewrite) "superseded" cannot be
    * told from "newest", and an eager delete could destroy the files
    * a just-served lazily-read frame still scans. Disk stays bounded
    * by build count (artifacts are small by the [[parquetRoundTrip]]
    * contract) and is reclaimed by the [[tmpRoot]] shutdown hook.
    *
    * Entry state is per artifact: a build may serve OTHER artifacts
    * (cluster labels read the calibration artifact), which a shared
    * map's `computeIfAbsent` would reject as a recursive update. */
  final class Artifact[V](name: String, sources: String*) {
    private val entries = new ConcurrentHashMap[String, V]()
    private val current = new ConcurrentHashMap[String, String]()

    private def live(sfDir: String, key: String): Unit = {
      val prev = current.put(sfDir, key)
      if (prev != null && prev != key) entries.remove(prev)
    }

    def apply(spark: SparkSession, sfDir: String)(build: => V): V = {
      val key = sfDir + "|" +
        sources.map(t => fingerprint(spark, s"$sfDir/$t.parquet")).mkString("|")
      val v = entries.computeIfAbsent(key, _ => build)
      live(sfDir, key)
      v
    }

    /** Write `df` under this artifact's name (plus `part`, for an
      * artifact that stores several frames) — called from a build. */
    def store(df: DataFrame, part: String = ""): Stored =
      Materialize.store(df, name + part)

    /** Re-key `sfDir`'s live value after an APPEND to the artifact's
      * one source: `append` folds the derived delta into the stored
      * value (e.g. a dedup drop's band rows appended to the band
      * table), and the value is re-keyed to `updatedFingerprint`, the
      * source's [[fingerprint]] measured after the append. The
      * artifact follows the source without a from-scratch rebuild.
      * False when `sfDir` has no live value — the next touch builds
      * fresh (correct, just not incremental). */
    def rekey(sfDir: String, updatedFingerprint: String)(append: V => Unit): Boolean = {
      require(sources.size == 1, s"$name: append-rekey needs exactly one source")
      Option(current.get(sfDir)).flatMap(k => Option(entries.get(k))) match {
        case Some(v) =>
          append(v)
          val key = s"$sfDir|$updatedFingerprint"
          entries.put(key, v)
          live(sfDir, key)
          true
        case None => false
      }
    }
  }

  /** An [[Artifact]] that is one frame: `apply` takes the frame's
    * build and serves a scan of the stored copy. */
  final class FrameArtifact(name: String, sources: String*) {
    private val stored = new Artifact[Stored](name, sources: _*)

    def apply(spark: SparkSession, sfDir: String)(build: => DataFrame): DataFrame =
      stored(spark, sfDir)(stored.store(build)).read(spark)

    /** [[Artifact.rekey]] for a frame: append `rows` to it. */
    def append(sfDir: String, updatedFingerprint: String)(rows: => DataFrame): Boolean =
      stored.rekey(sfDir, updatedFingerprint)(_.append(rows))
  }
}
