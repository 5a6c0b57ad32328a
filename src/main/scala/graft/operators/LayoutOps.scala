package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-LAYOUT operators — the write-side half of scan performance.
  *
  * Every read-side audit in this repo (PlanSpec's PushedFilters,
  * pruned ReadSchema) assumes the files being scanned carry usable
  * row-group statistics. At 100 TB that is a WRITE-time decision:
  * a table clustered on the wrong key answers a two-dimensional
  * predicate by reading everything, and a table of ten million
  * 1 MB files spends its scan in file-open overhead. These
  * operators make both knobs explicit:
  *
  *  - [[zorderWrite]] clusters a table on the Morton interleave of
  *    two scan dimensions, so row-group min/max prune on EITHER
  *    column (LayoutSpec measures the pruning against footer stats);
  *  - [[compact]] rewrites a many-small-files directory into
  *    size-targeted files with a shuffle-free `coalesce`;
  *  - [[rowGroupStats]] / [[matchingGroups]] read the parquet
  *    footers back, turning "it prunes" from a claim into a number.
  *
  * No reference counterpart (the reference engine has no columnar
  * layout control); this is §2.7 100 TB-pipeline surface.
  */
object LayoutOps {

  /** Write `df` clustered by the z-order of two long-typed columns.
    *
    * Both columns are min/max-normalized to `bits`-bit grid cells
    * (plan-time literals from one tiny agg), interleaved with the
    * codegen'd [[graft.functions.LayoutFunctions.zvalue]], range-partitioned into
    * `nFiles` z-slices and sorted within each — so every output file
    * covers a contiguous z range ≈ an axis-aligned tile, and its
    * row-group stats are tight in BOTH columns. The z column is
    * dropped before the write (a projection preserves within-partition
    * order): output content is exactly the input rows re-arranged.
    *
    * Scale shape: one agg for the bounds, one range shuffle of the
    * data (the rewrite IS the point), narrow everything else. The
    * range partitioner samples z values, so file boundaries are
    * data-quantiles — skewed data gets even files automatically. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
      outDir: String, nFiles: Int, bits: Int = 16): Unit = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val r = df.agg(
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    // empty input (or an all-NULL coordinate column) has no z geometry
    // to cluster by — write the rows through unchanged instead of
    // NPE-ing out of Row's primitive getter
    if ((0 to 3).exists(r.isNullAt)) {
      df.write.mode("overwrite").parquet(outDir)
      return
    }
    val (xMin, xMax, yMin, yMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val maxCell = (1L << bits) - 1
    // grid math in DECIMAL(38,0): (v−mn)·maxCell div span is exact for
    // ANY long range — a double `/` here loses low bits past 2^53 and
    // quietly shifts rows across cell boundaries, and a full-Long span
    // (mn<0<mx) overflows 64-bit subtraction; both are silent layout
    // corruption, the one failure this operator exists to prevent
    def cell(c: String, mn: Long, mx: Long): Column = {
      val span = BigInt(mx) - BigInt(mn)
      if (span == 0) lit(0L)
      else expr(
        // `div` (not `/`): decimal `/` rounds HALF_UP at scale 6,
        // which can bump a cell boundary; div is exact integral
        s"""CAST((CAST(`$c` AS DECIMAL(38,0)) - CAST('$mn' AS DECIMAL(38,0)))
           | * $maxCell div CAST('$span' AS DECIMAL(38,0)) AS BIGINT)"""
          .stripMargin.replace("\n", " "))
    }
    df.withColumn("__zv", graft.functions.LayoutFunctions.zvalue(
        cell(xCol, xMin, xMax), cell(yCol, yMin, yMax), bits))
      .repartitionByRange(nFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Write `df` hive-partitioned by `pCol` — the directory layout
    * that turns an equality/IN predicate on the partition column into
    * PARTITION pruning: non-matching directories are skipped at
    * planning time (zero file opens, zero footer reads), one tier
    * above the row-group pruning [[zorderWrite]] buys. The partition
    * column's values come back from directory names, so data files
    * shrink by that column too. The per-lang/per-source/per-day
    * layouts a 100 TB corpus store actually uses. */
  def partitionedWrite(df: DataFrame, pCol: String, outDir: String): Unit =
    df.write.mode("overwrite").partitionBy(pCol).parquet(outDir)

  /** Write `df` clustered by a single-column sort — the baseline
    * layout [[zorderWrite]] is measured against. */
  def linearWrite(df: DataFrame, xCol: String, outDir: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(xCol))
      .sortWithinPartitions(xCol)
      .write.mode("overwrite").parquet(outDir)

  /** Per-row-group (min, max) footer statistics of two INT64 columns
    * for every parquet part file under `dir` — the ground truth a
    * scan's row-group pruning decision reads. Driver-side by design:
    * footers are KBs per file; this is the audit path, not a data
    * path. */
  def rowGroupStats(spark: SparkSession, dir: String, xCol: String,
      yCol: String): Seq[(Long, Long, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .flatMap { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          rd.getFooter.getBlocks.asScala.toSeq.map { b =>
            def mm(name: String): (Long, Long) = {
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == name)
                .getOrElse(sys.error(s"column $name not in footer"))
              val st = cc.getStatistics
              // a writer may omit min/max stats entirely — name the
              // unauditable file/column instead of NPE-ing mid-audit
              if (st == null || st.genericGetMin == null || st.genericGetMax == null)
                sys.error(s"no min/max statistics for $name in ${f.getPath}")
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
            val (xmn, xmx) = mm(xCol)
            val (ymn, ymx) = mm(yCol)
            (xmn, xmx, ymn, ymx)
          }
        } finally rd.close()
      }
  }

  /** How many row groups a [min,max]-stat pruner must READ for a box
    * predicate — groups whose stat ranges intersect the box. With
    * `None` a dimension is unconstrained (the single-column query
    * case, where z-order layouts keep pruning and linear layouts on
    * the other column stop). */
  def matchingGroups(stats: Seq[(Long, Long, Long, Long)],
      xRange: Option[(Long, Long)], yRange: Option[(Long, Long)]): Int =
    stats.count { case (xmn, xmx, ymn, ymx) =>
      xRange.forall { case (lo, hi) => xmx >= lo && xmn <= hi } &&
        yRange.forall { case (lo, hi) => ymx >= lo && ymn <= hi }
    }

  /** Rewrite `inDir` into ceil(bytes / targetBytes) files via a
    * shuffle-free `coalesce` — the small-files compaction every
    * long-lived 100 TB table needs after streaming/incremental
    * ingest (file-open overhead and driver listing cost scale with
    * file COUNT, not bytes). Returns the target file count; the
    * written count can undershoot it (coalesce caps at the scan's
    * split count when tiny files pack together), never overshoot.
    * Coalesce, not repartition: merging down needs no exchange, each
    * output file unions whole input files. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(conf)
    // RECURSIVE listing: the read below descends into partition
    // subdirs, so the byte total must too — a top-level-only listing
    // saw 0 bytes for a hive-partitioned table and silently coalesced
    // multi-GB inputs into one file
    val bytes = {
      val it = fs.listFiles(p, true)
      var s = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) s += f.getLen
      }
      s
    }
    // clamp before the Int cast: a bytes/targetBytes ratio past
    // Int.MaxValue would wrap negative and fail inside coalesce with
    // an unrelated error instead of a meaningful file count (a 2 B
    // target over a 100 TB table is a misconfiguration, but it should
    // read as "too many files", not a crash)
    val n = math.min(Int.MaxValue.toLong,
      math.max(1L, (bytes + targetBytes - 1) / targetBytes)).toInt
    spark.read.parquet(inDir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
