package graft

import graft.operators.OrderLineView
import org.apache.spark.sql.functions._

/** The denormalized order-line view (#154): the served artifact must
  * be row-for-row the defining `lineitem ⋈ orders` join, be built
  * exactly once per source fingerprint, and rebuild when a source
  * table changes — ten oracle-gated reports serve from it, so a stale
  * or diverging artifact would corrupt all of them at once. */
class OrderLineViewSpec extends SparkTestBase {

  test("scan equals the defining join row-for-row, schema included") {
    val direct = OrderLineView.direct(spark, sf)
    val scan = OrderLineView.scan(spark, sf)
    assert(scan.schema.map(f => (f.name, f.dataType)) ===
      direct.schema.map(f => (f.name, f.dataType)),
      "parquet round-trip must preserve names and types exactly")
    assert(scan.count() === direct.count())
    assert(scan.exceptAll(direct).isEmpty, "scan has rows direct lacks")
    assert(direct.exceptAll(scan).isEmpty, "direct has rows scan lacks")
  }

  test("the view preserves line granularity exactly") {
    // every lineitem row must survive the build joins: the orders FK
    // is clean at every generated sf (inner join drops nothing) and
    // the part join is LEFT by construction — if a future corpus
    // carries order-orphan lines, this canary fails loudly instead of
    // thirteen reports silently losing rows
    assert(OrderLineView.scan(spark, sf).count() ===
      Tables.lineitem(spark, sf).count())
  }

  test("build-once: repeated scans serve the same artifact files") {
    val f1 = OrderLineView.scan(spark, sf).inputFiles.toSet
    val f2 = OrderLineView.scan(spark, sf).inputFiles.toSet
    assert(f1.nonEmpty && f1 === f2,
      "a second scan must not rebuild (same backing files)")
  }

  test("a changed source fingerprint supersedes the artifact") {
    // a private corpus copy: the view fingerprints lineitem + orders
    val dir = tmpDir("olv-src-")
    Tables.lineitem(spark, sf).write.parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sf).write.parquet(s"$dir/orders.parquet")
    Tables.part(spark, sf).write.parquet(s"$dir/part.parquet")
    val before = OrderLineView.scan(spark, dir)
    val beforeFiles = before.inputFiles.toSet
    val beforeCount = before.count()
    // shrink orders: the artifact must follow the source on next touch
    val half = Tables.orders(spark, sf)
      .filter($"o_orderkey" % 2 === 0).cache()
    val halfCount = half.count() // materialize before the overwrite
    half.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    half.unpersist()
    val after = OrderLineView.scan(spark, dir)
    assert(after.inputFiles.toSet !== beforeFiles,
      "a rewritten source must supersede the artifact")
    val expected = OrderLineView.direct(spark, dir).count()
    assert(after.count() === expected && after.count() < beforeCount,
      "the rebuilt artifact must reflect the new source rows")
    assert(halfCount > 0)
  }

  test("a rewritten part table supersedes the artifact — brands follow the source") {
    // lineitem and orders stay byte-identical: only the part dim moves
    val dir = tmpDir("olv-part-")
    Tables.lineitem(spark, sf).write.parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sf).write.parquet(s"$dir/orders.parquet")
    Tables.part(spark, sf).write.parquet(s"$dir/part.parquet")
    def brands: Set[String] = OrderLineView.scan(spark, dir)
      .filter($"p_brand".isNotNull).select($"p_brand").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
    val before = brands
    assert(before.nonEmpty)
    Tables.part(spark, sf).withColumn("p_brand", concat(lit("X-"), $"p_brand"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(brands === before.map("X-" + _),
      "the view must serve the rewritten part table's brands")
  }
}
