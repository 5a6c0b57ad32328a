#!/usr/bin/env python3
"""Time the two native kernels that have a codegen'd built-in twin
against that twin: `JsonExprs.jsonLongKey` vs
`CAST(get_json_object(props, '$.k') AS BIGINT)` over `events.props`, and
`TextHash.sortedIntersectCount` vs `size(array_intersect(a, b))` over
cached pairs of sorted 3-gram hash sets (adjacent doc_ids).

Usage: python3 tools/kernel_vs_builtin.py <sfDir> [pairs]

Run after `sbt compile` from the root of a checkout: the kernels load
from `target/scala-2.13/classes`. Each comparison first checks that both
forms give the same rows (as multisets), warms both twice, then times
`pairs` alternating `noop` writes (default 12) and prints the medians.
"""
import statistics
import sys
import time

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.classic.column import Column


def timed(df):
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def compare(name, kernel_df, builtin_df, pairs):
    assert kernel_df.exceptAll(builtin_df).count() == 0, name
    assert builtin_df.exceptAll(kernel_df).count() == 0, name
    for df in (kernel_df, builtin_df) * 2:
        timed(df)
    ks, bs = [], []
    for i in range(pairs):
        order = [(kernel_df, ks), (builtin_df, bs)]
        for df, out in (order if i % 2 == 0 else order[::-1]):
            out.append(timed(df))
    faster = sum(k < b for k, b in zip(ks, bs))
    print(f"{name}: kernel {statistics.median(ks):.3f} s, built-in "
          f"{statistics.median(bs):.3f} s, kernel faster in {faster}/{pairs}")


def main(sf_dir, pairs):
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.extraClassPath", "target/scala-2.13/classes")
             .config("spark.driver.memory", "3g")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())
    fns = spark._jvm.graft.functions

    def kernel(fn, *cols, consts=()):
        return Column(fn(*[F.col(c)._jc for c in cols], *consts))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    compare("jsonLongKey",
            ev.select("event_id", kernel(fns.JsonExprs.jsonLongKey, "props",
                                         consts=("k",)).alias("k")),
            ev.select("event_id", F.expr(
                "CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k")),
            pairs)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gs = docs.select("doc_id", F.sort_array(
        kernel(fns.TextHash.gramHashes, "text", consts=(3,))).alias("gs"))
    sets = (gs.alias("a")
            .join(gs.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
            .select(F.col("a.doc_id").alias("id"), F.col("a.gs").alias("ga"),
                    F.col("b.gs").alias("gb"))
            .cache())
    sets.count()
    compare("sortedIntersectCount",
            sets.select("id", kernel(fns.TextHash.sortedIntersectCount,
                                     "ga", "gb").alias("n")),
            sets.select("id", F.size(F.array_intersect("ga", "gb"))
                        .cast("bigint").alias("n")),
            pairs)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 12)
