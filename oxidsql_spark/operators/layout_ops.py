"""Storage-layout operators registered as driver-checked queries.

The write-path utilities in ``oxidsql_spark.sinks`` (sorted / z-ordered
clustering) were previously pytest-only; these queries close the loop by
writing the artifact and reading it BACK through a plain parquet scan,
so the external DuckDB-oracle harness verifies the layout preserves
content exactly (the ``dedup_incremental_prepared`` pattern: exercise
the production write/read path inside an oracle-checked query).

The reference engine has no layout control at all — heap pages in
insertion order (/root/reference/src/storage/heap.rs); clustering is a
rebuild-side capability the 100 TB design needs (parquet min/max file
skipping), measured in tests/test_sinks_formats.py and content-locked
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sinks import write_zordered
from ..sources import fresh_dir, table


@register(
    "compact_roundtrip_scan",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(o_custkey) AS BIGINT) AS sum_custkey,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def compact_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through small-file compaction under the manifest
    commit protocol (``sinks.compact`` commits the rewrite as the next
    ``versioned.VersionedTable`` version — no renames): shatter orders into 48 small files, compact, read the
    artifact back through the resolver, and aggregate — integer-exact,
    so the oracle (reading the original table) proves the
    rewrite-and-commit path is content-preserving end-to-end under the
    external harness, the way ``zorder_layout_scan`` locks the z-order
    rewrite."""
    from ..sinks import compact
    from ..versioned import read_artifact

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    out = fresh_dir("compact", sf_dir)
    o.repartition(48).write.mode("overwrite").parquet(out)
    compact(spark, out, target_file_mb=128)
    back = read_artifact(spark, out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_custkey").alias("sum_custkey"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "skipping_scan_orders",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_rows,
           CAST(sum(o_custkey) AS BIGINT) AS sum_custkey,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                          AND TIMESTAMP '1995-12-31 23:59:59.999999'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def skipping_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven FILE-level data skipping end-to-end: write orders
    range-clustered on o_orderdate with a per-file min/max stats
    manifest (``sinks.write_skipping``), then answer a one-year range
    query through ``sinks.scan_skipping`` — the planner consults the
    manifest (one row per file) and reads ONLY overlapping files, the
    pruning layer Delta/Iceberg keep in their log and the 100 TB design
    needs above parquet's footer-local statistics (a million footer
    round trips is itself the bottleneck).  The oracle reads the
    original table, proving cluster+index+skip+residual-filter is
    content-exact; tests/test_sinks_formats.py asserts the skip ratio
    (files_read < files_total) and the stale-manifest guard."""
    from ..sinks import scan_skipping, write_skipping
    from datetime import datetime

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    out = fresh_dir("skip", sf_dir)
    write_skipping(o, out, "o_orderdate", n_files=16)
    got, stats = scan_skipping(
        spark,
        out,
        "o_orderdate",
        datetime(1995, 1, 1),
        datetime(1995, 12, 31, 23, 59, 59, 999999),
    )
    return (
        got.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_custkey").alias("sum_custkey"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "zorder_layout_scan",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
           CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey
    FROM lineitem
    WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 8
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the Z-ordered layout: write lineitem Morton-
    clustered on (l_partkey, l_suppkey), scan it back with a predicate
    on BOTH z dimensions, and aggregate — integer-exact, so the oracle
    (which reads the original table) proves the clustered rewrite is
    content-preserving while the scan exercises the multi-dimension
    file-skipping layout (per-file span on each z column measured at
    0.24-0.41 of range in tests/test_sinks_formats.py vs 1.0 for the
    unclustered layout).

    The rewrite itself is the production shape: one 1-row min/max
    aggregate, Morton interleave as codegen bit arithmetic, one range
    shuffle (``sinks.write_zordered``)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"
    )
    # per-call dir: two concurrent harness runs on the same scale factor
    # must not race on one path, nor a rerun delete an earlier result's files
    out = fresh_dir("zorder", sf_dir)
    write_zordered(li, out, "l_partkey", "l_suppkey", n_files=16)
    z = spark.read.parquet(out)
    return (
        z.filter(F.col("l_partkey").between(50, 150) & F.col("l_suppkey").between(1, 8))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_partkey").alias("sum_partkey"),
            F.sum("l_suppkey").alias("sum_suppkey"),
            F.min("l_orderkey").alias("min_orderkey"),
        )
        .orderBy("l_returnflag")
    )
