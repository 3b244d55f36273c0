"""Sinks: the write side of the engine.

The reference has exactly two sinks — stdout Print and heap Insert
(plan.rs:52-64). Here the sink surface is the full Spark writer API,
wrapped with the layouts that matter at 100 TB:

* ``write_parquet`` — plain columnar files, `coalesce`d to a target
  file count so small-file explosion doesn't poison later scans;
* ``write_partitioned`` — hive-style partition directories; queries
  filtering on the partition column get partition pruning (the scan
  never opens excluded directories);
* ``write_bucketed`` — pre-shuffled bucket layout on the join/agg key;
  two tables bucketed the same way join with ZERO exchange (the
  bucketing IS the shuffle, paid once at write time);
* ``write_sorted`` / ``write_zordered`` — range-clustered and Morton-
  clustered file layouts so parquet min/max statistics skip files on
  one / several predicate columns;
* ``optimize`` / ``compact`` — the one maintenance rewrite (compaction,
  optionally z-ordered) committed as the next version of a
  ``versioned.VersionedTable``;
* ``show`` / ``to_rows`` — the Print twin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_parquet(df: DataFrame, path: str, n_files: int | None = None, mode: str = "overwrite") -> None:
    if n_files:
        df = df.coalesce(n_files)
    df.write.mode(mode).parquet(path)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str, mode: str = "overwrite") -> None:
    """Partition-pruned layout: one directory per partition value.
    Choose low-cardinality columns (date, region, status) — at 100 TB a
    high-cardinality partition column means millions of tiny files."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int = 16, sort_by: str | None = None
) -> None:
    """Bucketed managed table: co-locates rows by hash(key) at write
    time. Joins/aggs on `key` between same-bucketed tables skip the
    exchange entirely — the 100 TB answer to repeated fact-fact joins."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table_name)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Always pass an explicit schema — inference is a full extra pass
    over the data (fatal at scale) and type-unstable."""
    return spark.read.schema(schema).option("header", True).csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC — the second columnar format warehouses standardize on
    (predicate pushdown + column pruning work the same as parquet's;
    Spark's ORC reader is vectorized).  Interop surface for corpora
    produced by Hive/Trino-side pipelines."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    *bloom_cols: str,
    n_files: int | None = None,
    mode: str = "overwrite",
    fpp: float = 0.01,
    ndv: int | None = None,
    extra_options: dict | None = None,
) -> None:
    """Parquet with per-column BLOOM FILTER indexes — the row-group
    skipping layout for point lookups on columns that are high-
    cardinality and unsorted (ids, hashes, fingerprints), exactly where
    min/max statistics are useless: every row group's min/max spans the
    whole key range, but its bloom filter answers 'key definitely not
    here' and the scan skips the group without reading data pages.
    The write-side counterpart of the engine's runtime bloom-filter
    join reduction (session.py), and the same filter mathematics as
    dedup's distributed word table — stored per row group.

    `fpp` trades filter bytes for skip precision; pass `ndv` (expected
    distinct keys per row group) when known — otherwise parquet sizes
    filters from its own accumulating state.  Readers need nothing
    special: Spark's parquet scan consults the filters for pushed-down
    equality/IN predicates automatically.

    Operational note (tested): parquet-mr ELIDES the bloom filter for a
    column chunk that stays fully dictionary-encoded — the dictionary
    is already an exact row-group membership filter, so nothing is
    lost.  Filters appear exactly where they matter: once cardinality
    overflows the dictionary page and encoding falls back to plain.
    `extra_options` passes any further per-writer parquet keys through
    (e.g. ``parquet.enable.dictionary#col: false``)."""
    if n_files:
        df = df.coalesce(n_files)
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.fpp#{c}", str(fpp))
        if ndv is not None:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    for k, v in (extra_options or {}).items():
        w = w.option(k, str(v))
    w.parquet(path)


def optimize(
    spark: SparkSession,
    path: str,
    *z_cols: str,
    target_file_mb: int = 128,
) -> tuple[int, int]:
    """Table maintenance in one rewrite — the plain-parquet twin of
    Delta/Iceberg ``OPTIMIZE [ZORDER BY]``: compact the current content
    of ``path`` (plain files or a ``versioned.VersionedTable``) into
    ~target_file_mb files AND, given ``z_cols``, restore Morton
    clustering on them in the same pass (streaming sinks and
    incremental appends both fragment files and destroy clustering;
    fixing them separately would scan the data twice).  At 100 TB each
    file under ~100 MB costs a task launch and a footer read per scan.

    The rewrite commits through ``VersionedTable.write`` as the next
    version — one manifest, never a directory rename — so readers of
    earlier versions never see a half-rewrite.  Content is untouched.
    Returns ``(version, n_files)``."""
    import math
    from urllib.parse import unquote, urlparse

    from .versioned import VersionedTable, read_artifact

    df = read_artifact(spark, path)
    nbytes = sum(os.path.getsize(unquote(urlparse(f).path)) for f in df.inputFiles())
    n_files = max(1, math.ceil(nbytes / (target_file_mb * 1024 * 1024)))
    out = zorder(df, *z_cols, n_files=n_files) if z_cols else df.repartition(n_files)
    return VersionedTable(spark, path).write(out), n_files


def compact(
    spark: SparkSession,
    path: str,
    *z_cols: str,
    target_file_mb: int = 128,
) -> int:
    """``optimize`` for a maintenance artifact, then retention: vacuum
    keeps the newest two versions and removes the superseded files
    (the initial build's plain files included).  A crash at ANY point
    leaves the artifact fully readable through
    ``versioned.read_artifact`` — which is also how compacted
    directories must be read back.  Returns the new file count."""
    from .versioned import VersionedTable

    _, n_files = optimize(spark, path, *z_cols, target_file_mb=target_file_mb)
    VersionedTable(spark, path).vacuum(keep_last=2)
    return n_files


def write_stats_manifest(spark: SparkSession, path: str, *stats_cols: str) -> int:
    """Build (or refresh) a per-FILE min/max statistics manifest for a
    parquet directory — explicit file-level data skipping, the layer
    Delta/Iceberg keep in their transaction log and plain parquet lacks:
    parquet's own min/max live in footers, so a scan still has to OPEN
    every footer; at 100 TB with millions of files that is millions of
    round trips before any skipping happens.  The manifest is one tiny
    table (one row per file: row count, min/max/null-count per tracked
    column), written under ``<path>/_stats_manifest`` — the underscore
    prefix keeps plain parquet scans of ``path`` from picking it up.

    Cost: ONE column-pruned aggregate pass over the tracked columns
    grouped by ``input_file_name()`` — the shuffle carries one row per
    file, bounded by file count, never by data volume.  Returns the
    number of files indexed.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    manifest = (
        df.withColumn("_file", F.input_file_name()).groupBy("_file").agg(*aggs)
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "/_stats_manifest")
    # count the (tiny) written manifest, not the data, to avoid a second pass
    return spark.read.parquet(path + "/_stats_manifest").count()


def write_skipping(
    df: DataFrame,
    path: str,
    *stats_cols: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Skipping-ready layout in one call: range-cluster + sort the data
    on ``stats_cols`` (so per-file intervals are near-disjoint — without
    clustering every file spans the whole range and the manifest prunes
    nothing), then index it with ``write_stats_manifest``."""
    write_sorted(df, path, *stats_cols, n_files=n_files, mode=mode)
    write_stats_manifest(df.sparkSession, path, *stats_cols)


def scan_skipping(spark: SparkSession, path: str, col: str, lo, hi):
    """Range scan with manifest-driven file skipping: consult the
    ``_stats_manifest`` written by ``write_stats_manifest``, read ONLY
    the files whose [min, max] interval overlaps ``[lo, hi]``, and apply
    the residual predicate to the survivors.  Returns
    ``(DataFrame, {"files_total": n, "files_read": m})``.

    The file-selection collect is O(number of files) driver rows —
    bounded by cluster geometry (file count), never by data volume; it
    is exactly the planning step Delta/Iceberg run against their log.
    Skipping is conservative: a file whose min is NULL (all-NULL column
    chunk) cannot be ruled out and is kept; NULL values themselves never
    satisfy a range predicate, so correctness only needs the residual
    filter.  Stale manifests are detected (file set mismatch) and
    rejected — at 100 TB manifest+data advance together under one
    version commit (``versioned.VersionedTable``)."""
    from pyspark.sql import functions as F

    manifest = spark.read.parquet(path + "/_stats_manifest")
    rows = manifest.select(
        "_file", f"min_{col}", f"max_{col}"
    ).collect()  # O(n_files), bounded by file count
    listed = {
        r["_file"].removeprefix("file://").removeprefix("file:") for r in rows
    }
    actual = {
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    if {os.path.abspath(p) for p in listed} != {os.path.abspath(p) for p in actual}:
        raise ValueError(
            f"stats manifest at {path}/_stats_manifest is stale "
            "(file set changed since write_stats_manifest)"
        )
    keep = [
        r["_file"]
        for r in rows
        if r[f"min_{col}"] is None
        or (r[f"max_{col}"] >= lo and r[f"min_{col}"] <= hi)
    ]
    if keep:
        out = spark.read.parquet(*keep)
    else:
        out = spark.read.parquet(path).filter(F.lit(False))
    out = out.filter(F.col(col).between(lo, hi))
    return out, {"files_total": len(rows), "files_read": len(keep)}


def write_sorted(
    df: DataFrame,
    path: str,
    *sort_cols: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Data-skipping layout: range-partition by the sort key, then sort
    within each file, so parquet row-group min/max statistics become
    disjoint ranges. A later scan with a predicate on the sort column
    skips whole row groups / files without reading them — the plain-
    parquet equivalent of clustering/Z-ordering on one key. Worth one
    shuffle at write time for any column queried with range predicates."""
    n = n_files or df.rdd.getNumPartitions()
    out = df.repartitionByRange(n, *sort_cols)
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    *z_cols: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``zorder(df, *z_cols, n_files=n_files)`` to ``path``."""
    zorder(df, *z_cols, n_files=n_files).write.mode(mode).parquet(path)


def zorder(df: DataFrame, *z_cols: str, n_files: int | None = None) -> DataFrame:
    """Multi-dimensional data-skipping layout: ``df`` arranged in
    ``n_files`` partitions Z-order (Morton) clustered on up to 3
    columns, ready for any writer.

    ``write_sorted`` makes ONE column's file min/max ranges disjoint;
    a predicate on any other column still touches every file.  Z-order
    trades a little per-column locality for locality in ALL z_cols:
    each column is scaled to a 16-bit rank (min/max from one 1-row
    aggregate), the ranks' bits are interleaved into a single Morton
    key — pure codegen shift/mask arithmetic — and files are
    range-partitioned and sorted by that key.  Every z column's
    per-file span then shrinks to roughly range/files^(1/k), so scans
    filtering on ANY of the columns skip most files on parquet
    min/max statistics (measured in tests/test_sinks_formats.py).

    Cost at 100 TB: one 1-row min/max aggregate + one range shuffle —
    identical shape to write_sorted; the interleave adds no shuffle.
    The reference has no layout control at all (heap pages,
    src/storage/heap.rs); this is the Spark-native equivalent of
    Delta/Iceberg OPTIMIZE ZORDER BY."""
    from pyspark.sql import functions as F

    if not 1 <= len(z_cols) <= 3:
        raise ValueError("zorder supports 1-3 z columns")
    k = len(z_cols)
    bits = 16
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(z_cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(z_cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    ranks = []
    for i, c in enumerate(z_cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
        r = F.floor((F.col(c).cast("double") - F.lit(mn or 0.0)) / F.lit(span) * top)
        ranks.append(F.coalesce(F.least(r, F.lit(top)), F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, r in enumerate(ranks):
            z = z + F.shiftleft(
                F.shiftright(r, b).bitwiseAND(F.lit(1)), b * k + j
            )
    zk = "__zorder_key"
    n = n_files or df.rdd.getNumPartitions()
    return (
        df.withColumn(zk, z)
        .repartitionByRange(n, F.col(zk))
        .sortWithinPartitions(zk)
        .drop(zk)
    )
