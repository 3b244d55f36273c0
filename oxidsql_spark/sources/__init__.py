"""Table sources.

The reference's only source is a heap-file full scan
(src/execution/plan.rs:30-32, Tablescan).  Here the leaf of every plan is
``spark.read.parquet`` — a vectorized columnar scan that Catalyst feeds
with pushed-down filters and pruned column sets, which is the 100 TB
version of the reference's storage-level projection pushdown
(src/access/tuple.rs:43-121).

Money columns arrive as DOUBLE but hold exact 2-decimal values; ``money``
casts them to DECIMAL(18,2) so aggregate arithmetic is exact and
engine-order-independent (a float sum's low bits depend on partial-agg
order — fatal for cross-engine result hashing, and simply bad hygiene for
a distributed engine).
"""

from __future__ import annotations

import atexit
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast at any scale:
# region (5 rows), nation (25 rows) are fixed-size; supplier scales but
# stays tiny relative to fact tables.
BROADCAST_TABLES = {"region", "nation", "supplier"}


# Leaf-DataFrame reuse: spark.read.parquet lists the directory and reads
# parquet footers DRIVER-side on every call; a query touching 7 tables
# pays that 7× per build. DataFrames are immutable, so the same leaf is
# safely shared across queries — filters/pruning still specialize per
# query at optimization time. Keyed by session so a foreign session
# (e.g. the driver's) gets its own leaves.
_LEAF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Leaf scan. Parquet → columnar batches → whole-stage codegen."""
    key = (id(spark), sf_dir, name)
    df = _LEAF_CACHE.get(key)
    if df is None:
        if name == "events":
            df = _read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _LEAF_CACHE[key] = df
    return df


# Per-process artifacts (frozen LMs, classifier weights, BPE tables,
# gram/shingle indexes, IVF code indexes): this module alone decides how
# they are named, built, committed, read and removed.  A dir is named by
# scratch_dir, removed when the process exits, and — through build_once —
# only ever appears complete: the build writes a staging dir and the
# commit is one rename, so no caller needs to know which sub-table its
# build writes last.
_SCRATCH_DIRS: set[str] = set()


@atexit.register
def _remove_scratch_dirs() -> None:
    for path in _SCRATCH_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """This process's dir for artifact ``kind`` over the tables in
    ``sf_dir``; removed at exit."""
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join("/tmp", f"oxidsql_{kind}_{base}_{os.getpid()}")
    _SCRATCH_DIRS.add(path)
    return path


def build_once(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The committed ``scratch_dir(kind, sf_dir)``, built by
    ``build(staging)`` only if it does not exist yet.  A build that
    raises leaves nothing behind, so the next call builds again."""
    path = scratch_dir(kind, sf_dir)
    if not os.path.exists(path):
        staging = path + ".building"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        try:
            build(staging)
            os.rename(staging, path)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
    return path


# Artifact leaf reuse: the same argument as table() — each
# spark.read.parquet call pays a driver-side listing and footer job
# (~80-100 ms measured) that a per-run query path repeats 3-4×.  A leaf
# is memoized with the (inode, mtime) of its dir's _SUCCESS marker and
# re-listed when that stamp changes, so a dir deleted and rebuilt in the
# same process is read fresh; a dir without a marker is never memoized.
# The stamp cannot see files appended next to an unchanged marker:
# append-mutable stores (versioned tables, segstore segments, the
# ivfadc admit index) must keep calling spark.read.parquet.
_ARTIFACT_LEAF_CACHE: dict[tuple[int, str], tuple[tuple[int, int], DataFrame]] = {}


def artifact(spark: SparkSession, path: str) -> DataFrame:
    """Leaf scan of a committed artifact directory (see cache note)."""
    key = (id(spark), path)
    try:
        st = os.stat(os.path.join(path, "_SUCCESS"))
    except FileNotFoundError:
        _ARTIFACT_LEAF_CACHE.pop(key, None)
        return spark.read.parquet(path)
    stamp = (st.st_ino, st.st_mtime_ns)
    hit = _ARTIFACT_LEAF_CACHE.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    _ARTIFACT_LEAF_CACHE[key] = (stamp, df)
    return df


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table is written with TIMESTAMP(NANOS) which Spark's
    parquet reader rejects; read nanos as long and rebuild an NTZ
    timestamp (micro truncation — same as DuckDB's nanos handling).
    NTZ keeps every downstream expression independent of session TZ."""
    path = f"{sf_dir}/events.parquet"
    # Set proactively: without it the read throws PARQUET_TYPE_ILLEGAL
    # (and the schema-merge job logs a noisy executor stacktrace first).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def dec2(col: str) -> F.Column:
    """Exact DECIMAL(18,2) cast for any numeric column whose values are
    exactly representable at 2 decimals (money columns, but equally
    small-integer counts like l_quantity): aggregate arithmetic becomes
    associative, so results are partial-agg-order independent and hash
    cross-engine."""
    return F.col(col).cast("decimal(18,2)")


def money(col: str) -> F.Column:
    """Exact 2-decimal money semantics for aggregation (see dec2)."""
    return dec2(col)


def dbl(c: F.Column) -> F.Column:
    """Decimal → double for a stable, engine-neutral output type."""
    return c.cast("double")
