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
import hashlib
import itertools
import os
import re
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
# (e.g. the driver's) gets its own leaves, and memoized with the leaf's
# file stamp (see _leaf_stamp), so a rewritten table is listed again
# instead of being served the file list of the files it replaced.
_LEAF_CACHE: dict[tuple[int, str, str], tuple[tuple, DataFrame]] = {}


def _leaf_stamp(sf_dir: str, name: str) -> tuple:
    """(absolute path, size, mtime_ns) of every file of table ``name``'s
    leaf ``{sf_dir}/{name}.parquet`` — one file, or a dir of part files."""
    root = os.path.abspath(f"{sf_dir}/{name}.parquet")
    if os.path.isfile(root):
        paths = [root]
    else:
        paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
    stamp = []
    for p in paths:
        st = os.stat(p)
        stamp.append((p, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def input_fingerprint(sf_dir: str) -> str:
    """Version of the input tables in ``sf_dir``: a hash of the
    ``_leaf_stamp`` of every table in ``TABLES``.  Rewriting any leaf
    file, or reading another dir with the same basename, changes it."""
    stamps = repr([_leaf_stamp(sf_dir, t) for t in TABLES])
    return hashlib.sha1(stamps.encode()).hexdigest()[:16]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Leaf scan. Parquet → columnar batches → whole-stage codegen."""
    key = (id(spark), sf_dir, name)
    stamp = _leaf_stamp(sf_dir, name)
    hit = _LEAF_CACHE.get(key)
    if hit is not None:
        if hit[0] == stamp:
            return hit[1]
        # a cached plan over the replaced files matches the new leaf
        # (a file index equals any other over the same root path)
        spark.catalog.refreshByPath(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _read_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _LEAF_CACHE[key] = (stamp, df)
    return df


# Per-process artifacts (frozen LMs, classifier weights, BPE tables,
# gram/shingle indexes, IVF code indexes, PQ codebooks): this module
# alone decides how they are named, built, committed, read and removed.
# A dir is named by scratch_dir, removed when the process exits, and —
# through build_once — only ever appears complete: the build writes a
# staging dir and the commit is one rename, so no caller needs to know
# which sub-table its build writes last.  build_once commits one dir per
# input version (input_fingerprint), so a rewritten input table is never
# served the artifact trained on the old one.  A process killed before
# its exit hook leaves its dirs behind; the first scratch_dir call of
# any later process removes them.
_SCRATCH_ROOT = "/tmp"
_SCRATCH_DIRS: set[str] = set()
_SWEPT = False
_FRESH_SEQ = itertools.count(1)


@atexit.register
def _remove_scratch_dirs() -> None:
    for path in _SCRATCH_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _sweep_dead_dirs() -> None:
    """Remove ``oxidsql_*_<pid>`` dirs (and their ``.building`` staging
    dirs) whose process no longer exists.  A pid has no leading zero and
    stays under Linux's PID_MAX_LIMIT (2^22), so bench.py's
    ``oxidsql_benchbase…_<8 hex digits>`` bases never match."""
    for name in os.listdir(_SCRATCH_ROOT):
        m = re.fullmatch(r"oxidsql_.+_([1-9]\d*)(\.building)?", name)
        if m and int(m.group(1)) <= 1 << 22 and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(_SCRATCH_ROOT, name), ignore_errors=True)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """This process's dir for artifact ``kind`` over the tables in
    ``sf_dir``; removed at exit."""
    global _SWEPT
    if not _SWEPT:
        _SWEPT = True
        _sweep_dead_dirs()
    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_SCRATCH_ROOT, f"oxidsql_{kind}_{base}_{os.getpid()}")
    _SCRATCH_DIRS.add(path)
    return path


def fresh_dir(kind: str, sf_dir: str) -> str:
    """A new ``scratch_dir`` on every call, for a query that rebuilds its
    artifact per call: rebuilding at one fixed path would delete the
    files under DataFrames that earlier calls returned.  Every such dir
    lives until exit."""
    return scratch_dir(f"{kind}-{next(_FRESH_SEQ)}", sf_dir)


def build_once(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The committed dir of artifact ``kind`` for the current version of
    the input tables in ``sf_dir``: ``scratch_dir(kind, sf_dir)/<fp>``
    with ``fp = input_fingerprint(sf_dir)``, built by ``build(staging)``
    only if it does not exist yet.  A kind's trained constants belong in
    ``kind``.  Dirs of older versions stay until exit, so DataFrames
    that earlier calls returned still read their files; removing
    ``scratch_dir(kind, sf_dir)`` removes every version.  A build that
    raises leaves nothing behind, so the next call builds again."""
    path = os.path.join(scratch_dir(kind, sf_dir), input_fingerprint(sf_dir))
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
# A new input version is a new build_once dir, hence a new key; the
# memo of an older version stays valid because its dir stays until exit.
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
