"""Versioned parquet tables: time travel, upsert, vacuum — one format.

The reference has no UPDATE/DELETE at all (README.md:51 TODO) and the
facade's rewrites swap temp views — interactive parity only. This module
is the production shape for mutating plain-parquet data at scale, the
same immutable-manifest model Delta/Iceberg formalize:

* version N is ONE manifest file, ``_manifests/m0000000N.json``: the
  Spark schema plus a map from group to a list of data paths.  An
  unpartitioned table has a single group whose list names parquet
  files and whole-write dirs; a table with ``partition_col`` has one
  group per partition value, listing the dir its rows were written to;
* a version is that list, and a commit writes only its NEW files, into
  ``_data/v0000000N/``: ``write(df)`` replaces the content and is
  referenced as that ONE dir, while ``write(Delta(add, drop))`` keeps
  the latest version's paths but the files in ``drop`` (a dir holding
  one of them becomes its other files) and adds the rows ``add`` holds
  — an append writes one file, a DELETE/UPDATE rewrites only the files
  it touches.  Rows known on the driver are written there with
  pyarrow, with no Spark job: ``without_rows`` drops rows by their
  position in a file (Spark's ``_metadata.row_index``, the twin of a
  heap tuple id) by reading that file on the driver.  A commit that
  writes zero rows references no file;
* the manifest becomes visible in one step (tmp file + ``os.rename`` on
  a local disk, one PUT on an object store).  No directory rename is
  ever a commit, so a crashed writer leaves only unreferenced files
  that readers never see, the retry clears and ``vacuum`` removes —
  and ``vacuum`` removes a file only when no kept manifest references
  it;
* a mutation of a partitioned table rewrites only the groups it
  touches; the new manifest references every other group's dir;
* every read — reopen and time travel included — takes the schema from
  the manifest, so no read runs a footer-inference job.  A Delta
  commit that would leave more than ``MAX_SMALL_FILES`` files in small
  paths merges those into one, and one that would leave more than
  ``MAX_PATHS`` paths rewrites them all as one dir, so appends never
  pile files onto the reads.

``read_artifact`` is the one reader of the plain layout: a write-once
artifact is plain parquet files until its first maintenance rewrite
commits a manifest beside them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_RE = re.compile(r"^m(\d{8})\.json$")

# Manifest group for rows whose partition value is NULL (Hive's name).
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# The one group of an unpartitioned table.
_WHOLE = ""

# Partition-value column of a partitioned commit's one partitionBy write
# (a copy of partition_col: partitionBy strips its key from the files).
_PV = "__pv__"

# A path (file or dir) under SMALL_FILE_BYTES is small: its files cost
# Spark more to open than to scan (openCostInBytes is 4 MiB).  A Delta
# commit that would leave more than MAX_SMALL_FILES files in small paths
# merges those paths into one file on the driver, so appends never pile
# files onto a version: each file added ~2.7 ms to a point read
# (local[4]: 15 files 0.091 s, 1 file 0.052 s).  The merge reads at
# most (MAX_SMALL_FILES + 1) MiB on the driver; more small bytes than
# that stay as they are, under the MAX_PATHS bound.
SMALL_FILE_BYTES = 1 << 20
MAX_SMALL_FILES = 4

# Most paths a version may reference: Spark lists more than 32 root
# paths (parallelPartitionDiscovery.threshold) with a Spark job, which
# every read of the version would pay (33 one-file dirs: 1 job, 0.43 s;
# 32: 0 jobs, 0.07 s).  A Delta commit that would leave more rewrites
# them all as one dir with one Spark job (SCALE.md, "statement cost
# follows the delta").
MAX_PATHS = 32


@dataclass(frozen=True)
class Delta:
    """A commit relative to the latest version: its files but ``drop``
    (manifest paths, see ``VersionedTable.relpath``) plus the rows of
    ``add`` — a DataFrame (one Spark write job), a list of driver-side
    row tuples in schema order or a ``pyarrow.Table`` in the manifest's
    Arrow schema (either one parquet file written with pyarrow, no job)
    or None."""

    add: "DataFrame | list | pyarrow.Table | None" = None
    drop: frozenset = frozenset()


class VersionedTable:
    """A directory of immutable parquet data dirs, versioned by manifests."""

    def __init__(self, spark: SparkSession, path: str, partition_col: str | None = None):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col
        self._mdir = os.path.join(path, "_manifests")

    # -- manifests -------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions, ascending (torn manifest tmp files and
        unreferenced data dirs are invisible)."""
        if not os.path.isdir(self._mdir):
            return []
        return sorted(
            int(m.group(1)) for n in os.listdir(self._mdir) if (m := _MANIFEST_RE.match(n))
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _mpath(self, version: int) -> str:
        return os.path.join(self._mdir, f"m{version:08d}.json")

    def _vdir(self, version: int) -> str:
        """The data dir version `version` wrote (its only new files)."""
        return os.path.join(self.path, "_data", f"v{version:08d}")

    def _manifest(self, version: int | None) -> dict:
        v = version if version is not None else self.latest_version()
        if v is None or not os.path.exists(self._mpath(v)):
            raise ValueError(f"no committed version {version!r} at {self.path}")
        with open(self._mpath(v)) as fh:
            return json.load(fh)

    # -- write side ------------------------------------------------------

    def write(self, content: DataFrame | Delta) -> int:
        """Commit the next version; returns its version number.  A
        DataFrame is the version's whole content — partitioned, ONE
        partitionBy pass over the input, whatever the number of
        partition values.  A ``Delta`` (unpartitioned tables only) writes
        only its own rows and references the latest version's other
        files."""
        if isinstance(content, Delta):
            return self._commit_delta(content)
        return self._commit(content, {})

    def _next_dir(self) -> tuple[int, str]:
        """The next version and its cleared data dir.  A dir at the
        target version can only be a crashed attempt's debris (no
        manifest references it), so the retry clears it instead of
        failing on errorifexists forever."""
        v = (self.latest_version() or 0) + 1
        shutil.rmtree(self._vdir(v), ignore_errors=True)
        return v, self._vdir(v)

    def _commit(self, df: DataFrame, groups: dict[str, list[str]]) -> int:
        """Write `df` into the next version's data dir, then publish the
        manifest `groups` + the groups `df` wrote."""
        v, vdir = self._next_dir()
        if self.partition_col is None:
            df.write.mode("errorifexists").parquet(vdir)
            groups = {_WHOLE: self._whole(vdir)}
        else:
            rel = os.path.relpath(vdir, self.path)
            groups = dict(groups)
            df.withColumn(_PV, self._pv_expr()).write.mode("errorifexists").partitionBy(
                _PV
            ).parquet(vdir)
            for name in os.listdir(vdir):
                if name.startswith(f"{_PV}="):  # undo Hive path escaping
                    groups[unquote(name[len(_PV) + 1 :])] = [os.path.join(rel, name)]
        return self._publish(v, json.loads(df.schema.json()), groups)

    def _commit_delta(self, delta: Delta) -> int:
        if self.partition_col is not None:
            raise ValueError("a Delta commits to an unpartitioned table")
        m = self._manifest(None)
        schema = _schema(m)
        paths = self._drop(_paths(m["groups"].values()), delta.drop)
        v, vdir = self._next_dir()
        if isinstance(delta.add, DataFrame):
            delta.add.write.mode("errorifexists").parquet(vdir)
            paths += self._written(vdir)
        elif delta.add is not None:
            from .functions import arrow_rows

            rows = arrow_rows(delta.add, schema) if isinstance(delta.add, list) else delta.add
            if rows.num_rows:
                paths.append(self._write_arrow(vdir, rows))
        paths = self._merge_small(vdir, paths, schema)
        if len(paths) > MAX_PATHS:
            paths = self._compact(vdir, paths, schema)
        return self._publish(v, m["schema"], {_WHOLE: paths})

    def _drop(self, paths: list[str], drop: frozenset) -> list[str]:
        """`paths` but the files in `drop`; a dir holding a dropped file
        becomes its other files.  A dropped file the paths do not
        reference is an error: its rows would survive beside their
        rewrite."""
        dirs = {os.path.dirname(f) for f in drop}
        out, seen = [], set()
        for p in paths:
            files = [p]
            if p in dirs and os.path.isdir(os.path.join(self.path, p)):
                files = [os.path.relpath(f, self.path) for f in self._files(p)]
            seen |= drop.intersection(files)
            out += [f for f in files if f not in drop]
        if drop - seen:
            raise ValueError(f"not files of the latest version at {self.path}: {sorted(drop - seen)}")
        return out

    def _written(self, vdir: str) -> list[str]:
        """The data files a Spark write left in `vdir`, as manifest
        paths — none when it wrote no row.  Only task 0 writes a file
        for an empty partition, so several files hold rows; a lone
        zero-row file is deleted instead of referenced (the manifest
        carries the schema)."""
        import pyarrow.parquet as pq

        files = self._files(vdir)
        if len(files) == 1 and not pq.read_metadata(files[0]).num_rows:
            os.remove(files[0])
            files = []
        return [os.path.relpath(f, self.path) for f in files]

    def _whole(self, vdir: str) -> list[str]:
        """The manifest paths of a whole-content Spark write: its dir as
        ONE path, which a read lists without a job however many files it
        holds, or none when it wrote no row."""
        return [os.path.relpath(vdir, self.path)] if self._written(vdir) else []

    def _write_arrow(self, vdir: str, table) -> str:
        """One zstd parquet file of an Arrow table, written on the driver."""
        import pyarrow.parquet as pq

        os.makedirs(vdir, exist_ok=True)
        f = os.path.join(vdir, f"part-{uuid.uuid4().hex}.zstd.parquet")
        pq.write_table(table, f, compression="zstd")
        return os.path.relpath(f, self.path)

    def _merge_small(self, vdir: str, paths: list[str], schema: T.StructType) -> list[str]:
        """Merge the paths under SMALL_FILE_BYTES into one file, on the
        driver, once they hold more than MAX_SMALL_FILES files and at
        most (MAX_SMALL_FILES + 1) MiB; the merged files this commit
        just wrote are deleted (no manifest references them), older ones
        stay for time travel."""
        files = {p: self._files(p) for p in paths}
        size = {p: sum(map(os.path.getsize, files[p])) for p in paths}
        small = [p for p in paths if size[p] < SMALL_FILE_BYTES]
        if sum(len(files[p]) for p in small) <= MAX_SMALL_FILES or sum(
            size[p] for p in small
        ) > (MAX_SMALL_FILES + 1) * SMALL_FILE_BYTES:
            return paths
        merged = self._read_arrow([f for p in small for f in files[p]], schema)
        out = [p for p in paths if p not in small] + [self._write_arrow(vdir, merged)]
        self._remove_new(vdir, small)
        return out

    def _read_arrow(self, files: list[str], schema: T.StructType):
        """The rows of data files (manifest paths or absolute paths), in
        file and row order, as one Arrow table in `schema`.  Spark writes
        TIMESTAMP as INT96: it is read as microseconds, the facade's
        unit, so no year outside 1677-2262 overflows."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        return pa.concat_tables(
            pq.read_table(
                os.path.join(self.path, f), columns=arrow.names, coerce_int96_timestamp_unit="us"
            ).cast(arrow)
            for f in files
        )

    def without_rows(self, positions: dict[str, list[int]], add: list = ()) -> Delta:
        """The Delta that deletes rows by position and appends `add`
        (driver rows in schema order), with no Spark job: `positions`
        maps a data file of the latest version (a manifest path) to the
        indices of its rows to delete, as Spark's ``_metadata.row_index``
        counts them.  Each file is read on the driver, less those rows;
        the rest of it and `add` become ONE new file, and the file is
        dropped."""
        import numpy as np
        import pyarrow as pa

        from .functions import arrow_rows

        schema = _schema(self._manifest(None))
        kept = []
        for f, idx in sorted(positions.items()):
            rows = self._read_arrow([f], schema)
            keep = np.ones(rows.num_rows, dtype=bool)
            keep[idx] = False
            kept.append(rows.filter(pa.array(keep)))
        add = pa.concat_tables([*kept, arrow_rows(list(add), schema)])
        return Delta(add=add, drop=frozenset(positions))

    def _compact(self, vdir: str, paths: list[str], schema: T.StructType) -> list[str]:
        """Rewrite every path as one dir, ``<vdir>/c``, with one Spark
        job; the files this commit wrote beside it are deleted."""
        out = os.path.join(vdir, "c")
        full = [os.path.join(self.path, p) for p in paths]
        self.spark.read.schema(schema).parquet(*full).write.mode("errorifexists").parquet(out)
        self._remove_new(vdir, paths)
        return self._whole(out)

    def _remove_new(self, vdir: str, paths: list[str]) -> None:
        """Delete the files among `paths` this commit wrote into `vdir`."""
        new = os.path.relpath(vdir, self.path) + os.sep
        for p in paths:
            if p.startswith(new):
                os.remove(os.path.join(self.path, p))

    def _publish(self, v: int, schema: dict, groups: dict[str, list[str]]) -> int:
        manifest = {"schema": schema, "groups": groups}
        os.makedirs(self._mdir, exist_ok=True)
        tmp = os.path.join(self._mdir, f".m{v:08d}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        os.rename(tmp, self._mpath(v))  # the commit
        return v

    def _pv_expr(self) -> F.Column:
        """Partition value as a manifest key: cast to string, with NULL
        routed to a dedicated group (Hive's default-partition name)
        instead of silently matching no filter and vanishing.  The empty
        string joins it: ``partitionBy`` writes both to that one dir, so
        a touched "" group must rewrite the NULL rows' group, not drop
        it."""
        c = F.col(self.partition_col).cast("string")
        return F.when(c.isNull() | (c == ""), F.lit(NULL_PARTITION)).otherwise(c)

    _KEY_BROADCAST_CAP = 1_000_000

    def upsert(
        self,
        updates: DataFrame,
        key: str,
        partition_from_key: bool = False,
        extra_touched: list[str] | None = None,
    ) -> int:
        """MERGE-style upsert as the next version: surviving old rows
        UNION updated/new rows (key NULLs never match, as in standard
        MERGE).  Unpartitioned, that is one rewrite of the table with no
        job before it.

        Partitioned, only the touched groups are rewritten; the others
        carry over by reference.  Touched = groups the updates land in ∪
        groups currently HOLDING an updated key — the second set is what
        makes a partition-moving update delete its old row instead of
        leaving a stale duplicate.  Finding it costs one semi-join of
        the current table against the (small, broadcastable) update key
        set — the matched-file discovery a Delta/Iceberg MERGE performs
        with file stats.  Either argument skips that holding scan:

        * ``partition_from_key=True`` declares the partition column a
          PURE FUNCTION of ``key`` (e.g. a hash bucket): a key can never
          move, so holding ⊆ landing;
        * ``extra_touched`` NAMES the groups that may hold updated keys
          (a cluster relabel knows the old labels' buckets).  A wrong or
          short list leaves stale rows, so pass it only when the holding
          set is provably covered."""
        if self.partition_col is None:
            survivors = self.read().join(updates.select(key), key, "left_anti")
            return self.write(survivors.unionByName(updates))
        v = self.latest_version()
        if v is None:
            raise ValueError("upsert into empty table — write first")
        groups = self._manifest(v)["groups"]
        touched = {
            r[0] for r in updates.select(self._pv_expr().alias("pv")).distinct().collect()
        }
        touched |= set(extra_touched or ()) & groups.keys()
        # The key set rides a SIZE-GUARDED broadcast: forced under the
        # cap because the common incremental batch is small and the
        # frame usually derives from a cached/checkpointed plan with no
        # size statistics — hint-free planning fell back to sort-merge
        # and cost +70% on the admission path (measured r10); above the
        # cap it shuffle joins, so a bulk MERGE's key set never pins
        # executor memory.
        upd_keys = updates.select(key).where(F.col(key).isNotNull()).distinct().persist()
        try:
            probe = (
                F.broadcast(upd_keys)
                if upd_keys.count() <= self._KEY_BROADCAST_CAP
                else upd_keys
            )
            if not partition_from_key and extra_touched is None:
                touched |= {
                    r[0]
                    for r in self.read(v)
                    .join(probe, key, "left_semi")
                    .select(self._pv_expr().alias("pv"))
                    .distinct()
                    .collect()
                }
            # ONE partitionBy job rewrites every touched group: its
            # survivors (one multi-path scan, updated keys anti-joined
            # away) union the updates.  A touched group with no rows
            # left writes no dir and drops out of the manifest.
            survivors = self.read_partitions(sorted(touched), v).join(probe, key, "left_anti")
            kept = {g: d for g, d in groups.items() if g not in touched}
            return self._commit(survivors.unionByName(updates), kept)
        finally:
            upd_keys.unpersist()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Keep the newest ``keep_last`` manifests; delete every data
        file or dir and torn manifest tmp file no kept manifest
        references and — once a manifest exists — the plain files of an
        initial build.
        Time travel within the window stays intact; returns the removed
        versions.  Pure cleanup: the commits already happened, so a
        crash anywhere in here leaves a readable table and a re-runnable
        vacuum.

        ``keep_last`` must be >= 1 — keep_last=0 would delete every
        committed version (total table loss)."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must keep at least the "
                "newest version — keep_last=0 would delete the entire table"
            )
        vs = self.versions()
        if not vs:
            return []
        removed, kept = vs[:-keep_last], vs[-keep_last:]
        for v in removed:
            os.remove(self._mpath(v))
        for name in os.listdir(self._mdir):
            if not _MANIFEST_RE.match(name):
                os.remove(os.path.join(self._mdir, name))
        live = {p for v in kept for p in _paths(self._manifest(v)["groups"].values())}
        self._sweep("_data", live, {os.path.dirname(p) for p in live})
        for name in filter(_plain, os.listdir(self.path)):
            p = os.path.join(self.path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        return removed

    def _sweep(self, rel: str, live: set[str], parents: set[str]) -> None:
        """Remove every entry under `rel` that is no live path (nor a
        live file's Hadoop ``.crc``) and holds none: a version dir stays
        while a kept manifest references one of its files."""
        root = os.path.join(self.path, rel)
        for name in os.listdir(root) if os.path.isdir(root) else ():
            r = os.path.join(rel, name)
            if r in live or os.path.join(rel, _uncrc(name)) in live:
                continue
            p = os.path.join(self.path, r)
            if r in parents:
                self._sweep(r, live, parents)
            elif os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed version, or time-travel to `version`."""
        m = self._manifest(version)
        return self._scan(m, _paths(m["groups"].values()))

    def read_partitions(self, values: list[str], version: int | None = None) -> DataFrame:
        """Partition-pruned read: scan only the named groups' data dirs
        — manifest-level pruning, no file listing of the rest."""
        m = self._manifest(version)
        return self._scan(m, _paths(m["groups"][str(v)] for v in values if str(v) in m["groups"]))

    def relpath(self, file_path: str) -> str:
        """The manifest path of a data file named by a URI or an
        absolute path (``_metadata.file_path``, ``inputFiles()``)."""
        return os.path.relpath(unquote(urlparse(file_path).path), self.path)

    def _scan(self, manifest: dict, rels) -> DataFrame:
        from .functions import local_rows_df

        schema = _schema(manifest)
        paths = [os.path.join(self.path, r) for r in rels]
        if not paths:
            return local_rows_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def files(self, version: int | None = None) -> list[str]:
        """The parquet data files of a committed version."""
        return [f for r in _paths(self._manifest(version)["groups"].values()) for f in self._files(r)]

    def _files(self, rel: str) -> list[str]:
        """The parquet data files of one manifest path: itself, or the
        files a dir holds."""
        p = os.path.join(self.path, rel)
        if not os.path.isdir(p):
            return [p]
        return [
            os.path.join(p, n)
            for n in sorted(os.listdir(p))
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        ]

    def history(self) -> list[tuple[int, int, int, float]]:
        """(version, data files, data bytes, commit time) per committed
        version; the commit time is the manifest's mtime — the moment
        the version became visible."""
        out = []
        for v in self.versions():
            files = self.files(v)
            nbytes = sum(os.path.getsize(f) for f in files)
            out.append((v, len(files), nbytes, os.path.getmtime(self._mpath(v))))
        return out


def _paths(groups) -> list[str]:
    """Every data path of some manifest groups."""
    return [p for g in groups for p in g]


def _schema(manifest: dict) -> T.StructType:
    return T.StructType.fromJson(manifest["schema"])


def _uncrc(name: str) -> str:
    """The file a Hadoop ``.<name>.crc`` checksum belongs to, else `name`."""
    return name[1:-4] if name.startswith(".") and name.endswith(".crc") else name


def _plain(name: str) -> bool:
    """Is `name` (a top-level entry) part of a plain-layout build: a
    file or dir Spark's parquet listing reads, its ``_SUCCESS`` marker,
    or either one's ``.crc`` checksum?"""
    name = _uncrc(name)
    return name == "_SUCCESS" or not name.startswith(("_", "."))


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read a maintenance artifact regardless of layout: the latest
    manifest once a rewrite has committed one, else the plain parquet
    files of the initial build."""
    vt = VersionedTable(spark, path)
    if vt.latest_version() is not None:
        return vt.read()
    return spark.read.parquet(path)
