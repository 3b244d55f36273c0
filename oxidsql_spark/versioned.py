"""Versioned parquet tables: time travel, upsert, vacuum — one format.

The reference has no UPDATE/DELETE at all (README.md:51 TODO) and the
facade's rewrites swap temp views — interactive parity only. This module
is the production shape for mutating plain-parquet data at scale, the
same immutable-manifest model Delta/Iceberg formalize:

* version N is ONE manifest file, ``_manifests/m0000000N.json``: the
  Spark schema plus a map from group to data dir.  An unpartitioned
  table has a single group; a table with ``partition_col`` has one
  group per partition value;
* a commit writes its data dir ``_data/v0000000N/`` fully, then makes
  the manifest visible in one step (tmp file + ``os.rename`` on a local
  disk, one PUT on an object store).  No directory rename is ever a
  commit, so a crashed writer leaves only unreferenced files that
  readers never see, the retry clears and ``vacuum`` removes;
* a mutation of a partitioned table rewrites only the groups it
  touches; the new manifest references every other group's dir;
* every read — reopen and time travel included — takes the schema from
  the manifest, so no read runs a footer-inference job.

``read_artifact`` is the one reader of the plain layout: a write-once
artifact is plain parquet files until its first maintenance rewrite
commits a manifest beside them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from urllib.parse import unquote

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

    def write(self, df: DataFrame) -> int:
        """Commit `df` as the whole content of the next version; returns
        its version number.  Partitioned, this is ONE partitionBy pass
        over the input, whatever the number of partition values."""
        return self._commit(df, {})

    def _commit(self, df: DataFrame, groups: dict[str, str]) -> int:
        """Write `df` into the next version's data dir, then publish the
        manifest `groups` + the groups `df` wrote.  A dir at the target
        version can only be a crashed attempt's debris (no manifest
        references it), so the retry clears it instead of failing on
        errorifexists forever."""
        v = (self.latest_version() or 0) + 1
        vdir = self._vdir(v)
        rel = os.path.relpath(vdir, self.path)
        shutil.rmtree(vdir, ignore_errors=True)
        if self.partition_col is None:
            df.write.mode("errorifexists").parquet(vdir)
            groups = {_WHOLE: rel}
        else:
            groups = dict(groups)
            df.withColumn(_PV, self._pv_expr()).write.mode("errorifexists").partitionBy(
                _PV
            ).parquet(vdir)
            for name in os.listdir(vdir):
                if name.startswith(f"{_PV}="):  # undo Hive path escaping
                    groups[unquote(name[len(_PV) + 1 :])] = os.path.join(rel, name)
        manifest = {"schema": json.loads(df.schema.json()), "groups": groups}
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
        dir or torn manifest tmp file no kept manifest references and —
        once a manifest exists — the plain files of an initial build.
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
        live = {d for v in kept for d in self._manifest(v)["groups"].values()}
        data = os.path.join(self.path, "_data")
        for name in os.listdir(data) if os.path.isdir(data) else ():
            rel = os.path.join("_data", name)
            if rel in live:
                continue
            if not any(d.startswith(rel + os.sep) for d in live):
                shutil.rmtree(os.path.join(self.path, rel))
                continue
            for sub in os.listdir(os.path.join(data, name)):  # partitioned groups
                if sub.startswith(f"{_PV}=") and os.path.join(rel, sub) not in live:
                    shutil.rmtree(os.path.join(data, name, sub))
        for name in filter(_plain, os.listdir(self.path)):
            p = os.path.join(self.path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        return removed

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed version, or time-travel to `version`."""
        m = self._manifest(version)
        return self._scan(m, m["groups"].values())

    def read_partitions(self, values: list[str], version: int | None = None) -> DataFrame:
        """Partition-pruned read: scan only the named groups' data dirs
        — manifest-level pruning, no file listing of the rest."""
        m = self._manifest(version)
        return self._scan(m, [m["groups"][str(v)] for v in values if str(v) in m["groups"]])

    def _scan(self, manifest: dict, rels) -> DataFrame:
        from .functions import local_rows_df

        schema = T.StructType.fromJson(manifest["schema"])
        paths = [os.path.join(self.path, r) for r in rels]
        if not paths:
            return local_rows_df(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def files(self, version: int | None = None) -> list[str]:
        """The parquet data files of a committed version."""
        return [
            os.path.join(self.path, d, f)
            for d in self._manifest(version)["groups"].values()
            for f in os.listdir(os.path.join(self.path, d))
            if f.endswith(".parquet")
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


def _plain(name: str) -> bool:
    """Is `name` (a top-level entry) part of a plain-layout build: a
    file or dir Spark's parquet listing reads, its ``_SUCCESS`` marker,
    or either one's ``.crc`` checksum?"""
    if name.startswith(".") and name.endswith(".crc"):
        name = name[1:-4]
    return name == "_SUCCESS" or not name.startswith(("_", "."))


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read a maintenance artifact regardless of layout: the latest
    manifest once a rewrite has committed one, else the plain parquet
    files of the initial build."""
    vt = VersionedTable(spark, path)
    if vt.latest_version() is not None:
        return vt.read()
    return spark.read.parquet(path)
