"""Snapshot-versioned parquet tables: time travel, rollback, upsert.

The reference has no UPDATE/DELETE at all (README.md:51 TODO) and the
facade's rewrites swap temp views — interactive parity only. This module
is the production shape for mutating plain-parquet data at scale, the
same immutable-snapshot model Delta/Iceberg formalize:

* every mutation writes a NEW complete snapshot directory
  (`_v00000001/…`) and never touches prior ones — readers are isolated
  from writers for free;
* commit = the atomic appearance of the snapshot's `_SUCCESS` marker
  (written last); a crashed writer leaves an uncommitted directory that
  readers skip and `vacuum` removes;
* time travel = read an older snapshot; rollback = write the old
  snapshot's content as a new version (history stays linear).

At 100 TB a full-snapshot copy per mutation is the right baseline for
small dimension tables; fact tables would layer partition-scoped
snapshots (only rewritten partitions advance) — same commit protocol.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VERSION_RE = re.compile(r"^_v(\d{8})$")

# Manifest bucket for rows whose partition value is NULL (Hive's name).
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class VersionedTable:
    """A directory of immutable parquet snapshots with atomic commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # version -> schema of the frame this instance wrote there: a
        # read-back of its own commit skips parquet's schema-inference
        # job (one footer-reading Spark job per read)
        self._written_schema: dict = {}
        os.makedirs(path, exist_ok=True)

    # -- commit log ------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions, ascending (uncommitted dirs are invisible)."""
        out = []
        for name in os.listdir(self.path):
            m = _VERSION_RE.match(name)
            if m and os.path.exists(os.path.join(self.path, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"_v{version:08d}")

    # -- write side ------------------------------------------------------

    def write(self, df: DataFrame) -> int:
        """Commit `df` as the next snapshot; returns its version number.
        The parquet job writes _SUCCESS last, so a crash mid-write leaves
        an invisible (uncommitted) directory, never a torn table.  A
        RETRY after such a crash finds that uncommitted directory at its
        own target version and clears it first — only _SUCCESS-bearing
        dirs are commits, so an uncommitted dir is always safe debris
        (without this, the errorifexists write would fail permanently
        and e.g. a replayed streaming refresh could never make
        progress)."""
        import shutil

        next_v = (self.latest_version() or 0) + 1
        vdir = self._vdir(next_v)
        if os.path.isdir(vdir):  # crashed (uncommitted) attempt's debris
            shutil.rmtree(vdir)
        df.write.mode("errorifexists").parquet(vdir)
        self._written_schema[next_v] = df.schema
        return next_v

    def upsert(self, updates: DataFrame, key: str) -> int:
        """MERGE-style upsert as a snapshot: surviving old rows UNION
        updated/new rows -> next version. Matches standard MERGE (key
        NULLs never match)."""
        current = self.read()
        survivors = current.join(updates.select(key), key, "left_anti")
        return self.write(survivors.unionByName(updates))

    def delete_where(self, condition) -> int:
        """DELETE as a snapshot: only rows where the predicate is not
        TRUE survive (standard SQL DELETE semantics)."""
        current = self.read()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self.write(current.filter(~cond.eqNullSafe(True)))

    def rollback(self, version: int) -> int:
        """Restore an old snapshot's content as a NEW version (history
        stays append-only; nothing is rewritten in place)."""
        return self.write(self.read(version))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest `keep_last` committed snapshots plus
        any uncommitted (crashed) directories. Returns removed versions.
        ``keep_last`` must be >= 1 — keep_last=0 would delete every
        committed snapshot (total table loss)."""
        import shutil

        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must keep at least the "
                "newest version — keep_last=0 would delete the entire table"
            )
        committed = self.versions()
        removed = committed[:-keep_last]
        for v in removed:
            shutil.rmtree(self._vdir(v))
        for name in os.listdir(self.path):
            m = _VERSION_RE.match(name)
            if m and not os.path.exists(os.path.join(self.path, name, "_SUCCESS")):
                shutil.rmtree(os.path.join(self.path, name))
        return removed

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed snapshot, or time-travel to `version`."""
        v = version if version is not None else self.latest_version()
        if v is None or v not in self.versions():
            raise ValueError(f"no committed version {version!r} at {self.path}")
        reader = self.spark.read
        if v in self._written_schema:
            reader = reader.schema(self._written_schema[v])
        return reader.parquet(self._vdir(v))


class SnapshotArtifact:
    """Object-store-safe commit wrapper for single-relation maintenance
    artifacts (Bloom word tables, compacted / z-ordered directories).

    ``path`` holds either the initial plain parquet files (the
    write-once build — already safe: a fresh-path write with no readers)
    or committed snapshot dirs ``_v0000000N/`` (after the first
    maintenance rewrite).  A rewrite NEVER renames or deletes live data
    to commit: the new snapshot is written into the next ``_v`` dir, and
    the parquet job's ``_SUCCESS`` marker (written last) IS the commit —
    one object PUT, atomic on object stores where a directory rename is
    copy+delete with a visible half-state.  Readers resolve the newest
    committed snapshot and fall back to the plain layout; superseded
    copies are removed only in the post-commit retention step
    (``finalize``), which a crash can skip harmlessly — the next
    maintenance run cleans up.  Underscore-prefixed snapshot dirs are
    invisible to Spark's file listing, so a plain-layout artifact with a
    crashed (uncommitted) snapshot beside it still reads exactly its old
    content."""

    # legacy rename-swap suffixes a pre-manifest crash may have left
    _LEGACY_SUFFIXES = (".__old__", ".__compact__", ".__merge__")

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._vt = VersionedTable(spark, path)

    def read(self) -> DataFrame:
        """Current content: newest committed snapshot, else plain files."""
        v = self._vt.latest_version()
        if v is not None:
            return self._vt.read(v)
        return self.spark.read.parquet(self.path)

    def data_dir(self) -> str:
        """Directory holding the current content's files (flat)."""
        v = self._vt.latest_version()
        return self._vt._vdir(v) if v is not None else self.path

    def data_bytes(self) -> int:
        """Size of the CURRENT content only — never counts superseded
        plain files or other snapshots."""
        d = self.data_dir()
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def next_dir(self) -> str:
        """Where the rewrite writes its output (mode ``errorifexists``);
        the write job committing ``_SUCCESS`` there makes it live.
        Numbered past every EXISTING ``_v`` dir, committed or not, so a
        crashed (uncommitted) rewrite never blocks the next one — its
        debris is swept by ``finalize``'s vacuum.  Single maintenance
        writer per artifact is assumed (concurrent writers would race
        on the version number — serialize maintenance externally)."""
        existing = [
            int(m.group(1))
            for name in os.listdir(self.path)
            if (m := _VERSION_RE.match(name))
        ]
        return self._vt._vdir(max(existing, default=0) + 1)

    def finalize(self, keep_last: int = 2) -> None:
        """Post-commit retention: retire the migrated plain files (now
        invisible to readers), drop snapshots beyond ``keep_last`` plus
        uncommitted (crashed) dirs, and clear legacy rename-swap debris.
        Pure cleanup — the commit already happened; crashing anywhere in
        here leaves a readable artifact and a re-runnable cleanup."""
        import shutil

        if self._vt.latest_version() is None:
            return
        for name in os.listdir(self.path):
            if _VERSION_RE.match(name):
                continue
            p = os.path.join(self.path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        self._vt.vacuum(keep_last=keep_last)
        base = self.path.rstrip("/")
        for suf in self._LEGACY_SUFFIXES:
            if os.path.isdir(base + suf):
                shutil.rmtree(base + suf)


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read a maintenance artifact regardless of layout: the newest
    committed snapshot if the path has been rewritten through
    ``SnapshotArtifact``, else the plain parquet files of the initial
    build."""
    return SnapshotArtifact(spark, path).read()


class PartitionedVersionedTable:
    """Partition-scoped snapshots for FACT tables: a mutation rewrites
    only the partitions it touches; every other partition's files are
    referenced, not copied.

    Layout:
      path/_data/<partition>=<value>/g<generation>/   immutable parquet
      path/_manifests/m00000001.json                  version manifest

    A manifest maps partition value -> its current data directory; commit
    is an atomic rename of the manifest file (POSIX). Reading version N
    is one multi-path parquet scan over the manifest's directories, so
    time travel and reader isolation cost nothing at any scale. This is
    the minimal form of the Iceberg/Delta manifest model, and the answer
    to "what does UPDATE mean at 100 TB": touched partitions advance a
    generation; a 10-row upsert into one day of a year-partitioned fact
    table rewrites 1/365 of the data."""

    def __init__(self, spark: SparkSession, path: str, partition_col: str):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "_data"), exist_ok=True)

    # -- manifests -------------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.path, "_manifests")):
            m = re.match(r"^m(\d{8})\.json$", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _manifest(self, version: int) -> dict[str, str]:
        import json

        with open(os.path.join(self.path, "_manifests", f"m{version:08d}.json")) as fh:
            return json.load(fh)

    def _commit_manifest(self, version: int, manifest: dict[str, str]) -> None:
        import json

        mdir = os.path.join(self.path, "_manifests")
        tmp = os.path.join(mdir, f".m{version:08d}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        os.rename(tmp, os.path.join(mdir, f"m{version:08d}.json"))  # atomic

    def _pv_expr(self) -> F.Column:
        """Partition value as a manifest key: cast to string, with NULL
        routed to a dedicated bucket (Hive's default-partition name)
        instead of silently matching no filter and vanishing."""
        c = F.col(self.partition_col).cast("string")
        return F.when(c.isNull(), F.lit(NULL_PARTITION)).otherwise(c)

    def _partition_slice(self, df: DataFrame, value: str) -> DataFrame:
        if value == NULL_PARTITION:
            return df.filter(F.col(self.partition_col).isNull())
        return df.filter(F.col(self.partition_col).cast("string") == value)

    # -- write side ------------------------------------------------------

    def write_full(self, df: DataFrame) -> int:
        """Initial (or full-refresh) load in ONE pass: a single
        ``partitionBy`` write job splits the input by partition value
        (N partitions != N scans of the input — the old shape ran one
        filtered job per value, O(N·scan)), then the written dirs are
        renamed into the manifest layout and committed. Rows with a NULL
        partition value land in the ``__HIVE_DEFAULT_PARTITION__``
        bucket, not on the floor."""
        import shutil
        from urllib.parse import unquote

        next_v = (self.versions()[-1] if self.versions() else 0) + 1
        stage = os.path.join(self.path, "_data", f".stage_v{next_v:08d}")
        # a crashed earlier attempt at this same version may have left
        # the stage and/or partial g{next_v} dirs — the manifest is the
        # commit point, so anything it doesn't reference is safe to
        # clear, and clearing makes the retry deterministic instead of
        # failing on errorifexists
        shutil.rmtree(stage, ignore_errors=True)
        # __pv__ duplicates the partition col so the data files keep the
        # original column (partitionBy strips its partition key from the
        # files, and read() scans g-dirs directly without Hive discovery)
        df.withColumn("__pv__", self._pv_expr()).write.mode("errorifexists").partitionBy(
            "__pv__"
        ).parquet(stage)
        manifest = {}
        for name in sorted(os.listdir(stage)):
            if not name.startswith("__pv__="):
                continue  # _SUCCESS marker etc.
            value = unquote(name[len("__pv__=") :])  # undo Hive path escaping
            rel = os.path.join("_data", f"{self.partition_col}={value}", f"g{next_v:08d}")
            dest = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if os.path.isdir(dest):  # uncommitted debris of a crashed attempt
                shutil.rmtree(dest)
            os.rename(os.path.join(stage, name), dest)
            manifest[value] = rel
        shutil.rmtree(stage)
        self._commit_manifest(next_v, manifest)
        return next_v

    def upsert(
        self,
        updates: DataFrame,
        key: str,
        partition_from_key: bool = False,
        extra_touched: list[str] | None = None,
    ) -> int:
        """MERGE touching only the affected partitions: each touched
        partition's survivors + its updates become a new generation
        directory; untouched partitions carry over by reference in the
        new manifest. Per-touched-partition jobs are the point here
        (touched count is small by design); NULL partition values route
        to the default bucket like write_full.

        Touched = partitions the updates land in ∪ partitions currently
        HOLDING an updated key — the second set is what makes a
        partition-moving update (key's partition column changes) delete
        its old row instead of leaving a stale duplicate. Finding it
        costs one semi-join of each current partition against the
        (small, broadcastable) update key set — the same matched-file
        discovery a Delta/Iceberg MERGE performs with file stats.

        ``partition_from_key=True`` declares the partition column a PURE
        FUNCTION of ``key`` (e.g. a hash bucket): a key then can never
        move partitions, holding ⊆ landing, and the holding scan — the
        one full-snapshot read in this method — is skipped entirely.
        That makes the upsert's I/O strictly proportional to the touched
        buckets, the property incremental SCD2 maintenance needs.

        ``extra_touched`` is the other way to skip the holding scan:
        the caller NAMES the partitions that may hold updated keys
        (it often knows — e.g. a cluster-relabel knows the old labels'
        buckets).  Rows of updated keys are then dropped from exactly
        landing ∪ extra_touched; a wrong/short list leaves stale rows,
        so only pass it when the holding set is provably covered."""
        from pyspark.sql import functions as F

        vs = self.versions()
        if not vs:
            raise ValueError("upsert into empty table — write_full first")
        current = dict(self._manifest(vs[-1]))
        next_v = vs[-1] + 1
        touched = {
            r[0] for r in updates.select(self._pv_expr().alias("pv")).distinct().collect()
        }
        if extra_touched is not None:
            touched |= {v for v in extra_touched if v in current}
        # partitions holding any updated key (checked in one job over
        # the current snapshot).  The key set rides a SIZE-GUARDED
        # broadcast: forced under the cap because the common
        # incremental batch is small and the frame usually derives
        # from a cached/checkpointed plan with no size statistics —
        # hint-free planning fell back to sort-merge and cost +70% on
        # the admission path (measured r10); above the cap it shuffle
        # joins, so a bulk MERGE's key set never pins executor memory.
        upd_keys = (
            updates.select(key).where(F.col(key).isNotNull()).distinct().persist()
        )
        try:
            if upd_keys.count() <= self._KEY_BROADCAST_CAP:
                upd_probe = F.broadcast(upd_keys)
            else:
                upd_probe = upd_keys
            return self._upsert_with_keys(
                updates, key, current, next_v, touched, upd_probe,
                partition_from_key, extra_touched, vs,
            )
        finally:
            upd_keys.unpersist()

    _KEY_BROADCAST_CAP = 1_000_000

    def _upsert_with_keys(
        self, updates, key, current, next_v, touched, upd_keys,
        partition_from_key, extra_touched, vs,
    ) -> int:
        if current and not partition_from_key and extra_touched is None:
            snapshot = self.read(vs[-1])
            holding = (
                snapshot.join(upd_keys, key, "left_semi")
                .select(self._pv_expr().alias("pv"))
                .distinct()
                .collect()
            )
            touched |= {r[0] for r in holding}
        # ONE staged partitionBy job rewrites every touched partition
        # (the old shape ran one write job per touched value — O(N)
        # job-scheduling overhead for an N-bucket relabel): survivors
        # of the touched partitions (one multi-path scan, updated keys
        # anti-joined away) union the updates, split by partition value
        # in a single pass, then the written dirs rename into the
        # manifest layout.  A touched partition with no surviving and
        # no updated rows simply emits no directory and drops out of
        # the manifest.
        import shutil
        from urllib.parse import unquote

        held_paths = [
            os.path.join(self.path, current[v]) for v in sorted(touched) if v in current
        ]
        combined = updates
        if held_paths:
            survivors = self.spark.read.parquet(*held_paths).join(
                upd_keys, key, "left_anti"
            )
            combined = survivors.unionByName(updates)
        stage = os.path.join(self.path, "_data", f".stage_v{next_v:08d}")
        # clear a crashed earlier attempt's stage/dest debris (nothing
        # uncommitted is referenced by any manifest) so the retry the
        # admission protocols document ("deterministic no-op-then-
        # retry") actually recomputes instead of dying on errorifexists
        shutil.rmtree(stage, ignore_errors=True)
        combined.withColumn("__pv__", self._pv_expr()).write.mode(
            "errorifexists"
        ).partitionBy("__pv__").parquet(stage)
        written = set()
        for name in sorted(os.listdir(stage)):
            if not name.startswith("__pv__="):
                continue
            value = unquote(name[len("__pv__=") :])
            rel = os.path.join(
                "_data", f"{self.partition_col}={value}", f"g{next_v:08d}"
            )
            dest = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if os.path.isdir(dest):  # uncommitted debris of a crashed attempt
                shutil.rmtree(dest)
            os.rename(os.path.join(stage, name), dest)
            current[value] = rel
            written.add(value)
        shutil.rmtree(stage)
        for value in touched - written:  # emptied partitions leave the manifest
            current.pop(value, None)
        self._commit_manifest(next_v, current)
        return next_v

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Reclaim generation directories no manifest in the retained
        window references (VersionedTable.vacuum's twin for the manifest
        model): keep the newest ``keep_last`` versions' manifests, drop
        older manifests, then delete any partition generation dir none
        of the survivors point at. Time travel within the window stays
        intact; returns the removed relative paths.

        ``keep_last`` must be >= 1: a zero/negative window would compute
        an empty keep set and delete every manifest plus all generation
        data — total table loss from a plausible-looking argument."""
        import shutil

        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must keep at least the "
                "newest version — keep_last=0 would delete the entire table"
            )
        vs = self.versions()
        keep_vs = vs[-keep_last:]
        live = {rel for v in keep_vs for rel in self._manifest(v).values()}
        removed: list[str] = []
        for v in vs:
            if v not in keep_vs:
                os.remove(os.path.join(self.path, "_manifests", f"m{v:08d}.json"))
        data_root = os.path.join(self.path, "_data")
        if os.path.isdir(data_root):
            for part_dir in sorted(os.listdir(data_root)):
                pdir = os.path.join(data_root, part_dir)
                if not os.path.isdir(pdir):
                    continue
                for gen in sorted(os.listdir(pdir)):
                    rel = os.path.join("_data", part_dir, gen)
                    if rel not in live:
                        shutil.rmtree(os.path.join(data_root, part_dir, gen))
                        removed.append(rel)
        return removed

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        vs = self.versions()
        v = version if version is not None else (vs[-1] if vs else None)
        if v is None or v not in vs:
            raise ValueError(f"no committed version {version!r} at {self.path}")
        paths = [os.path.join(self.path, rel) for rel in self._manifest(v).values()]
        return self.spark.read.parquet(*paths)

    def read_partitions(self, values: list[str], version: int | None = None) -> DataFrame:
        """Partition-pruned read: scan only the named partitions' data
        dirs — manifest-level pruning, no file listing of the rest."""
        vs = self.versions()
        v = version if version is not None else (vs[-1] if vs else None)
        if v is None or v not in vs:
            raise ValueError(f"no committed version {version!r} at {self.path}")
        manifest = self._manifest(v)
        paths = [
            os.path.join(self.path, manifest[str(val)])
            for val in values
            if str(val) in manifest
        ]
        if not paths:
            return self.read(v).limit(0)
        return self.spark.read.parquet(*paths)
