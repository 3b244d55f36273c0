"""One segment store and one exactly-once sink kit for the streams.

SEGMENT STORE.  A rolling index (``dedup.SpanIndexStore`` and the
audio/image/video stores in ``multimodal``) subclasses
``SegmentStore`` and declares only what differs: its row ``schema``,
its GLOBAL cap rule ``recap``, and its probe.  The base owns the format:
one ``_SUCCESS``-fenced parquet dir ``seg_<tag>`` per committed batch
(``seg_base`` for the corpus), written by ``commit(tag, write)``, which
skips a tag already committed — so a replayed admission writes
nothing.  ``rows(exclude_tag)`` reads every live segment but the
named one: a probe excludes its own tag, so a replay after a crash
between the segment commit and the caller's landing sees the index
the first run saw.

Two costs accumulate at streaming steady state, and ``compact()``
(``compact_segments`` with the store's ``recap``) fixes both in one
pass:

  * FILE COUNT — every probe unions hundreds of micro-batch segments,
    paying a task launch + footer read per tiny file (the
    ``sinks.compact`` rationale);
  * CAP DRIFT — the hub df-caps are enforced per segment at commit
    time, so a value under the cap in each segment can accumulate
    unbounded df ACROSS segments (silence shingles, black keyframes),
    inflating probe fan-out.

It merges every live segment, re-applies the global cap and writes one
``cmp_<n>`` dir sized to ~128 MB files.  Crash safety is a pointer
protocol, not renames: ``_COMPACTED`` (a JSON file replaced atomically)
names the ``active`` compacted dir and the ``retired`` inputs, and
``list_segments`` honors it:

  * crash BEFORE the pointer lands — the cmp dir is invisible (only
    the pointer can activate it); the old segments still serve;
  * crash AFTER the pointer, before the lazy deletes — retired dirs
    are excluded by the pointer and removed on the next compaction.

QUIESCENCE CONTRACT: compaction must run while the stream is stopped
and every batch's segment is committed.  Once a segment is folded into
a cmp dir the probe's own-tag exclusion is vacuous, so a replay of an
OLD batch would see its own rows in the corpus side.  Streaming
checkpoints never re-deliver committed batches, so the steady-state
maintenance pattern (stop stream -> compact -> restart) upholds the
contract by construction — the same window any index rebuild needs.

SINKS.  foreachBatch redelivers a batch at least once; a sink built on
the pieces below lands each batch exactly once, and every such sink is
a ``scoped_sink``, so the batch's scoped caches are released once it
has landed (a long-running stream's cachescope ledger never grows per
batch):

  * ``land_batch`` — batch-keyed ``batch=<id>`` dirs, each replaced by a
    tmp write + rename swap: a replay replaces exactly its own dir, and
    a concurrent reader sees a complete copy, old or new;
  * ``store_sink`` — a store's deterministic ``probe_admit`` per batch
    (the replayed tag skips its committed segment), the disposition
    overwriting ``batch=<%08d>``;
  * ``marked_sink`` — for a non-idempotent apply step: the BATCH MARKER
    (``read_marker``/``write_marker``, an atomically replaced JSON file)
    records the last applied batch id and the state version it
    committed.  The marker is written before the sink returns and the
    stream commits its checkpoint only after that, so at most ONE batch
    — the redelivered one — can be applied but untagged.  A batch id
    at or under the marker is skipped; a state version NEWER than the
    marker's is that one batch, and is only re-tagged.

``file_stream`` is the shared file-source tail: one parquet file per
micro-batch into a foreachBatch sink.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .cachescope import release_scoped_caches
from .functions import local_rows_df

_POINTER = "_COMPACTED"
_MARKER = "_stream_batch.json"
_TARGET_FILE_MB = 128


def _read_pointer(path: str) -> dict | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as fh:
            return json.load(fh)
    except ValueError:
        return None  # torn write of the tmp-replace never happens; belt
    except OSError:
        return None


def list_segments(path: str) -> list[str]:
    """Every live segment dir: the pointer's active cmp dir (if any)
    plus all committed ``seg_*`` dirs the pointer hasn't retired."""
    if not os.path.isdir(path):
        return []
    ptr = _read_pointer(path)
    retired = set(ptr.get("retired", [])) if ptr else set()
    out: list[str] = []
    if ptr and ptr.get("active"):
        d = os.path.join(path, ptr["active"])
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            out.append(d)
    for n in sorted(os.listdir(path)):
        if (
            n.startswith("seg_")
            and n not in retired
            and os.path.exists(os.path.join(path, n, "_SUCCESS"))
        ):
            out.append(os.path.join(path, n))
    return out


def _dir_bytes(paths: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for p in paths
        for r, _, fs in os.walk(p)
        for f in fs
    )


def compact_segments(
    spark: SparkSession,
    path: str,
    recap: Callable[[DataFrame], DataFrame],
    target_file_mb: int = _TARGET_FILE_MB,
) -> int:
    """Merge all live segments through ``recap`` (the store's GLOBAL
    cap rule — identity for uncapped stores) into one cmp dir, commit
    it by atomically replacing the ``_COMPACTED`` pointer, then lazily
    delete the retired inputs.  Returns the number of segments folded
    (0 = nothing to do).  See the module docstring for the crash-safety
    and quiescence contracts."""
    import math

    segs = list_segments(path)
    if len(segs) <= 1:
        return 0
    merged = recap(spark.read.parquet(*segs))
    n_files = max(1, math.ceil(_dir_bytes(segs) / (target_file_mb << 20)))
    existing = [
        int(n.split("_", 1)[1])
        for n in os.listdir(path)
        if n.startswith("cmp_") and n.split("_", 1)[1].isdigit()
    ]
    cname = f"cmp_{(max(existing) if existing else 0) + 1:08d}"
    merged.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(path, cname)
    )
    old = _read_pointer(path) or {}
    retired = sorted(
        set(old.get("retired", [])) | {os.path.basename(s) for s in segs}
    )
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"active": cname, "retired": retired}, fh)
    os.replace(tmp, os.path.join(path, _POINTER))
    for n in retired:
        shutil.rmtree(os.path.join(path, n), ignore_errors=True)
    return len(segs)


class SegmentStore:
    """A rolling index kept as committed segments (module docstring).
    A subclass declares ``schema`` (the DDL of its rows) and ``recap``
    (its GLOBAL cap rule, re-applied by ``compact``), and adds its
    probe."""

    schema: str

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _seg_dir(self, tag: str) -> str:
        return os.path.join(self.path, f"seg_{tag}")

    def _segments(self) -> list[str]:
        return list_segments(self.path)

    def recap(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def rows(self, exclude_tag: str | None = None) -> DataFrame:
        """Every live segment's rows, without segment ``exclude_tag``."""
        segs = [
            p
            for p in self._segments()
            if exclude_tag is None or os.path.basename(p) != f"seg_{exclude_tag}"
        ]
        if not segs:
            return local_rows_df(self.spark, [], self.schema)
        cols = [c.split()[0] for c in self.schema.split(",")]
        return self.spark.read.parquet(*segs).select(*cols)

    def commit(self, tag: str, write: Callable[[str], None]) -> None:
        """``write(seg_dir)`` segment ``tag`` unless it is committed."""
        seg = self._seg_dir(tag)
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            write(seg)

    def compact(self) -> int:
        """Fold all committed segments into one through ``recap``.  Run
        at a quiescent point only (module docstring)."""
        return compact_segments(self.spark, self.path, self.recap)


def scoped_sink(body: Callable[[DataFrame, int], None]):
    """The foreachBatch function running ``body(batch_df, batch_id)``,
    then releasing the scoped caches the batch made."""

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        try:
            body(batch_df, int(batch_id))
        finally:
            release_scoped_caches()

    return _sink


def land_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Write ``df`` as ``root/batch=<batch_id>``, replacing a replayed
    batch's copy by a rename swap."""
    dest = os.path.join(root, f"batch={batch_id}")
    tmp = os.path.join(root, f".batch_{batch_id}.tmp")
    old = os.path.join(root, f".batch_{batch_id}.old")
    shutil.rmtree(tmp, ignore_errors=True)  # crashed replay debris
    # a crash BETWEEN the two swap renames strands the previous copy at
    # .old with dest missing — the dest-missing branch below would
    # never reclaim it, so clear it here too
    shutil.rmtree(old, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(dest):  # replayed batch: swap out the old copy
        os.rename(dest, old)
        os.rename(tmp, dest)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.makedirs(root, exist_ok=True)
        os.rename(tmp, dest)


def store_sink(store: SegmentStore, out_dir: str):
    """foreachBatch sink admitting each batch through
    ``store.probe_admit`` under tag ``b<%08d>`` and landing the
    disposition in ``out_dir/batch=<%08d>`` (overwrite: a redelivered
    batch rewrites identical rows)."""

    @scoped_sink
    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        disp = store.probe_admit(batch_df, f"b{batch_id:08d}")
        disp.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id:08d}")
        )

    return _sink


def read_marker(path: str) -> dict:
    """The batch marker under ``path``; batch -1 at version 0 if none."""
    p = os.path.join(path, _MARKER)
    if not os.path.exists(p):
        return {"batch_id": -1, "version": 0}
    with open(p) as f:
        return json.load(f)


def write_marker(path: str, **marker: int) -> None:
    """Atomically replace the batch marker under ``path``."""
    tmp = os.path.join(path, _MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump({k: int(v) for k, v in marker.items()}, f)
    os.replace(tmp, os.path.join(path, _MARKER))


def marked_sink(
    path: str, latest: Callable[[], int], apply: Callable[[DataFrame], int]
):
    """foreachBatch sink folding each non-empty batch into a versioned
    state once: ``apply(batch_df)`` commits and returns the new version,
    ``latest()`` reads the committed one.  Assumes the stream is the
    state's only writer while it runs.  With no marker yet, it first
    pins the pre-stream version as batch -1, so a redelivered batch 0
    against state built BEFORE the stream is not taken for an untagged
    batch-0 commit."""
    if not os.path.exists(os.path.join(path, _MARKER)):
        os.makedirs(path, exist_ok=True)
        write_marker(path, batch_id=-1, version=latest())

    @scoped_sink
    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        m = read_marker(path)
        if batch_id <= m["batch_id"]:
            return  # at-least-once replay of a fully-committed batch
        v = latest()
        if v > m["version"]:
            # this batch's apply committed but the crash hit before the
            # marker write — tag it, never re-apply
            write_marker(path, batch_id=batch_id, version=v)
            return
        if batch_df.isEmpty():
            return
        write_marker(path, batch_id=batch_id, version=apply(batch_df))

    return _sink


def file_stream(
    spark: SparkSession, schema: str, source_dir: str, sink, checkpoint_dir: str
):
    """The ready DataStreamWriter (caller .start()s it) feeding one
    parquet file of ``source_dir`` per micro-batch to ``sink``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
