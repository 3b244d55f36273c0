"""Per-job profiler for bench heads (guide §1: measure first).

Mirrors bench.py's protocol (multifile base, noop sink, warmup + timed
runs, scoped-cache release per head) but enables the Spark event log and
parses it into per-job wall-clock + shuffle bytes, attributed to the
head + run that submitted it via setJobDescription.  This is how we see
WHERE a 6 s head spends its time (one big job? 30 closure micro-jobs?
a fetch-bound stage?) without the (disabled) UI.

Usage: python tools/profile_head.py mm_video_dedup dedup_ngram_jaccard ...
       (no args = the top heads by BENCH_detail_c{SPARK_GRAFT_CPUS}.json cost)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oxidsql_spark.registry import load_all


def get_spark_logged(app_name: str, log_dir: str):
    """The REAL session factory plus the event log: profiles must see
    the exact configs the bench runs under (preferSortMergeJoin, zstd,
    ... — a hand-copied builder here silently drifted when session.py
    gained the r14 settings, so profiled plans stopped matching benched
    plans).  getOrCreate applies .config before the context exists, so
    routing through get_spark with the event-log configs pre-seeded in
    the builder is not possible; instead mutate the module-level
    defaults get_spark reads — simplest is to stop the per-process
    session first and let get_spark build fresh with our extras."""
    from pyspark.sql import SparkSession

    # Seed the event-log settings via the builder get_spark uses:
    # SparkSession.builder is a fresh Builder per access, so pass them
    # through the SparkConf-level environment instead.
    import os as _os

    prev = _os.environ.get("PYSPARK_SUBMIT_ARGS")
    _os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir={log_dir} "
        f"--conf spark.eventLog.compress=false pyspark-shell"
    )
    from oxidsql_spark.session import get_spark

    try:
        spark = get_spark(app_name)
    finally:
        # restore the env (r14 ADVICE): the JVM is already launched with
        # the extra confs; leaving them in the process env would leak
        # into any LATER session this process builds
        if prev is None:
            _os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        else:
            _os.environ["PYSPARK_SUBMIT_ARGS"] = prev
    assert spark.conf.get("spark.eventLog.enabled") == "true", (
        "event log did not take — a pre-existing SparkSession in this "
        "process? run the profiler as its own process"
    )
    return spark


def parse_event_log(log_dir: str) -> list[dict]:
    """One row per job: description, duration, n stages, task time,
    shuffle bytes."""
    files = []
    for root, _dirs, fs in os.walk(log_dir):
        files.extend(os.path.join(root, f) for f in fs if "events" in f or f.startswith("local-"))
    if not files:
        for root, _dirs, fs in os.walk(log_dir):
            files.extend(os.path.join(root, f) for f in fs)
    paths = sorted(files, key=os.path.getmtime)
    path = None
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    def lines():
        for p in paths:
            if os.path.basename(p).startswith("appstatus"):
                continue
            with open(p) as fh:
                yield from fh
    for line in lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "desc": props.get("spark.job.description", ""),
                "t0": ev["Submission Time"],
                "stages": 0,
                "tasks": 0,
                "task_ms": 0,
                "sh_read": 0,
                "sh_write": 0,
                "input": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_to_job[sid] = jid
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["dur_ms"] = ev["Completion Time"] - jobs[jid]["t0"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            jid = stage_to_job.get(si["Stage ID"])
            if jid is None or jid not in jobs:
                continue
            j = jobs[jid]
            j["stages"] += 1
            j["tasks"] += si.get("Number of Tasks", 0)
        elif e == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            jid = stage_to_job.get(sid)
            if jid is None or jid not in jobs:
                continue
            j = jobs[jid]
            m = ev.get("Task Metrics") or {}
            j["task_ms"] += m.get("Executor Run Time", 0)
            srm = m.get("Shuffle Read Metrics") or {}
            j["sh_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                "Local Bytes Read", 0
            )
            swm = m.get("Shuffle Write Metrics") or {}
            j["sh_write"] += swm.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            j["input"] += im.get("Bytes Read", 0)
    return [jobs[k] for k in sorted(jobs)]


def _top_heads(n: int = 5) -> list[str]:
    """The ``n`` heads with the largest warm median in the bench detail
    of the current core count, ``BENCH_detail_c{SPARK_GRAFT_CPUS}.json``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(os.path.join(root, f"BENCH_detail_c{cpus}.json")) as fh:
        warm = json.load(fh)["queries"]
    return sorted(warm, key=warm.get, reverse=True)[:n]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    heads = sys.argv[1:] or _top_heads()
    log_dir = "/tmp/oxidsql_profile_eventlog"
    import shutil
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    spark = get_spark_logged("oxidsql-profile", log_dir)
    from bench import _multifile_base

    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.sources import TABLES, table

    sf_dir, _ = _multifile_base(spark, sf_dir)
    for t in TABLES:
        table(spark, sf_dir, t).count()

    qs = load_all()

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    wall: dict[str, dict[str, float]] = {}
    for name in heads:
        sc.setJobDescription(f"{name}|warmup")
        t0 = time.perf_counter()
        materialize(qs[name].fn(spark, sf_dir))
        warm = time.perf_counter() - t0
        sc.setJobDescription(f"{name}|timed")
        t0 = time.perf_counter()
        materialize(qs[name].fn(spark, sf_dir))
        timed = time.perf_counter() - t0
        sc.setJobDescription(None)
        wall[name] = {"warmup": round(warm, 3), "timed": round(timed, 3)}
        release_scoped_caches()
    spark.stop()

    time.sleep(1.0)
    jobs = parse_event_log(log_dir)
    out = {"wall": wall, "jobs": jobs}
    with open("/tmp/profile_heads.json", "w") as fh:
        json.dump(out, fh, indent=1)
    for name in heads:
        print(f"== {name}  warmup={wall[name]['warmup']}s timed={wall[name]['timed']}s")
        for phase in ("warmup", "timed"):
            sel = [j for j in jobs if j["desc"] == f"{name}|{phase}"]
            tot = sum(j.get("dur_ms", 0) for j in sel)
            print(f"  {phase}: {len(sel)} jobs, {tot} ms job time")
            for j in sel:
                print(
                    f"    job {j['job']:4d} {j.get('dur_ms', -1):6d} ms"
                    f" stages={j['stages']:2d} tasks={j['tasks']:4d}"
                    f" taskms={j['task_ms']:6d}"
                    f" shR={j['sh_read'] >> 10:8d}K shW={j['sh_write'] >> 10:8d}K"
                    f" in={j['input'] >> 10:8d}K"
                )


if __name__ == "__main__":
    main()
