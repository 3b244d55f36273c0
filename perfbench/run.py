"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_heads --seed 1 --seconds 15 --trace 0

Runs one workload (see workloads.py) as a closed loop with a single
client on local[<cores>], from the root of a source checkout: set-up,
one warm-up round, then as many timed rounds as take --seconds on the
reference host (see CALIB_REF_S), then the output checks.  It prints
as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, from a run in which every op is run once untraced and once traced.

Input tables are generated once per checkout under .bench_work/ (see
datagen.py) by a separate preparation process, so set-up time never
includes building them.  Everything a run leaves in .bench_work/ is
removed at the end of the run except the prepared tables and the
trace file.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SF = 0.01
DATA_SEED = 42
CPUS = len(os.sched_getaffinity(0))
DATA_DIR = os.path.join(WORK, "data", f"sf{SF}-seed{DATA_SEED}-c{CPUS}")
DRIVER_MEM = "2g"
# Host-speed normalisation.  On a shared 4-vCPU VM the speed of one core
# was seen to change by up to 2x within minutes (the same Python loop
# took 0.21-0.46 s within one hour), far more than a change must be
# caught by.
# Every op latency is therefore multiplied by CALIB_REF_S / (the
# calibration kernel's time measured around it), i.e. reported in seconds
# of a host on which the kernel takes CALIB_REF_S.  Raw seconds are
# printed too.  Set-up time is not normalised (see main).
# The kernel is only timed while the engine is idle (see quiet_calib), so
# the engine's own background work cannot move the divisor.
CALIB_REF_S = 0.03
CALIB_REPS = 5
# engine CPU allowed across a kernel, as a share of the kernel's time
QUIET_SHARE = 0.05
QUIET_TRIES = 10
_MB = 1 << 20

sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _env() -> None:
    """Session environment, set before the JVM starts: every temp and
    spill dir inside the work dir, and the checkout on the Python
    workers' import path."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no JVM, the spark-submit launcher included, writes its perf-data
    # file to /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # a fixed heap size, so the collector's work does not depend on when it
    # chose to grow the heap (the heap is not pre-touched: peak_mem_mb
    # reads what the heap holds, see jvm_mem_mb)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _start_spark(app: str):
    from oxidsql_spark.session import get_spark

    return get_spark(app, CPUS)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)
    to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare() -> None:
    """Generate the input tables and re-lay them as the multi-file base
    bench.py benches on.  Runs in its own process; builds into a fresh
    dir and renames it into place, so a crash leaves no half-built base."""
    import bench
    import datagen

    _env()
    build = f"{DATA_DIR}.build_{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    raw = os.path.join(build, "raw")
    datagen.write(raw, SF, DATA_SEED)
    spark = _start_spark("perfbench-prepare")
    try:
        base, _ = bench._multifile_base(spark, raw, prune=False)
    finally:
        _stop_spark(spark)
    # the re-lay lands in the system temp dir; keep it with the raw tables
    shutil.move(base, os.path.join(build, "base"))
    if os.path.isdir(DATA_DIR):
        shutil.rmtree(build)
    else:
        os.rename(build, DATA_DIR)


def ensure_data() -> float:
    """Prepare the inputs if this checkout has none yet; returns the
    seconds spent, which set-up time excludes."""
    if os.path.isdir(DATA_DIR):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prepare"],
        check=True,
        stdout=sys.stderr,
    )
    return time.perf_counter() - t0


def calib_kernel() -> float:
    """Seconds for a fixed single-threaded pure-Python loop (~40 ms on a
    nominal core): the host-speed probe every timing is normalised by."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_speed() -> float:
    return statistics.median(calib_kernel() for _ in range(CALIB_REPS))


def _engine_pids(jvm_pid: int) -> list[int]:
    """The driver JVM and every process under it (its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [jvm_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_ns(pids: list[int]) -> int:
    """CPU time run so far by every thread of `pids`, in ns."""
    tot = 0
    for p in pids:
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/schedstat") as fh:
                    tot += int(fh.read().split()[0])
        except (OSError, ValueError):
            continue
    return tot


def quiet_calib(tracer, jvm_pid: int) -> float | None:
    """The calibration kernel's time, taken once the listener bus has
    drained and only if the JVM and its Python workers then ran for less
    than QUIET_SHARE of the kernel's time while it ran; None if the engine
    never went quiet within QUIET_TRIES tries."""
    for _ in range(QUIET_TRIES):
        tracer.settle()
        pids = _engine_pids(jvm_pid)
        c0 = _cpu_ns(pids)
        k = calib_kernel()
        if (_cpu_ns(pids) - c0) / 1e9 <= QUIET_SHARE * k:
            return k
        time.sleep(0.05)
    return None


def _near(cal: list, i: int) -> float | None:
    """Median of the five quiet kernel times nearest to position i."""
    q = sorted((abs(j - i), c) for j, c in enumerate(cal) if c is not None)[:5]
    return statistics.median(c for _, c in q) if q else None


def jvm_mem_mb(spark) -> float:
    """Driver JVM memory held after a full collection: live heap, non-heap
    (metaspace, code cache) and NIO buffer pools.  Unlike the process's
    resident size this follows what the heap holds (cached blocks,
    broadcasts, status stores), not how far the collector grew it."""
    import gc

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    # drop this process's dead proxies of JVM objects first, then collect
    # twice: the first collection hands dead shuffles and broadcasts to
    # Spark's ContextCleaner, which frees their blocks before the second
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.2)
    jvm.java.lang.System.gc()
    mem = mf.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    used += sum(pools.get(i).getMemoryUsed() for i in range(pools.size()))
    return used / _MB


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _install_wrappers(tracer, counters: dict) -> None:
    """Spans around the public calls of the storage and statistics layers,
    and a counter of artifact leaf reads."""
    import oxidsql_spark.sources as sources
    from oxidsql_spark.statistics import OnlineTableStats
    from oxidsql_spark.versioned import VersionedTable

    orig_write = VersionedTable.write

    def write(self, df):
        v = orig_write(self, df)
        if tracer.enabled:
            counters["commit_bytes"] += _dir_bytes(self._vdir(v))
        return v

    tracer.patch(VersionedTable, "write", write)
    tracer.wrap(VersionedTable, "write", "versioned.write")
    tracer.wrap(VersionedTable, "versions", "versioned.versions")
    for m in ("add_rows", "update", "delete_batch", "rebuild", "dumps"):
        tracer.wrap(OnlineTableStats, m, "statistics.maint", tag_jobs=True)
    tracer.wrap(OnlineTableStats, "estimate_cardinality", "statistics.estimate", tag_jobs=True)

    orig_artifact = sources.artifact

    def artifact(spark, path):
        if (id(spark), path) not in sources._ARTIFACT_LEAF_CACHE:
            counters["artifact_reads"] += 1
        return orig_artifact(spark, path)

    tracer.patch(sources, "artifact", artifact)


class Runner:
    def __init__(self, wl, tracer):
        from oxidsql_spark import cachescope

        self.wl = wl
        self.tracer = tracer
        self.cachescope = cachescope
        self.op_id = 0
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.leaked = 0
        self.check_s = 0.0
        self.records: list[dict] = []

    def fail(self, kind: str, err: BaseException) -> None:
        self.failed += 1
        msg = f"{type(err).__name__}: {str(err)[:300]}"
        self.failures.setdefault(kind, msg)
        print(f"op {kind} failed: {msg}", file=sys.stderr)
        if not isinstance(err, workloads.CheckFailed):
            traceback.print_exception(err, file=sys.stderr)

    def run_op(self, kind: str, traced: bool) -> float:
        """Run one op; returns its latency in seconds.  Scoped caches are
        released whether or not the op raised."""
        self.op_id += 1
        self.attempted += 1
        tr = self.tracer
        cs = self.cachescope
        rec = {"kind": kind, "op": self.op_id, "traced": traced}
        if traced:
            tr.enabled = True
            tr.mark_executions()
            gc0 = tr.gc_seconds()
        check = err = None
        t0 = time.perf_counter()
        try:
            with tr.op(self.op_id, kind) if traced else nullcontext():
                check = self.wl.run(kind, self.op_id)
        except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
            err = e
        finally:
            if traced:
                rec["persists"] = cs.scoped_cache_count()
                rec["cached_mb"] = tr.cached_mb()
            cs.release_scoped_caches()
            left = cs.scoped_cache_count()
            self.leaked += left
        lat = time.perf_counter() - t0
        rec["lat"] = lat
        if traced:
            tr.enabled = False
            rec["gc_s"] = tr.gc_seconds() - gc0
            self._collect_layers(rec)
        if err is None and check is not None:
            t1 = time.perf_counter()
            try:
                check()
            except Exception as e:  # noqa: BLE001
                err = e
            self.check_s += time.perf_counter() - t1
        if err is not None:
            self.fail(kind, err)
        rec["ok"] = err is None
        self.records.append(rec)
        return lat

    def _collect_layers(self, rec: dict) -> None:
        tr = self.tracer
        tr.settle()
        op = rec["op"]
        spans = [s for s in tr.spans if s["op"] == op]
        groups = [s["group"] for s in spans if "group" in s]
        jobs_by_group = {g: tr.jobs_of(g) for g in groups}
        all_jobs = sorted({j for js in jobs_by_group.values() for j in js})
        st = tr.job_stats(all_jobs)
        rec.update({k: st[k] for k in st if k != "jobs"})
        rec["jobs"] = len(all_jobs)
        rec["construct_jobs"] = len(jobs_by_group.get(f"c{op}", []))
        rec["stats_jobs"] = sum(
            len(js) for g, js in jobs_by_group.items() if g.startswith("statistics.")
        )
        rec["python_stages"] = tr.python_stages()
        # catalyst: from the action call to its first job's submission
        action = [s for s in spans if s.get("group") == f"a{op}"]
        subs = [
            sub for jid, sub, _ in st["jobs"]
            if sub is not None and jid in set(jobs_by_group.get(f"a{op}", []))
        ]
        rec["plan_s"] = max(0.0, min(subs) - action[0]["t0"]) if action and subs else 0.0
        for s in spans:
            if "group" in s:
                s["jobs"] = jobs_by_group[s["group"]]


def _layer_metrics(runner: Runner, tracer, counters: dict, extra: dict) -> dict:
    traced = [r for r in runner.records if r["traced"]]
    untraced = [r for r in runner.records if not r["traced"]]
    n = max(len(traced), 1)
    ops = {r["op"] for r in traced}
    self_t = tracer.self_times(ops)
    wall = sum(r["lat"] for r in traced)

    def per_op(key):
        return sum(r.get(key, 0) for r in traced) / n

    def t_ops_per_s(rs):
        return len(rs) / sum(r["norm"] for r in rs) if rs else 0.0

    t_rate, u_rate = t_ops_per_s(traced), t_ops_per_s(untraced)
    m = {
        "operators.construct_s": self_t.get("operators.construct", 0.0) / n,
        "operators.construct_jobs": per_op("construct_jobs"),
        "catalyst.plan_s": per_op("plan_s"),
        "exec.jobs": per_op("jobs"),
        "exec.stages": per_op("stages"),
        "exec.tasks": per_op("tasks"),
        "exec.task_cpu_s": per_op("task_cpu_s"),
        "exec.core_util": sum(r["task_s"] for r in traced) / (wall * CPUS) if wall else 0.0,
        "exec.shuffle_mb": per_op("shuffle_mb"),
        "exec.spill_mb": per_op("spill_mb"),
        "exec.input_mb": per_op("input_mb"),
        "exec.python_stages": per_op("python_stages"),
        "cachescope.persists": per_op("persists"),
        "cachescope.cached_mb": per_op("cached_mb"),
        "cachescope.leaked": runner.leaked,
        "sources.artifact_reads": counters["artifact_reads"],
        "sources.tmp_leak_mb": extra["tmp_leak_mb"],
        "database.route_s": self_t.get("database.query", 0.0) / n,
        "versioned.commit_s": self_t.get("versioned.write", 0.0) / n,
        "versioned.commit_mb": counters["commit_bytes"] / _MB / n,
        "versioned.list_s": self_t.get("versioned.versions", 0.0) / n,
        "versioned.disk_bytes_per_row": extra["disk_bytes_per_row"],
        "statistics.maint_s": self_t.get("statistics.maint", 0.0) / n,
        "statistics.jobs": per_op("stats_jobs"),
        "statistics.estimate_s": self_t.get("statistics.estimate", 0.0) / n,
        "jvm.gc_s": per_op("gc_s"),
        "trace.ops_per_s": t_rate,
        "trace.untraced_ops_per_s": u_rate,
        "trace.overhead_pct": (u_rate / t_rate - 1.0) * 100.0 if t_rate and u_rate else 0.0,
        "host.calib_s": extra["calib_s"],
        "bench.error_ratio": extra["error_ratio"],
    }
    return m


LAYER_UNITS = {
    "operators.construct_s": "s/op",
    "operators.construct_jobs": "jobs/op",
    "catalyst.plan_s": "s/op",
    "exec.jobs": "jobs/op",
    "exec.stages": "stages/op",
    "exec.tasks": "tasks/op",
    "exec.task_cpu_s": "s/op",
    "exec.core_util": "ratio",
    "exec.shuffle_mb": "MB/op",
    "exec.spill_mb": "MB/op",
    "exec.input_mb": "MB/op",
    "exec.python_stages": "nodes/op",
    "cachescope.persists": "persists/op",
    "cachescope.cached_mb": "MB/op",
    "cachescope.leaked": "count",
    "sources.artifact_reads": "count",
    "sources.tmp_leak_mb": "MB",
    "database.route_s": "s/op",
    "versioned.commit_s": "s/op",
    "versioned.commit_mb": "MB/op",
    "versioned.list_s": "s/op",
    "versioned.disk_bytes_per_row": "B/row",
    "statistics.maint_s": "s/op",
    "statistics.jobs": "jobs/op",
    "statistics.estimate_s": "s/op",
    "jvm.gc_s": "s/op",
    "trace.ops_per_s": "1/s",
    "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_pct": "%",
    "host.calib_s": "s",
    "bench.error_ratio": "ratio",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import oxidsql_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a source checkout ({e})", file=sys.stderr)
        return 2
    if args.prepare:
        prepare()
        return 0

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    calib0 = host_speed()
    prep_s = ensure_data()
    _env()
    raw_dir = os.path.join(DATA_DIR, "raw")
    base_dir = os.path.join(DATA_DIR, "base")
    storage_dir = os.path.join(WORK, f"durable_{os.getpid()}")
    trace = bool(args.trace)

    from tracing import Tracer

    t_sess = time.perf_counter()
    spark = _start_spark(f"perfbench-{args.workload}")
    t_sess = time.perf_counter() - t_sess
    tracer = Tracer(spark)
    wl = None
    try:
        counters = {"artifact_reads": 0, "commit_bytes": 0}
        if trace:
            _install_wrappers(tracer, counters)
        wl = workloads.make(
            args.workload, spark, base_dir, raw_dir, storage_dir, args.seed, tracer if trace else None
        )
        runner = Runner(wl, tracer)
        tracer.enabled = trace
        t_tab = time.perf_counter()
        wl.setup()
        t_tab = time.perf_counter() - t_tab
        tracer.enabled = False
        jvm_pid = spark.sparkContext._gateway.proc.pid
        # warmup: one full round, run as the timed rounds are, builds every
        # artifact, cache and codegen class
        for kind in wl.deck():
            runner.run_op(kind, traced=False)
        warm_lat = {r["kind"]: round(r["lat"], 3) for r in runner.records}
        runner.records.clear()
        # the model checks of the warmup reads are the benchmark's, not set-up
        setup_raw = (
            time.perf_counter() - T_START - prep_s - CALIB_REPS * calib0 - runner.check_s
        )
        # memory: sampled after a full collection at the end of the warmup
        # and of every timed round, outside every op
        mem = [jvm_mem_mb(spark)]

        # timed window: a fixed number of whole rounds, sized so that they
        # take at least --seconds on the reference host.  A fixed count
        # keeps every run at the same point of the JVM's warm-up curve; with
        # a time-bounded window a slow host stops earlier, on slower rounds.
        # A traced run runs every op twice, untraced and traced, in
        # alternating order, so the pair gives the tracing overhead free of
        # warm-up drift.  The calibration kernel runs after every op,
        # outside its latency, once the engine is idle; each op is
        # normalised by the median of the five quiet kernel times nearest to
        # it, which follows the host's drift but not the kernel's own jitter.
        cal = [quiet_calib(tracer, jvm_pid)]
        print(
            f"setup {setup_raw:.1f} s: session {t_sess:.1f} s, tables {t_tab:.1f} s, "
            f"warmup {warm_lat}",
            file=sys.stderr,
        )
        rounds = math.ceil(args.seconds / wl.ROUND_S)
        t_win = time.perf_counter()
        for r in range(rounds):
            modes = ((False, True) if r % 2 == 0 else (True, False)) if trace else (False,)
            for kind in wl.deck():
                for traced in modes:
                    runner.run_op(kind, traced)
                    cal.append(quiet_calib(tracer, jvm_pid))
            mem.append(jvm_mem_mb(spark))
        timed = time.perf_counter() - t_win
        py_hwm = _hwm_mb("self")
        peak_mem = max(mem) + py_hwm
        quiet = [c for c in cal if c is not None]
        lat: dict[str, list[float]] = {k: [] for k in wl.kinds()}
        raw: dict[str, list[float]] = {k: [] for k in wl.kinds()}
        for i, r in enumerate(runner.records, start=1):
            r["norm"] = r["lat"] * CALIB_REF_S / (_near(cal, i) or calib0)
            if not r["traced"]:
                raw[r["kind"]].append(r["lat"])
                lat[r["kind"]].append(r["norm"])

        for name, err in wl.final_checks():
            runner.attempted += 1
            if err is not None:
                runner.fail(f"check:{name}", err)

        live_rows = wl.live_rows()
        disk_bytes = _dir_bytes(storage_dir) if os.path.isdir(storage_dir) else 0
    finally:
        if wl is not None:
            wl.close()
        _stop_spark(spark)
        tracer.unwrap_all()

    # per-pid artifact dirs the engine leaves in the system temp dir,
    # plus this run's durable storage: measured, then removed
    leak = glob.glob(os.path.join("/tmp", f"oxidsql_*_{os.getpid()}"))
    tmp_leak_mb = sum(_dir_bytes(p) for p in leak) / _MB
    for p in leak + [storage_dir, os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")]:
        shutil.rmtree(p, ignore_errors=True)
    calib1 = host_speed()

    n_timed = sum(len(v) for v in lat.values())
    med = {k: statistics.median(v) for k, v in lat.items() if v}
    raw_med = {k: statistics.median(v) for k, v in raw.items() if v}
    error_ratio = runner.failed / max(runner.attempted, 1)
    print(f"workload {args.workload} seed {args.seed}: {rounds} rounds, {n_timed} ops in {timed:.3f} s")
    print("raw op medians (s): " + ", ".join(f"{k}={v:.4f}" for k, v in sorted(raw_med.items())))
    print(
        f"raw: ops_per_s={n_timed / sum(sum(v) for v in raw.values()):.4f} "
        f"query_geomean_s={workloads.geomean(raw_med.values()):.4f} setup_s={setup_raw:.3f}"
    )
    writes = [v for k, v in med.items() if k not in wl.read_kinds()]
    if writes:
        reads = [v for k, v in med.items() if k in wl.read_kinds()]
        print(
            f"read_geomean_s={workloads.geomean(reads):.4f} "
            f"write_geomean_s={workloads.geomean(writes):.4f}"
        )
    print(
        f"host.calib_s start={calib0:.5f} end={calib1:.5f} "
        f"window_median={statistics.median(quiet or [calib0]):.5f} (reference {CALIB_REF_S}); "
        f"quiet kernels {len(quiet)}/{len(cal)}"
    )
    print(f"peak_mem_mb: JVM after GC {['%.1f' % m for m in mem]}, driver Python HWM {py_hwm:.1f}")
    print(f"error_ratio={error_ratio:.4f} failed_ops={runner.failures or 'none'}")
    for k in sorted(raw):
        print(f"raw {k}: {' '.join(f'{x:.3f}' for x in raw[k])}", file=sys.stderr)
    print(f"calib: {' '.join(f'{c:.4f}' if c else '-' for c in cal)}", file=sys.stderr)

    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        )
        extra = {
            "tmp_leak_mb": tmp_leak_mb,
            "disk_bytes_per_row": disk_bytes / live_rows if live_rows else 0.0,
            "calib_s": statistics.median(quiet or [calib0]),
            "error_ratio": error_ratio,
        }
        vals = _layer_metrics(runner, tracer, counters, extra)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in vals.items()}
    else:
        metrics = {
            "ops_per_s": {"value": n_timed / sum(sum(v) for v in lat.values()), "unit": "1/s"},
            "query_geomean_s": {"value": workloads.geomean(med.values()), "unit": "s"},
            # set-up is reported raw.  It is mostly JVM start, class loading
            # and JIT compilation on several threads, which the single-
            # threaded kernel does not follow: normalising it by the
            # window's kernel widened its spread across seeds (0.11 to 0.19
            # IQR/median on sql_durable) instead of narrowing it.
            "setup_s": {"value": setup_raw, "unit": "s"},
            "peak_mem_mb": {"value": peak_mem, "unit": "MB"},
        }
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
