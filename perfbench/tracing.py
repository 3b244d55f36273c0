"""Per-layer tracing for the benchmark, recorded from outside the engine.

Spans are taken around the calls the benchmark makes into each layer
(query construction, the final action, the `OxidSparkDatabase` facade)
and around the public calls of `VersionedTable` and `OnlineTableStats`,
which the tracer wraps while it is installed.  Spark's own work is read
back from the SparkContext status store (jobs, stages, task metrics) and
the SQL status store (executed plan graphs), keyed by a job group the
tracer sets per phase.  Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# executed-plan node names that run a Python worker (Arrow or pickled)
_PY_NODE_MARKS = ("InPandas", "EvalPython", "MapInArrow")

_MB = 1 << 20


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._group: str | None = None
        self._seen_exec = -1
        self._undo: list = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span under the innermost open one.  With `group`,
        Spark jobs submitted inside it are tagged with that job group."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(),
            "t1": None,
        }
        if group is not None:
            rec["group"] = group
        self.spans.append(rec)
        self._stack.append(idx)
        prev = self._group
        if group is not None:
            self._set_group(group)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if group is not None:
                self._set_group(prev)

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        try:
            with self.span(f"op:{kind}"):
                yield
        finally:
            self._op = None

    # -- wrapping public calls of the storage and statistics layers ---------

    def wrap(self, cls, method: str, span_name: str, tag_jobs: bool = False) -> None:
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            # nested calls of the same layer (a public method calling
            # another) count once, in the outermost span
            if any(tracer.spans[i]["name"] == span_name for i in tracer._stack):
                return orig(*a, **kw)
            group = f"{span_name}#{len(tracer.spans)}" if tag_jobs else None
            with tracer.span(span_name, group=group):
                return orig(*a, **kw)

        self.patch(cls, method, wrapped)

    def patch(self, owner, name: str, fn) -> None:
        """Replace `owner.name` with `fn` until `unwrap_all`."""
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, fn)

    def unwrap_all(self) -> None:
        while self._undo:
            cls, method, orig = self._undo.pop()
            setattr(cls, method, orig)

    # -- Spark status stores -------------------------------------------------

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs just run."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _recent_executions(self, n: int):
        count = self._sql_store.executionsCount()
        n = min(n, count)
        lst = self._sql_store.executionsList(count - n, n)
        return [lst.apply(i) for i in range(lst.size())]

    def mark_executions(self) -> None:
        last = self._recent_executions(1)
        self._seen_exec = last[0].executionId() if last else -1

    def jobs_of(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids: list[int]) -> dict:
        """Stage and task totals over `job_ids` (skipped stages excluded),
        plus each job's submission/completion time in epoch seconds."""
        tot = {
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "task_cpu_s": 0.0,
            "shuffle_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
            "jobs": [],
        }
        seen: set[int] = set()
        for jid in job_ids:
            jd = self._store.job(jid)
            sub = jd.submissionTime()
            end = jd.completionTime()
            tot["jobs"].append(
                (
                    jid,
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    end.get().getTime() / 1000.0 if end.isDefined() else None,
                )
            )
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never-run stage
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["task_s"] += sd.executorRunTime() / 1000.0
                tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / _MB
                tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
                tot["input_mb"] += sd.inputBytes() / _MB
        return tot

    def python_stages(self) -> int:
        """Python-worker nodes in the plans of the SQL executions started
        since `mark_executions` (ids ascend; old ones may be evicted)."""
        count = 0
        for e in self._recent_executions(256):
            if e.executionId() <= self._seen_exec:
                continue
            nodes = self._sql_store.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                name = nodes.apply(k).name()
                count += any(m in name for m in _PY_NODE_MARKS)
        return count

    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size())) / 1000.0

    def cached_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / _MB

    # -- analysis --------------------------------------------------------------

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Self time per span name over the spans of `ops`: a span's
        duration minus the part its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["op"] in ops and s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in ops:
                own = s["t1"] - s["t0"] - child.get(i, 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
