"""Plan introspection — the engine's window into Catalyst decisions.

The reference prints its optimizer output implicitly via the plan tree
(PhysicalQueryPlan, execution/plan.rs:138-141); here the physical plan
is Catalyst's, and this module exposes the properties that matter for
scale review: pushed filters, read schemas, join strategies, exchange
count, codegen coverage. Used by tests/test_plan_quality.py to lock the
plan contract and available to users as `explain_summary(df)`.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan — requires the query to have run."""
    return df._jdf.queryExecution().executedPlan().toString()


def last_execution_plan(spark: SparkSession) -> str:
    """Physical plan, final after AQE, of the latest SQL execution in
    Spark's status store (kept with the UI disabled too)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


def has_single_partition_window(df: DataFrame) -> bool:
    """True if any Window operator's nearest downstream Exchange is
    ``Exchange SinglePartition`` — i.e. Spark will compute the window in
    ONE task over its whole input.  Inspected on the pre-execution
    executedPlan (exchanges are inserted by EnsureRequirements, so
    ``sparkPlan()`` would miss them).  The textual walk relies on a
    Window node's child chain printing immediately below it, which holds
    because Window is unary."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "windowspecdefinition" in ln and re.search(r"\bWindow\b", ln):
            for nxt in lines[i + 1 :]:
                if "Exchange" in nxt:
                    if "SinglePartition" in nxt:
                        return True
                    break
    return False


@dataclass
class PlanSummary:
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    joins: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    has_topk: bool = False
    python_evals: int = 0

    @property
    def all_broadcast(self) -> bool:
        return bool(self.joins) and all(j == "BroadcastHashJoin" for j in self.joins)


def _final_plan_only(plan: str) -> str:
    """An executed adaptive plan's formatted text without what only its
    ``== Initial Plan ==`` holds: the initial subtree, and the detail
    blocks of nodes that appear in no other tree.  A plan without that
    section is returned unchanged."""
    if "== Initial Plan ==" not in plan:
        return plan
    node_id = re.compile(r"\((\d+)\)(?:,|$)")
    kept: list[str] = []
    shown, initial = set(), set()
    in_tree, init_lead = False, None
    for ln in plan.splitlines():
        if ln.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree = True
        elif not ln.strip():
            in_tree, init_lead = False, None
        elif in_tree:
            lead = len(ln) - len(ln.lstrip())
            if init_lead is not None and lead <= init_lead:
                init_lead = None
            if init_lead is None and "== Initial Plan ==" in ln:
                init_lead = lead
            m = node_id.search(ln)
            if init_lead is not None:
                if m:
                    initial.add(m.group(1))
                continue
            if m:
                shown.add(m.group(1))
        kept.append(ln)
    dropped = initial - shown
    out, skip = [], False
    for ln in kept:
        m = re.match(r"\((\d+)\) ", ln)
        if m:
            skip = m.group(1) in dropped
        elif not ln.strip():
            skip = False
        if not skip:
            out.append(ln)
    return "\n".join(out)


# Physical nodes that pass rows through a Python worker: scalar UDFs and
# UDTFs, mapInPandas / mapInArrow, and the grouped and co-grouped applies.
_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
)


def summarize_plan(plan: str) -> PlanSummary:
    """Summary of a formatted physical plan's text.  Of an executed
    adaptive plan, only the final plan counts."""
    p = _final_plan_only(plan)
    s = PlanSummary()
    for line in p.splitlines():
        t = line.strip()
        if t.startswith("PushedFilters:"):
            s.pushed_filters.append(t.removeprefix("PushedFilters: "))
        elif t.startswith("ReadSchema:"):
            s.read_schemas.append(t.removeprefix("ReadSchema: "))
        elif t.startswith("PartitionFilters:"):
            s.partition_filters.append(t.removeprefix("PartitionFilters: "))
    for kind in _JOIN_KINDS:
        s.joins += [kind] * len(re.findall(rf"\(\d+\) {kind}", p))
    s.n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    s.has_topk = "TakeOrderedAndProject" in p
    s.python_evals = len(re.findall(rf"\(\d+\) (?:{'|'.join(_PYTHON_NODES)})\b", p))
    return s


def explain_summary(df: DataFrame) -> PlanSummary:
    """Summary of ``df``'s plan before execution."""
    return summarize_plan(formatted_plan(df))
