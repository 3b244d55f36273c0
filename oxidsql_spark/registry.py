"""Query registry.

Every operator capability is registered as a named query: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent ANSI SQL a DuckDB oracle can run on the same parquet tables.
``__spark_entry__.py`` exposes this registry to the driver's correctness
harness.  ``bench=True`` marks the headline queries bench.py times.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str] = None
    bench: bool = False
    doc: str = field(default="")


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, bench: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Query(name, fn, oracle, bench, (fn.__doc__ or "").strip())
        return fn

    return deco


_LOADED = False


# Static, committed front-of-registry list.  The external correctness
# harness checks a bounded prefix of queries() per round, so ordering is
# test-coverage prioritization.  Policy:
#   * _PRIORITY holds queries with no driver-green verification yet —
#     brand-new queries and ones whose implementation was rewritten this
#     round.  When adding a NEW query, append its name here.  At the
#     START of a round, retire names whose verification has since landed.
#   * The remaining (stable) pool interleaves 7:1 behind the priority
#     names, ordered STALEST-FIRST: by latest driver-green round
#     ascending (from the committed CORRECTNESS_r*.json files — part of
#     the clone, so a fresh checkout orders identically), registration
#     order as tie-break.  Each round the checked prefix therefore
#     re-verifies the least-recently-verified stable queries, and the
#     whole pool cycles through the window every ~3 rounds instead of
#     the same fixed sample being re-checked forever.
# tests/test_registry.py locks the window invariants, including that
# every never-green query is listed here.
_PRIORITY: tuple[str, ...] = (
    # round-15 start (optimization round 2): all 24 round-14 priority
    # names were driver-green in CORRECTNESS_r14.json and retire to the
    # stable rotation.  No new queries this round (optimization only);
    # this block holds the faces whose IMPLEMENTATION the r15
    # optimization sessions rewrote — every one is result-identical by
    # construction and in-repo oracle-proven, and fronting them makes
    # the driver re-prove the rewrites against its own oracle.
    # rewritten in round 15 — ANN stage fusion (one shared head-row
    # collect, pq_encode fused into the ADC scan, driver-side probe
    # ranking, pushed-down query reads, pre-filtered rerank broadcast):
    "ann_ivf_kmeans",
    "ann_pq_adc",
    "ann_pq_rerank",
    "ann_ivfadc",
    "ann_opq_adc",
    "ann_opq_ivfadc",
    "dedup_semantic",
    "retrieval_hybrid_ivfadc",
    "retrieval_hybrid_rrf",
    # rewritten in round 15 — PPJoin positional candidate filter plus
    # the suffix-slice exact verify (|A∩B| = c + suffix intersection):
    "dedup_ngram_jaccard",
    "dedup_lsh_scurve",
    "dedup_cross_source_matrix",
    "dedup_threshold_sweep",
    "dedup_containment",
    # rewritten in round 15 — every transitive-closure consumer rides
    # the driver union-find label frame (functions.local_rows_df) and
    # the Jaccard verify rewrite above:
    "dedup_clusters",
    "dedup_clusters_collapsed",
    "dedup_cluster_stats",
    "dedup_keep_best",
    "dedup_clusters_incremental_q",
    "mm_video_dedup",
    "mm_audio_dedup",
    "mm_caption_dedup",
    "mm_curate_q",
    # rewritten in round 15 — artifact frames scope-persisted, w_oov as
    # a broadcast one-row frame, shared tokenize-once span cut:
    "curate_funnel_audit",
    # rewritten in round 15 — distwindow's partition-offset frame and
    # every literal/driver-row frame go through functions.local_rows_df
    # (since built as an Arrow LocalRelation, not a Python RDD):
    "customer_pareto",
    "orders_rfm",
    "orders_backlog_daily",
    "customer_revenue_gini",
    "corpus_shard_pack",
    "vocab_coverage",
    "corpus_shuffle_shards",
    "quality_rank_filter",
    "docs_bm25_topk",
    "bpe_train_merges",
    "bpe_train_merges_batched",
    "ref_values",
    "range_join_bands",
    "join_salted",
)


def _latest_green_rounds() -> dict[str, int]:
    """Latest round each query was driver-green, parsed from the
    committed CORRECTNESS_r*.json files at the repo root.  Missing or
    unparsable files degrade to {} (pure registration order)."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, v in data.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def load_all() -> dict[str, Query]:
    """Import every operator module so its @register calls run."""
    global _LOADED
    if not _LOADED:
        from .operators import (  # noqa: F401
            analytics_ext,
            corpus_ext,
            dedup,
            graph,
            layout_ops,
            multimodal,
            quality,
            relational,
            relational_ext,
            scd,
            similarity,
            textops,
            textqual,
            tpch_ext,
            udtf_ops,
        )
        from .streaming import events  # noqa: F401

        # the capstone registers LAST: its oracle nests oracles the
        # operator modules registered above
        from . import pipeline  # noqa: F401

        front = [n for n in _PRIORITY if n in QUERIES]
        in_front = set(front)
        reg_index = {n: i for i, n in enumerate(QUERIES)}
        green = _latest_green_rounds()
        rest = sorted(
            (n for n in QUERIES if n not in in_front),
            key=lambda n: (green.get(n, 0), reg_index[n]),
        )
        ordered: list[str] = []
        fi = ri = 0
        while fi < len(front) or ri < len(rest):
            for _ in range(7):
                if fi < len(front):
                    ordered.append(front[fi])
                    fi += 1
            if ri < len(rest):
                ordered.append(rest[ri])
                ri += 1
        # Reorder in place so earlier `from .registry import QUERIES`
        # bindings stay valid.
        snapshot = {n: QUERIES[n] for n in ordered}
        QUERIES.clear()
        QUERIES.update(snapshot)
        _LOADED = True
    return QUERIES
