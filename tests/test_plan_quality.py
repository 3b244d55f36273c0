"""Plan-quality assertions — the 100 TB design contract.

These lock the physical-plan properties that make the queries scale:
filters reach the parquet scan (PushedFilters), projection prunes the
read schema, dimension joins broadcast, top-k compiles to
TakeOrderedAndProject (no global sort), aggregates are two-phase.
A regression here is a performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest

from oxidsql_spark.plans import executed_plan, explain_summary, formatted_plan
from oxidsql_spark.registry import load_all

QUERIES = load_all()


def q(spark, sf_dir, name):
    return QUERIES[name].fn(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    s = explain_summary(q(spark, sf_dir, "ref_filter"))
    pushed = " ".join(s.pushed_filters)
    assert "GreaterThanOrEqual(c_acctbal,1000.0)" in pushed
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed


def test_column_pruning(spark, sf_dir):
    s = explain_summary(q(spark, sf_dir, "ref_project"))
    assert s.read_schemas == ["struct<p_partkey:bigint,p_name:string,p_brand:string>"]


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    p = formatted_plan(q(spark, sf_dir, "tpch_q1"))
    assert "LessThanOrEqual(l_shipdate," in p
    assert p.count("HashAggregate") >= 2  # partial + final
    s = explain_summary(q(spark, sf_dir, "tpch_q1"))
    assert "l_orderkey" not in s.read_schemas[0]  # pruned


def test_dimension_joins_broadcast(spark, sf_dir):
    assert explain_summary(q(spark, sf_dir, "ref_join")).all_broadcast
    s5 = explain_summary(q(spark, sf_dir, "tpch_q5"))
    assert "BroadcastHashJoin" in s5.joins
    assert "CartesianProduct" not in s5.joins


def test_topk_no_global_sort(spark, sf_dir):
    assert explain_summary(q(spark, sf_dir, "tpch_q3")).has_topk
    assert explain_summary(q(spark, sf_dir, "sort_limit")).has_topk


def test_single_shuffle_for_agg(spark, sf_dir):
    """tpch_q1 must shuffle exactly once (partial agg → exchange → final);
    more exchanges would mean partial aggregation regressed."""
    assert explain_summary(q(spark, sf_dir, "tpch_q1")).n_exchanges == 1


def test_no_python_udf_in_relational_paths(spark, sf_dir):
    """Relational/text queries must stay JVM-side (whole-stage codegen);
    only the explicitly-pandas operators may cross into Python."""
    for name in ("tpch_q1", "tpch_q3", "text_stats", "dedup_exact", "window_topk"):
        assert explain_summary(q(spark, sf_dir, name)).python_evals == 0, name


def test_pandas_ops_use_arrow(spark, sf_dir):
    """The deliberate Python paths must cross via Arrow (mapInPandas /
    applyInPandas), never row-at-a-time pickling."""
    for name in ("mm_decode_features", "udf_group_zscore", "mm_fake_embed"):
        p = formatted_plan(q(spark, sf_dir, name))
        assert "MapInPandas" in p or "FlatMapGroupsInPandas" in p, name
        assert "BatchEvalPython" not in p, name


def test_python_evals_count_every_python_node(spark, sf_dir):
    """``python_evals`` counts each node that hands rows to a Python
    worker, mapInPandas passes included: the LSH sign and verify passes,
    the PQ encode/ADC pass, none in a relational query."""
    assert explain_summary(q(spark, sf_dir, "embedding_cosine_lsh")).python_evals == 2
    assert explain_summary(q(spark, sf_dir, "ann_pq_adc")).python_evals >= 1
    assert explain_summary(q(spark, sf_dir, "tpch_q3")).python_evals == 0


@pytest.mark.parametrize("name", ["tpch_q1", "tpch_q6", "text_stats"])
def test_wholestage_codegen_active(spark, sf_dir, name):
    """Codegen spans only materialize in the AQE executed plan — run the
    query, then inspect; '*(n)' prefixes mark codegen'd operators."""
    df = q(spark, sf_dir, name)
    df.collect()
    p = executed_plan(df)
    assert "*(" in p, p[:500]
    if name == "tpch_q1":
        assert "partial_sum" in p  # map-side combine before the exchange


def test_tpch_ext_broadcast_and_single_fact_pass(spark, sf_dir):
    """q18 must aggregate lineitem exactly once (partial+final of the
    per-order sum) and broadcast the HAVING-filtered aggregate onto
    orders; q14/q19 must broadcast part; q17's threshold agg must sit
    behind a LeftSemi that prunes to the brand's parts."""
    s18 = explain_summary(q(spark, sf_dir, "tpch_q18"))
    assert any("BroadcastHashJoin" in j for j in s18.joins)
    p18 = formatted_plan(q(spark, sf_dir, "tpch_q18"))
    # one logical agg = 2 physical phases; formatted output names each
    # node twice (tree + detail section), so 4 mentions max
    assert p18.count("HashAggregate") <= 4
    for name in ("tpch_q14", "tpch_q19"):
        assert "BroadcastHashJoin" in explain_summary(q(spark, sf_dir, name)).joins, name
    assert "LeftSemi" in formatted_plan(q(spark, sf_dir, "tpch_q17"))


def test_q13_left_join_survives_filter(spark, sf_dir):
    """q13's priority filter lives in the join condition, not WHERE —
    the plan must keep the LeftOuter join (a WHERE placement would have
    let Catalyst rewrite it to inner and drop zero-order customers)."""
    p = formatted_plan(q(spark, sf_dir, "tpch_q13"))
    assert "LeftOuter" in p


def test_all_benched_queries_scale_clean(spark, sf_dir):
    """Fleet-wide lock for the headline set: no Python in the hot path,
    no cartesian product, and every parquet scan prunes its columns
    (reading every column of a wide table at 100 TB is a bug even when
    results are right)."""
    from oxidsql_spark.registry import load_all

    for name, qq in sorted(load_all().items()):
        if not qq.bench:
            continue
        s = explain_summary(qq.fn(spark, sf_dir))
        if name.startswith(("ann_", "mm_")):
            continue  # deliberate pandas/broadcast paths
        assert s.python_evals == 0, f"{name}: Python in hot path"
        assert not any("CartesianProduct" in j for j in s.joins), name
        for rs in s.read_schemas:
            # no benched query needs more than 8 columns of any table
            assert rs.count(",") <= 7, f"{name}: unpruned scan {rs[:80]}"


# Queries whose global-ordered window runs over a provably tiny domain —
# a bounded aggregate, not the data: source_mix (≤ ~20 distinct sources),
# orders_monthly_growth (≤ ~80 months of TPC-H order dates).  A single
# partition over dozens of rows is correct AND scale-safe.  Everything
# else must window over a partitioned spec or use the two-phase
# distwindow plan (range-partition → local cumsum → broadcast offsets).
_TINY_DOMAIN_WINDOWS = {
    "source_mix",
    "orders_monthly_growth",
    # rnk assigned AFTER TakeOrdered cuts to the top-30 pairs — the
    # window input is 30 rows by construction, not the pair domain
    "bpe_pair_counts",
    # cumulative survivors over the STAGE aggregate (≤ 7 rows: one per
    # funnel rule + 'pass'), never the corpus
    "corpus_attrition_funnel",
}


def test_no_single_partition_window_fleet_wide(spark, sf_dir):
    """No registered query may compute a window over Exchange
    SinglePartition (one task over the whole input — the canonical
    100 TB bottleneck) unless its window input is a tiny bounded
    domain. Locks the round-4 distwindow rewrites of corpus_shard_pack,
    customer_pareto and orders_rfm against regression."""
    from oxidsql_spark.plans import has_single_partition_window

    offenders = []
    for name, qq in sorted(load_all().items()):
        if name in _TINY_DOMAIN_WINDOWS:
            continue
        if has_single_partition_window(qq.fn(spark, sf_dir)):
            offenders.append(name)
    assert not offenders, f"single-partition windows: {offenders}"


def test_bm25_broadcasts_query_sized_df_only(spark, sf_dir):
    """The BM25 idf join must broadcast a QUERY-term-sized document-
    frequency relation, never the vocabulary-sized one: at web scale
    the full-vocabulary df table is GBs and broadcasting it OOMs the
    driver.  Locks the r9 fix — the df side row count equals the number
    of distinct query terms present in the corpus (bounded by the query
    list), not the corpus vocabulary."""
    from pyspark.sql import functions as F

    from oxidsql_spark.functions import tokens
    from oxidsql_spark.operators.corpus_ext import (
        _BM25_QUERIES,
        _bm25_query_df,
    )
    from oxidsql_spark.sources import table

    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    ex = d.select("doc_id", F.explode("toks").alias("term"))
    qdf = spark.createDataFrame(_BM25_QUERIES, "qid int, term string")
    df_side = _bm25_query_df(ex, qdf)
    n_query_terms = len({t for _, t in _BM25_QUERIES})
    vocab = ex.select("term").distinct().count()
    rows = df_side.count()
    assert rows <= n_query_terms
    assert vocab > n_query_terms  # the fixture vocabulary is bigger,
    assert rows < vocab  # so query-sized ≠ vocabulary-sized here


def test_runtime_bloom_filter_reduces_fact_scan(spark, sf_dir):
    """The session enables runtime bloom-filter join reduction (off by
    default in Spark): with broadcast disabled and the size gate lowered
    to simulate a 100 TB fact side, a selective dim filter must inject a
    bloom_filter_agg semi-join reduction into the fact branch."""
    from oxidsql_spark.sources import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").filter("o_totalprice > 400000")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_audio_dedup_single_arrow_pass(spark, sf_dir):
    """The audio face's Python is EXACTLY the fingerprint mapInPandas:
    one Arrow pass over payloads; the df-cap, candidate join,
    containment vote, closure, and keep-best all stay JVM-side.  Locks
    against Python creeping into the pairing phases."""
    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.operators.multimodal import (
        _payloads,
        audio_shingles_from_payloads,
    )
    from oxidsql_spark.plans import formatted_plan

    import re

    def arrow_passes(plan: str) -> int:
        # the detail-section form, one per node (the tree repeats it)
        return len(re.findall(r"\(\d+\) MapInPandas", plan))

    fp = formatted_plan(audio_shingles_from_payloads(_payloads(spark, sf_dir)))
    assert arrow_passes(fp) == 1  # the fingerprint IS one Arrow pass
    p = formatted_plan(QUERIES["mm_audio_dedup"].fn(spark, sf_dir))
    release_scoped_caches()
    # the composed plan may hide the fingerprint under the persisted
    # shingle set's InMemoryTableScan; what it must NEVER show is a
    # second Python pass or any row-at-a-time eval
    assert arrow_passes(p) <= 1, f"{arrow_passes(p)} Arrow passes"
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
