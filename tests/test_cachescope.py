"""Cache-lifecycle hygiene: operator-internal persists are scope-tracked
and fully released after the consuming action.

Round-4 verdict item: `persist()` calls inside dedup / graph /
distwindow operator bodies were never unpersisted, so a long-lived
session accumulated storage blocks until LRU eviction.  These tests lock
the fix: every registered query that persists an intermediate leaves the
executor storage exactly as it found it once the caller releases the
scope — and identical-plan re-runs silently reuse the warm cache instead
of re-persisting (the source of the bench log's `CacheManager: Asked to
cache already cached data` spam).
"""

from __future__ import annotations

import pytest

from oxidsql_spark.cachescope import (
    release_scoped_caches,
    scoped_cache_count,
    scoped_persist,
)
from oxidsql_spark.operators.similarity import _PQ_BOOKS_KIND
from oxidsql_spark.registry import load_all

# Every registered query whose implementation persists an intermediate
# (dedup's AllPairs array index, graph's edge list + label generations,
# distwindow's range-partitioned frames).  Grep-derived; if a new
# operator adds a persist it must go through cachescope, and adding it
# here keeps the leak lock complete.
CACHE_USING_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_clusters",
    "dedup_clusters_collapsed",
    "dedup_clusters_incremental_q",
    "dedup_cluster_stats",
    "corpus_shard_pack",
    "customer_pareto",
    "orders_rfm",
    "source_term_drift",
    "orders_backlog_daily",
    "part_pagerank",
    "customer_revenue_gini",
    "dedup_incremental_bloom",
    "terms_cms_heavy_hitters",
    "dedup_keep_best",
    "dedup_span_cut",
    "dedup_span_cut_incremental",
    "corpus_curate_q",
    "mm_caption_dedup",
    "dedup_span_scrub",
    "ann_opq_ivfadc",
    "corpus_curate_scrub_q",
    "text_lm_bigram_score",
    "dedup_minhash_incremental",
    "dedup_containment_incremental",
    "embedding_gram",
    "vocab_coverage",
    "part_triangles",
    # km-quantized frame persists (scoped) for every iterative consumer
    "ann_ivf_kmeans",
    "ann_pq_adc",
    "ann_ivfadc",
    "ann_opq_adc",
    "dedup_semantic",
    "retrieval_hybrid_ivfadc",
    # BPE trainer checkpoints each merge generation
    "bpe_train_merges",
    "bpe_encode_stats",
    # survivor-restricted span cut persists its token rows
    "curate_funnel_audit",
    # global_cumsum range-partitions through scoped persists
    "seq_pack_boundaries",
    # batched trainer checkpoints each merge generation too
    "bpe_train_merges_batched",
    # gradient trainer persists its feature/label frames per build
    "quality_classifier_score",
    # the classifier-composed capstone rides the same persisting stages
    "corpus_curate_clf_q",
    # keyframe hash set persists for its three consumers
    "mm_video_dedup",
    "mm_video_dedup_hub",
    # df-capped shingle set + pair list persist for their consumers
    "mm_audio_dedup",
    # composes all three modality chains (their persists ride along)
    "mm_curate_q",
    # batch keyframe set persists for the size aggregate + band probe
    "mm_video_dedup_incremental",
    # S-curve evaluation persists the sampled exact-pair table for the
    # four per-config aggregates
    "dedup_lsh_scurve",
    # rides the collapse-first pair machinery (AllPairs index persists)
    "dedup_cross_source_matrix",
    "dedup_threshold_sweep",
    # Viterbi DP checkpoints edges + each frontier generation
    "unigram_segment_stats",
    # forward DP + canonical backtrack generations all checkpoint
    "unigram_em_reestimate",
    # full-width ground-truth top-k persists for the per-width joins
    "embeddings_matryoshka_eval",
    # the Arrow level-stats frame persists (fixlog branch + final join)
    "mm_audio_loudness",
    # these ride a frozen-artifact build (persists only while building)
    "bpe_fertility_by_lang",
    "quality_classifier_pr",
    "quality_classifier_curated",
    "corpus_curriculum_schedule",
]


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# Queries whose persists happen only while BUILDING a frozen artifact
# (skipped when the per-process artifact already exists — e.g. an
# earlier test invoked the same query).  Clearing the artifact first
# makes this test's persist assertion order-independent.
_ARTIFACT_KINDS = {
    "bpe_encode_stats": "bpe",
    "bpe_fertility_by_lang": "bpe",
    "quality_classifier_score": "qclf",
    "quality_classifier_pr": "qclf",
    # r14: the curriculum (and the new curated face) load the
    # CURATED-label artifact, a separate build-once dir
    "quality_classifier_curated": "qclfcur",
    "corpus_curriculum_schedule": "qclfcur",
    # r15: the ivfadc/opq search paths no longer touch the quantized-
    # corpus cache at steady state (query rows read via a pushed-down
    # parquet filter); only the one-time index BUILD persists, so the
    # prebuilt per-process artifact must be cleared for the persist
    # assertion to see the build
    "ann_ivfadc": "ivfadc",
    "retrieval_hybrid_ivfadc": "ivfadc",
    "ann_opq_ivfadc": "opqivf",
    # a warm ann_pq_adc reads the build-once codebook and persists
    # nothing; only training the codebook persists the quantized corpus
    "ann_pq_adc": _PQ_BOOKS_KIND,
}


@pytest.mark.parametrize("name", CACHE_USING_QUERIES)
def test_query_releases_all_storage(spark, sf_dir, name):
    if name in _ARTIFACT_KINDS:
        import shutil

        from oxidsql_spark.sources import scratch_dir

        shutil.rmtree(scratch_dir(_ARTIFACT_KINDS[name], sf_dir), ignore_errors=True)
    release_scoped_caches()  # clean slate from earlier tests
    baseline = _n_persistent_rdds(spark)
    q = load_all()[name]
    assert q.fn(spark, sf_dir).count() >= 0  # the consuming action
    assert scoped_cache_count() > 0, f"{name} no longer persists via cachescope?"
    release_scoped_caches()
    assert scoped_cache_count() == 0
    # <= not ==: Spark's async ContextCleaner may reclaim an UNRELATED
    # earlier test's blocks between the two measurements; a leak from
    # THIS query can only push the count above baseline
    assert _n_persistent_rdds(spark) <= baseline, f"{name} leaked cached blocks"


def test_identical_plan_rerun_reuses_cache(spark, sf_dir):
    """A second run of the same query while its caches are alive must NOT
    create duplicate cache entries (the CacheManager-warning scenario):
    scoped_persist detects the already-cached plan and reuses it."""
    release_scoped_caches()
    q = load_all()["dedup_ngram_jaccard"]
    q.fn(spark, sf_dir).count()
    first = scoped_cache_count()
    assert first > 0
    q.fn(spark, sf_dir).count()
    assert scoped_cache_count() == first  # no re-persist of the same plan
    release_scoped_caches()


def test_release_is_idempotent_and_complete(spark):
    df = scoped_persist(spark.range(100).selectExpr("id", "id * 2 AS v"))
    df.count()
    assert scoped_cache_count() == 1
    assert release_scoped_caches() == 1
    assert release_scoped_caches() == 0
    assert df.storageLevel.useMemory is False  # actually unpersisted


def test_scoped_persist_reuse_ok_flag(spark):
    """reuse_ok=False must persist (and track) even when an identical
    plan is already cached — the guard for plans carrying an observe/
    CollectMetrics node, where silent cached-plan substitution could
    skip the metrics execution."""
    release_scoped_caches()
    df = spark.range(100).selectExpr("id * 3 AS x")
    scoped_persist(df)
    n1 = scoped_cache_count()
    same_plan = spark.range(100).selectExpr("id * 3 AS x")
    df.count()  # materialize so the plan is in the CacheManager
    assert scoped_persist(same_plan) is same_plan
    assert scoped_cache_count() == n1  # reuse path: silent no-op
    scoped_persist(same_plan, reuse_ok=False)
    assert scoped_cache_count() == n1 + 1  # guard path: tracked persist
    release_scoped_caches()
