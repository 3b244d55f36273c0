"""Semantics tests for the approximate (no-oracle) operators: the
sketch-based paths must agree with their exact counterparts.

Mirrors the reference's statistics testing discipline — seeded
determinism, accuracy bounds (counting_hyperloglog.rs:183-292,
sampling.rs:558-832) — applied to minhash/simhash/LSH/IVF.
"""

from __future__ import annotations

from oxidsql_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    minhash_signatures,
)
from oxidsql_spark.operators.similarity import (
    ann_ivf_coarse,
    ann_lsh_bucketed,
    ann_topk_bruteforce,
)
from oxidsql_spark.sources import table


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    """LSH-verified pairs must be a subset of the exact Jaccard pairs
    (verification step uses exact Jaccard) and recall the vast majority
    of them (high-similarity pairs collide in ≥1 band w.h.p.)."""
    exact = {(r.a_id, r.b_id) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    lsh = {(r.a_id, r.b_id) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5, f"LSH recall {len(lsh)}/{len(exact)}"


def test_minhash_signatures_deterministic(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(50)
    a = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    b = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    assert a == b
    assert all(len(s) == 32 for s in a.values())


def test_simhash_deterministic_and_bounded(spark, sf_dir):
    out1 = {(r.a_id, r.b_id): r.hamming for r in dedup_simhash(spark, sf_dir).collect()}
    out2 = {(r.a_id, r.b_id): r.hamming for r in dedup_simhash(spark, sf_dir).collect()}
    assert out1 == out2
    assert all(0 <= h <= 6 for h in out1.values())
    assert all(a < b for a, b in out1)


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Approximate top-k must be drawn from the candidate set and overlap
    the exact top-k meaningfully (random data → modest recall bound)."""
    exact = {(r.q_id, r.vec_id) for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    approx = {(r.q_id, r.vec_id) for r in ann_lsh_bucketed(spark, sf_dir).collect()}
    assert len(approx & exact) / len(exact) >= 0.2
    ivf = {(r.q_id, r.vec_id) for r in ann_ivf_coarse(spark, sf_dir).collect()}
    assert len(ivf & exact) / len(exact) >= 0.2


def test_bruteforce_topk_shape(spark, sf_dir):
    rows = ann_topk_bruteforce(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
        assert r.q_id != r.vec_id
    for q, rs in per_q.items():
        assert len(rs) == 10
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rnk)]
        assert sims == sorted(sims, reverse=True)


def test_prefix_filter_jaccard_complete_vs_bruteforce(spark, tmp_path):
    """The AllPairs prefix filter must lose NOTHING: on an adversarial
    corpus (hot template phrases shared by everyone + genuine near-dups
    of different lengths) the filtered operator's pairs must equal a
    brute-force all-pairs Jaccard computed in Python."""
    import itertools

    from oxidsql_spark.operators.dedup import _JACCARD_N, _JACCARD_T, dedup_ngram_jaccard

    hot = "the quick brown fox jumps over the lazy dog again and again "
    docs = []
    # family A: 4 near-identical docs (one token appended each step)
    base = hot + "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(4):
        docs.append(base + " tail" + " x" * i)
    # family B: duplicates of a different doc
    b = hot + "one two three four five six seven eight nine ten eleven twelve"
    docs += [b, b]
    # unrelated docs sharing ONLY the hot prefix (must not pair)
    for i in range(6):
        docs.append(hot + " ".join(f"u{i}w{j}" for j in range(12)))

    import pandas as pd

    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs,
                        "lang": "en", "source": "t", "n_chars": [len(d) for d in docs]})
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }

    def shingles(text):
        toks = text.lower().split()
        return {" ".join(toks[i:i + _JACCARD_N]) for i in range(len(toks) - _JACCARD_N + 1)}

    want = {}
    sh = [shingles(d) for d in docs]
    for i, j in itertools.combinations(range(len(docs)), 2):
        inter = len(sh[i] & sh[j])
        jac = inter / (len(sh[i]) + len(sh[j]) - inter)
        if jac >= _JACCARD_T:
            want[(i, j)] = round(jac, 4)

    assert got == want and len(want) >= 4


def test_prepared_fingerprints_match_inline_incremental(spark, sf_dir, tmp_path):
    """The write-once fingerprint path must keep exactly the docs the
    inline (rehash-everything) incremental operator keeps."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        build_fingerprint_table,
        dedup_incremental,
        dedup_incremental_prepared,
    )
    from oxidsql_spark.sources import table

    new_sources = ["src15", "src16", "src17", "src18", "src19"]
    d = table(spark, sf_dir, "documents")
    old = d.filter(~F.col("source").isin(new_sources))
    new = d.filter(F.col("source").isin(new_sources))

    fp_path = str(tmp_path / "corpus_fp")
    build_fingerprint_table(spark, old, fp_path)

    got = sorted(r.doc_id for r in dedup_incremental_prepared(spark, new, fp_path).collect())
    want = sorted(r.doc_id for r in dedup_incremental(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_propagation_guard_raises_on_deep_chain(spark, monkeypatch):
    """An unconverged DISTRIBUTED propagation must raise, never return
    wrong labels (the driver fast path is forced off — it is always
    exact and has no iteration bound)."""
    import pytest

    from oxidsql_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_DRIVER_EDGE_CAP", -1)
    n = 8
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="converge"):
        graph.propagate_min_labels(docs, pairs, max_iters=2)
    labels = graph.propagate_min_labels(docs, pairs)  # default bound suffices
    assert {r.cluster_id for r in labels.collect()} == {0}


def test_propagation_driver_path_equals_distributed(spark, monkeypatch):
    """The union-find fast path and the min-label loop are the same
    function: identical (doc_id, cluster_id) sets on a graph mixing
    chains, a clique, singletons, and an out-of-order component."""
    from oxidsql_spark.operators import graph

    edges = (
        [(i, i + 1) for i in range(0, 6)]  # chain 0-6
        + [(10, 11), (11, 12), (10, 12)]  # triangle
        + [(20, 25), (25, 21), (21, 24)]  # min joins late
    )
    nodes = sorted({x for e in edges for x in e} | {30, 31})  # + singletons
    docs = spark.createDataFrame([(i,) for i in nodes], "doc_id long")
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")

    fast = sorted(
        (r.doc_id, r.cluster_id)
        for r in graph.propagate_min_labels(docs, pairs).collect()
    )
    monkeypatch.setattr(graph, "_CC_DRIVER_EDGE_CAP", -1)
    dist = sorted(
        (r.doc_id, r.cluster_id)
        for r in graph.propagate_min_labels(docs, pairs).collect()
    )
    assert fast == dist
    assert dict(fast)[24] == 20 and dict(fast)[6] == 0 and dict(fast)[30] == 30


def test_propagation_empty_corpus_converges(spark):
    """Zero nodes: the label-sum observation is NULL (sum over no rows),
    which must read as the fixed point — not as "never equal to the
    previous NULL", which would burn max_iters jobs and raise."""
    from oxidsql_spark.operators.graph import propagate_min_labels

    docs = spark.createDataFrame([], "doc_id long")
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    labels = propagate_min_labels(docs, pairs, max_iters=3)
    assert labels.count() == 0
    assert labels.columns == ["doc_id", "cluster_id"]


def test_embedding_cosine_guard_routes_above_cap(spark, sf_dir):
    """Above the broadcast row cap the operator must NOT collect the
    table to the driver: it routes to the LSH-bucketed candidate path —
    distinguishable from the exact GEMM by its bucket exchange between
    a sign pass and a verify pass (the GEMM plan is a single scan into
    one mapInPandas with a driver-broadcast matrix and NO exchange).
    The routed output's exact-verified pairs are a subset of the exact
    pair set."""
    from oxidsql_spark.operators.dedup import dedup_embedding_cosine, embedding_cosine_pairs

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    routed = embedding_cosine_pairs(spark, e, broadcast_row_cap=10)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(sig#" in plan  # the probe-bucket exchange
    assert plan.count("MapInPandas") == 2  # sign pass + verify pass

    exact_df = dedup_embedding_cosine(spark, sf_dir)
    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in exact_plan and "Exchange" not in exact_plan
    exact = {(r.a_id, r.b_id) for r in exact_df.collect()}
    got = {(r.a_id, r.b_id) for r in routed.collect()}
    assert got <= exact  # exact verify on candidates: zero false positives
    assert got  # and the banded buckets do recall some true pairs


def test_registered_lsh_query_equals_guarded_route(spark, sf_dir):
    """The registered `embedding_cosine_lsh` (driver-oracled) and the
    over-cap route inside `embedding_cosine_pairs` are the same code
    path — their outputs must be identical, so the driver row vouches
    for the guard's fallback too."""
    from oxidsql_spark.operators.dedup import embedding_cosine_lsh, embedding_cosine_pairs

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = sorted(map(tuple, embedding_cosine_lsh(spark, sf_dir).collect()))
    b = sorted(map(tuple, embedding_cosine_pairs(spark, e, broadcast_row_cap=10).collect()))
    assert a == b and a


def _half_up_4(x: float) -> float:
    """Spark's round(x, 4) on a double: HALF_UP on its shortest repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def test_lsh_bucket_pairing_equals_bruteforce_across_batches(spark):
    """The LSH verify pairs vectors inside probe buckets that arrive in
    many small Arrow batches.  On a crafted corpus (exact duplicates, one
    crowded bucket, pairs at hamming distance 0, 1 and 2) its output must
    equal a brute force over {(a, b): a < b, hamming(sig a, sig b) <= 1,
    cos >= t}: every pair exactly once, cos_sim bit-identical."""
    import math

    import numpy as np

    from oxidsql_spark.operators.dedup import _embedding_cosine_lsh_path
    from oxidsql_spark.operators.similarity import _hyperplanes

    dim, t = 16, 0.8
    rng = np.random.default_rng(7)
    center = rng.standard_normal(dim)
    crowd = center + 0.35 * rng.standard_normal((60, dim))  # one hot region
    dups = np.repeat(crowd[:3], 2, axis=0)  # exact copies under new ids
    far = rng.standard_normal((40, dim))
    vecs = np.vstack([crowd, dups, far]).astype(np.float32)
    ids = rng.permutation(len(vecs)) * 3 + 11  # id order != input order
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]

    # reference: plain sequential folds, the SQL evaluation order
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    planes = _hyperplanes(dim)
    sig = {i: sum(1 << k for k, p in enumerate(planes) if dot(v, p) >= 0) for i, v in rows}
    vec = dict(rows)
    want, seen_ham = [], set()
    for a in vec:
        for b in vec:
            if a >= b:
                continue
            cos = dot(vec[a], vec[b]) / (math.sqrt(dot(vec[a], vec[a])) * math.sqrt(dot(vec[b], vec[b])))
            ham = bin(sig[a] ^ sig[b]).count("1")
            if cos >= t:
                seen_ham.add(min(ham, 2))
                if ham <= 1:
                    want.append((a, b, _half_up_4(cos)))
    assert seen_ham == {0, 1, 2}  # the corpus exercises every case
    assert max(np.unique(list(sig.values()), return_counts=True)[1]) >= 10

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")  # buckets span many Arrow batches
    try:
        e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        got = sorted(map(tuple, _embedding_cosine_lsh_path(e, t).collect()))
    finally:
        spark.conf.set(key, old)
    assert len(got) == len({(a, b) for a, b, _ in got})  # each pair once
    assert got == sorted(want)


def test_embedding_cosine_lsh_plan_shape(spark, sf_dir):
    """Two Python passes around one bucket exchange: no persisted
    signature frame, no join re-attaching vectors to candidate ids."""
    from oxidsql_spark.cachescope import scoped_cache_count
    from oxidsql_spark.operators.dedup import embedding_cosine_lsh
    from oxidsql_spark.plans import executed_plan

    df = embedding_cosine_lsh(spark, sf_dir)
    assert df.collect()
    plan = executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert final.count("Exchange") == 1
    assert "Exchange hashpartitioning(sig#" in final
    assert "InMemoryTableScan" not in plan
    assert "BroadcastHashJoin" not in plan
    assert scoped_cache_count() == 0


def test_prepared_pair_table_clusters_match_direct(spark, sf_dir, tmp_path):
    """The persisted pair-graph path must produce exactly the clusters
    the direct path computes (write-once reuse, SCALE.md)."""
    from oxidsql_spark.operators.graph import (
        build_pair_table,
        dedup_clusters,
        dedup_clusters_prepared,
    )
    from oxidsql_spark.sources import table

    pair_path = str(tmp_path / "pairs")
    build_pair_table(spark, sf_dir, pair_path)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    prepared = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters_prepared(spark, docs, pair_path).collect()
    }
    direct = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(spark, sf_dir).collect()
    }
    assert prepared == direct


def test_prepared_ivf_index_matches_direct(spark, sf_dir, tmp_path):
    """The persisted IVF index path must return exactly what the direct
    IVF query computes, and its probe must prune to the probed cells'
    partitions."""
    from oxidsql_spark.operators.similarity import (
        ann_ivf_coarse,
        ann_ivf_prepared,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, idx)
    prepared = ann_ivf_prepared(spark, sf_dir, idx)
    direct = ann_ivf_coarse(spark, sf_dir)
    assert sorted(map(tuple, prepared.collect())) == sorted(map(tuple, direct.collect()))
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()


def test_ivf_admission_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental IVF admission (admit_ivf_vectors): appending a batch
    of new vectors assigned against the FROZEN persisted codebook must
    yield an index ROW-IDENTICAL to rebuilding from scratch over the
    grown corpus with the same centroids — and the probe over the
    admitted index must stay partition-pruned and return exactly the
    rebuilt index's results."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.similarity import (
        admit_ivf_vectors,
        ann_ivf_prepared,
        build_ivf_index,
        load_ivf_codebook,
    )
    from oxidsql_spark.sources import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    split = int(n * 0.7)
    initial = e.filter(F.col("vec_id") < split)  # contains the seed rows
    batch = e.filter(F.col("vec_id") >= split)

    grown = str(tmp_path / "ivf_grown")
    build_ivf_index(spark, sf_dir, grown, vectors=initial)
    skew = admit_ivf_vectors(spark, batch, grown)
    assert skew >= 1.0

    rebuilt = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(spark, sf_dir, rebuilt)

    got = {
        (r.vec_id, r.cell) for r in spark.read.parquet(grown).select("vec_id", "cell").collect()
    }
    want = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(rebuilt).select("vec_id", "cell").collect()
    }
    assert got == want and len(got) == n

    # codebook unchanged by admission (the frozen-centroid contract)
    cb_g = sorted(map(tuple, load_ivf_codebook(spark, grown).select("cell").collect()))
    cb_r = sorted(map(tuple, load_ivf_codebook(spark, rebuilt).select("cell").collect()))
    assert cb_g == cb_r

    # probe over the admitted index: identical results, still pruned
    p_grown = ann_ivf_prepared(spark, sf_dir, grown)
    p_rebuilt = ann_ivf_prepared(spark, sf_dir, rebuilt)
    assert sorted(map(tuple, p_grown.collect())) == sorted(map(tuple, p_rebuilt.collect()))
    plan = p_grown._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()


def test_ivf_drift_retrain_converges(spark, sf_dir, tmp_path):
    """The drift loop end-to-end: admitting a distribution-shifted batch
    raises cell-occupancy skew; retrain_ivf_index then trains a fresh
    codebook TO CONVERGENCE (exact integer fixed point, realized iters
    published) and writes a complete re-assigned index whose occupancy
    concentration is no worse than the drifted one's."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.similarity import (
        _IVF_DRIFT_SKEW,
        admit_ivf_vectors,
        build_ivf_index,
        load_ivf_codebook,
        retrain_ivf_index,
    )
    from oxidsql_spark.sources import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    idx = str(tmp_path / "ivf_drift")
    build_ivf_index(spark, sf_dir, idx)

    # distribution shift: clones of ONE existing vector, offset ids —
    # they all land in a single cell, concentrating occupancy
    seed_vec = e.filter(F.col("vec_id") == 30).first()["embedding"]
    clones = spark.createDataFrame(
        [(n + i, list(seed_vec)) for i in range(2 * n)],
        "vec_id long, embedding array<float>",
    )
    skew = admit_ivf_vectors(spark, clones, idx)
    assert skew > _IVF_DRIFT_SKEW, f"shifted batch should trip the trigger ({skew})"

    fresh = str(tmp_path / "ivf_fresh")
    iters = retrain_ivf_index(spark, idx, fresh)
    assert iters >= 1
    rebuilt = spark.read.parquet(fresh)
    assert rebuilt.count() == 3 * n  # every vector exactly once
    assert load_ivf_codebook(spark, fresh).count() >= 1
    # identical clones must share one cell, and the corpus must not
    # collapse into it — the retrained codebook still separates the
    # original distribution from the shifted mass
    clone_cells = rebuilt.filter(F.col("vec_id") >= n).select("cell").distinct().count()
    assert clone_cells == 1
    assert rebuilt.select("cell").distinct().count() >= 2


def test_incremental_minhash_recalls_cross_pairs(spark, sf_dir, tmp_path):
    """Persisted-signature incremental near-dup: every exact >=T pair
    spanning (new batch x existing corpus) must be recalled, without the
    corpus text ever being read."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        build_minhash_table,
        dedup_minhash_incremental,
        dedup_ngram_jaccard,
    )
    from oxidsql_spark.sources import table

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    tpath = str(tmp_path / "mh")
    build_minhash_table(spark, corpus, tpath)

    got = {
        (r.new_id, r.corpus_id)
        for r in dedup_minhash_incremental(spark, new, tpath).collect()
    }
    exact = dedup_ngram_jaccard(spark, sf_dir).collect()
    want = set()
    for r in exact:
        a_new, b_new = r.a_id % 5 == 0, r.b_id % 5 == 0
        if a_new and not b_new:
            want.add((r.a_id, r.b_id))
        elif b_new and not a_new:
            want.add((r.b_id, r.a_id))
    assert want, "fixture must contain cross near-dup pairs"
    assert want <= got  # full recall of exact cross pairs


def test_incremental_containment_matches_direct(spark, sf_dir, tmp_path):
    """Probing a new batch against the persisted shingle index must find
    exactly the (new-in-corpus) containment pairs the self-contained
    operator finds across the same split — corpus text never re-read."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        _CONT_T,
        _shingle_rows,
        build_shingle_index,
        dedup_containment_incremental,
    )
    from oxidsql_spark.sources import table

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    ipath = str(tmp_path / "shingle_idx")
    build_shingle_index(spark, corpus, ipath)
    got = {
        (r.new_id, r.corpus_id, r.containment)
        for r in dedup_containment_incremental(spark, batch, ipath).collect()
    }

    # reference: direct exact containment across the split
    eb = _shingle_rows(batch)
    n_tab = eb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    eb = eb.join(n_tab, "doc_id").select(
        F.col("doc_id").alias("new_id"), "shingle", "n_a"
    )
    ec = _shingle_rows(corpus).select(F.col("doc_id").alias("corpus_id"), "shingle")
    ref = (
        eb.join(ec, "shingle")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"), F.any_value("n_a").alias("n_a"))
    )
    c = F.col("inter").cast("double") / F.col("n_a")
    want = {
        (r.new_id, r.corpus_id, r.containment)
        for r in ref.filter(c >= _CONT_T)
        .select("new_id", "corpus_id", F.round(c, 4).alias("containment"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_bloom_incremental_equals_exact(spark, sf_dir, tmp_path):
    """Bloom-pre-filtered incremental dedup must keep EXACTLY the rows
    the exact anti-join keeps (no false negatives by construction; false
    positives are caught by the residual anti-join), and every corpus
    fingerprint must probe 'maybe' (the no-false-negative property,
    asserted directly).  Runs at n_bits = 2²⁶ — a filter size whose bit
    array (8 MB dense, 2²⁰ word rows) the old driver-assembly path had
    to build in a Python list; the distributed word table carries only
    the populated words and nothing data-sized touches the driver (the
    probe is a join; the single driver read is the 1-row n_bits
    lookup)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        bloom_probe,
        build_fingerprint_bloom,
        build_fingerprint_table,
        dedup_incremental_bloom,
        dedup_incremental_prepared,
    )

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)
    fp_path = str(tmp_path / "fps")
    bloom_path = str(tmp_path / "bloom")
    build_fingerprint_table(spark, corpus, fp_path)
    fp_df = spark.read.parquet(fp_path).select("fp")
    build_fingerprint_bloom(spark, fp_df, bloom_path, n_bits=1 << 26)
    words = spark.read.parquet(bloom_path)
    n_bits = int(words.select("n_bits").first()["n_bits"])
    assert n_bits == 1 << 26

    # no false negatives: every corpus fingerprint probes positive
    flags = bloom_probe(fp_df, words, n_bits)
    assert flags.filter(~F.col("bloom_maybe")).count() == 0

    got = sorted(
        map(tuple, dedup_incremental_bloom(spark, batch, fp_path, words).collect())
    )
    want = sorted(
        map(tuple, dedup_incremental_prepared(spark, batch, fp_path).collect())
    )
    assert got == want and got


def test_bloom_probe_duplicate_fps_no_false_negative(spark, sf_dir, tmp_path):
    """A fingerprint appearing MULTIPLE times in the probed batch (a
    batch-internal duplicate of a corpus doc — exactly what a dedup
    filter exists to catch) must still probe 'maybe'.  Regression lock:
    the probe once exploded K hit rows per input ROW instead of per
    distinct fingerprint, so m copies produced K·m hits, failed the
    sum(hit)==K test, and the duplicate was classified 'definitely new'
    — a false negative that sf0.001 data never exercised (it has no
    duplicated fps) but sf0.1 does."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        bloom_probe,
        bloom_word_table,
        build_fingerprint_table,
        dedup_incremental_bloom,
        dedup_incremental_prepared,
    )

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    fp_path = str(tmp_path / "fps")
    build_fingerprint_table(spark, corpus, fp_path)
    n_bits = 1 << 20
    words = bloom_word_table(spark.read.parquet(fp_path).select("fp"), n_bits)

    # probe a frame where every corpus fingerprint appears 3 times
    tripled = corpus.select(F.md5(F.col("text").cast("binary")).alias("fp"))
    tripled = tripled.unionByName(tripled).unionByName(tripled)
    flags = bloom_probe(tripled, words, n_bits)
    assert flags.filter(~F.col("bloom_maybe")).count() == 0

    # end-to-end: a batch that CONTAINS duplicated corpus docs must
    # match the exact anti-join row-for-row (duplicates all removed)
    dup_batch = corpus.limit(20).unionByName(corpus.limit(20)).unionByName(
        d.filter(F.col("doc_id") % 3 == 0).limit(30)
    )
    got = sorted(
        map(tuple, dedup_incremental_bloom(spark, dup_batch, fp_path, words).collect())
    )
    want = sorted(
        map(tuple, dedup_incremental_prepared(spark, dup_batch, fp_path).collect())
    )
    assert got == want


def test_bloom_rejects_novel_and_sizing(spark, sf_dir, tmp_path):
    """The filter must actually filter: fingerprints absent from the
    corpus should overwhelmingly probe negative (FPR well under the
    ~1% design point at 10 bits/key), and bloom_size_bits implements
    the documented power-of-two bits-per-key rule."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        bloom_probe,
        bloom_size_bits,
        bloom_word_table,
    )

    assert bloom_size_bits(1) == 1 << 16  # floor
    assert bloom_size_bits(1_000_000) == 1 << 24  # 10⁷ bits → next pow2
    assert bloom_size_bits(10**9) == 1 << 34  # the 100 TB case

    d = table(spark, sf_dir, "documents")
    corpus_fp = d.select(F.md5("text").alias("fp"))
    n_corpus = corpus_fp.count()
    n_bits = bloom_size_bits(n_corpus)
    words = bloom_word_table(corpus_fp, n_bits)
    # novel keys: salted hashes that are not in the corpus
    novel = d.select(F.md5(F.concat_ws("#", F.lit("novel"), "text")).alias("fp"))
    flags = bloom_probe(novel, words, n_bits)
    n_novel = flags.count()
    fp_hits = flags.filter(F.col("bloom_maybe")).count()
    assert fp_hits / n_novel < 0.05  # design point ~1%; generous bound


def test_pagerank_convergence_driven(spark, sf_dir):
    """part_pagerank iterates until an exact integer fixed point (or the
    oracle-depth cap) — not a fixed small unroll.  last_iters publishes
    the realized count; it must exceed the old 2-step unroll and stay
    within the cap that keeps the unrolled oracle exact."""
    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.operators.graph import _PR_MAX_ITERS, part_pagerank

    df = part_pagerank(spark, sf_dir)
    assert df.count() > 0
    release_scoped_caches()
    assert 2 < part_pagerank.last_iters <= _PR_MAX_ITERS


def test_ann_ivf_kmeans_recall_floor(spark, sf_dir):
    """recall@k of the trained-codebook IVF path vs the exact brute
    force: the approximate operator is oracle-exact on what it EMITS,
    but its usefulness is recall — lock a floor so codebook/probe
    changes that silently destroy recall fail loudly.  Floor documented
    in SCALE.md §ANN recall."""
    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.operators.similarity import ann_ivf_kmeans, ann_topk_bruteforce

    exact = {(r.q_id, r.vec_id) for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    ivf = {(r.q_id, r.vec_id) for r in ann_ivf_kmeans(spark, sf_dir).collect()}
    release_scoped_caches()
    recall = len(ivf & exact) / len(exact)
    # measured 0.93 (deterministic pipeline); floor leaves headroom for
    # driver-regenerated testdata only
    assert recall >= 0.85, f"IVF recall@10 {recall:.3f} under floor"


def test_embedding_cosine_lsh_recall_floor(spark, sf_dir):
    """recall of the LSH-bucketed near-dup path vs the exact pair set
    (>= threshold cosine pairs): candidates come only from hyperplane
    buckets (hamming-<=1 probes), so recall < 1 is possible by design —
    lock the measured floor.  Precision is exact by construction (every
    candidate is exact-verified)."""
    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.operators.dedup import (
        _COS_T,
        dedup_embedding_cosine,
        embedding_cosine_pairs,
    )
    from oxidsql_spark.sources import table as _table

    e = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = {(r.a_id, r.b_id) for r in dedup_embedding_cosine(spark, sf_dir).collect()}
    lsh = {(r.a_id, r.b_id) for r in embedding_cosine_pairs(spark, e, broadcast_row_cap=10).collect()}
    release_scoped_caches()
    assert lsh <= exact  # exact-verified candidates: no false pairs
    if exact:
        recall = len(lsh & exact) / len(exact)
        # Measured 0.205 on the synthetic corpus: every exact pair sits
        # at cosine 0.30-0.48 (60-72 deg) — the hardest regime for
        # hyperplane LSH with hamming<=1 probing, where per-bit
        # agreement is only ~0.6.  Real near-dup corpora cluster far
        # above threshold; the floor locks against regressions, the
        # recall lever at production scale is more probes / multiple
        # hash tables (documented in SCALE.md §ANN recall).
        assert recall >= 0.15, f"LSH pair recall {recall:.3f} under floor"


def test_bloom_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """Admitting a batch via merge_fingerprint_bloom must produce the
    EXACT word table a from-scratch rebuild over corpus ∪ batch gives
    (bloom filters are unions of bit sets), so incremental admission
    never drifts from the rebuild path."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import (
        bloom_word_table,
        build_fingerprint_bloom,
        merge_fingerprint_bloom,
    )

    d = table(spark, sf_dir, "documents")
    corpus_fp = d.filter(F.col("doc_id") % 3 != 0).select(F.md5("text").alias("fp"))
    batch_fp = d.filter(F.col("doc_id") % 3 == 0).select(F.md5("text").alias("fp"))
    path = str(tmp_path / "bloom")
    n_bits = 1 << 20
    build_fingerprint_bloom(spark, corpus_fp, path, n_bits=n_bits)
    merge_fingerprint_bloom(spark, batch_fp, path)

    from oxidsql_spark.versioned import read_artifact

    merged = {
        (r.w, r.m) for r in read_artifact(spark, path).select("w", "m").collect()
    }
    rebuilt = {
        (r.w, r.m)
        for r in bloom_word_table(corpus_fp.unionByName(batch_fp), n_bits)
        .select("w", "m")
        .collect()
    }
    assert merged == rebuilt and merged
    n_bits_read = read_artifact(spark, path).select("n_bits").first()["n_bits"]
    assert int(n_bits_read) == n_bits


def test_bloom_build_autosizes(spark, sf_dir, tmp_path):
    """build_fingerprint_bloom without n_bits applies the bits-per-key
    rule to the actual corpus count."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import bloom_size_bits, build_fingerprint_bloom

    d = table(spark, sf_dir, "documents").select(F.md5("text").alias("fp"))
    path = str(tmp_path / "auto")
    build_fingerprint_bloom(spark, d, path)
    got = int(spark.read.parquet(path).select("n_bits").first()["n_bits"])
    assert got == bloom_size_bits(d.count())


def test_kmeans_convergence_mode(spark, sf_dir):
    """converge=True runs Lloyd to an exact integer fixed point (capped):
    the returned centroids must be a FIXED POINT — one more update step
    leaves them unchanged — and the realized iteration count exceeds the
    registered queries' fixed 2-step unroll."""
    from oxidsql_spark.operators.similarity import (
        _km_quantized,
        _km_train,
    )

    e = _km_quantized(spark, sf_dir)
    cents = _km_train(e, iters=25, converge=True)
    realized = _km_train.last_iters
    assert 2 < realized <= 25
    # fixed-point check: one further step from the converged centroids
    again = _km_train(e, iters=1, init=cents)
    assert again == cents


def test_ann_pq_recall_floors(spark, sf_dir):
    """PQ recall vs the exact brute force, two stages: pure ADC ranking
    over 8x16-code compression is the shortlist stage (modest recall on
    the adversarially-random synthetic corpus — real embedding corpora
    cluster, PQ's favorable regime), and the ADC-shortlist + exact
    rerank is the production top-k.  Both emitted sets are oracle-exact;
    these floors lock their USEFULNESS against codebook regressions.
    Measured at sf0.001: ADC 0.29, rerank 0.82."""
    from oxidsql_spark.operators.similarity import (
        ann_pq_adc,
        ann_pq_rerank,
        ann_topk_bruteforce,
    )

    exact = {(r.q_id, r.vec_id) for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    adc = {(r.q_id, r.vec_id) for r in ann_pq_adc(spark, sf_dir).collect()}
    rer = {(r.q_id, r.vec_id) for r in ann_pq_rerank(spark, sf_dir).collect()}
    assert len(adc & exact) / len(exact) >= 0.15, "pure-ADC recall under floor"
    assert len(rer & exact) / len(exact) >= 0.70, "PQ+rerank recall under floor"
    # rerank can only improve on the pure compressed-domain ranking
    assert len(rer & exact) >= len(adc & exact)


def test_ann_ivfadc_pruned_and_recall(spark, sf_dir, tmp_path):
    """IVFADC end-to-end: the persisted cell-partitioned CODE index's
    probe scan must prune to the probed cells' partitions (the scan that
    makes the composition beat pure PQ at 100 TB), and the composed
    pipeline's recall vs the exact brute force must clear a floor.
    The registered `ann_ivfadc` query's DuckDB oracle locks exactness;
    these floors lock usefulness."""
    from oxidsql_spark.operators.similarity import (
        ann_ivfadc_search,
        build_ivfadc_index,
        ann_topk_bruteforce,
    )

    idx = str(tmp_path / "ivfadc")
    build_ivfadc_index(spark, sf_dir, idx)
    res = ann_ivfadc_search(spark, sf_dir, idx)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()

    exact = {(r.q_id, r.vec_id) for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    got = {(r.q_id, r.vec_id) for r in res.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.40, f"IVFADC recall@10 {recall:.3f} under floor"


def _pq_train_per_subspace(e):
    """Reference PQ trainer: the integer Lloyd trainer (`_km_train`) run
    independently per subspace — 2·M jobs.  The semantic spec the fused
    `pq_train` is equality-tested against."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators import similarity as S

    return {
        m: S._km_train(
            e.select(
                "vec_id", F.slice("qv", m * S._PQ_SUB + 1, S._PQ_SUB).alias("qv")
            ),
            k=S._PQ_K,
            iters=S._KM_ITERS,
            dim=S._PQ_SUB,
        )
        for m in range(S._PQ_M)
    }


def test_pq_fused_trainer_equals_per_subspace(spark, sf_dir):
    """The fused PQ trainer (one Arrow pass per iteration for all M
    subspaces) must reproduce the per-subspace `_km_train` codebooks
    bit-for-bit — the property that keeps the unrolled per-subspace SQL
    oracle valid."""
    from oxidsql_spark.operators.similarity import _km_quantized, pq_train

    e = _km_quantized(spark, sf_dir)
    assert pq_train(e) == _pq_train_per_subspace(e)


def test_pq_trains_once_per_input_version(spark, sf_dir, monkeypatch):
    """ann_pq_adc, ann_pq_rerank and the IVFADC index build share one PQ
    training per input version, and the index's books are exactly what
    `pq_train` derives from the quantized corpus."""
    import os
    import shutil

    from oxidsql_spark.operators import similarity as S
    from oxidsql_spark.registry import load_all
    from oxidsql_spark.sources import input_fingerprint, scratch_dir

    for kind in (S._PQ_BOOKS_KIND, "ivfadc"):
        shutil.rmtree(scratch_dir(kind, sf_dir), ignore_errors=True)
    trained = []
    orig = S.pq_train
    monkeypatch.setattr(S, "pq_train", lambda e: trained.append(1) or orig(e))
    qs = load_all()
    for name in ("ann_pq_adc", "ann_pq_rerank", "ann_ivfadc"):
        assert qs[name].fn(spark, sf_dir).count() > 0
    assert len(trained) == 1
    idx = os.path.join(scratch_dir("ivfadc", sf_dir), input_fingerprint(sf_dir))
    _, books = S._load_ivfadc_books(spark, idx)
    assert books == orig(S._km_quantized(spark, sf_dir))


def test_fused_encode_adc_equals_two_pass(spark, sf_dir):
    """The r15 fused encode+ADC Arrow pass (`_adc_scan(encode_books=)`)
    must be row-identical to the two-pass form (pq_encode, then
    _adc_scan over materialized codes) — the in-batch argmin position
    indexes the LUT exactly as searchsorted recovers it from a code."""
    from oxidsql_spark.operators.similarity import (
        _N_QUERIES,
        _adc_scan,
        _km_quantized,
        _pq_lut,
        pq_encode,
        pq_train,
    )
    from pyspark.sql import functions as F

    e = _km_quantized(spark, sf_dir)
    books = pq_train(e)
    q_ids, _, luts, code_ids = _pq_lut(
        books, e.filter(F.col("vec_id") < _N_QUERIES).collect()
    )
    two_pass = {
        tuple(r)
        for r in _adc_scan(pq_encode(e, books), q_ids, luts, code_ids).collect()
    }
    fused = {
        tuple(r)
        for r in _adc_scan(e, q_ids, luts, code_ids, encode_books=books).collect()
    }
    assert fused == two_pass and len(fused) > 0


def test_ivfadc_admission_equals_frozen_encode(spark, sf_dir, tmp_path):
    """IVFADC incremental admission: appending a batch encoded against
    the FROZEN persisted codebooks must yield an index row-identical to
    encoding the grown corpus against those same codebooks, the
    codebooks themselves must be untouched, and the search over the
    admitted index must stay partition-pruned."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.similarity import (
        _km_assigned_batch,
        _load_ivfadc_books,
        _quantize_vecs,
        admit_ivfadc_vectors,
        ann_ivfadc_search,
        build_ivfadc_index,
        pq_encode,
    )
    from oxidsql_spark.sources import table

    # build on a filtered corpus slice that keeps the deterministic
    # codebook seeds (vec_id < K), then admit the rest
    full = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = full.count()
    split = int(n * 0.7)
    idx = str(tmp_path / "ivfadc_grow")

    import oxidsql_spark.operators.similarity as S

    class _Sliced:
        pass

    # build_ivfadc_index reads the full corpus via _km_quantized; build
    # over the initial slice by calling its internals directly
    e0 = _quantize_vecs(full.filter(F.col("vec_id") < split))
    cents = S._km_train(e0)
    books = S.pq_train(e0)
    assigned0 = _km_assigned_batch(e0, cents).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    pq_encode(e0, books).join(assigned0, "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(idx)
    spark.createDataFrame(
        [(int(c), [int(x) for x in cents[c]]) for c in sorted(cents)],
        "cell int, qcent array<bigint>",
    ).write.mode("overwrite").parquet(S._codebook_path(idx))
    spark.createDataFrame(
        [(m, int(c), [int(x) for x in books[m][c]])
         for m in range(S._PQ_M) for c in sorted(books[m])],
        "sub int, code bigint, cent array<bigint>",
    ).write.mode("overwrite").parquet(S._pqbooks_path(idx))

    skew = admit_ivfadc_vectors(
        spark, full.filter(F.col("vec_id") >= split), idx
    )
    assert skew >= 1.0

    # admitted == full corpus encoded against the SAME frozen books
    ef = _quantize_vecs(full)
    want_codes = pq_encode(ef, books)
    want_cells = _km_assigned_batch(ef, cents).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    want = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in want_codes.join(want_cells, "vec_id").collect()
    }
    got = {
        (r.vec_id, tuple(r.codes), r.cell)
        for r in spark.read.parquet(idx).select("vec_id", "codes", "cell").collect()
    }
    assert got == want and len(got) == n

    cents2, books2 = _load_ivfadc_books(spark, idx)
    assert cents2 == cents and books2 == books  # frozen-codebook contract

    res = ann_ivfadc_search(spark, sf_dir, idx)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()
    assert res.count() > 0


def test_semantic_prune_hot_cluster_blocked_equals_dense(spark):
    """Cluster-size guard for semantic dedup: with 80% of all vectors
    hashed into ONE cluster, the blocked block-pair decomposition
    (block=16 → many bounded tasks) must produce row-for-row the same
    pruning decisions — same pruned set, same lowest-id dup_of, same
    rounded similarity — as the single-task dense path (block larger
    than the cluster).  This is the mechanical bound that keeps one hot
    cluster from materializing an n_c×n_c matrix in a single task."""
    from oxidsql_spark.operators.similarity import semantic_prune

    state = 12345
    def rnd():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return ((state >> 33) / float(1 << 31)) - 1.0

    rows = []
    vecs = {}
    for i in range(500):
        cluster = 1 if i < 400 else 2  # 80% hot cluster
        if i % 7 == 3 and i > 10:
            v = list(vecs[i - 3])  # verbatim duplicate -> cos 1.0
        else:
            v = [rnd() for _ in range(8)]
        vecs[i] = v
        rows.append((i, cluster, v))
    members = spark.createDataFrame(
        rows, "vec_id bigint, cluster bigint, embedding array<float>"
    )
    dense = {
        (r.vec_id, r.cluster, r.dup_of, r.cos_sim)
        for r in semantic_prune(members, 0.8, block=10**9).collect()
    }
    blocked = {
        (r.vec_id, r.cluster, r.dup_of, r.cos_sim)
        for r in semantic_prune(members, 0.8, block=16).collect()
    }
    assert blocked == dense
    assert len(dense) > 20  # the planted duplicates were found
    pruned = {v for v, _, _, _ in dense}
    assert 17 in pruned  # 17 duplicates 14 (i%7==3 plant)


def test_ivfadc_admit_sink_replay_and_crash_window_idempotent(spark, sf_dir, tmp_path):
    """Streaming IVFADC admission under at-least-once redelivery: a
    replayed batch (marker present) is skipped, and the torn window —
    codes appended but the marker write crashed — is healed by the
    restart anti-join, so no duplicate code rows can ever land."""
    from pyspark.sql import functions as F

    from oxidsql_spark.operators.similarity import (
        _make_admit_sink,
        admit_ivfadc_vectors,
        build_ivfadc_index,
    )
    from oxidsql_spark.sources import table

    idx = str(tmp_path / "ivfadc_sink")
    build_ivfadc_index(spark, sf_dir, idx)
    base_n = spark.read.parquet(idx).count()

    vecs = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") >= 400)
        .withColumn("vec_id", F.col("vec_id") + 200000)
    )
    b0 = vecs.filter(F.col("vec_id") % 2 == 0)
    b1 = vecs.filter(F.col("vec_id") % 2 == 1)

    sink = _make_admit_sink(spark, idx)
    sink(b0, 0)
    n_after0 = spark.read.parquet(idx).count()
    sink(b0, 0)  # straight redelivery -> skipped by the marker
    assert spark.read.parquet(idx).count() == n_after0

    # crash window: batch 1's append committed, marker write lost,
    # process restarts (fresh sink => recovery anti-join active)
    admit_ivfadc_vectors(spark, b1, idx)
    n_committed = spark.read.parquet(idx).count()
    sink2 = _make_admit_sink(spark, idx)
    sink2(b1, 1)  # redelivery after the 'crash'
    got = spark.read.parquet(idx)
    assert got.count() == n_committed  # no duplicate code rows
    assert got.select("vec_id").distinct().count() == got.count()
    assert got.count() == base_n + b0.count() + b1.count()


def test_incremental_clusters_admission_equals_full(spark, tmp_path):
    """IncrementalClusters over two admissions equals full
    re-clustering of the union — including the hard case where a new
    document BRIDGES two existing clusters (both old labels remapped
    to the global min id), a later batch joining an old singleton with
    a smaller id (old label remapped DOWN), plus new singletons and
    shingle-less docs."""
    from oxidsql_spark.operators.graph import IncrementalClusters, cluster_documents

    w = " ".join(f"w{j}" for j in range(20))
    z = " ".join(f"z{j}" for j in range(20))
    q = " ".join(f"q{j}" for j in range(15))
    corpus = spark.createDataFrame(
        [
            (100, w),
            (101, w + " tail1 tail2"),
            (102, z),
            (103, z + " tail3 tail4"),
            (104, q),
            (105, "yo"),
        ],
        "doc_id bigint, text string",
    )
    bridge = " ".join(f"w{j}" for j in range(10)) + " " + " ".join(
        f"z{j}" for j in range(10)
    )
    batch1 = spark.createDataFrame(
        [(50, bridge), (51, "totally unique new content here today"), (52, "hi there")],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [(10, q), (11, "another fresh unique document entirely")],
        "doc_id bigint, text string",
    )

    state = IncrementalClusters(spark, str(tmp_path / "clstate"))
    state.build(corpus)
    base = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    assert (100, 100) in base and (101, 100) in base and (103, 102) in base

    state.admit(batch1)
    after1 = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    full1 = {
        (r.doc_id, r.cluster_id)
        for r in cluster_documents(corpus.unionByName(batch1)).collect()
    }
    assert after1 == full1
    # the bridge merged both old clusters under the new global min
    assert {(50, 50), (100, 50), (101, 50), (102, 50), (103, 50)} <= after1
    assert (52, 52) in after1  # shingle-less stays a singleton

    state.admit(batch2)
    after2 = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    full2 = {
        (r.doc_id, r.cluster_id)
        for r in cluster_documents(
            corpus.unionByName(batch1).unionByName(batch2)
        ).collect()
    }
    assert after2 == full2
    assert (104, 10) in after2 and (10, 10) in after2  # label remapped DOWN


def test_incremental_clusters_rewrites_only_touched_buckets(spark, tmp_path):
    """The labels store's 100 TB property: an admission's manifest delta
    touches ONLY the new labels' buckets plus the remapped old labels'
    buckets — every other bucket's data directory carries over by
    reference (identical relative path across versions), never
    rewritten."""
    from oxidsql_spark.operators.graph import IncrementalClusters

    # many singleton clusters spread across buckets
    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12))) for i in range(100, 160)],
        "doc_id bigint, text string",
    )
    state = IncrementalClusters(spark, str(tmp_path / "bstate"))
    state.build(corpus)
    m1 = state._labels._manifest(state._latest())["groups"]

    # one new doc near-dups exactly one existing cluster (doc 100)
    batch = spark.createDataFrame(
        [(50, " ".join(f"c100w{j}" for j in range(12)) + " extra")],
        "doc_id bigint, text string",
    )
    state.admit(batch)
    m2 = state._labels._manifest(state._latest())["groups"]

    changed = {k for k in m1 if m2.get(k) != m1[k]} | (set(m2) - set(m1))
    expected = {
        str(r.b)
        for r in spark.createDataFrame([(100,), (50,)], "x bigint")
        .select(IncrementalClusters._bkt("x").alias("b"))
        .collect()
    }
    assert changed <= expected and changed  # only the touched buckets moved
    assert len(m1) > len(expected)  # plenty of untouched buckets existed
    # and the relabel landed
    labs = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    assert (100, 50) in labs and (50, 50) in labs


def test_incremental_clusters_admit_reads_no_full_labels(spark, tmp_path, monkeypatch):
    """The O(batch + touched buckets) claim, plan-locked: a steady-state
    admission never reads EITHER labels layout whole — the old-id→label
    lookup goes through the doc-bucketed secondary's read_partitions,
    the remap reads only the old labels' cluster-buckets, and both
    commit upserts skip the holding scan (extra_touched /
    partition_from_key)."""
    from oxidsql_spark.operators.graph import IncrementalClusters
    from oxidsql_spark.versioned import VersionedTable

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(12))) for i in range(100, 140)],
        "doc_id bigint, text string",
    )
    state = IncrementalClusters(spark, str(tmp_path / "nfstate"))
    state.build(corpus)

    full_reads = []
    orig_read = VersionedTable.read

    def spy(self, version=None):
        full_reads.append(self.path)
        return orig_read(self, version)

    monkeypatch.setattr(VersionedTable, "read", spy)
    batch = spark.createDataFrame(
        [(50, " ".join(f"c100w{j}" for j in range(12)) + " extra")],
        "doc_id bigint, text string",
    )
    state.admit(batch)
    assert full_reads == [], f"admit scanned a labels layout whole: {full_reads}"
    labs = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    assert (100, 50) in labs and (50, 50) in labs


def test_incremental_clusters_probe_broadcast_guard(spark, tmp_path, monkeypatch):
    """The index probe broadcasts the batch's shingle rows only under
    _PROBE_BROADCAST_CAP; above the cap the admission shuffle-joins on
    the shingle key and lands the identical labels — batch size is
    never silently capped by broadcast memory."""
    from oxidsql_spark.operators.graph import IncrementalClusters

    w = " ".join(f"w{j}" for j in range(20))
    corpus = spark.createDataFrame(
        [(100, w), (101, w + " tail1 tail2"), (104, "solo doc body entirely")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(50, w + " tail9"), (51, "fresh unique content right here")],
        "doc_id bigint, text string",
    )

    s1 = IncrementalClusters(spark, str(tmp_path / "bc_on"))
    s1.build(corpus)
    s1.admit(batch)
    assert s1._last_probe_broadcast is True
    want = {(r.doc_id, r.cluster_id) for r in s1.labels().collect()}

    monkeypatch.setattr(IncrementalClusters, "_PROBE_BROADCAST_CAP", 0)
    s2 = IncrementalClusters(spark, str(tmp_path / "bc_off"))
    s2.build(corpus)
    s2.admit(batch)
    assert s2._last_probe_broadcast is False
    got = {(r.doc_id, r.cluster_id) for r in s2.labels().collect()}
    assert got == want and (50, 50) in got and (100, 50) in got


def test_incremental_clusters_secondary_crash_rebuild(spark, tmp_path):
    """Crash in the window between the primary labels commit and the
    doc-bucketed secondary commit: the marker stays stale, and the NEXT
    admission's _sync_by_doc rebuilds the secondary from the committed
    primary — admitted labels still equal full re-clustering."""
    from oxidsql_spark.operators.graph import IncrementalClusters, cluster_documents

    w = " ".join(f"w{j}" for j in range(20))
    z = " ".join(f"z{j}" for j in range(20))
    corpus = spark.createDataFrame(
        [(100, w), (102, z)], "doc_id bigint, text string"
    )
    batch1 = spark.createDataFrame(
        [(50, w + " tailx")], "doc_id bigint, text string"
    )
    batch2 = spark.createDataFrame(
        [(10, z + " taily")], "doc_id bigint, text string"
    )

    path = str(tmp_path / "crashstate")
    state = IncrementalClusters(spark, path)
    state.build(corpus)
    # simulate the crash: primary commits, secondary + marker don't
    state._by_doc.upsert = lambda *a, **k: 0
    state._mark_by_doc = lambda v: None
    state.admit(batch1)

    fresh = IncrementalClusters(spark, path)  # restart
    assert fresh._by_doc_version() != fresh._latest()  # stale detected
    fresh.admit(batch2)
    got = {(r.doc_id, r.cluster_id) for r in fresh.labels().collect()}
    want = {
        (r.doc_id, r.cluster_id)
        for r in cluster_documents(
            corpus.unionByName(batch1).unionByName(batch2)
        ).collect()
    }
    assert got == want and (10, 10) in got and (102, 10) in got


def test_span_cut_removes_repeated_spans_keep_first(spark):
    """span_cut excises every non-first occurrence of a corpus-repeated
    k-token span (keep-first policy, corpus-wide (doc_id, pos) order),
    including intra-document repeats — and the output is a fixed point:
    a second pass finds nothing left to cut."""
    from oxidsql_spark.operators.dedup import _SPAN_K, span_cut

    boiler = " ".join(f"b{j}" for j in range(_SPAN_K))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + boiler),          # first occurrence
            (2, boiler + " delta epsilon zeta"),         # later copy -> cut
            (3, "eta " + boiler + " theta"),             # third copy -> cut
            (4, "x0 x1 x2 x3 x4 x5 x6 x7 and then x0 x1 x2 x3 x4 x5 x6 x7"),
            (5, "completely unique text with no repeats anywhere at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in span_cut(docs).collect()}
    # first occurrence survives whole
    assert out[1].n_kept == out[1].n_tokens
    assert out[1].cleaned == "alpha beta gamma " + boiler
    # later copies lose exactly the boilerplate tokens
    assert out[2].cleaned == "delta epsilon zeta"
    assert out[3].cleaned == "eta theta"
    # intra-doc repeat: the second 8-token run is cut ("and then" kept)
    assert out[4].cleaned.startswith("x0 x1 x2 x3 x4 x5 x6 x7 and then")
    assert out[4].n_kept == 10
    # untouched doc passes through byte-identical
    assert out[5].cleaned == docs.filter("doc_id = 5").collect()[0].text
    # fixed point: re-running the cut on the cleaned corpus cuts nothing
    cleaned_docs = spark.createDataFrame(
        [(d, r.cleaned) for d, r in out.items()], "doc_id bigint, text string"
    )
    second = {r.doc_id: r for r in span_cut(cleaned_docs).collect()}
    assert all(r.n_kept == r.n_tokens for r in second.values())


def test_span_cut_incremental_matches_full_cut(spark, tmp_path):
    """When every corpus doc_id precedes every batch doc_id, the
    incremental cut (corpus occurrences always win keep-first) must
    equal the full-corpus span_cut restricted to the batch docs — plus
    the semantic specifics: a batch copy of a corpus span is cut, a
    batch-internal repeat keeps its own first, unique batch text
    passes through untouched."""
    from oxidsql_spark.operators.dedup import (
        _SPAN_K,
        build_span_index,
        span_cut,
        span_cut_incremental,
    )

    boiler = " ".join(f"b{j}" for j in range(_SPAN_K))
    corpus = spark.createDataFrame(
        [(1, "intro words here " + boiler), (2, "some other corpus text entirely")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, boiler + " fresh tail"),                  # corpus span -> cut
            (11, "brand new unique sentence with words"),  # untouched
            (12, "p0 p1 p2 p3 p4 p5 also p0 p1 p2 p3 p4 p5"),  # batch-internal
            (13, "p0 p1 p2 p3 p4 p5 again"),               # repeats doc 12's span
        ],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "spanidx")
    build_span_index(spark, corpus, idx)
    inc = {r.doc_id: r for r in span_cut_incremental(spark, batch, idx).collect()}
    assert inc[10].cleaned == "fresh tail"
    assert inc[11].n_kept == inc[11].n_tokens
    assert inc[12].cleaned.startswith("p0 p1 p2 p3 p4 p5 also")
    assert inc[12].n_kept == 7
    assert inc[13].cleaned == "again"
    # equivalence with the full-corpus transform on the batch rows
    full = {
        r.doc_id: (r.n_tokens, r.n_kept, r.cleaned)
        for r in span_cut(corpus.unionByName(batch)).collect()
        if r.doc_id >= 10
    }
    got = {d: (r.n_tokens, r.n_kept, r.cleaned) for d, r in inc.items()}
    assert got == full


def test_pca_train_project_properties(spark, sf_dir):
    """PCA over the distributed moments: orthonormal components ordered
    by descending non-negative eigenvalue, and the projected corpus's
    per-component variance reproduces the eigenvalues — the numerical
    contract the OPQ-style rotation relies on."""
    import numpy as np

    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.operators.similarity import (
        _km_quantized,
        pca_project,
        pca_train,
    )

    e = _km_quantized(spark, sf_dir)
    comps, mu, vals = pca_train(e, 8)
    assert all(vals[i] >= vals[i + 1] - 1e-9 for i in range(len(vals) - 1))
    assert vals[-1] >= -1e-6  # covariance is PSD
    c = np.asarray(comps)
    assert np.allclose(c @ c.T, np.eye(8), atol=1e-8)
    p = np.stack(pca_project(e, comps, mu).toPandas()["proj"].to_numpy())
    v = p.var(axis=0)  # 1/n convention, matching cov = G/n - mu mu^T
    assert np.allclose(v, vals, rtol=1e-6)
    assert all(v[i] >= v[i + 1] - 1e-6 for i in range(len(v) - 1))
    release_scoped_caches()


def test_opq_rotation_lifts_adc_recall(spark, sf_dir):
    """The OPQ consumer's point, measured where it is statistically
    stable: over ALL corpus vectors as queries (the registered query's
    10 are too few — ±0.08 swings), eigen-allocated rotation must not
    lose to the unrotated codebooks, and plain un-allocated PCA is the
    known-worse control (it concentrates variance into the first
    subspace).  Measured at both sf fixtures: flat 0.26, plain-PCA
    0.235, OPQ-alloc 0.277."""
    import numpy as np

    from oxidsql_spark.operators.similarity import (
        _adc_scan,
        _eig_alloc,
        _km_quantized,
        _pq_lut,
        _KM_DIM,
        _PQ_M,
        _TOP_K,
        opq_rotate,
        opq_train,
        pca_train,
        pq_encode,
        pq_train,
    )

    e = _km_quantized(spark, sf_dir).persist()
    n = e.count()

    def recall(frame):
        frame = frame.persist()
        try:
            books = pq_train(frame)
            codes = pq_encode(frame, books)
            qrows = [r.asDict() for r in frame.collect()]
            q_ids, _, luts, code_ids = _pq_lut(books, qrows)
            top = _adc_scan(codes, q_ids, luts, code_ids, keep=_TOP_K)
            from pyspark.sql import Window as W
            from pyspark.sql import functions as F

            w = W.partitionBy("q_id").orderBy(F.col("dist").asc(), "vec_id")
            got = {
                (r.q_id, r.vec_id)
                for r in top.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= _TOP_K)
                .collect()
            }
        finally:
            frame.unpersist()
        return len(got & exact) / (n * _TOP_K)

    # exact integer-euclidean ground truth, numpy over the collected
    # corpus (n x 64 — a test-oracle, not the operator under test)
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    X = np.stack([np.array(r.qv, dtype=np.int64) for r in rows])
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    exact = set()
    D = ((X[:, None, :].astype(np.float64) - X[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(D, np.inf)
    for qi in range(len(ids)):
        order = np.lexsort((ids, D[qi]))[:_TOP_K]
        exact.update((int(ids[qi]), int(ids[j])) for j in order)

    r_flat = recall(e.select("vec_id", "qv"))
    comps, mu = opq_train(e)
    r_opq = recall(opq_rotate(e, comps, mu))
    comps_pca, mu_pca, _ = pca_train(e, _KM_DIM)
    r_pca = recall(opq_rotate(e, comps_pca, mu_pca))
    e.unpersist()
    assert r_opq >= r_flat, f"OPQ rotation lost recall: {r_opq} < flat {r_flat}"
    assert r_opq > r_pca, f"allocation gave nothing over plain PCA: {r_opq} vs {r_pca}"
    assert r_opq >= 0.25, f"absolute OPQ recall floor: {r_opq}"


def test_span_scrub_removes_all_boilerplate_occurrences(spark):
    """The semantic distinction from span_cut: a span at/above the
    frequency floor survives NOWHERE (span_cut keeps the first copy),
    and spans below the floor survive everywhere."""
    from oxidsql_spark.operators.dedup import _SPAN_K, span_cut, span_scrub

    boiler = " ".join(f"b{j}" for j in range(_SPAN_K))
    rows = [
        (i, f"u{i}a u{i}b {boiler} u{i}c u{i}d") for i in range(4)  # 4 copies
    ] + [(10, "x0 x1 x2 x3 x4 x5 x6 x7"), (11, "x0 x1 x2 x3 x4 x5 x6 x7")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in span_scrub(docs, min_freq=4).collect()}
    # every copy of the 4x boilerplate span is gone, unique text stays
    for i in range(4):
        assert out[i].cleaned == f"u{i}a u{i}b u{i}c u{i}d", out[i].cleaned
    # the pair below the floor (2 < 4) is untouched by the scrub...
    assert out[10].n_kept == 8 and out[11].n_kept == 8
    # ...while span_cut would still dedup it keep-first
    cut = {r.doc_id: r for r in span_cut(docs).collect()}
    assert cut[10].n_kept == 8 and cut[11].n_kept == 0


def test_ann_opq_ivfadc_pruned_and_recall(spark, sf_dir, tmp_path):
    """The rotated composed index end-to-end: the probe scan must prune
    to the probed cells' partitions (same contract as plain IVFADC),
    and the reranked top-k must clear the recall floor vs the exact
    cosine brute force."""
    from oxidsql_spark.operators.similarity import (
        ann_opq_ivfadc_search,
        ann_topk_bruteforce,
        build_opq_ivfadc_index,
    )

    idx = str(tmp_path / "opqivf")
    build_opq_ivfadc_index(spark, sf_dir, idx)
    res = ann_opq_ivfadc_search(spark, sf_dir, idx)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()
    got = {(r.q_id, r.vec_id) for r in res.collect()}
    exact = {(r.q_id, r.vec_id) for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"rotated IVFADC rerank recall {recall}"


def test_split_oversized_keyed_trainer_matches_sequential(spark, monkeypatch):
    """De-serialization lock (r12 What's-wrong watch item): with TWO hot
    clusters, (1) the keyed Lloyd pass runs exactly `iters` partials
    jobs TOTAL — one per iteration, independent of hot-cluster count —
    and (2) the refined partition of every hot cluster's members equals
    training that cluster ALONE through the per-cluster `_km_train`
    with the same init (groups never mix in the keyed pass)."""
    from pyspark.sql import functions as F

    import oxidsql_spark.operators.similarity as S

    # two separated hot clusters (ids 3 and 7), 24 members each, plus a
    # cold cluster that must pass through untouched
    rows = []
    for i in range(24):
        rows.append((100 + i, 3, [i * 50, 0, 0, 0]))
        rows.append((200 + i, 7, [0, 0, i * 50, 9000]))
    rows += [(900 + i, 1, [5, 5, 5, 5]) for i in range(3)]
    mq = spark.createDataFrame(
        [(v, c, [int(x) for x in q]) for v, c, q in rows],
        "vec_id bigint, cluster bigint, qv array<bigint>",
    )

    calls = []
    real = S._km_update_partials_keyed

    def counting(e, cents):
        calls.append(sorted(cents))
        return real(e, cents)

    monkeypatch.setattr(S, "_km_update_partials_keyed", counting)
    # max_depth=1: compare exactly ONE level against the sequential
    # reference (deeper levels recurse on sub-cells, which the
    # per-cluster reference never did — covered by the recursion test)
    refined = S.split_oversized_cells(mq, cap=10, max_depth=1)
    cells = {r.vec_id: r.cell for r in refined.collect()}
    # one partials job per iteration, each covering BOTH hot clusters
    assert len(calls) == 2 and all(c == [3, 7] for c in calls)
    assert set(cells) == {v for v, c, _ in rows if c in (3, 7)}

    # sequential reference: per-cluster _km_train with the same
    # deterministic init (first k_sub members by vec_id)
    def partition_of(cluster_id):
        sub = mq.filter(F.col("cluster") == cluster_id).select("vec_id", "qv")
        k_sub = min(64, 2 * (-(-24 // 10)))
        init_rows = sub.orderBy("vec_id").limit(k_sub).collect()
        init = {i: list(r["qv"]) for i, r in enumerate(init_rows)}
        cents = S._km_train(sub, k=k_sub, iters=2, init=init, dim=4)
        assigned = S._km_assigned_batch(sub, cents)
        groups: dict = {}
        for r in assigned.collect():
            groups.setdefault(r["cluster"], set()).add(r["vec_id"])
        return {frozenset(g) for g in groups.values()}

    got = {}
    for v, c, _ in rows:
        if c in (3, 7):
            got.setdefault((c, cells[v]), set()).add(v)
    keyed_parts = {
        c: {frozenset(g) for (cc, _), g in got.items() if cc == c} for c in (3, 7)
    }
    assert keyed_parts[3] == partition_of(3)
    assert keyed_parts[7] == partition_of(7)


def test_split_oversized_cells_recurses_past_the_k_sub_ceiling(spark):
    """ADVICE r12: k_sub caps at 64 per LEVEL, so one level is only a
    constant-factor reduction on a mega-cluster — the split must
    recurse on sub-cells still above the cap.  A spread 64-member
    cluster at cap=4 (k_sub = 2·⌈64/4⌉ capped … leaves first-level
    cells over cap) must end with every distinct-vector cell at or
    under the cap, using deeper-level cell ids; and identical vectors
    (unsplittable by any k-means) terminate via max_depth instead of
    looping."""
    from oxidsql_spark.operators.similarity import (
        _SEM_SPLIT_BASE,
        split_oversized_cells,
    )

    rows = [(i, 0, [i * 97, (i * 31) % 256, 0, 0]) for i in range(64)]
    mq = spark.createDataFrame(
        [(v, c, [int(x) for x in q]) for v, c, q in rows],
        "vec_id bigint, cluster bigint, qv array<bigint>",
    )
    refined = split_oversized_cells(mq, cap=4)
    cells = {r.vec_id: r.cell for r in refined.collect()}
    assert set(cells) == set(range(64))
    from collections import Counter

    sizes = Counter(cells.values())
    assert max(sizes.values()) <= 4, sizes
    assert any(c >= (_SEM_SPLIT_BASE << 1) for c in cells.values()), (
        "no deeper-level cell ids — recursion never fired"
    )

    # identical vectors: k-means cannot separate them; the split must
    # TERMINATE (max_depth backstop) and still map every member
    same = spark.createDataFrame(
        [(i, 0, [7, 7, 7, 7]) for i in range(10)],
        "vec_id bigint, cluster bigint, qv array<bigint>",
    )
    r2 = split_oversized_cells(same, cap=4, max_depth=3)
    m2 = {r.vec_id: r.cell for r in r2.collect()}
    assert set(m2) == set(range(10))
    assert len(set(m2.values())) == 1  # honestly unsplittable


def test_split_oversized_cells_bounds_pair_work(spark):
    """Hot-cluster TIME bound for semantic dedup: a cluster over the cap
    is re-clustered with its own sub-codebook, pair work drops from
    n_c² to Σ n_sub², and near-dup pairs WITHIN a blob are still found
    through the refined cells.  An under-cap layout returns None (zero
    extra machinery on the production-sized path)."""
    from collections import Counter

    from oxidsql_spark.operators.similarity import (
        semantic_prune,
        split_oversized_cells,
    )

    # 4 well-separated blobs, 60 members each, ALL forced into cluster 0
    # (vec_id % 4 = blob, so the deterministic first-k init spans blobs);
    # each blob plants verbatim duplicate pairs.
    dim = 8
    corners = [
        [1000 if d < 2 else 0 for d in range(dim)],
        [1000 if 2 <= d < 4 else 0 for d in range(dim)],
        [1000 if 4 <= d < 6 else 0 for d in range(dim)],
        [1000 if d >= 6 else 0 for d in range(dim)],
    ]
    state = 99

    def rnd():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return (state >> 40) % 40  # small jitter

    rows = []
    for i in range(240):
        blob = i % 4
        if i >= 8 and i % 8 == 5:
            v = rows[i - 4][2]  # same blob (i-4 ≡ i mod 4), verbatim dup
        else:
            v = [c + rnd() for c in corners[blob]]
        rows.append((i, 0, v))
    mq = spark.createDataFrame(
        [(i, c, [int(x) for x in v]) for i, c, v in rows],
        "vec_id bigint, cluster bigint, qv array<bigint>",
    )

    assert split_oversized_cells(mq, cap=512) is None  # under cap

    refined = split_oversized_cells(mq, cap=64)
    assert refined is not None
    cells = {r.vec_id: r.cell for r in refined.collect()}
    assert set(cells) == {i for i, _, _ in rows}  # every hot member mapped
    sizes = Counter(cells.values())
    n_c = len(rows)
    assert sum(s * s for s in sizes.values()) < n_c * n_c / 2  # work dropped
    # no refined cell holds more than one blob's worth of vectors (+dups)
    assert max(sizes.values()) <= 90
    # blob coherence: a verbatim-dup pair must share a refined cell, so
    # the downstream prune still catches it
    members = spark.createDataFrame(
        [(i, cells[i], [float(x) for x in v]) for i, _, v in rows],
        "vec_id bigint, cluster bigint, embedding array<double>",
    )
    pruned = {r.vec_id: r.dup_of for r in semantic_prune(members, 0.999).collect()}
    planted = {i: i - 4 for i in range(8, 240) if i % 8 == 5}
    for hi, lo in planted.items():
        assert cells[hi] == cells[lo], f"dup pair {lo},{hi} split across cells"
        assert pruned.get(hi) is not None  # the duplicate was still pruned
