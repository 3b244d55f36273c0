"""Similarity search over the `embeddings` table (array<float> column).

Baseline: brute-force cosine top-k (exact, oracle-checkable).
Scale paths: LSH (random-hyperplane) bucketed search and an IVF-style
coarse quantizer — both restrict the candidate set before exact scoring,
which is the only strategy that survives billions of vectors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import (
    as_double_vec,
    cosine_sim,
    local_rows_df,
    vec_dot,
    vec_dot_unrolled,
    vec_norm,
)
from ..registry import register
from ..sources import table

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 10


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         scored AS (
           SELECT q.q_id, c.vec_id,
                  list_cosine_similarity(q.qv, c.cv) AS sim
           FROM q JOIN c ON q.q_id <> c.vec_id)
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """,
    bench=True,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Query side is tiny → broadcast; the scan over candidates is a single
    embarrassingly-parallel pass (no shuffle of the big side), then a
    per-query top-k window. This is the exact baseline the approximate
    variants are measured against — and the right plan shape even at
    scale: broadcast queries, one pass, per-partition heaps."""
    # Norms are hoisted to one fold per ROW (identical float bits — the
    # same expression evaluated before the join); only the dot product
    # runs per pair. The non-equi broadcast join is a nested-loop plan,
    # so per-pair expression cost is the whole game.
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    c = e.select("vec_id", F.col("v").alias("cv"), "nrm")
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
        .withColumn("sim", vec_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


# --- LSH: random-hyperplane signatures ------------------------------------

_LSH_PLANES = 12  # 12-bit signatures → 4096 buckets
_LSH_SEED = 42


def _hyperplanes(dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (xorshift-free LCG on fixed
    seed — no numpy needed, reproducible everywhere)."""
    planes = []
    state = _LSH_SEED
    for _ in range(_LSH_PLANES):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # in [-1, 1)
        planes.append(row)
    return planes


def lsh_signature(v: F.Column, dim: int) -> F.Column:
    """Sign-bit signature of v against the fixed hyperplanes (int).

    Stays on the zip_with fold deliberately: unrolling the 12×dim dot
    products into element_at chains was measured SLOWER (the ~770-term
    expression falls out of whole-stage codegen entirely), so consumers
    that evaluate signatures in several plan branches persist the
    signature frame instead (see dedup._embedding_cosine_lsh_path)."""
    planes = _hyperplanes(dim)
    sig = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        sig = sig + F.when(vec_dot(v, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def _plane_sql(p: list[float]) -> str:
    """A hyperplane as a DuckDB DOUBLE[] literal."""
    return "[" + ", ".join(repr(x) for x in p) + "]"


def _lsh_oracle() -> str:
    """DuckDB re-derivation of the full LSH pipeline: the hyperplanes are
    fixed constants, so signatures, hamming-1 probe buckets, and the
    final exact rerank are all SQL-expressible — a complete independent
    oracle for an 'approximate' operator (approximate relative to
    brute-force, but a deterministic function of the data)."""
    planes = _hyperplanes(64)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_sql(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    probe_list = ", ".join(["qsig"] + [f"xor(qsig, {1 << i})" for i in range(_LSH_PLANES)])
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sigs AS (SELECT vec_id, v, {sig_terms} AS sig FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, sig AS qsig FROM sigs WHERE vec_id < {_N_QUERIES}),
    probes AS (SELECT q_id, qv, unnest([{probe_list}]) AS sig FROM q),
    scored AS (
      SELECT p.q_id, c.vec_id, list_cosine_similarity(p.qv, c.v) AS sim
      FROM sigs c JOIN probes p ON c.sig = p.sig
      WHERE p.q_id <> c.vec_id)
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """


@register("ann_lsh_bucketed", oracle=_lsh_oracle())
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets prune candidates
    to signatures within hamming distance 1 of the query's signature,
    then exact cosine ranks the survivors.

    At billions of vectors the bucket join replaces the full scan: the
    candidate side shuffles on the bucket id (balanced by construction —
    hyperplanes split mass evenly), queries stay broadcast. Recall vs the
    exact baseline is asserted in tests."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", as_double_vec("embedding").alias("v"))
    dim = 64
    sig = lsh_signature(F.col("v"), dim)
    c = e.select("vec_id", "v", sig.alias("sig"))
    q = (
        c.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("sig").alias("qsig"))
    )
    # probe buckets: exact signature + all hamming-1 neighbors
    probes = q.select(
        "q_id",
        "qv",
        F.explode(
            F.array(F.col("qsig"), *[F.col("qsig").bitwiseXOR(F.lit(1 << i)) for i in range(_LSH_PLANES)])
        ).alias("sig"),
    )
    scored = (
        c.join(F.broadcast(probes), "sig")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("sim", cosine_sim(F.col("qv"), F.col("v")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


_IVF_CELLS, _IVF_PROBE = 16, 4


def _ivf_oracle() -> str:
    """DuckDB re-derivation of the IVF pipeline (fixed centroids → fully
    deterministic): nearest-cell assignment, 4-cell probe, exact rerank."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < {_IVF_CELLS}),
    asg AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
        FROM e, cents c) WHERE rk = 1),
    q AS (
      SELECT vec_id AS q_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) AS rk
        FROM e, cents c WHERE e.vec_id < {_N_QUERIES}) WHERE rk <= {_IVF_PROBE}),
    scored AS (
      SELECT q.q_id, a.vec_id, list_cosine_similarity(q.qv, a.v) AS sim
      FROM asg a JOIN q ON a.cell = q.cell
      WHERE q.q_id <> a.vec_id)
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """


@register("ann_ivf_coarse", oracle=_ivf_oracle())
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style search: a coarse codebook (here: the first 16 vectors as
    fixed centroids — a stand-in for a trained k-means codebook), every
    vector assigned to its nearest centroid, queries probe the 4 nearest
    cells. Partitioning by cell id is exactly how a 100 TB vector corpus
    is laid out so a query touches only its probed cells' partitions.

    Nearest-cell assignment is a max_by aggregation (map-side partial
    combine, no per-vector sort window), and norms are computed once per
    row — never per (vector × centroid) pair."""
    n_cells, n_probe = _IVF_CELLS, _IVF_PROBE
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    cents = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    cell_scored = e.join(F.broadcast(cents)).withColumn(
        "d", vec_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    )
    # argmax via max_by on (d, -cell): highest similarity, lowest cell on
    # ties — partial-aggregatable, unlike a row_number window over all
    # n×16 scored rows.
    assigned = cell_scored.groupBy("vec_id").agg(
        F.any_value("v").alias("v"),
        F.any_value("nrm").alias("nrm"),
        F.max_by("cell", F.struct(F.col("d").alias("d"), (-F.col("cell")).alias("nc"))).alias("cell"),
    )
    q = (
        cell_scored.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("rk", F.row_number().over(W.partitionBy("vec_id").orderBy(F.col("d").desc(), "cell")))
        .filter(F.col("rk") <= n_probe)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"), "cell")
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("sim", vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


# -- persisted IVF index (the production build-once/query-many shape) ----


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    vectors: DataFrame | None = None,
) -> None:
    """Persist the IVF assignment table (vec_id, cell, v, nrm), written
    PARTITIONED BY cell — the on-disk layout where a query's probed
    cells map to partition directories, so the search scans only those
    files. Written once per corpus snapshot, reused by every query
    batch (same write-once discipline as dedup.build_fingerprint_table
    and graph.build_pair_table).

    The codebook is persisted WITH the index (``_codebook/``, an
    underscore dir the partitioned scan ignores) — the frozen-centroid
    contract incremental admission needs: ``admit_ivf_vectors`` assigns
    new vectors against exactly the centroids this build used, never a
    re-derivation from a corpus that has since grown.

    ``vectors`` overrides the corpus frame (default: the full
    embeddings table) — it must contain vec_id < n_cells, the
    deterministic centroid seed rows."""
    n_cells = _IVF_CELLS
    e = (
        vectors
        if vectors is not None
        else table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", as_double_vec("embedding").alias("v")).withColumn(
        "nrm", vec_norm(F.col("v"))
    )
    cents = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    assigned = _ivf_assign(e, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out_path)
    cents.write.mode("overwrite").parquet(_codebook_path(out_path))


def _codebook_path(index_path: str) -> str:
    import os

    return os.path.join(index_path, "_codebook")


def load_ivf_codebook(spark: SparkSession, index_path: str) -> DataFrame:
    """The index's frozen centroid set: (cell, cv, cnrm)."""
    from ..sources import artifact

    return artifact(spark, _codebook_path(index_path))


def _ivf_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, cell): nearest-centroid assignment by cosine —
    broadcast centroid join + max_by argmax (map-side combinable, no
    per-vector sort window), the one assignment rule shared by the
    initial build and incremental admission so admitted ≡ rebuilt."""
    return (
        e.join(F.broadcast(cents))
        .withColumn("d", vec_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")))
        .groupBy("vec_id")
        .agg(
            F.any_value("v").alias("v"),
            F.any_value("nrm").alias("nrm"),
            F.max_by(
                "cell", F.struct(F.col("d").alias("d"), (-F.col("cell")).alias("nc"))
            ).alias("cell"),
        )
    )


def admit_ivf_vectors(
    spark: SparkSession, new_vecs: DataFrame, index_path: str
) -> float:
    """Incremental index admission: assign a batch of NEW vectors
    (vec_id, embedding) against the index's FROZEN persisted codebook
    and append them into the cell partitions — no rebuild, no touch of
    existing rows, cost scales with the batch.  Because the codebook is
    frozen, an admitted index is row-identical to rebuilding from
    scratch over the grown corpus with the same centroids
    (equivalence-tested), and partition-pruned probes keep working —
    appended files land inside the existing cell=N directories.

    Returns the post-admission cell-occupancy SKEW
    (max cell count × n_cells / total): the drift signal.  Centroids
    frozen at build time drift as the corpus distribution moves, and
    drift shows up as occupancy concentration — when skew exceeds
    ~_IVF_DRIFT_SKEW, re-train via ``retrain_ivf_index`` (fresh
    codebook, ``_km_train(converge=True)``).  The occupancy scan is a
    footer-count aggregation over (cell), ≤ n_cells result rows."""
    cents = load_ivf_codebook(spark, index_path)
    e = new_vecs.select("vec_id", as_double_vec("embedding").alias("v")).withColumn(
        "nrm", vec_norm(F.col("v"))
    )
    _ivf_assign(e, cents).write.mode("append").partitionBy("cell").parquet(index_path)
    occ = (
        spark.read.parquet(index_path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .first()
    )
    return float(occ["mx"] * _IVF_CELLS / occ["tot"])


_IVF_DRIFT_SKEW = 3.0  # occupancy skew that should trigger a retrain


def retrain_ivf_index(
    spark: SparkSession, index_path: str, out_path: str, k: int = _IVF_CELLS
) -> int:
    """Drift response: re-train the codebook TO CONVERGENCE over the
    current index's vectors (``_km_train(converge=True)`` — quantized
    Lloyd to an exact integer fixed point, capped) and write a FRESH
    cell-partitioned index + codebook to ``out_path`` — the write-once
    discipline again: the old index stays live until the caller swaps
    paths (or commits through a ``versioned`` manifest).  Returns the
    realized Lloyd iteration count.

    The retrained codebook is stored dequantized (centroid/scale) in
    the same (cell, cv, cnrm) schema, so every probe path reads either
    generation of index identically."""
    idx = spark.read.parquet(index_path).select("vec_id", "v", "nrm")
    q = idx.select(
        "vec_id",
        F.expr(f"transform(v, e -> CAST(floor(e * {_KM_SCALE}) AS BIGINT))").alias("qv"),
    )
    seed = {
        r["vec_id"]: list(r["qv"])
        for r in q.orderBy("vec_id").limit(k).collect()
    }
    cents = _km_train(q, k=k, iters=25, init=seed, converge=True)
    iters = _km_train.last_iters
    assigned = (
        _km_assigned_batch(q, cents)
        .join(idx, "vec_id")
        .select("vec_id", "v", "nrm", F.col("cluster").alias("cell"))
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out_path)
    rows = [
        (int(c), [v / _KM_SCALE for v in cents[c]]) for c in sorted(cents)
    ]
    cb = local_rows_df(spark, rows, "cell bigint, cv array<double>").withColumn(
        "cnrm", vec_norm(F.col("cv"))
    )
    cb.write.mode("overwrite").parquet(_codebook_path(out_path))
    return iters


def ann_ivf_prepared(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Search a PREBUILT IVF index: queries rank their probed cells
    against the index's PERSISTED codebook (broadcast-size; the same
    frozen centroids admission uses — falling back to the first-K
    derivation for a pre-codebook index), then scan only those cells'
    partitions of the index — partition pruning does the cell
    restriction, no recomputation of assignments. Result is identical
    to ann_ivf_coarse (equivalence-tested)."""
    import os

    n_probe = _IVF_PROBE
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    if os.path.isdir(_codebook_path(index_path)):
        cents = load_ivf_codebook(spark, index_path)
    else:
        cents = e.filter(F.col("vec_id") < _IVF_CELLS).select(
            F.col("vec_id").alias("cell"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .join(F.broadcast(cents))
        .withColumn("d", vec_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")))
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("vec_id").orderBy(F.col("d").desc(), "cell")),
        )
        .filter(F.col("rk") <= n_probe)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"), "cell")
    )
    idx = spark.read.parquet(index_path)
    scored = (
        idx.join(F.broadcast(q), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("sim", vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


@register("ann_ivf_prepared", oracle=_ivf_oracle())
def ann_ivf_prepared_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end run of the persisted-index ANN path
    (previously pytest-equivalence-only): build the cell-PARTITIONED
    IVF artifact (``build_ivf_index`` — the write-once layout where a
    query's probed cells are partition directories), then search it with
    ``ann_ivf_prepared``, whose scan touches only the probed cells'
    partitions (partition pruning asserted on the executed plan in
    tests/test_dedup_similarity.py).  Result is cell-for-cell identical
    to ``ann_ivf_coarse``, so the same DuckDB oracle locks it."""
    import os

    out = os.path.join(
        "/tmp",
        f"oxidsql_ivf_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    build_ivf_index(spark, sf_dir, out)
    return ann_ivf_prepared(spark, sf_dir, out)


@register(
    "embeddings_dim_stats",
    oracle="""
    WITH ex AS (
      SELECT u.i - 1 AS dim,
             CAST(round(CAST(embedding[CAST(u.i AS INTEGER)] AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT dim,
           count(*) AS n,
           round(CAST(sum(q) AS DOUBLE) / 1000000 / count(*), 6) AS mean_v,
           round(sqrt((CAST(sum(q * q) AS DOUBLE)
                       - CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE) / count(*))
                      / count(*)) / 1000000, 6) AS std_v,
           round(CAST(min(q) AS DOUBLE) / 1000000, 6) AS min_v,
           round(CAST(max(q) AS DOUBLE) / 1000000, 6) AS max_v
    FROM ex GROUP BY dim
    """,
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean/std/min/max) — the
    normalization pass every embedding pipeline runs before indexing or
    training (whitening, scaling, detecting dead dimensions).

    Float sums are partial-agg merge-order dependent, so each value is
    quantized JVM-side to integer micro-units (round(v·1e6), the same
    half-away-from-zero in Spark and DuckDB on the identical double) and
    the moments accumulate as exact integers — sumsq in decimal(38,0)
    headroom like events_anomaly, so the result is bit-identical at any
    parallelism. posexplode fans out rows map-side; the single shuffle
    carries one partial per (dim, partition): dims × partitions rows,
    independent of corpus size."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000).cast("bigint").alias("q"),
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum((F.col("q").cast("decimal(38,0)") * F.col("q"))).alias("ss"),
        F.min("q").alias("mn"),
        F.max("q").alias("mx"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    return agg.select(
        "dim",
        "n",
        F.round(s / 1_000_000 / n, 6).alias("mean_v"),
        F.round(F.sqrt((ss - s * s / n) / n) / 1_000_000, 6).alias("std_v"),
        F.round(F.col("mn").cast("double") / 1_000_000, 6).alias("min_v"),
        F.round(F.col("mx").cast("double") / 1_000_000, 6).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd) — the codebook trainer the IVF operators consume
# ---------------------------------------------------------------------------

_KM_K = 8  # clusters
_KM_ITERS = 2  # Lloyd update iterations (assign→update, twice), then a
#                final assignment under the converged-so-far centroids
_KM_SCALE = 1000  # quantization: x -> floor(x * 1000) as bigint
_KM_DIM = 64  # embeddings are fixed 64-dim (oracle unrolls over this)


def _km_ctes() -> str:
    """The shared CTE chain for the quantized Lloyd oracle: quantized
    exploded coordinates `ex`, centroid generations c0→c2, assignments
    a1→a3 (a3 = final assignment under the round-2 centroids).  Used by
    the kmeans oracle and composed further by the IVF-on-kmeans oracle.

    Why it can match Spark bit-for-bit: every arithmetic step is
    integer.  Vectors quantize to floor(x·1000) (float→double widening
    is exact and the double multiply/floor are IEEE-identical in both
    engines); distances are integer sums of squares (associative —
    partial-agg merge order can't change them); centroid updates
    floor-divide integer sums by integer counts. The only doubles are
    the division inside the centroid floor, where |sum/count| < 2^31
    keeps the double quotient within 1 ulp — much closer than the
    1/count gap to the nearest integer — so floor(double) == exact
    floor in both engines."""
    k, scale, dim = _KM_K, _KM_SCALE, _KM_DIM

    def assign(cents: str) -> str:
        return f"""(
      SELECT vec_id, c AS cluster FROM (
        SELECT e.vec_id, c.c,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY sum((e.x - c.m) * (e.x - c.m)), c.c) AS rk
        FROM ex e JOIN {cents} c ON e.dim = c.dim
        GROUP BY e.vec_id, c.c) WHERE rk = 1)"""

    def update(asg: str) -> str:
        return f"""(
      SELECT a.cluster AS c, e.dim,
             CAST(floor(CAST(sum(e.x) AS DOUBLE) / count(*)) AS BIGINT) AS m
      FROM {asg} a JOIN ex e USING (vec_id) GROUP BY a.cluster, e.dim)"""

    return f"""q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            e -> CAST(floor(e * {scale}) AS BIGINT)) AS qv
      FROM embeddings),
    ex AS (SELECT vec_id, CAST(u.i AS INTEGER) AS dim,
                  qv[CAST(u.i AS INTEGER)] AS x
           FROM q, range(1, {dim + 1}) AS u(i)),
    c0 AS (SELECT vec_id AS c, dim, x AS m FROM ex WHERE vec_id < {k}),
    a1 AS {assign("c0")},
    c1 AS {update("a1")},
    a2 AS {assign("c1")},
    c2 AS {update("a2")},
    a3 AS {assign("c2")}"""


def _km_oracle() -> str:
    """DuckDB re-derivation of the quantized Lloyd iterations (see
    _km_ctes for the exactness argument)."""
    return f"""
    WITH {_km_ctes()}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster_id FROM a3
    """


@register("embeddings_kmeans", oracle=_km_oracle())
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd) over the embedding corpus — the
    trainer for the coarse codebook `ann_ivf_coarse`'s docstring
    stubs with fixed centroids, and the standard corpus-curation
    clustering step (topic balancing, diversity sampling).

    Scale shape per iteration (the MLlib KMeans plan, expressed in
    DataFrame ops): centroids live in the plan as broadcast literals
    (K·dim ints — bytes, not data); the assignment pass is per-row map
    work with zero shuffle; the update is one posexplode +
    (cluster, dim)-keyed partial aggregation whose shuffle carries
    K·dim rows *per partition*, independent of corpus size; the K·dim
    sums collect to the driver (the distwindow offset pattern). Driver
    round-trips = ITERS, never proportional to data.

    Cross-engine exactness: vectors quantize to floor(x·1000) integers;
    distances are integer sums of squares (associative, so partial-agg
    merge order is irrelevant — the float-sum hazard every other
    embedding op here dodges the same way); centroid updates are
    integer floor-divisions. Ties in the argmin break to the lowest
    cluster id, matching the oracle's (dist, c) sort. Empty clusters
    drop out of the aggregation identically in both engines.
    zip_with/aggregate evaluate interpreted (acceptable: per-row cost,
    no shuffle; the alternative — 512 unrolled codegen terms — buys
    nothing at K=8)."""
    e = _km_quantized(spark, sf_dir)
    cents = _km_train(e)
    return _km_assigned_batch(e, cents).select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster_id")
    )


def _km_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): embedding quantized to floor(x·scale) bigints —
    the integer domain every k-means step runs in.

    Scope-persisted: every consumer is iterative (Lloyd re-reads the
    frame once per iteration, then assignment/probe passes read it
    again), so caching the quantized frame replaces iters+2 parquet
    scans + transform evaluations with one.  At sf0.1 this is NEUTRAL
    under bench.py's warmup+timed discipline (measured 1.62 s median
    both ways — the embeddings scan is too small to matter; an earlier
    −28% claim did not reproduce and BENCH_r09's +25% was ambient, not
    the persist); the persist stays because iters+2 full scans is the
    real cost at 100 TB, where the input does not fit the page cache.
    The scoped lifecycle releases it at end of query."""
    from ..cachescope import scoped_persist

    return scoped_persist(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr(
                f"transform(embedding, e -> "
                f"CAST(floor(CAST(e AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
            ).alias("qv"),
        )
    )


def _km_dist_to(cent: list[int]) -> F.Column:
    """Integer squared distance from the row's qv to a centroid literal."""
    lit = F.array(*[F.lit(int(v)) for v in cent])
    return F.aggregate(
        F.zip_with("qv", lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _km_assign(cents: dict[int, list[int]]) -> F.Column:
    """Nearest-centroid id; ties break to the lowest cluster id (the
    oracle's (dist, c) sort).  Column form — right for small frames
    (query probes); full-corpus assignment goes through
    _km_assigned_batch (the zip_with lambdas evaluate interpreted)."""
    cs = sorted(cents)
    dists = F.array(*[_km_dist_to(cents[c]) for c in cs])
    pos = F.array_position(dists, F.array_min(dists))
    return F.element_at(F.array(*[F.lit(c) for c in cs]), pos.cast("int"))


def _km_assigned_batch(
    e: DataFrame, cents: dict[int, list[int]], keep_qv: bool = False
) -> DataFrame:
    """(vec_id[, qv], cluster) via one Arrow-batched numpy pass — the
    full-corpus twin of _km_assign.  Exactness is preserved: distances
    are int64 sums of squares (quantized coords ≤ ~scale, so no
    overflow at any real dimension), and np.argmin's first-minimum rule
    over ascending cluster ids IS the oracle's (dist, c) tie-break.
    Measured ~2× over the interpreted zip_with fold at K=8, dim=64."""
    import numpy as np
    import pandas as pd

    cs = sorted(cents)
    C = np.array([cents[c] for c in cs], dtype=np.int64)  # (K, dim)
    ids = np.array(cs, dtype=np.int64)
    out_schema = (
        "vec_id bigint, qv array<bigint>, cluster int"
        if keep_qv
        else "vec_id bigint, cluster int"
    )

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # (n, dim)
            # (n, K) integer distance matrix; exact (no float anywhere)
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cl = ids[np.argmin(d, axis=1)]
            cols = {"vec_id": pdf["vec_id"], "cluster": cl.astype(np.int32)}
            if keep_qv:
                cols["qv"] = pdf["qv"]
            yield pd.DataFrame(cols)

    return e.select("vec_id", "qv").mapInPandas(assign_batches, out_schema)


def _km_train(
    e: DataFrame,
    k: int = _KM_K,
    iters: int = _KM_ITERS,
    init: dict[int, list[int]] | None = None,
    dim: int = _KM_DIM,
    converge: bool = False,
) -> dict[int, list[int]]:
    """Lloyd iterations over a frame with a `qv` column; returns the
    final centroids.  Default init = the first K vec_ids' quantized
    coordinates (deterministic); callers without a dense vec_id pass
    explicit `init` centroids.  Each iteration is a zero-shuffle
    assignment + one K·dim-row partial aggregation; driver traffic =
    iters × K·dim rows.

    ``converge=True`` makes `iters` a CAP and stops at the exact
    integer fixed point (centroid dict unchanged between iterations —
    then assignments, and hence every further update, are identical;
    the same oracle-safe exit rule as part_pagerank's).  The registered
    codebook queries keep the fixed 2-step unroll their DuckDB oracles
    re-derive; convergence mode is for production training, where the
    realized count is published as ``_km_train.last_iters``."""
    if init is None:
        init = {
            r["vec_id"]: list(r["qv"]) for r in e.filter(F.col("vec_id") < k).collect()
        }
    cents = init
    if "vec_id" not in e.columns:  # batch assignment wants an id column;
        e = e.withColumn("vec_id", F.monotonically_increasing_id())  # unused downstream
    _km_train.last_iters = iters
    for i in range(iters):
        sums = _km_update_partials(e, cents).collect()
        new_cents: dict[int, list[int]] = {}
        for r in sums:
            new_cents.setdefault(r["cluster"], [0] * dim)[r["dim"]] = (
                r["s"] // r["n"]  # Python floor division == floor(double) here
            )
        if converge and new_cents == cents:  # exact fixed point
            _km_train.last_iters = i + 1
            return cents
        cents = new_cents
    return cents


def _km_update_partials(e: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """One Lloyd iteration's (cluster, dim, s, n) totals, with the
    assignment AND the per-batch partial sums fused into a single Arrow
    pass: each batch assigns in numpy and emits at most K·dim partial
    rows (np.add.at scatter + bincount), so the update's shuffle
    carries K·dim rows PER BATCH instead of the n·dim posexplode — at
    100 TB that turns the per-iteration shuffle from corpus-sized into
    codebook-sized.  Integer sums are associative, so the totals (and
    hence the floor-divided centroids) are bit-identical to the
    posexplode formulation and the unrolled SQL oracle."""
    import numpy as np
    import pandas as pd

    cs = sorted(cents)
    C = np.array([cents[c] for c in cs], dtype=np.int64)  # (K, dim)
    ids = np.array(cs, dtype=np.int64)
    K, dim = C.shape

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # (n, dim)
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            idx = np.argmin(d, axis=1)  # first-minimum == (dist, c) tie-break
            sums = np.zeros((K, dim), dtype=np.int64)
            np.add.at(sums, idx, M)
            counts = np.bincount(idx, minlength=K).astype(np.int64)
            live = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(ids[live], dim),
                    "dim": np.tile(np.arange(dim, dtype=np.int64), len(live)),
                    "s": sums[live].ravel(),
                    "n": np.repeat(counts[live], dim),
                }
            )

    return (
        e.select("qv")
        .mapInPandas(partials, "cluster bigint, dim int, s bigint, n bigint")
        .groupBy("cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def _ivf_km_oracle() -> str:
    """IVF-on-trained-codebook oracle: the _km_ctes chain yields the
    final centroids (c2) and cell assignment (a3) integer-exactly; the
    probe ranking is the same integer distance; only the final rerank is
    float cosine on the raw vectors (the proven list_cosine_similarity
    equivalence)."""
    return f"""
    WITH {_km_ctes()},
    qd AS (
      SELECT e.vec_id, c.c, sum((e.x - c.m) * (e.x - c.m)) AS d
      FROM ex e JOIN c2 c ON e.dim = c.dim
      WHERE e.vec_id < {_N_QUERIES}
      GROUP BY e.vec_id, c.c),
    probes AS (
      SELECT vec_id AS q_id, c AS cell FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
        FROM qd) WHERE rk <= {_IVF_PROBE}),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT p.q_id, a.vec_id,
             list_cosine_similarity(qv.v, cv.v) AS sim
      FROM a3 a
      JOIN probes p ON a.cluster = p.cell
      JOIN ev qv ON qv.vec_id = p.q_id
      JOIN ev cv ON cv.vec_id = a.vec_id
      WHERE p.q_id <> a.vec_id)
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """


@register("ann_ivf_kmeans", oracle=_ivf_km_oracle(), bench=True)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED k-means codebook — the step
    ann_ivf_coarse stubs with fixed centroids, now end-to-end: train
    (2 quantized Lloyd iterations, `_km_train`), assign every vector to
    its cell, probe the query's {_IVF_PROBE} nearest cells, exact-cosine
    rerank the survivors.

    Scale shape: training is the kmeans plan (broadcast-literal
    centroids, K·dim-row update shuffle); assignment is zero-shuffle map
    work; probes are a ~{_N_QUERIES}·{_IVF_PROBE}-row broadcast; the one
    data-sized join is candidate-id → vector (key join).  On a 100 TB
    corpus the assignment is written partitioned by cell
    (build_ivf_index's layout) so probes prune to cell partitions.
    Everything up to the rerank is integer-exact, so the DuckDB oracle
    reproduces cell membership bit-for-bit."""
    import numpy as np

    e = _km_quantized(spark, sf_dir)
    # ONE head-row collect serves the trainer init (vec_id < _KM_K) AND
    # the probe ranking (vec_id < _N_QUERIES) — r15 opt round: the init
    # collect and a probes subtree that re-scanned the cached corpus
    # were two extra jobs per run.  Probes are ranked driver-side in
    # int64 numpy — the same integer distances the expression fold
    # computed, with lexsort's (d, cell) order matching the oracle's
    # row_number tie-break — and ship as a 40-row literal frame.
    head_rows = (
        e.filter(F.col("vec_id") < max(_KM_K, _N_QUERIES))
        .select("vec_id", "qv")
        .collect()
    )
    cents = _km_train(
        e,
        init={
            int(r["vec_id"]): list(r["qv"])
            for r in head_rows
            if r["vec_id"] < _KM_K
        },
    )
    assigned = _km_assigned_batch(e, cents).select("vec_id", F.col("cluster").alias("cell"))
    cs = sorted(cents)
    C = np.array([cents[c] for c in cs], dtype=np.int64)
    cid_arr = np.array(cs, dtype=np.int64)
    probe_rows = []
    for r in sorted(
        (r for r in head_rows if r["vec_id"] < _N_QUERIES),
        key=lambda r: r["vec_id"],
    ):
        qvec = np.array(list(r["qv"]), dtype=np.int64)
        d = ((qvec[None, :] - C) ** 2).sum(axis=1)
        for j in np.lexsort((cid_arr, d))[:_IVF_PROBE]:
            probe_rows.append((int(r["vec_id"]), int(cs[j])))
    probes = local_rows_df(spark, probe_rows, "q_id bigint, cell int")
    ev = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    qv = ev.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .join(ev, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn("sim", vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


# --- Product quantization (PQ) --------------------------------------------
#
# The compression layer under billion-vector ANN (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011): split each
# vector into M subspaces, k-means each subspace to K centroids, store
# each vector as M small codes (here 8×4 bits of information ≈ 8 bytes
# vs 256 bytes of float32 — the corpus that no longer fits in cluster
# RAM as vectors fits as codes).  Search is ADC (asymmetric distance):
# per query, ONE M×K lookup table of exact query-subvector→centroid
# distances; each candidate's approximate distance is then M table
# lookups + adds — no per-pair float math at all.

_PQ_M = 8  # subspaces
_PQ_SUB = _KM_DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace


def pq_train_per_subspace(e: DataFrame) -> dict[int, dict[int, list[int]]]:
    """Reference trainer: the integer Lloyd trainer (`_km_train`) run
    independently per subspace — 2·M jobs.  Kept as the semantic spec
    the fused trainer is equality-tested against."""
    books = {}
    for m in range(_PQ_M):
        sub = e.select(
            "vec_id", F.slice("qv", m * _PQ_SUB + 1, _PQ_SUB).alias("qv")
        )
        books[m] = _km_train(sub, k=_PQ_K, iters=_KM_ITERS, dim=_PQ_SUB)
    return books


def pq_train(
    e: DataFrame, init_rows: list | None = None
) -> dict[int, dict[int, list[int]]]:
    """Per-subspace codebooks over a `qv` (quantized bigint) frame:
    books[m][code] = centroid (subspace-local coordinate list).

    FUSED trainer: each Lloyd iteration assigns ALL M subspaces in one
    Arrow pass (`pq_encode` against the current books) and updates ALL
    M codebooks from one (sub, cluster, dim)-grouped aggregation —
    2 jobs total instead of 2·M (measured 5.8 s → ~1.5 s on the bench
    head; at 100 TB it's M-fold fewer scans of the corpus).  Bit-exact
    twin of the per-subspace trainer (deterministic vec_id<K init,
    argmin-first-minimum == (dist, c) tie-break, integer sums,
    floor-divided centroid updates; equality locked in
    tests/test_dedup_similarity.py), so the unrolled per-subspace SQL
    oracle still re-derives every codebook bit-for-bit.

    ``init_rows`` lets a caller that already collected the low-vec_id
    rows (e.g. for the ADC query LUTs) hand them in instead of paying
    a second collect job (r15 opt round); rows beyond vec_id < _PQ_K
    are ignored, so the superset collect is safe to share."""
    if init_rows is None:
        init_rows = (
            e.filter(F.col("vec_id") < _PQ_K).select("vec_id", "qv").collect()
        )
    else:
        init_rows = [r for r in init_rows if r["vec_id"] < _PQ_K]
    books: dict[int, dict[int, list[int]]] = {
        m: {
            int(r["vec_id"]): list(r["qv"])[m * _PQ_SUB : (m + 1) * _PQ_SUB]
            for r in init_rows
        }
        for m in range(_PQ_M)
    }
    for _ in range(_KM_ITERS):
        upd = _pq_update_partials(e, books).collect()
        new_books: dict[int, dict[int, list[int]]] = {m: {} for m in range(_PQ_M)}
        for r in upd:
            new_books[r["sub"]].setdefault(int(r["cluster"]), [0] * _PQ_SUB)[
                r["dim"]
            ] = r["s"] // r["n"]  # Python floor division == floor(double) here
        books = new_books
    return books


def _pq_update_partials(e: DataFrame, books: dict[int, dict[int, list[int]]]) -> DataFrame:
    """One fused-PQ Lloyd iteration's (sub, cluster, dim, s, n) totals:
    all M subspace assignments AND their per-batch partial sums in ONE
    Arrow pass (`_km_update_partials`'s multi-subspace twin) — the
    shuffle carries ≤ M·K·S partial rows per batch, never the n·dim
    posexplode.  Same integer totals, same floor-divided codebooks,
    bit-equality with the per-subspace trainer still locked in
    tests/test_dedup_similarity.py."""
    import numpy as np
    import pandas as pd

    Cs = [
        np.array([books[m][c] for c in sorted(books[m])], dtype=np.int64)
        for m in range(_PQ_M)
    ]
    ids = [np.array(sorted(books[m]), dtype=np.int64) for m in range(_PQ_M)]

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Mx = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            subs, clusters, dims, ss, ns = [], [], [], [], []
            for m in range(_PQ_M):
                sub = Mx[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                d = ((sub[:, None, :] - Cs[m][None, :, :]) ** 2).sum(axis=2)
                idx = np.argmin(d, axis=1)
                K_m = len(ids[m])
                sums = np.zeros((K_m, _PQ_SUB), dtype=np.int64)
                np.add.at(sums, idx, sub)
                counts = np.bincount(idx, minlength=K_m).astype(np.int64)
                live = np.flatnonzero(counts)
                subs.append(np.full(len(live) * _PQ_SUB, m, dtype=np.int64))
                clusters.append(np.repeat(ids[m][live], _PQ_SUB))
                dims.append(np.tile(np.arange(_PQ_SUB, dtype=np.int64), len(live)))
                ss.append(sums[live].ravel())
                ns.append(np.repeat(counts[live], _PQ_SUB))
            yield pd.DataFrame(
                {
                    "sub": np.concatenate(subs),
                    "cluster": np.concatenate(clusters),
                    "dim": np.concatenate(dims),
                    "s": np.concatenate(ss),
                    "n": np.concatenate(ns),
                }
            )

    return (
        e.select("qv")
        .mapInPandas(partials, "sub int, cluster bigint, dim int, s bigint, n bigint")
        .groupBy("sub", "cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def pq_encode(
    e: DataFrame, books: dict[int, dict[int, list[int]]], keep_qv: bool = False
) -> DataFrame:
    """(vec_id[, qv], codes array<bigint>) in ONE Arrow pass: all M
    subspace assignments per batch (vs M separate scans — at 100 TB the
    encode pass is the expensive step and runs exactly once per vector).
    np.argmin's first-minimum rule over ascending code ids matches the
    oracle's (dist, c) tie-break, and distances are int64-exact."""
    import numpy as np
    import pandas as pd

    Cs = [
        np.array([books[m][c] for c in sorted(books[m])], dtype=np.int64)
        for m in range(_PQ_M)
    ]
    ids = [np.array(sorted(books[m]), dtype=np.int64) for m in range(_PQ_M)]
    out_schema = (
        "vec_id bigint, qv array<bigint>, codes array<bigint>"
        if keep_qv
        else "vec_id bigint, codes array<bigint>"
    )

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Mx = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            codes = []
            for m in range(_PQ_M):
                sub = Mx[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                d = ((sub[:, None, :] - Cs[m][None, :, :]) ** 2).sum(axis=2)
                codes.append(ids[m][np.argmin(d, axis=1)])
            cols = {"vec_id": pdf["vec_id"]}
            if keep_qv:
                cols["qv"] = pdf["qv"]
            cols["codes"] = list(np.stack(codes, axis=1))
            yield pd.DataFrame(cols)

    return e.select("vec_id", "qv").mapInPandas(enc, out_schema)


def _pq_sub_ctes() -> list[str]:
    """The per-subspace Lloyd chains + the ``codes``/``lut`` CTEs,
    assuming a CTE ``q`` (vec_id, qv quantized bigints) is already in
    scope — shared by the pure-PQ oracle and the IVFADC composition."""
    k, S, M = _PQ_K, _PQ_SUB, _PQ_M

    def assign(cents: str, ex: str) -> str:
        return f"""(
      SELECT vec_id, c AS cluster FROM (
        SELECT e.vec_id, c.c,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY sum((e.x - c.m) * (e.x - c.m)), c.c) AS rk
        FROM {ex} e JOIN {cents} c ON e.dim = c.dim
        GROUP BY e.vec_id, c.c) WHERE rk = 1)"""

    def update(asg: str, ex: str) -> str:
        return f"""(
      SELECT a.cluster AS c, e.dim,
             CAST(floor(CAST(sum(e.x) AS DOUBLE) / count(*)) AS BIGINT) AS m
      FROM {asg} a JOIN {ex} e USING (vec_id) GROUP BY a.cluster, e.dim)"""

    ctes: list[str] = []
    for m in range(M):
        lo, hi = m * S + 1, (m + 1) * S
        ctes.append(
            f"""ex{m} AS (SELECT vec_id, CAST(u.i AS INTEGER) AS dim,
                  qv[CAST(u.i AS INTEGER)] AS x
           FROM q, range({lo}, {hi + 1}) AS u(i))"""
        )
        ctes.append(f"c0_{m} AS (SELECT vec_id AS c, dim, x AS m FROM ex{m} WHERE vec_id < {k})")
        ctes.append(f"a1_{m} AS {assign(f'c0_{m}', f'ex{m}')}")
        ctes.append(f"c1_{m} AS {update(f'a1_{m}', f'ex{m}')}")
        ctes.append(f"a2_{m} AS {assign(f'c1_{m}', f'ex{m}')}")
        ctes.append(f"c2_{m} AS {update(f'a2_{m}', f'ex{m}')}")
        ctes.append(f"a3_{m} AS {assign(f'c2_{m}', f'ex{m}')}")
    codes = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS sub, cluster AS code FROM a3_{m}" for m in range(M)
    )
    lut = " UNION ALL ".join(
        f"""SELECT e.vec_id AS q_id, {m} AS sub, c.c AS code,
               sum((e.x - c.m) * (e.x - c.m)) AS d
        FROM ex{m} e JOIN c2_{m} c ON e.dim = c.dim
        WHERE e.vec_id < {_N_QUERIES}
        GROUP BY e.vec_id, c.c"""
        for m in range(M)
    )
    ctes.append(f"codes AS ({codes})")
    ctes.append(f"lut AS ({lut})")
    return ctes


def _pq_oracle() -> str:
    """DuckDB re-derivation: one quantized-Lloyd CTE chain PER subspace
    (the `_km_ctes` recipe over a global-dim slice), then the ADC join —
    every step integer, so the driver hash matches exactly."""
    ctes = [
        f"""q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            e -> CAST(floor(e * {_KM_SCALE}) AS BIGINT)) AS qv
      FROM embeddings)"""
    ]
    ctes.extend(_pq_sub_ctes())
    ctes.append(
        """adc AS (
      SELECT l.q_id, v.vec_id, CAST(sum(l.d) AS BIGINT) AS dist
      FROM codes v JOIN lut l ON l.sub = v.sub AND l.code = v.code
      WHERE l.q_id <> v.vec_id
      GROUP BY l.q_id, v.vec_id)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT q_id, vec_id, dist AS adc_dist, rnk FROM (
      SELECT q_id, vec_id, dist,
             row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rnk
      FROM adc) WHERE rnk <= {_TOP_K}
    """


def _pq_rerank_oracle() -> str:
    """ADC shortlist + exact-cosine rerank: reuse the full PQ chain up
    to `adc`, cut a deterministic shortlist per query, and re-score only
    those candidates with the float metric (the proven
    list_cosine_similarity equivalence, rounded like the other ANN
    oracles)."""
    base = _pq_oracle()
    head, _, _ = base.partition("SELECT q_id, vec_id, dist AS adc_dist")
    head = head.rstrip()
    return f"""{head},
    short AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS srk
        FROM adc) WHERE srk <= {_PQ_SHORTLIST}),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT s.q_id, s.vec_id,
             list_cosine_similarity(qv.v, cv.v) AS sim
      FROM short s
      JOIN ev qv ON qv.vec_id = s.q_id
      JOIN ev cv ON cv.vec_id = s.vec_id)
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """


def _pq_lut(
    books: dict[int, dict[int, list[int]]], qrows: list
) -> tuple["object", "object", list, list]:
    """Driver-side ADC lookup tables from the (tiny, bounded) query set:
    q_ids (nq,), Q (nq, dim) int64, and per-subspace (nq, K_m) distance
    tables + sorted code-id arrays.  Everything here is O(nq · M · K) —
    bytes, not data."""
    import numpy as np

    qrows = sorted(qrows, key=lambda r: r["vec_id"])
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.array(r["qv"], dtype=np.int64) for r in qrows])
    luts, code_ids = [], []
    for m in range(_PQ_M):
        cs = sorted(books[m])
        C = np.array([books[m][c] for c in cs], dtype=np.int64)  # (K_m, S)
        sub = Q[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]  # (nq, S)
        luts.append(((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
        code_ids.append(np.array(cs, dtype=np.int64))
    return q_ids, Q, luts, code_ids


def _adc_scan(
    codes: DataFrame,
    q_ids,
    luts,
    code_ids,
    keep: int = None,
    probe_cells: dict[int, set] | None = None,
    encode_books: dict[int, dict[int, list[int]]] | None = None,
) -> DataFrame:
    """(q_id, vec_id, dist): fused ADC scoring — the per-query M×K LUTs
    ride into the Arrow pass as numpy closures (a few KB), and each code
    batch is scored as M vectorized table lookups + adds: the candidate
    stream carries ONE row per (query, candidate), never the M-fold
    posexplode of the join formulation (the r7 plan's known lever).
    Each batch also pre-cuts to its local top-``keep`` per query by the
    exact global tie-break (dist, vec_id) — sound because every global
    top-``keep`` row is within its own batch's top-``keep`` — so the
    shuffle into the final ranking window carries ≤ keep·nq rows per
    batch instead of the whole corpus.  All-integer, so results are
    byte-identical to the join formulation and the DuckDB oracle.

    ``probe_cells`` (q_id -> allowed cell set) restricts each query to
    its probed IVF cells — the IVFADC composition; requires a ``cell``
    column on ``codes``.

    ``encode_books`` fuses `pq_encode` INTO this pass (r15 opt round,
    guide §4): the input frame carries ``qv`` instead of ``codes``,
    each batch assigns all M subspaces in-batch (the same int64
    argmin), and the argmin POSITION indexes the LUT directly — the
    position in sorted code order IS what searchsorted recovers from a
    materialized code, so distances are bit-identical while the
    corpus-sized (vec_id, codes) frame never crosses the JVM↔Python
    boundary a second time (one MapInPandas node instead of two)."""
    import numpy as np
    import pandas as pd

    keep = keep if keep is not None else _PQ_SHORTLIST
    has_cell = probe_cells is not None
    if has_cell:
        cell_ok = {
            int(q): np.array(sorted(cells), dtype=np.int64)
            for q, cells in probe_cells.items()
        }
    fused = encode_books is not None
    if fused:
        Cs = [
            np.array(
                [encode_books[m][c] for c in sorted(encode_books[m])],
                dtype=np.int64,
            )
            for m in range(_PQ_M)
        ]
    in_cols = ["vec_id", "qv" if fused else "codes"] + (
        ["cell"] if has_cell else []
    )

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            cells = pdf["cell"].to_numpy().astype(np.int64) if has_cell else None
            dist = np.zeros((len(q_ids), len(vid)), dtype=np.int64)
            if fused:
                Mx = np.stack(pdf["qv"].to_numpy()).astype(np.int64)  # (n, dim)
                for m in range(_PQ_M):
                    sub = Mx[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                    d = ((sub[:, None, :] - Cs[m][None, :, :]) ** 2).sum(axis=2)
                    dist += luts[m][:, np.argmin(d, axis=1)]
            else:
                Cds = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, M)
                for m in range(_PQ_M):
                    idx = np.searchsorted(code_ids[m], Cds[:, m])
                    dist += luts[m][:, idx]
            out_q, out_v, out_d = [], [], []
            for qi, q in enumerate(q_ids):
                mask = vid != q
                if has_cell:
                    mask &= np.isin(cells, cell_ok.get(int(q), cell_ok.get(q, [])))
                vv, dd = vid[mask], dist[qi][mask]
                if len(vv) > keep:
                    order = np.lexsort((vv, dd))[:keep]  # exact (dist, vec_id)
                    vv, dd = vv[order], dd[order]
                out_q.append(np.full(len(vv), q, dtype=np.int64))
                out_v.append(vv)
                out_d.append(dd)
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "dist": np.concatenate(out_d),
                    }
                )

    return codes.select(*in_cols).mapInPandas(
        adc, "q_id bigint, vec_id bigint, dist bigint"
    )


def _pq_adc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, dist): the ADC distance frame, fused — train
    codebooks, then encode + score the corpus in ONE Arrow pass with
    the LUTs as numpy (see `_adc_scan(encode_books=...)`).  Only each
    batch's top-`_PQ_SHORTLIST` per query leave the scan.  Self-pairs
    excluded.  One head-row collect serves BOTH the trainer init
    (vec_id < _PQ_K) and the query LUTs (vec_id < _N_QUERIES) — r15
    opt round: the two separate collects were two near-identical jobs
    over the same cached frame."""
    e = _km_quantized(spark, sf_dir)
    head_rows = (
        e.filter(F.col("vec_id") < max(_PQ_K, _N_QUERIES))
        .select("vec_id", "qv")
        .collect()
    )
    books = pq_train(e, init_rows=head_rows)
    q_ids, _, luts, code_ids = _pq_lut(
        books, [r for r in head_rows if r["vec_id"] < _N_QUERIES]
    )
    return _adc_scan(e, q_ids, luts, code_ids, encode_books=books)


@register("ann_pq_adc", oracle=_pq_oracle(), bench=True)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-k search with asymmetric distance (ADC).

    Train M=8 per-subspace codebooks (integer Lloyd, deterministic),
    encode the corpus to M-code rows in one Arrow pass, then score: the
    per-query lookup table (M×K exact subvector→centroid distances, a
    few hundred rows fleet-wide) broadcasts to the code table and the
    approximate distance is a sum of M joined lookups — per-candidate
    cost is M integer adds over an 8-byte code row, never a 64-float
    dot product.  At 100 TB the code table is ~30× smaller than the
    vectors and the LUT join shape is unchanged; a production variant
    folds the broadcast LUT into the encode pass's numpy (same numbers,
    fewer rows in flight).  Everything is integer, so the DuckDB oracle
    (8 sliced Lloyd chains + the same ADC join) hash-matches exactly;
    recall vs the float bruteforce is pytest-floored
    (tests/test_dedup_similarity.py) and documented in SCALE.md —
    pure compressed-domain ranking is the shortlist stage; production
    top-k goes through ``ann_pq_rerank``."""
    adc = _pq_adc_frame(spark, sf_dir)
    w = W.partitionBy("q_id").orderBy(F.col("dist").asc(), "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.col("dist").alias("adc_dist"), "rnk")
    )


_PQ_SHORTLIST = 80  # ADC candidates kept per query for the exact rerank


@register("ann_pq_rerank", oracle=_pq_rerank_oracle())
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pipeline (ADC shortlist → exact rerank): rank
    the whole corpus in the compressed domain, keep the top
    ``_PQ_SHORTLIST`` per query, and re-score ONLY those with the exact
    float cosine — the IVFADC+R shape from the PQ paper.  At 100 TB the
    expensive exact metric touches shortlist×queries rows (a broadcast
    join against the raw vectors of just the shortlisted ids) while the
    full corpus is only ever scanned as 8-byte codes.  Recall@10 jumps
    from the pure-ADC 0.29 to 0.82 on the (adversarially random)
    synthetic corpus — floors locked in tests/test_dedup_similarity.py."""
    adc = _pq_adc_frame(spark, sf_dir)
    return _exact_rerank(spark, sf_dir, _adc_shortlist(adc))


def _adc_shortlist(adc: DataFrame) -> DataFrame:
    """Top-``_PQ_SHORTLIST`` ADC candidates per query by the exact
    (dist, vec_id) tie-break."""
    ws = W.partitionBy("q_id").orderBy(F.col("dist").asc(), "vec_id")
    return (
        adc.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= _PQ_SHORTLIST)
        .select("q_id", "vec_id")
    )


def _exact_rerank(spark: SparkSession, sf_dir: str, short: DataFrame) -> DataFrame:
    """Re-score a (q_id, vec_id) shortlist with the exact float cosine
    and emit the final top-``_TOP_K`` — the expensive metric touches
    shortlist×queries rows only.  BOTH small sides broadcast: the
    shortlist (≤ queries × _PQ_SHORTLIST rows) hashes onto the single
    pass over the candidate vectors — the data-sized side never
    shuffles at any corpus scale — and the query vectors join the
    survivors.  Every caller's shortlist q_ids come from the query set
    (vec_id < _N_QUERIES), so the query-vector side is PRE-FILTERED to
    those rows (r15 opt round, guide §3.1): the broadcast builds nq
    rows + norms instead of materializing the whole corpus with norms
    it then drops in the join."""
    ev = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    qv = ev.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        ev.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .withColumn(
            "sim", vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("sim", 4).alias("cos_sim"), "rnk")
    )


# --- IVFADC: PQ codes in the cell-partitioned IVF layout -------------------


def _ivfadc_oracle() -> str:
    """The IVFADC chain in SQL: the trained-km cell chain (`_km_ctes` —
    centroids c2, assignments a3), the 8 per-subspace PQ chains
    (`_pq_sub_ctes` — codes, lut), probes = each query's {_IVF_PROBE}
    nearest cells by the same integer distance, ADC restricted to
    candidates in probed cells, shortlist, exact-cosine rerank.  Every
    step up to the rerank is integer, so the driver hash is exact."""
    ctes = [_km_ctes()]
    ctes.extend(_pq_sub_ctes())
    ctes.append(
        f"""qd AS (
      SELECT e.vec_id, c.c, sum((e.x - c.m) * (e.x - c.m)) AS d
      FROM ex e JOIN c2 c ON e.dim = c.dim
      WHERE e.vec_id < {_N_QUERIES}
      GROUP BY e.vec_id, c.c)"""
    )
    ctes.append(
        f"""probes AS (
      SELECT vec_id AS q_id, c AS cell FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk
        FROM qd) WHERE rk <= {_IVF_PROBE})"""
    )
    ctes.append(
        """adc AS (
      SELECT l.q_id, v.vec_id, CAST(sum(l.d) AS BIGINT) AS dist
      FROM codes v
      JOIN a3 av ON av.vec_id = v.vec_id
      JOIN probes p ON p.cell = av.cluster
      JOIN lut l ON l.sub = v.sub AND l.code = v.code AND l.q_id = p.q_id
      WHERE l.q_id <> v.vec_id
      GROUP BY l.q_id, v.vec_id)"""
    )
    ctes.append(
        f"""short AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS srk
        FROM adc) WHERE srk <= {_PQ_SHORTLIST})"""
    )
    ctes.append("ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")
    ctes.append(
        """scored AS (
      SELECT s.q_id, s.vec_id,
             list_cosine_similarity(qv.v, cv.v) AS sim
      FROM short s
      JOIN ev qv ON qv.vec_id = s.q_id
      JOIN ev cv ON cv.vec_id = s.vec_id)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT q_id, vec_id, round(sim, 4) AS cos_sim, rnk FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}
    """


def _pqbooks_path(index_path: str) -> str:
    import os

    return os.path.join(index_path, "_pqbooks")


def build_ivfadc_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the IVFADC index: PQ codes stored IN the cell-partitioned
    IVF layout — (vec_id, codes) parquet partitioned by ``cell``, plus
    both frozen codebooks as underscore dirs the partitioned scan
    ignores (``_codebook``: the km cell centroids, quantized;
    ``_pqbooks``: the M per-subspace PQ centroids).  The write-once
    discipline of `build_ivf_index`, but each row is an ~8-byte code
    instead of a 64-float vector — the corpus that no longer fits as
    vectors fits as codes, and a probe scans only its cells' partitions
    of the CODE table (IVFADC, Jégou et al. 2011)."""
    e = _km_quantized(spark, sf_dir)
    cents = _km_train(e)
    books = pq_train(e)
    assigned = _km_assigned_batch(e, cents).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    codes = pq_encode(e, books).join(assigned, "vec_id")
    codes.write.mode("overwrite").partitionBy("cell").parquet(out_path)
    local_rows_df(
        spark,
        [(int(c), [int(x) for x in cents[c]]) for c in sorted(cents)],
        "cell int, qcent array<bigint>",
    ).write.mode("overwrite").parquet(_codebook_path(out_path))
    local_rows_df(
        spark,
        [
            (m, int(c), [int(x) for x in books[m][c]])
            for m in range(_PQ_M)
            for c in sorted(books[m])
        ],
        "sub int, code bigint, cent array<bigint>",
    ).write.mode("overwrite").parquet(_pqbooks_path(out_path))


def _load_ivfadc_books(spark: SparkSession, index_path: str):
    """The index's frozen codebooks: (km cents dict, PQ books dict)."""
    from ..sources import artifact

    cents = {
        int(r["cell"]): list(r["qcent"])
        for r in artifact(spark, _codebook_path(index_path)).collect()
    }
    books: dict[int, dict[int, list[int]]] = {m: {} for m in range(_PQ_M)}
    for r in artifact(spark, _pqbooks_path(index_path)).collect():
        books[int(r["sub"])][int(r["code"])] = list(r["cent"])
    return cents, books


def _quantize_vecs(vecs: DataFrame) -> DataFrame:
    """(vec_id, qv): quantize an arbitrary (vec_id, embedding) frame to
    the integer domain — `_km_quantized` for non-corpus inputs."""
    return vecs.select(
        "vec_id",
        F.expr(
            f"transform(embedding, e -> "
            f"CAST(floor(CAST(e AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
        ).alias("qv"),
    )


def admit_ivfadc_vectors(
    spark: SparkSession, new_vecs: DataFrame, index_path: str
) -> float:
    """Incremental IVFADC admission: encode a batch of NEW vectors
    (vec_id, embedding) against the index's FROZEN codebooks — PQ codes
    from the persisted per-subspace books, cell from the persisted km
    centroids — and append them into the cell partitions.  No rebuild,
    no touch of existing rows; cost scales with the batch, and because
    both codebooks are frozen the admitted index is row-identical to
    encoding the grown corpus against them from scratch
    (equivalence-tested).  Returns the post-admission cell-occupancy
    skew — the same drift signal as `admit_ivf_vectors`; on drift,
    rebuild via `build_ivfadc_index` to a fresh path and swap."""
    cents, books = _load_ivfadc_books(spark, index_path)
    e = _quantize_vecs(new_vecs)
    assigned = _km_assigned_batch(e, cents).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    codes = pq_encode(e, books).join(assigned, "vec_id")
    codes.write.mode("append").partitionBy("cell").parquet(index_path)
    occ = (
        spark.read.parquet(index_path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .first()
    )
    return float(occ["mx"] * len(cents) / occ["tot"])


def admit_ivfadc_stream(
    spark: SparkSession, source_dir: str, index_path: str, checkpoint_dir: str
):
    """Streaming vector ingestion: a file stream of (vec_id, embedding)
    batches lands in a prebuilt IVFADC index via ``foreachBatch``, each
    micro-batch one `admit_ivfadc_vectors` append against the FROZEN
    codebooks — the index stays continuously searchable (readers see
    whole batches; the cell-partitioned layout and pruned probes are
    unchanged by appends), and the replayed stream's final index is
    row-identical to a one-shot admission of the same vectors
    (frozen-codebook determinism; tested).  Returns the ready
    DataStreamWriter (caller .start()s it)."""
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_make_admit_sink(spark, index_path))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def _admit_marker_path(index_path: str) -> str:
    return os.path.join(index_path, "_stream_batch.json")


def _admit_last_batch(index_path: str) -> int:
    p = _admit_marker_path(index_path)
    if not os.path.exists(p):
        return -1
    import json

    with open(p) as f:
        return int(json.load(f)["batch_id"])


def _admit_mark_batch(index_path: str, batch_id: int) -> None:
    import json

    tmp = _admit_marker_path(index_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": int(batch_id)}, f)
    os.replace(tmp, _admit_marker_path(index_path))


def _make_admit_sink(spark: SparkSession, index_path: str):
    """Idempotent foreachBatch sink for streaming IVFADC admission
    (exposed for the crash-replay tests).  foreachBatch is at-least-
    once and a code append is not idempotent, so: (a) a marker file
    (atomic os.replace) records the last fully-admitted batch_id and
    replays of it are skipped outright; (b) the FIRST batch after a
    (re)start — the only one that can have appended rows before a
    crash killed the marker write — is admitted through a vec_id
    anti-join against the existing index, dropping rows a torn
    previous attempt already landed.  The anti-join runs once per
    process, not per batch, and rides the admission contract that
    vec_ids are unique across admitted batches."""
    state = {"recovered": False}

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        b = int(batch_id)
        if b <= _admit_last_batch(index_path):
            return  # replay of a fully-admitted batch
        fresh = batch_df
        if not state["recovered"]:
            state["recovered"] = True
            existing = spark.read.parquet(index_path).select("vec_id")
            fresh = batch_df.join(existing, "vec_id", "left_anti")
        if not fresh.isEmpty():
            admit_ivfadc_vectors(spark, fresh, index_path)
        _admit_mark_batch(index_path, b)

    return _sink


def ann_ivfadc_search(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Search a prebuilt IVFADC index: rank each query's {_IVF_PROBE}
    probed cells against the persisted km codebook (driver-side numpy —
    K·dim integers), scan ONLY those cells' partitions of the code
    table (partition pruning does the candidate restriction), score the
    survivors with the fused ADC Arrow pass (per-query LUTs as numpy
    closures, per-batch exact partial shortlists), then exact-cosine
    rerank the shortlist.  The full corpus is only ever touched as
    8-byte codes in the probed cells; raw vectors are read for
    shortlist×queries rows."""
    import numpy as np

    cents, books = _load_ivfadc_books(spark, index_path)
    # query vectors via a PUSHED-DOWN parquet filter (r15 opt round,
    # guide §6): the previous `_km_quantized(...).filter(...)` collected
    # 10 rows THROUGH the full-corpus scoped-persist frame, whose first
    # materialization caches every partition — the search path needs no
    # corpus-sized anything (same transform expression, same rows).
    qrows = _quantize_vecs(
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_QUERIES)
    ).collect()
    q_ids, Q, luts, code_ids = _pq_lut(books, qrows)
    cids = sorted(cents)
    C = np.array([cents[c] for c in cids], dtype=np.int64)
    d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (nq, K) integer
    probe_cells = {
        int(q): {int(cids[j]) for j in np.lexsort((np.array(cids), d[qi]))[:_IVF_PROBE]}
        for qi, q in enumerate(q_ids)
    }
    all_cells = sorted(set().union(*probe_cells.values()))
    idx = spark.read.parquet(index_path).filter(F.col("cell").isin(all_cells))
    adc = _adc_scan(idx, q_ids, luts, code_ids, probe_cells=probe_cells)
    return _exact_rerank(spark, sf_dir, _adc_shortlist(adc))


def _semantic_oracle() -> str:
    """Cluster chain (`_km_ctes` — integer-exact membership) + an exact
    within-cluster cosine self-join; each pruned vector reports its
    LOWEST-id duplicate neighbor."""
    from .dedup import _COS_T as _T  # one shared near-dup threshold

    return f"""
    WITH {_km_ctes()},
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT b.vec_id AS vec_id, aa.cluster AS cluster, a.vec_id AS dup_of,
             list_cosine_similarity(a.v, b.v) AS sim
      FROM ev a
      JOIN a3 aa ON aa.vec_id = a.vec_id
      JOIN a3 ab ON ab.cluster = aa.cluster
      JOIN ev b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {_T})
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dup_of,
           round(sim, 4) AS cos_sim
    FROM (
      SELECT vec_id, cluster, dup_of, sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY dup_of) AS rk
      FROM pairs) WHERE rk = 1
    ORDER BY vec_id
    """


@register("dedup_semantic", oracle=_semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023): train
    the k-means codebook, cluster the corpus, then find near-duplicate
    pairs ONLY within each cluster and prune every vector that has a
    lower-id semantic duplicate — the clustering bounds the quadratic
    (inter-cluster pairs are never scored), which is the whole trick
    that makes semantic dedup feasible on a 100 TB embedding corpus.
    Production sizes K so each cluster stays worker-sized (K grows
    with the corpus — SemDeDup uses ~100k clusters at web scale); the
    fixture K={_KM_K} matches the oracle's unrolled Lloyd chain, and
    the per-cluster Arrow GEMM shape is K-independent.

    The within-cluster scoring is a blocked Arrow GEMM
    (semantic_prune): each cluster is hash-split into vec-count-bounded
    blocks and every block PAIR is its own `applyInPandas` task, so the
    per-task working set is ≤ ~2·block vectors + a block×block matrix
    no matter how hot one cluster runs — the r8 single-task n_c×n_c
    materialization cannot recur.  Dimension-ascending accumulation
    keeps every float matching DuckDB's sequential
    ``list_cosine_similarity`` fold bit-for-bit (the
    `dedup.embedding_cosine_pairs` discipline); the cluster membership
    is integer-exact, so the whole chain is oracle-checkable.  Output:
    one row per pruned vector with its cluster and its lowest-id
    retained duplicate."""
    from ..cachescope import scoped_persist
    from .dedup import _COS_T

    e = _km_quantized(spark, sf_dir)
    cents = _km_train(e)
    assigned = scoped_persist(
        _km_assigned_batch(e, cents).select(
            "vec_id", F.col("cluster").cast("bigint").alias("cluster")
        )
    )
    ev = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    members = ev.join(assigned, "vec_id")
    # hot-cluster TIME bound: oversized cells (none at fixture/bench SF,
    # so the oracle stays exact) are sub-clustered before pairing and the
    # ORIGINAL cluster id is restored on the output rows
    refined = split_oversized_cells(e.join(assigned, "vec_id"))
    if refined is not None:
        cells = members.join(refined, "vec_id", "left").withColumn(
            "cluster", F.coalesce("cell", "cluster")
        )
        pruned = semantic_prune(
            cells.select("vec_id", "cluster", "embedding"), _COS_T
        )
        return (
            pruned.drop("cluster")
            .join(assigned, "vec_id")
            .select("vec_id", "cluster", "dup_of", "cos_sim")
            .orderBy("vec_id")
        )
    return semantic_prune(members, _COS_T).orderBy("vec_id")


_SEM_BLOCK = 4096  # max vectors per GEMM block (per-task memory bound)


def semantic_prune(
    members: DataFrame, thresh: float, block: int = _SEM_BLOCK
) -> DataFrame:
    """Within-cluster semantic-dup pruning with a mechanical per-task
    memory bound: (vec_id, cluster, embedding) → one row per vector
    that has a lower-id duplicate (cos ≥ thresh) in its cluster, with
    the LOWEST such duplicate and that pair's similarity.

    Scale shape — the cluster-size guard: a cluster of n vectors is
    hash-split into nb = ceil(n / block) blocks, and each unordered
    block pair (i ≤ j) becomes its own Arrow task, so one hot cluster
    costs many bounded tasks instead of one n×n task (the task matrix
    is ≤ block², membership ≤ 2·block vectors up to hash variance).
    Every unordered vector pair is scored in exactly one task (the task
    keyed by its two block ids), so the result is EXACTLY the dense
    computation — proven pair-for-pair in tests/test_dedup_similarity
    on an adversarially hot cluster — and the float chain is unchanged
    (dim-ascending accumulation, same ops per element).  The member
    stream is replicated nb× (the inherent O(n²/block) row cost of
    exact all-pairs; the knob that bounds TOTAL quadratic work remains
    the SemDeDup cluster count K).  Clusters at or under the block size
    — the production-sized case — take the nb=1 fast path, identical
    to the unblocked plan.  The final lowest-dup reduce is a plain
    vec_id-keyed min/min_by aggregate."""
    import numpy as np
    import pandas as pd

    counts = members.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
    nb = F.greatest(F.lit(1), F.ceil(F.col("n_c") / F.lit(block))).cast("int")
    m = (
        members.join(F.broadcast(counts), "cluster")
        .withColumn("nb", nb)
        .withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.col("nb")).cast("int"))
        .withColumn(
            "task",
            F.expr(
                "transform(sequence(0, nb - 1),"
                " o -> struct(least(blk, o) AS bi, greatest(blk, o) AS bj))"
            ),
        )
        .select(
            "cluster", "vec_id", "embedding", "blk",
            F.explode("task").alias("t"),
        )
        .select("cluster", "vec_id", "embedding", "blk", "t.bi", "t.bj")
    )

    def _sims(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        acc = np.zeros((A.shape[0], B.shape[0]))
        for k in range(A.shape[1]):  # ascending dim = the SQL fold order
            acc = acc + A[:, k][:, None] * B[:, k][None, :]
        return acc

    def _nrm(M: "np.ndarray") -> "np.ndarray":
        n = np.zeros(M.shape[0])
        for k in range(M.shape[1]):
            n = n + M[:, k] * M[:, k]
        return np.sqrt(n)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id": [], "cluster": [], "dup_of": [], "sim": []}
        ).astype(
            {"vec_id": "int64", "cluster": "int64", "dup_of": "int64",
             "sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        cl = np.int64(pdf["cluster"].iloc[0])
        a = pdf[pdf["blk"] == bi].sort_values("vec_id")
        if bi == bj:
            ids = a["vec_id"].to_numpy()
            if len(ids) < 2:
                return empty
            M = np.stack(a["embedding"].to_numpy()).astype(np.float64)
            sim = _sims(M, M)
            nr = _nrm(M)
            sim = sim / (nr[:, None] * nr[None, :])
            dup = (sim >= thresh) & (
                np.arange(len(ids))[:, None] < np.arange(len(ids))[None, :]
            )
            cols = np.flatnonzero(dup.any(axis=0))
            first_i = np.argmax(dup[:, cols], axis=0)  # lowest id wins
            return pd.DataFrame(
                {"vec_id": ids[cols],
                 "cluster": np.full(len(cols), cl, dtype=np.int64),
                 "dup_of": ids[first_i],
                 "sim": sim[first_i, cols]}
            )
        b = pdf[pdf["blk"] == bj].sort_values("vec_id")
        if len(a) == 0 or len(b) == 0:
            return empty
        ida, idb = a["vec_id"].to_numpy(), b["vec_id"].to_numpy()
        A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        sim = _sims(A, B) / (_nrm(A)[:, None] * _nrm(B)[None, :])
        ai, bi_idx = np.nonzero(sim >= thresh)
        lo = np.minimum(ida[ai], idb[bi_idx])
        hi = np.maximum(ida[ai], idb[bi_idx])
        return pd.DataFrame(
            {"vec_id": hi,
             "cluster": np.full(len(hi), cl, dtype=np.int64),
             "dup_of": lo,
             "sim": sim[ai, bi_idx]}
        )

    cand = m.groupBy("cluster", "bi", "bj").applyInPandas(
        prune, "vec_id bigint, cluster bigint, dup_of bigint, sim double"
    )
    return cand.groupBy("vec_id", "cluster").agg(
        F.min("dup_of").alias("dup_of"),
        F.round(F.min_by("sim", "dup_of"), 4).alias("cos_sim"),
    ).select("vec_id", "cluster", "dup_of", "cos_sim")


_SEM_SPLIT_CAP = 4096  # clusters above this get a sub-codebook before pairing
_SEM_SPLIT_BASE = 1 << 40  # refined-cell id space, disjoint from cluster ids


def _km_update_partials_keyed(
    e: DataFrame, cents: dict[int, dict[int, list[int]]]
) -> DataFrame:
    """One Lloyd iteration for MANY independent sub-codebooks in a
    single fused Arrow pass: ``e`` is (cluster, qv) over every hot
    cluster at once, ``cents`` maps cluster -> {sub -> centroid}.  Each
    batch groups its rows by cluster, assigns against that cluster's
    own sub-centroids (np.argmin first-minimum = the (dist, sub)
    tie-break), and scatters partial sums keyed (cluster, sub, dim) —
    the fused PQ trainer's 8-subspaces-in-one-pass shape
    (`_km_update_partials`), with the subspace axis replaced by the
    hot-cluster axis.  Per-cluster results are bit-identical to
    training each cluster alone: groups never mix, and integer partial
    sums are associative."""
    import numpy as np
    import pandas as pd

    groups = {
        int(g): (
            np.array(sorted(subs), dtype=np.int64),
            np.array([subs[s] for s in sorted(subs)], dtype=np.int64),
        )
        for g, subs in cents.items()
    }

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for g, gpdf in pdf.groupby("cluster"):
                ids, C = groups[int(g)]
                K, dim = C.shape
                M = np.stack(gpdf["qv"].to_numpy()).astype(np.int64)
                d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                idx = np.argmin(d, axis=1)
                sums = np.zeros((K, dim), dtype=np.int64)
                np.add.at(sums, idx, M)
                counts = np.bincount(idx, minlength=K).astype(np.int64)
                live = np.flatnonzero(counts)
                frames.append(
                    pd.DataFrame(
                        {
                            "cluster": np.full(len(live) * dim, g, dtype=np.int64),
                            "sub": np.repeat(ids[live], dim),
                            "dim": np.tile(np.arange(dim, dtype=np.int64), len(live)),
                            "s": sums[live].ravel(),
                            "n": np.repeat(counts[live], dim),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    return (
        e.select("cluster", "qv")
        .mapInPandas(partials, "cluster bigint, sub bigint, dim int, s bigint, n bigint")
        .groupBy("cluster", "sub", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def _km_train_keyed(
    e: DataFrame,
    init: dict[int, dict[int, list[int]]],
    iters: int = 2,
) -> dict[int, dict[int, list[int]]]:
    """Lloyd over many independent groups at once — ONE partials job
    per iteration regardless of group count (the de-serialization the
    per-hot-cluster loop needed).  Update rule per (cluster, sub) is
    `_km_train`'s exactly: integer sums, Python floor division, and a
    sub-centroid whose cell empties vanishes from its group's dict."""
    dim = len(next(iter(next(iter(init.values())).values())))
    cents = init
    for _ in range(iters):
        sums = _km_update_partials_keyed(e, cents).collect()
        new: dict[int, dict[int, list[int]]] = {}
        for r in sums:
            sub = new.setdefault(int(r["cluster"]), {}).setdefault(
                int(r["sub"]), [0] * dim
            )
            sub[r["dim"]] = r["s"] // r["n"]
        cents = new
    return cents


def _km_assigned_batch_keyed(
    e: DataFrame, cents: dict[int, dict[int, list[int]]]
) -> DataFrame:
    """(vec_id, cluster, qv) -> (vec_id, cluster, sub, qv): nearest
    sub-centroid WITHIN the row's own cluster's codebook, one Arrow
    pass over all hot clusters together (keyed twin of
    `_km_assigned_batch`, same first-minimum tie-break)."""
    import numpy as np
    import pandas as pd

    groups = {
        int(g): (
            np.array(sorted(subs), dtype=np.int64),
            np.array([subs[s] for s in sorted(subs)], dtype=np.int64),
        )
        for g, subs in cents.items()
    }

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for g, gpdf in pdf.groupby("cluster"):
                ids, C = groups[int(g)]
                M = np.stack(gpdf["qv"].to_numpy()).astype(np.int64)
                d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": gpdf["vec_id"],
                            "cluster": gpdf["cluster"],
                            "sub": ids[np.argmin(d, axis=1)],
                            "qv": gpdf["qv"],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    return e.select("vec_id", "cluster", "qv").mapInPandas(
        assign, "vec_id bigint, cluster bigint, sub bigint, qv array<bigint>"
    )


def split_oversized_cells(
    members_q: DataFrame, cap: int = _SEM_SPLIT_CAP, max_depth: int = 6
) -> DataFrame | None:
    """SemDeDup's production K-grows-with-corpus rule, applied locally:
    a cluster whose member count exceeds ``cap`` is re-clustered with
    its own small sub-codebook (integer Lloyd on the members) BEFORE
    pairing, so the within-cell pair count drops from O(n_c²) to
    O(Σ n_sub²) — the blocked GEMM already bounds per-task MEMORY,
    this bounds hot-cluster TIME (the STRESS_r11 salted 4.07→5.31
    trend).  ``members_q`` is (vec_id, cluster, qv); returns a
    (vec_id, cell) refined-id mapping for hot clusters' members only,
    or None when no cluster is oversized (the common production-sized
    case — one codebook-sized count aggregate and nothing else).

    Job-count shape: ALL hot clusters train together through the keyed
    Lloyd pass (`_km_train_keyed`) — per level, one count aggregate,
    one init collect (Σ k_sub rows), `iters` partials jobs, and one
    assignment pass, INDEPENDENT of how many clusters are hot.  The
    r12 design serialized a 4-job trainer per hot cluster, which is
    exactly the fixed cost its own cap=2048 A/B showed losing (11.4 s
    vs 7.6 s unsplit at 20k vectors); with hundreds of hot cells at
    production scale the serialized loop would dominate the time it
    exists to save.

    Sub-codebook size targets ~cap/2 members per sub-cell (2·⌈n/cap⌉,
    capped at 64 per level); init = the cluster's first k_sub members
    by vec_id (deterministic).  A cluster larger than 64·cap can leave
    sub-cells still above the cap, so the split RECURSES on them —
    each level is the same bounded job set, level L handles clusters
    up to cap·64^(L+1), and ``max_depth`` (6 ≈ 2·10^14·cap members) is
    an unreachable backstop, not a working limit.  Refined ids stay
    injective across levels without overflow: level L's cells live at
    ``_SEM_SPLIT_BASE << L`` plus a DENSE index over that level's hot
    clusters (hot counts are driver-known) — never the raw parent id,
    whose own refined ids would overflow int64 when re-multiplied.
    Cell ids are opaque grouping keys; `dedup_semantic` restores the
    ORIGINAL cluster id on output rows.

    Cap calibration (r12 A/B at 10× sf0.1 = 20k vectors, warm runs):
    at 4096 nothing at test scale splits, keeping the registered query
    oracle-exact; the split pays where it is designed to — clusters of
    10^5+ members whose pair stage is hours.  Semantics: near-dup
    pairs straddling two sub-cells are no longer scored — exactly the
    approximation SemDeDup makes when it raises K."""
    from ..cachescope import scoped_persist

    out: DataFrame | None = None
    cur = members_q.select("vec_id", "cluster", "qv")
    for depth in range(max_depth):
        counts = cur.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
        hot = {
            int(r["cluster"]): int(r["n_c"])
            for r in counts.filter(F.col("n_c") > cap).collect()
        }
        if not hot:
            break
        hm = scoped_persist(
            cur.filter(F.col("cluster").isin(list(hot))).select(
                "vec_id", "cluster", "qv"
            )
        )
        k_sub = {c: min(64, 2 * (-(-n // cap))) for c, n in hot.items()}
        from pyspark.sql.window import Window

        w = Window.partitionBy("cluster").orderBy("vec_id")
        # keys cast to bigint: depth>=1 cluster ids are refined cell ids
        # (>= _SEM_SPLIT_BASE), far outside int range
        k_map = F.create_map(
            *[F.lit(v).cast("bigint") for kv in sorted(k_sub.items()) for v in kv]
        )
        init_rows = (
            hm.withColumn("rn", F.row_number().over(w) - 1)
            .filter(F.col("rn") < F.element_at(k_map, F.col("cluster")))
            .select("cluster", "rn", "qv")
            .collect()
        )
        init: dict[int, dict[int, list[int]]] = {}
        for r in init_rows:
            init.setdefault(int(r["cluster"]), {})[int(r["rn"])] = list(r["qv"])
        cents = _km_train_keyed(hm, init, iters=2)
        dense = {c: i for i, c in enumerate(sorted(hot))}
        dense_map = F.create_map(
            *[F.lit(v).cast("bigint") for kv in sorted(dense.items()) for v in kv]
        )
        assigned = _km_assigned_batch_keyed(hm, cents)
        cell = (
            F.lit(_SEM_SPLIT_BASE << depth)
            + F.element_at(dense_map, F.col("cluster")) * F.lit(1 << 20)
            + F.col("sub")
        )
        new = assigned.select("vec_id", cell.alias("cell"), "qv")
        if out is None:
            out = new.select("vec_id", "cell")
        else:
            # a deeper level's assignment supersedes its parent's
            out = (
                out.join(
                    new.select("vec_id", F.col("cell").alias("cell2")),
                    "vec_id",
                    "left",
                )
                .select("vec_id", F.coalesce("cell2", "cell").alias("cell"))
            )
        cur = new.select("vec_id", F.col("cell").alias("cluster"), "qv")
    return out


@register("ann_ivfadc", oracle=_ivfadc_oracle(), bench=True)
def ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (+R): the IVF cell restriction composed with PQ
    compression — the production billion-vector shape the PQ paper
    names.  Builds the cell-partitioned code index (train km cells +
    PQ books, encode, write partitioned by cell), then searches it:
    probed cells come from the persisted km codebook, the scan prunes
    to those cells' partitions (asserted on the executed plan in
    tests/test_dedup_similarity.py), ADC ranks only the probed
    candidates, and the exact rerank touches shortlist×queries rows.
    Integer end-to-end up to the rerank — the composed DuckDB oracle
    (km chain + 8 PQ chains + the same restriction) hash-matches
    exactly; recall floor vs bruteforce locked in pytest.

    Build-once/query-many: the index is built on first use (per
    process+sf, keyed by a sentinel written AFTER codes + both
    codebooks land — dynamic partitionOverwriteMode suppresses the
    parquet job's own root _SUCCESS for partitioned writes) and every
    later call probes the existing artifact — the production lifecycle,
    and what the bench's steady-state runs measure; the build cost is
    the one-time `build_ivfadc_index` job."""
    import atexit
    import shutil

    out = os.path.join(
        "/tmp",
        f"oxidsql_ivfadc_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    marker = os.path.join(out, "_IVFADC_READY")
    if not os.path.exists(marker):
        # build to a staging dir and atomically rename into place: a
        # concurrent or crashed partial build can never be pinned as
        # ready, and losing the rename race just means adopting the
        # winner's complete index.  The pid-keyed artifact is removed
        # at process exit so repeated bench/driver runs don't
        # accumulate copies in /tmp.
        tmp = out + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        build_ivfadc_index(spark, sf_dir, tmp)
        open(os.path.join(tmp, "_IVFADC_READY"), "w").close()
        try:
            os.rename(tmp, out)
            atexit.register(shutil.rmtree, out, ignore_errors=True)
        except OSError:  # lost the race to a completed build
            shutil.rmtree(tmp, ignore_errors=True)
    return ann_ivfadc_search(spark, sf_dir, out)


# ---------------------------------------------------------------------------
# PCA preprocessing: distributed Gram/covariance + driver eigenbasis +
# distributed projection — the rotation step OPQ-style ANN pipelines run
# before product quantization (Ge et al. 2013 motivate PQ on decorrelated
# axes; PCA is the standard non-learned rotation).
# ---------------------------------------------------------------------------

_GRAM_ORACLE = f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding,
                        e -> CAST(floor(CAST(e AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
               FROM embeddings),
    e1 AS (SELECT vec_id, u.i AS i, u.x AS x FROM (
             SELECT vec_id,
                    unnest(list_transform(range(1, len(qv) + 1),
                           k -> struct_pack(i := k, x := qv[k]))) AS u
             FROM q))
    SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(sum(a.x * b.x) AS BIGINT) AS gram_q
    FROM e1 a JOIN e1 b USING (vec_id)
    GROUP BY a.i, b.i
"""


def gram_matrix(e: DataFrame) -> DataFrame:
    """Distributed dim×dim Gram matrix of the QUANTIZED embeddings:
    one Arrow pass emits each batch's exact integer partial (numpy
    int64 MᵀM — d² values per batch regardless of batch size), and the
    only shuffle carries d² rows per partition into a (i, j) sum.
    Integer arithmetic end-to-end, so partial-agg merge order is
    irrelevant and the DuckDB oracle re-derives it bit-for-bit; the
    int64 budget holds to ~10¹¹ vectors at this quantization scale
    (|q| ≤ ~3·10³ → per-pair product ≤ 10⁷)."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            g = m.T @ m
            d = g.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "g": g.ravel()}
            )

    parts = e.select("qv").mapInPandas(partials, "i int, j int, g long")
    return parts.groupBy("i", "j").agg(F.sum("g").cast("bigint").alias("gram_q"))


@register("embedding_gram", oracle=_GRAM_ORACLE)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed second-moment (Gram) matrix of the embedding
    corpus — the data-sized half of PCA training (pca_train's driver
    eigendecomposition consumes these d² values, which is why PCA at
    100 TB is one Arrow scan + one d²-row shuffle, never a data-sized
    collect).  Oracle-exact because the matrix is integer arithmetic
    over the same floor-quantized values every ANN operator here
    shares."""
    return gram_matrix(_km_quantized(spark, sf_dir))


def pca_train(e: DataFrame, k: int):
    """PCA basis from the distributed moments: covariance = G/n − μμᵀ
    assembled on the driver from the d²-row Gram matrix and the d-row
    dimension sums (bounded by dim², never data-sized — the kmeans-
    centroid discipline), then one numpy eigendecomposition.  Returns
    (components: k×d float64, ordered by descending eigenvalue with a
    deterministic sign convention; mean: d float64; eigvals: k)."""
    import numpy as np

    rows = gram_matrix(e).collect()
    d = max(r.i for r in rows) + 1
    g = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        g[r.i, r.j] = r.gram_q
    sums = (
        e.select(F.posexplode("qv").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    n = e.count()
    mu = np.zeros(d, dtype=np.float64)
    for r in sums:
        mu[r.i] = r.s / n
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    # deterministic sign: make each component's largest-|coord| positive
    for c in comps:
        jmax = int(np.argmax(np.abs(c)))
        if c[jmax] < 0:
            c *= -1.0
    return comps, mu, vals[order]


def pca_project(e: DataFrame, comps, mu) -> DataFrame:
    """Project the quantized embeddings onto a trained PCA basis: the
    k×d component matrix rides into one Arrow pass as a task-local
    numpy literal (k·d floats — bytes, not data); output is
    (vec_id, proj: array<double>).  At 100 TB this is a pure map over
    the scan — zero shuffle."""
    import numpy as np
    import pandas as pd

    c = np.asarray(comps, dtype=np.float64)
    m = np.asarray(mu, dtype=np.float64)

    def proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["qv"].to_numpy()).astype(np.float64) - m
            p = x @ c.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(p)}
            )

    return e.select("vec_id", "qv").mapInPandas(
        proj, "vec_id bigint, proj array<double>"
    )


# --- OPQ-parametric rotated PQ (the PCA consumer) --------------------------

_OPQ_HIT_FLOOR = 15  # rotated-ADC exact-top-k hits (of 100) the query asserts


def _eig_alloc(vals, m_sub: int, s_sub: int):
    """OPQ-parametric eigenvalue allocation (Ge et al. 2013 §4): assign
    eigen-dimensions, in descending eigenvalue order, to the non-full
    subspace with the smallest current log-variance product — balancing
    per-subspace information so no PQ codebook is starved.  Plain PCA
    rotation alone CONCENTRATES variance into the first subspace and
    measurably hurts ADC recall (0.26 -> 0.23 on the sf fixtures, 500-
    query evaluation); with allocation it rises to 0.28.  Driver-side
    over dim scalars — bytes."""
    import numpy as np

    v = np.asarray(vals, dtype=np.float64)
    order = np.argsort(v)[::-1]
    logprod = [0.0] * m_sub
    slots = [s_sub] * m_sub
    buckets: list[list[int]] = [[] for _ in range(m_sub)]
    for d in order:
        m = min(
            (mm for mm in range(m_sub) if slots[mm] > 0),
            key=lambda mm: (logprod[mm], mm),
        )
        buckets[m].append(int(d))
        logprod[m] += float(np.log(max(v[d], 1e-9)))
        slots[m] -= 1
    import itertools

    return np.array(list(itertools.chain.from_iterable(buckets)), dtype=np.int64)


def opq_train(e: DataFrame, m_sub: int = _PQ_M):
    """OPQ-parametric preprocessing: the PCA basis from the distributed
    Gram matrix (pca_train — one Arrow pass + d^2-row shuffle) with its
    rows PERMUTED by balanced eigenvalue allocation.  Returns
    (rotation: d x d float64, mean: d float64)."""
    comps, mu, vals = pca_train(e, _KM_DIM)
    perm = _eig_alloc(vals, m_sub, _KM_DIM // m_sub)
    return comps[perm], mu


def opq_rotate(e: DataFrame, comps, mu) -> DataFrame:
    """Rotate quantized embeddings into the OPQ basis and re-quantize
    to integer units (the rotation is orthonormal, so the scale — and
    therefore every downstream integer-distance bound — is preserved).
    Zero shuffle: the d x d rotation rides the Arrow pass as a literal."""
    return pca_project(e, comps, mu).select(
        "vec_id",
        F.expr("transform(proj, x -> CAST(floor(x) AS BIGINT))").alias("qv"),
    )


def _opq_oracle() -> str:
    """Self-verifying oracle (the hll_partial_union pattern, with
    teeth): eigendecomposition is driver-side numpy and cannot be
    re-derived in SQL, so the oracle instead (a) re-derives the FLAT
    PQ-ADC chain and the exact integer-euclidean top-k entirely in SQL
    and counts their intersection — verifying the query's shared
    machinery (quantize, Lloyd, encode, ADC join, exact scan,
    ranking) exactly — and (b) pins the rotated path's recall floor as
    a literal the Spark side must EARN (a rotation/encode regression
    flips the boolean and the driver row goes red)."""
    ctes = [
        f"""q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            e -> CAST(floor(e * {_KM_SCALE}) AS BIGINT)) AS qv
      FROM embeddings)"""
    ]
    ctes.extend(_pq_sub_ctes())
    ctes.append(
        """adc AS (
      SELECT l.q_id, v.vec_id, CAST(sum(l.d) AS BIGINT) AS dist
      FROM codes v JOIN lut l ON l.sub = v.sub AND l.code = v.code
      WHERE l.q_id <> v.vec_id
      GROUP BY l.q_id, v.vec_id)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    flat AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rnk
        FROM adc) WHERE rnk <= {_TOP_K}),
    qd AS (SELECT vec_id, u.i AS dim, qv[CAST(u.i AS INTEGER)] AS x
           FROM q, range(1, {_KM_DIM} + 1) AS u(i)),
    pair AS (
      SELECT a.vec_id AS q_id, b.vec_id, sum((a.x - b.x) * (a.x - b.x)) AS d2
      FROM qd a JOIN qd b ON a.dim = b.dim AND a.vec_id <> b.vec_id
      WHERE a.vec_id < {_N_QUERIES}
      GROUP BY a.vec_id, b.vec_id),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rnk
        FROM pair) WHERE rnk <= {_TOP_K})
    SELECT CAST({_N_QUERIES} AS BIGINT) AS n_queries,
           CAST({_TOP_K} AS BIGINT) AS k,
           (SELECT count(*) FROM flat JOIN exact USING (q_id, vec_id)) AS flat_hits,
           true AS rot_hits_ge_floor
    """


@register("ann_opq_adc", oracle=_opq_oracle())
def ann_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated PQ-ADC — the PCA consumer (VERDICT r10 task 4): the
    corpus is rotated into the eigen-allocated PCA basis (opq_train /
    opq_rotate — one Arrow projection, zero shuffle), PQ codebooks are
    trained and the corpus encoded IN THE ROTATED SPACE, and the ten
    standard queries are ADC-ranked against the rotated codes.  Output
    is one self-verifying row: the FLAT chain's exact-top-k hit count
    (SQL-re-derived by the oracle — proving quantize/Lloyd/encode/ADC/
    exact-scan machinery exactly) plus the rotated chain's floor
    boolean.  Exact top-k here is the integer euclidean on the shared
    quantization — fully SQL-derivable, no float hazard.  The 500-query
    rotated-vs-flat comparison lives in
    tests/test_dedup_similarity.py::test_opq_rotation_lifts_adc_recall."""
    from ..cachescope import scoped_persist

    e = _km_quantized(spark, sf_dir)
    comps, mu = opq_train(e)
    rot = scoped_persist(opq_rotate(e, comps, mu))

    def topk_hits(frame: DataFrame) -> DataFrame:
        books = pq_train(frame)
        codes = pq_encode(frame, books)
        qrows = [
            r.asDict()
            for r in frame.filter(F.col("vec_id") < _N_QUERIES).collect()
        ]
        q_ids, _, luts, code_ids = _pq_lut(books, qrows)
        adc = _adc_scan(codes, q_ids, luts, code_ids)
        w = W.partitionBy("q_id").orderBy(F.col("dist").asc(), "vec_id")
        return (
            adc.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _TOP_K)
            .select("q_id", "vec_id")
        )

    # exact integer-euclidean top-k on the shared quantization (the
    # rotation is orthonormal, so this is the right ground truth for
    # BOTH spaces)
    qd = e.select("vec_id", F.col("qv"))
    qs = qd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    pair = (
        qd.join(F.broadcast(qs), F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qq, qv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("d2").asc(), "vec_id")
    exact = (
        pair.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id")
    )
    exact = scoped_persist(exact)

    flat_hits = topk_hits(e.select("vec_id", "qv")).join(
        exact, ["q_id", "vec_id"]
    ).count()
    rot_hits = topk_hits(rot).join(exact, ["q_id", "vec_id"]).count()
    return local_rows_df(
        spark,
        [(_N_QUERIES, _TOP_K, flat_hits, rot_hits >= _OPQ_HIT_FLOOR)],
        "n_queries bigint, k bigint, flat_hits bigint, rot_hits_ge_floor boolean",
    )


# --- OPQ + IVFADC: the rotated composed index ------------------------------

_OPQIVF_HIT_FLOOR = 50  # reranked rotated-index hits (of 100) the query asserts


def _rotation_path(index_path: str) -> str:
    return os.path.join(index_path, "_rotation")


def build_opq_ivfadc_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the OPQ-rotated IVFADC index: the corpus is rotated into
    the eigen-allocated PCA basis FIRST (opq_train/opq_rotate), then the
    standard IVFADC structures are built over the rotated vectors —
    cell-partitioned PQ codes + both codebooks — plus the ROTATION
    itself (`_rotation`: d rows of the basis + the mean vector) so
    searches rotate queries with the frozen trained basis, never by
    retraining.  Same write-once layout discipline as
    build_ivfadc_index; the only new artifact is d x (d+1) floats."""
    e = _km_quantized(spark, sf_dir)
    comps, mu = opq_train(e)
    rot = opq_rotate(e, comps, mu)
    from ..cachescope import scoped_persist

    rot = scoped_persist(rot)
    cents = _km_train(rot)
    books = pq_train(rot)
    assigned = _km_assigned_batch(rot, cents).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    codes = pq_encode(rot, books).join(assigned, "vec_id")
    codes.write.mode("overwrite").partitionBy("cell").parquet(out_path)
    local_rows_df(
        spark,
        [(int(c), [int(x) for x in cents[c]]) for c in sorted(cents)],
        "cell int, qcent array<bigint>",
    ).write.mode("overwrite").parquet(_codebook_path(out_path))
    local_rows_df(
        spark,
        [
            (m, int(c), [int(x) for x in books[m][c]])
            for m in range(_PQ_M)
            for c in sorted(books[m])
        ],
        "sub int, code bigint, cent array<bigint>",
    ).write.mode("overwrite").parquet(_pqbooks_path(out_path))
    rows = [(-1, [float(x) for x in mu])] + [
        (i, [float(x) for x in comps[i]]) for i in range(len(comps))
    ]
    local_rows_df(spark, rows, "i int, row array<double>").write.mode(
        "overwrite"
    ).parquet(_rotation_path(out_path))


def ann_opq_ivfadc_search(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Search the rotated composed index: rotate the query vectors with
    the index's FROZEN basis (driver-side numpy over <= nq rows), then
    the standard IVFADC probe — cell ranking on the rotated km
    codebook, partition-pruned code scan, fused ADC — and the exact
    float-cosine rerank on the ORIGINAL vectors (the rotation is
    orthonormal, so original-space cosine is the right final metric
    and needs no rotation)."""
    import numpy as np

    from ..sources import artifact

    rot_rows = artifact(spark, _rotation_path(index_path)).collect()
    mu = np.array(next(r.row for r in rot_rows if r.i == -1), dtype=np.float64)
    comps = np.stack(
        [np.array(r.row, dtype=np.float64) for r in sorted(
            (r for r in rot_rows if r.i >= 0), key=lambda r: r.i
        )]
    )
    cents, books = _load_ivfadc_books(spark, index_path)
    # pushed-down query read (r15, same as ann_ivfadc_search): no
    # full-corpus cache materialization for <= nq rows
    qraw = _quantize_vecs(
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_QUERIES)
    ).collect()
    qrows = [
        {
            "vec_id": r.vec_id,
            "qv": [
                int(v)
                for v in np.floor(
                    (np.array(r.qv, dtype=np.float64) - mu) @ comps.T
                ).astype(np.int64)
            ],
        }
        for r in qraw
    ]
    q_ids, Q, luts, code_ids = _pq_lut(books, qrows)
    cids = sorted(cents)
    C = np.array([cents[c] for c in cids], dtype=np.int64)
    d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    probe_cells = {
        int(q): {int(cids[j]) for j in np.lexsort((np.array(cids), d[qi]))[:_IVF_PROBE]}
        for qi, q in enumerate(q_ids)
    }
    all_cells = sorted(set().union(*probe_cells.values()))
    idx = spark.read.parquet(index_path).filter(F.col("cell").isin(all_cells))
    adc = _adc_scan(idx, q_ids, luts, code_ids, probe_cells=probe_cells)
    return _exact_rerank(spark, sf_dir, _adc_shortlist(adc))


@register(
    "ann_opq_ivfadc",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q.q_id, c.vec_id,
             CAST(round(list_cosine_similarity(q.qv, c.cv), 4) AS DECIMAL(10,4)) AS sim
      FROM q JOIN c ON q.q_id <> c.vec_id),
    exact AS (
      SELECT q_id, vec_id, sim FROM (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        FROM scored) WHERE rnk <= {_TOP_K})
    SELECT CAST({_N_QUERIES} AS BIGINT) AS n_queries,
           CAST({_TOP_K} AS BIGINT) AS k,
           CAST(sum(sim) AS DECIMAL(18,4)) AS exact_sim_sum,
           true AS rot_hits_ge_floor
    FROM exact
    """,
)
def ann_opq_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE rotated index path (VERDICT r10 task 4's full
    shape): OPQ rotation -> IVF cells -> PQ codes, persisted with the
    frozen basis, searched via partition-pruned probes + exact rerank.
    Self-verifying row (the ann_opq_adc pattern): the oracle re-derives
    the exact-cosine top-k and its decimal sim-sum fully in SQL — the
    Spark side must reproduce that sum from its own ground-truth
    machinery — and pins the rotated index's reranked recall floor as
    a boolean the query must earn.  Build-once/query-many lifecycle
    identical to ann_ivfadc."""
    import atexit
    import shutil

    out = os.path.join(
        "/tmp",
        f"oxidsql_opqivf_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    marker = os.path.join(out, "_IVFADC_READY")
    if not os.path.exists(marker):
        tmp = out + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        build_opq_ivfadc_index(spark, sf_dir, tmp)
        open(os.path.join(tmp, "_IVFADC_READY"), "w").close()
        try:
            os.rename(tmp, out)
            atexit.register(shutil.rmtree, out, ignore_errors=True)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    res = ann_opq_ivfadc_search(spark, sf_dir, out)
    got = res.select(
        "q_id", "vec_id", F.col("cos_sim").cast("decimal(10,4)").alias("sim")
    )
    ev = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    qv = ev.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), "vec_id")
    exact = (
        ev.join(F.broadcast(qv), F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 4
            ).cast("decimal(10,4)"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("q_id", "vec_id", "sim")
    )
    from ..cachescope import scoped_persist

    exact = scoped_persist(exact)
    hits = got.join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"]).count()
    sim_sum = exact.agg(F.sum("sim").cast("decimal(18,4)").alias("s")).collect()[0].s
    return local_rows_df(
        spark,
        [(_N_QUERIES, _TOP_K, sim_sum, hits >= _OPQIVF_HIT_FLOOR)],
        "n_queries bigint, k bigint, exact_sim_sum decimal(18,4), rot_hits_ge_floor boolean",
    )


# --- contrastive pair mining ----------------------------------------------
# Embedding-model training data: for each anchor, the most-similar
# SAME-label vectors (positives) and the most-similar DIFFERENT-label
# vectors (hard negatives — the pairs that actually move a contrastive
# loss; random negatives are trivially separated and teach nothing).

_CON_POS = 4  # positives per anchor
_CON_NEG = 8  # hard negatives per anchor


@register(
    "embeddings_contrastive_mine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
         c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         scored AS (
           SELECT q.q_id, c.vec_id,
                  CASE WHEN c.label = q.q_label THEN 'pos' ELSE 'neg' END AS kind,
                  round(list_cosine_similarity(q.qv, c.cv), 4) AS simr
           FROM q JOIN c ON q.q_id <> c.vec_id),
         ranked AS (
           SELECT q_id, vec_id, kind, simr,
                  row_number() OVER (PARTITION BY q_id, kind
                                     ORDER BY simr DESC, vec_id) AS rnk
           FROM scored)
    SELECT q_id, vec_id, kind, rnk, simr AS cos_sim
    FROM ranked
    WHERE (kind = 'pos' AND rnk <= {_CON_POS})
       OR (kind = 'neg' AND rnk <= {_CON_NEG})
    """,
)
def embeddings_contrastive_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised contrastive pair mining over the embedding table: per
    anchor, the top-{p} most-similar SAME-label vectors (positives) and
    the top-{k} most-similar DIFFERENT-label vectors (hard negatives)
    — the (anchor, pair, kind, rank) table an embedding-model trainer
    consumes directly.  Hard negatives are the high-similarity
    wrong-label pairs; mining them exactly is what makes the face
    useful (uniform negative sampling needs no engine at all).

    Scale shape: the ann_topk_bruteforce plan — anchors broadcast, ONE
    embarrassingly-parallel scoring pass over the candidate scan, then
    per-(anchor, kind) top-k windows (TakeOrdered-sized partitions,
    never a global sort).  At billions of vectors the scoring pass
    swaps for the partition-pruned IVF probe (`ann_ivf_prepared`) with
    the same downstream mining — candidate restriction, not a different
    algorithm.

    Tie safety (r13 ADVICE): ranks order by the ROUNDED cosine (4
    decimals — the face's own output precision) with vec_id as the
    total tie-break, identically in both engines.  Raw-float ordering
    would let a near-tie at the rank-k boundary (engines computing
    cosine in different op orders) flip the selected row set; with
    rounded ranking the only residual cross-engine exposure is
    round(sim,4) itself — which the output column already carries, and
    the fixture margins sit >= 2e-10 sim-units from every rounding
    boundary (~6 orders above double noise)."""
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.select("vec_id", "label", F.col("v").alias("cv"), "nrm")
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "simr",
            F.round(
                vec_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")),
                4,
            ),
        )
        .withColumn(
            "kind",
            F.when(F.col("label") == F.col("q_label"), F.lit("pos")).otherwise(
                F.lit("neg")
            ),
        )
    )
    w = W.partitionBy("q_id", "kind").orderBy(F.col("simr").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(
            ((F.col("kind") == "pos") & (F.col("rnk") <= _CON_POS))
            | ((F.col("kind") == "neg") & (F.col("rnk") <= _CON_NEG))
        )
        .select("q_id", "vec_id", "kind", "rnk", F.col("simr").alias("cos_sim"))
    )


embeddings_contrastive_mine.__doc__ = embeddings_contrastive_mine.__doc__.format(
    p=_CON_POS, k=_CON_NEG
)



_KNN_EVAL_K = 5
_KNN_EVAL_NQ = 50  # vec_id < 50 are the evaluation queries


@register(
    "embeddings_knn_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_KNN_EVAL_NQ}),
         c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         scored AS (
           SELECT q.q_id, q.q_label, c.label,
                  round(list_cosine_similarity(q.qv, c.cv), 4) AS simr,
                  c.vec_id
           FROM q JOIN c ON q.q_id <> c.vec_id),
         topk AS (
           SELECT q_id, q_label, label FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY simr DESC, vec_id) AS rnk
             FROM scored) WHERE rnk <= {_KNN_EVAL_K}),
         votes AS (
           SELECT q_id, q_label, label, count(*) AS n
           FROM topk GROUP BY q_id, q_label, label),
         pred AS (
           SELECT q_id, q_label, label AS pred_label FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY n DESC, label) AS vr
             FROM votes) WHERE vr = 1)
    SELECT q_label AS label,
           count(*) AS n_queries,
           CAST(sum(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred GROUP BY q_label
    """,
)
def embeddings_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality evaluation by kNN label prediction: for each
    held-out query vector, predict its label as the majority among its
    5 nearest neighbors (cosine; vote ties break by count desc,
    label asc — fully deterministic) and report per-label query and
    correct counts — the standard retrieval-quality probe run after
    every embedding-model train.  Integer counts cross the engine
    boundary, so the check is exact.  Tie safety (r13 ADVICE): the
    neighbor rank orders by the ROUNDED cosine (4 decimals) + vec_id —
    the contrastive-mine rule — so a raw-float near-tie at the rank-k
    boundary cannot flip the neighbor set between engines.

    Scale shape: the ann_topk_bruteforce plan (broadcast queries, one
    scoring pass, per-query top-k window) + two tiny vote aggregates;
    at billions of vectors the scoring pass swaps for the IVF probe
    with identical downstream voting."""
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    q = e.filter(F.col("vec_id") < _KNN_EVAL_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.select("vec_id", "label", F.col("v").alias("cv"), "nrm")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).withColumn(
        "simr",
        F.round(
            vec_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")), 4
        ),
    )
    wk = W.partitionBy("q_id").orderBy(F.col("simr").desc(), "vec_id")
    topk = (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= _KNN_EVAL_K)
        .select("q_id", "q_label", "label")
    )
    votes = topk.groupBy("q_id", "q_label", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = W.partitionBy("q_id").orderBy(F.col("n").desc(), "label")
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("q_id", "q_label", F.col("label").alias("pred_label"))
    )
    return pred.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("pred_label") == F.col("q_label")).cast("bigint")).alias(
            "n_correct"
        ),
    )


# --- Matryoshka truncation evaluation -------------------------------------
# Modern embedding models train nested (Matryoshka) representations so
# retrieval can run on a prefix of the vector at a fraction of the
# memory/compute; the deployment decision needs exactly this table:
# how much recall each prefix width gives up against full-width search.

_MAT_DIMS = (8, 16, 32, 64)  # prefix widths; last = full (ground truth)
_MAT_K = 10
_MAT_NQ = 50  # vec_id < 50 are the evaluation queries


def _mat_oracle() -> str:
    parts = []
    selects = []
    for d in _MAT_DIMS:
        parts.append(f"""
    s{d} AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             round(list_cosine_similarity(q.v[1:{d}], c.v[1:{d}]), 4) AS simr
      FROM e q JOIN e c ON q.vec_id < {_MAT_NQ} AND q.vec_id <> c.vec_id),
    t{d} AS (
      SELECT q_id, vec_id, simr FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY simr DESC, vec_id) AS rnk
        FROM s{d})
      WHERE rnk <= {_MAT_K})""")
        selects.append(f"""
    SELECT {d} AS dim, {_MAT_K} AS k,
           CAST(count(DISTINCT t.q_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(sum(CAST(round(t.simr * 10000) AS BIGINT)) AS BIGINT)
             AS sim_units
    FROM t{d} t LEFT JOIN gt g ON t.q_id = g.q_id AND t.vec_id = g.vec_id""")
    full = _MAT_DIMS[-1]
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),"
        + ",".join(parts)
        + f",\n    gt AS (SELECT q_id, vec_id FROM t{full})\n"
        + " UNION ALL ".join(selects)
    )


@register("embeddings_matryoshka_eval", oracle=_mat_oracle())
def embeddings_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: run cosine top-k
    retrieval with only the first d dimensions of each embedding, for
    d in (8, 16, 32, 64), and score each prefix against the full-width
    top-k — per width: queries, hits (= recall@10 numerator) and the
    integer-quantized similarity mass of the selected set.  This is
    the table that decides how narrow a deployed index can go; the
    full-width row doubles as a built-in sanity check (hits = k x
    queries by construction).

    Scale shape: one ann_topk_bruteforce-shaped pass PER width —
    broadcast queries, embarrassingly-parallel scoring, per-query
    top-k windows; the ground-truth set is computed once and scope-
    persisted, each width folds into a 1-row aggregate via a
    pair-keyed left join against it.  At billions of vectors each pass
    swaps for the IVF probe over an index built at that width
    (candidate restriction only — scoring and ranking unchanged).

    Tie safety (the contrastive-mine rule): ranks order by the ROUNDED
    cosine + vec_id at EVERY width, and the fixture's sliced-dim sims
    sit >= 2e-10 sim-units from every rounding boundary (measured at
    all four widths — ~5 orders above double noise), so the selected
    sets match cross-engine exactly and every output column is an
    integer."""
    from ..cachescope import scoped_persist

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    topks = {}
    for d in _MAT_DIMS:
        ed = e.select("vec_id", F.slice("v", 1, d).alias("cv")).withColumn(
            "nrm", vec_norm(F.col("cv"))
        )
        q = ed.filter(F.col("vec_id") < _MAT_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("cv").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        scored = ed.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).withColumn(
            "simr",
            F.round(
                vec_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")), 4
            ),
        )
        wk = W.partitionBy("q_id").orderBy(F.col("simr").desc(), "vec_id")
        topks[d] = (
            scored.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= _MAT_K)
            .select("q_id", "vec_id", "simr")
        )
    full = _MAT_DIMS[-1]
    gt = scoped_persist(
        topks[full].select("q_id", "vec_id", F.lit(1).alias("hit"))
    )
    parts = []
    for d in _MAT_DIMS:
        parts.append(
            topks[d]
            # gt is k x n_queries rows at ANY corpus size — broadcast,
            # never a sort-merge exchange
            .join(F.broadcast(gt), ["q_id", "vec_id"], "left")
            .agg(
                F.countDistinct("q_id").alias("n_queries"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
                F.sum(F.round(F.col("simr") * 10000).cast("long")).alias("sim_units"),
            )
            .select(
                F.lit(d).alias("dim"),
                F.lit(_MAT_K).alias("k"),
                "n_queries",
                "n_hits",
                "sim_units",
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out
