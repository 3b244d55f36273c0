"""Corpus-curation operators for a large-scale training-data pipeline:
benchmark decontamination, deterministic stratified sampling, hash-based
train/test splits, repetition- and perplexity-proxy quality scoring,
TF-IDF term weighting, source-mix reporting/sampling, and the
quality-filter funnel.

These extend the reference's surface (OxidSQL has no text processing at
all — README.md:34-55 stops at SELECT/INSERT/CREATE) toward the
operations a 100 TB LLM-data pipeline runs daily. Everything is
built-in-expression work (split / regexp / md5 / higher-order array
functions / window ranks) — JVM-side, whole-stage codegen, no Python —
and every shuffle is on a bounded key (doc_id, term, group key), never
on raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import local_rows_df, tokens
from ..registry import register
from ..sources import table

# DuckDB twin of functions.tokens (kept verbatim in every oracle below).
_DUCK_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)

_DECON_N = 5  # word 5-gram shingles for contamination checks

# BM25 (Okapi, the +1 idf variant): k1=1.2, b=0.75; fixed query set over
# the synthetic vocabulary.  Scores quantized to integer micro-units
# after the float chain (identical operand order in both engines) so
# partial-agg merge order can't perturb the sum.
_BM25_QUERIES = [
    (1, "spark"), (1, "join"),
    (2, "table"), (2, "scan"),
    (3, "stream"), (3, "window"), (3, "hash"),
]
_BM25_TOP = 10


def _bm25_query_df(ex: DataFrame, q: DataFrame) -> DataFrame:
    """Document frequency restricted to the QUERY terms — the broadcast
    side of the BM25 idf join.  The query-term list (a handful of rows)
    is broadcast into a semi-join that prunes the exploded token stream
    BEFORE the distinct, so both the dedup shuffle and the resulting df
    relation are query-sized, never vocabulary-sized.  At web scale the
    full-vocabulary df table is GBs; broadcasting it (the r8 shape)
    would OOM the driver — this keeps the broadcast at |query terms|
    rows by construction."""
    return (
        ex.select("doc_id", "term")
        .join(F.broadcast(q.select("term").distinct()), "term", "semi")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _bm25_oracle() -> str:
    qvals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
           FROM ex GROUP BY doc_id, term),
    stats AS (SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM t),
    df AS (SELECT term, count(*) AS df
           FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY term),
    q(qid, term) AS (VALUES {qvals}),
    scored AS (
      SELECT q.qid, tf.doc_id,
             CAST(sum(CAST(round(
               (ln((CAST(s.n - df.df AS DOUBLE) + 0.5)
                   / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
                * ((CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl)))))
               * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
      FROM tf JOIN q USING (term) JOIN df USING (term), stats s
      GROUP BY q.qid, tf.doc_id)
    SELECT qid, doc_id, score_micro, rnk FROM (
      SELECT qid, doc_id, score_micro,
             row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scored) WHERE rnk <= {_BM25_TOP}
    """


@register("docs_bm25_topk", oracle=_bm25_oracle())
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the documents table for a fixed query
    set — the lexical half of a retrieval pipeline (the RAG capstone's
    dense half is `pipeline.rag_index`; production rankers fuse both).

    Scale shape: one tokenize pass feeds term frequencies (tf), document
    frequencies (df) and length stats; the query term list and the df
    table for those terms are broadcast onto the tf stream, so the only
    data-sized shuffle is the per-(query, doc) score aggregation — and
    tf itself is keyed by doc_id, the same partitioning the per-doc
    length join rides.  The idf/length-normalization float chain uses
    identical operand order in Spark and DuckDB and is quantized to
    integer micro-units per (doc, term) BEFORE the sum, so the ranking
    is bit-stable at any parallelism."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    ex = d.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    tf = ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.any_value("dl").alias("dl")
    )
    stats = (
        d.select(F.size("toks").alias("dl0"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl0").alias("sdl"))
        .select("n", (F.col("sdl").cast("double") / F.col("n")).alias("avgdl"))
    )
    q = local_rows_df(spark, _BM25_QUERIES, "qid int, term string")
    df_t = _bm25_query_df(ex, q)
    joined = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        ((F.col("n") - F.col("df")).cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    w = (F.col("tf").cast("double") * 2.2) / (
        F.col("tf").cast("double")
        + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    scored = joined.groupBy("qid", "doc_id").agg(
        F.sum(F.round((idf * w) * 1000000).cast("bigint")).alias("score_micro")
    )
    win = W.partitionBy("qid").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _BM25_TOP)
        .select("qid", "doc_id", "score_micro", "rnk")
    )


# --- Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
# and dense (cosine ANN) halves --------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_SCALE = 1_000_000_000  # integer micro-units: SCALE DIV (K + rank)
_RRF_TOP = 10
_DENSE_QIDS = sorted({q for q, _ in _BM25_QUERIES})  # qid n ↔ query vec_id n


def rrf_fuse(
    lex: DataFrame, dense: DataFrame, k: int = _RRF_K, top: int = _RRF_TOP
) -> DataFrame:
    """Reciprocal-rank fusion of two (qid, doc_id, rnk) ranked lists:
    score = Σ halves SCALE DIV (k + rank), missing half contributes 0.
    Pure INTEGER arithmetic — floor-divided micro-units instead of the
    textbook 1/(k+r) floats — so the fused ordering is bit-identical at
    any parallelism and in any engine.  One full-outer rank join keyed
    on (qid, doc_id) — both inputs are top-k-sized, so at 100 TB this
    costs nothing next to the halves that produced them."""
    lhs = lex.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("rnk").alias("lex_rnk"),
    )
    rhs = dense.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("rnk").alias("dense_rnk"),
    )
    fused = lhs.join(rhs, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        (
            F.coalesce(F.expr(f"{_RRF_SCALE} DIV ({k} + lex_rnk)"), F.lit(0))
            + F.coalesce(F.expr(f"{_RRF_SCALE} DIV ({k} + dense_rnk)"), F.lit(0))
        ).cast("bigint").alias("rrf_micro"),
        "lex_rnk",
        "dense_rnk",
    )
    w = W.partitionBy("qid").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top)
        .select("qid", "doc_id", "rrf_micro", "lex_rnk", "dense_rnk", "rnk")
    )


def _dense_ranks(spark: SparkSession, sf_dir: str, qids, top: int) -> DataFrame:
    """Dense half: exact cosine top-k for the query vectors vec_id ∈
    qids — same broadcast-queries/one-pass/per-query-window shape (and
    the same operand order, which the cross-engine rank stability rides
    on) as similarity.ann_topk_bruteforce."""
    from ..functions import as_double_vec, vec_dot, vec_norm

    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    q = e.filter(F.col("vec_id").isin(list(qids))).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.select("vec_id", F.col("v").alias("cv"), "nrm")
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("vec_id")).withColumn(
        "sim", vec_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm"))
    )
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top)
        .select("qid", F.col("vec_id").alias("doc_id"), "rnk")
    )


def _rrf_oracle() -> str:
    qid_list = ", ".join(str(q) for q in _DENSE_QIDS)
    return f"""
    WITH lex AS (SELECT qid, doc_id, rnk FROM ({_bm25_oracle()}) bm),
    dense AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT q.q_id AS qid, c.vec_id AS doc_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.vec_id) AS rnk
        FROM (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN ({qid_list})) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c
          ON q.q_id <> c.vec_id
      ) WHERE rnk <= {_RRF_TOP}),
    fused AS (
      SELECT CAST(coalesce(l.qid, d.qid) AS BIGINT) AS qid,
             CAST(coalesce(l.doc_id, d.doc_id) AS BIGINT) AS doc_id,
             CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + l.rnk), 0)
                  + coalesce({_RRF_SCALE} // ({_RRF_K} + d.rnk), 0) AS BIGINT)
               AS rrf_micro,
             l.rnk AS lex_rnk, d.rnk AS dense_rnk
      FROM lex l FULL JOIN dense d ON l.qid = d.qid AND l.doc_id = d.doc_id)
    SELECT qid, doc_id, rrf_micro, lex_rnk, dense_rnk, rnk FROM (
      SELECT qid, doc_id, rrf_micro, lex_rnk, dense_rnk,
             row_number() OVER (PARTITION BY qid
               ORDER BY rrf_micro DESC, doc_id) AS rnk
      FROM fused) WHERE rnk <= {_RRF_TOP}
    """


@register("retrieval_hybrid_rrf", oracle=_rrf_oracle())
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    top-k (docs_bm25_topk) and the dense cosine top-k for the matching
    query vectors (qid n ↔ embeddings vec_id n) — the standard fusion a
    production RAG stack runs over its two retrieval indexes.

    RRF needs only the two RANK lists, never the raw scores, which is
    exactly why it composes across heterogeneous scorers (BM25 floats
    vs cosine floats) without calibration; the integer micro-unit
    scoring in rrf_fuse keeps the fused ordering engine- and
    parallelism-independent.  Both halves are the already-proven
    operators; the fusion itself is a top-k-sized rank join — at scale
    the dense half would come from the IVFADC index probe
    (similarity.ann_ivfadc) instead of the exact scan, with this exact
    fusion unchanged.  tests/test_pipeline.py locks the union-recall
    property (fusion recalls what EITHER half recalls on a corpus with
    disjoint lexical-only / dense-only relevant sets)."""
    lex = docs_bm25_topk(spark, sf_dir).select("qid", "doc_id", "rnk")
    dense = _dense_ranks(spark, sf_dir, _DENSE_QIDS, _RRF_TOP)
    return rrf_fuse(lex, dense, _RRF_K, _RRF_TOP)


def _rrf_ivfadc_oracle() -> str:
    from .similarity import _ivfadc_oracle

    qid_list = ", ".join(str(q) for q in _DENSE_QIDS)
    return f"""
    WITH lex AS (SELECT qid, doc_id, rnk FROM ({_bm25_oracle()}) bm),
    dense AS (SELECT q_id AS qid, vec_id AS doc_id, rnk
              FROM ({_ivfadc_oracle()}) iv WHERE q_id IN ({qid_list})),
    fused AS (
      SELECT CAST(coalesce(l.qid, d.qid) AS BIGINT) AS qid,
             CAST(coalesce(l.doc_id, d.doc_id) AS BIGINT) AS doc_id,
             CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + l.rnk), 0)
                  + coalesce({_RRF_SCALE} // ({_RRF_K} + d.rnk), 0) AS BIGINT)
               AS rrf_micro,
             l.rnk AS lex_rnk, d.rnk AS dense_rnk
      FROM lex l FULL JOIN dense d ON l.qid = d.qid AND l.doc_id = d.doc_id)
    SELECT qid, doc_id, rrf_micro, lex_rnk, dense_rnk, rnk FROM (
      SELECT qid, doc_id, rrf_micro, lex_rnk, dense_rnk,
             row_number() OVER (PARTITION BY qid
               ORDER BY rrf_micro DESC, doc_id) AS rnk
      FROM fused) WHERE rnk <= {_RRF_TOP}
    """


@register("retrieval_hybrid_ivfadc", oracle=_rrf_ivfadc_oracle())
def retrieval_hybrid_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of hybrid retrieval: the SAME reciprocal-
    rank fusion as retrieval_hybrid_rrf, but with the dense half coming
    from the IVFADC index probe (similarity.ann_ivfadc — cell-pruned
    code scan, fused ADC, exact rerank) instead of the exact scan —
    proving end-to-end that the fusion is oracle-exact over the real
    billion-vector index path, not just the brute-force baseline.  The
    oracle composes the full IVFADC SQL chain (km cells + 8 PQ chains +
    cell restriction) with the BM25 chain and the integer fusion."""
    from .similarity import ann_ivfadc

    lex = docs_bm25_topk(spark, sf_dir).select("qid", "doc_id", "rnk")
    dense = (
        ann_ivfadc(spark, sf_dir)
        .filter(F.col("q_id").isin(list(_DENSE_QIDS)))
        .select(F.col("q_id").alias("qid"), F.col("vec_id").alias("doc_id"), "rnk")
    )
    return rrf_fuse(lex, dense, _RRF_K, _RRF_TOP)


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_DECON_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
      FROM t),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 10 = 0),
    corp AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS gram
             FROM sh WHERE doc_id % 10 <> 0)
    SELECT c.doc_id,
           any_value(c.n_sh) AS n_sh,
           count(*) AS n_hit,
           round(CAST(count(*) AS DOUBLE) / any_value(c.n_sh), 4) AS contamination
    FROM corp c JOIN bench b USING (gram)
    GROUP BY c.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    5-gram shingles with a held-out benchmark set (here: doc_id % 10 == 0
    plays the benchmark corpus; the rest is training data).

    Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    the distinct benchmark-gram set is BROADCAST — the corpus side
    streams through map-side, no corpus shuffle on raw text. The only
    wide exchange is the per-doc hit count, keyed by doc_id. (In
    production the benchmark is its own small table; deriving it from
    documents here costs a second scan of the 10% slice, an artifact of
    the shared fixture, not the operator shape.)

    Shingles come from dedup._shingle_rows (codegen row form, n=5):
    the interpreted word_ngrams fold measured ~1.9× slower here; the
    per-doc gram count rides the row frame's existing doc_id
    partitioning, no extra exchange."""
    from .dedup import _shingle_rows

    d = table(spark, sf_dir, "documents")
    ex = _shingle_rows(d, _DECON_N).withColumnRenamed("shingle", "gram")
    n_tab = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    bench = (
        ex.filter(F.col("doc_id") % 10 == 0).select("gram").distinct()
    )
    corp = ex.filter(F.col("doc_id") % 10 != 0)
    hits = (
        corp.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(n_tab, "doc_id")
    )
    return hits.select(
        "doc_id",
        "n_sh",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_sh"), 4).alias("contamination"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT c_nationkey, c_custkey FROM (
      SELECT c_nationkey, c_custkey,
             row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk
      FROM customer)
    WHERE rk <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly min(k, |group|) rows per
    group, chosen by md5-hash order — reproducible across reruns,
    engines, and partitionings (unlike rand()-based sampling), which is
    what makes pipeline sampling auditable. One shuffle on the group
    key; the per-group top-k is a rank window, and for groups of
    billions the same hash order supports pre-filtering by hash prefix
    before ranking."""
    c = table(spark, sf_dir, "customer")
    rk = F.row_number().over(
        W.partitionBy("c_nationkey").orderBy(
            F.md5(F.col("c_custkey").cast("string")), "c_custkey"
        )
    )
    return (
        c.select("c_nationkey", "c_custkey", rk.alias("rk"))
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )


# Hex nibble -> int, expressible in both engines.  Canonical home is
# the leaf ``functions`` package (importable from anywhere without the
# corpus_ext → similarity → dedup module-init chain); re-exported here
# under the historical name for this module's many oracle builders.
from ..functions import duck_hex4 as _duck_hex4  # noqa: E402


# -- engine-version-proof fixed-point log ------------------------------
# The r10 driver flagged dsir_select hash-red while the in-repo gate
# mirror stayed green 6/6 across sf dirs: the only engine-sensitive
# step was `round(ln(num/den), 6)` — a transcendental + a decimal
# rounding whose behavior can differ ACROSS ENGINE VERSIONS.  The
# quantized log is now computed by an explicit fixed-point algorithm
# using only operations IEEE-754/integer semantics pin exactly, so any
# Spark and any DuckDB produce bit-identical weights:
#   ratio = double(num)/double(den)      (int->double + / are exact-rounded)
#   m     : ratio in [2^m, 2^(m+1))      (compares vs EXACT power-of-2 doubles)
#   rp    = ratio / 2^m                  (exponent shift — no rounding)
#   z     = floor((rp-1)/(rp+1) * 1e12)  (each op exact-rounded, floor exact)
#   ln(rp)= 2*atanh(z/1e12) via a 14-term series in integer fixed-point
#           (decimal(38,0) multiplies + integer division — exact)
#   w     = round-half-away((m*LN2_12 + 2*sum) / 1e6)  (integer ops)
# Error budget: |z| < 1/3 so the series tail < 5e-15, plus ~20 floor
# truncations at 1e-12 -> total < 3e-5 micro-units of drift, vs the
# >=2.2e-2 measured distance of every sf0.01 bucket from the micro
# grid (the margin is also pytest-locked in test_pipeline.py).
_FIXLOG_S = 10**12
_FIXLOG_LN2 = 693147180560  # round(ln 2 * 1e12) — exact integer constant
_FIXLOG_TERMS = 14


def _fixlog_step(div: str) -> str:
    """One fixed-point power advance p -> p*z2/1e12 over BIGINT columns
    p, z2a, z2b (z2 split as z2a*1e6 + z2b) — identical text in Spark
    (div='div') and DuckDB (div='//').  Every operation is BIGINT:
    DuckDB routes DECIMAL `//` through DOUBLE (observed fractional
    results past 2^53), so exactness requires keeping every product
    under 2^63 via the split-multiply identity
    floor(p*z2/1e12) = (p*z2a + (p*z2b) div 1e6) div 1e6
    (exact, not an approximation: floor(floor(x/a)/b) = floor(x/(a*b))
    for integers).  Max magnitudes: p <= S/3 ~ 3.4e11, z2a <= 1.2e5,
    z2b < 1e6 -> products <= 3.4e17 << 2^63."""
    return f"(p * z2a + (p * z2b) {div} 1000000) {div} 1000000"


def _fixlog_micro(df: DataFrame) -> DataFrame:
    """Append ``w`` = round(ln(num/den) * 1e6) as BIGINT micro-units to a
    small frame with positive integer-valued decimal columns ``num`` and
    ``den`` (ratio within [2^-62, 2^62) — wider than any token-count
    ratio a physical corpus can produce; at ~1e14 target tokens the
    smoothed ratio's floor 1/nt crosses 2^-45, so the narrower table a
    first draft used would have silently DROPPED buckets at web scale
    via the inner join) — the fixed-point algorithm
    above; prototype-verified bit-identical to DuckDB and to Python
    round(math.log(num/den)*1e6) on 500 random pairs over the full
    magnitude range.  The 91-row power table rides a broadcast
    nested-loop join: df is B rows (bucket-count-sized), never data."""
    spark = df.sparkSession
    pw = spark.range(-62, 63).select(
        F.col("id").cast("int").alias("_m"),
        F.expr(
            "CASE WHEN id >= 0 THEN CAST(shiftleft(1L, CAST(id AS INT)) AS DOUBLE) "
            "ELSE 1.0 / CAST(shiftleft(1L, CAST(-id AS INT)) AS DOUBLE) END"
        ).alias("_lo"),
    )
    out = (
        df.withColumn(
            "_ratio", F.col("num").cast("double") / F.col("den").cast("double")
        )
        .join(
            F.broadcast(pw),
            (F.col("_ratio") >= F.col("_lo")) & (F.col("_ratio") < 2 * F.col("_lo")),
        )
        .withColumn("_rp", F.col("_ratio") / F.col("_lo"))
        .withColumn(
            "z",
            F.floor(
                (F.col("_rp") - 1.0) / (F.col("_rp") + 1.0) * F.lit(float(_FIXLOG_S))
            ).cast("long"),
        )
        # z2 = z*z div S via the same exact split (z <= 3.4e11 so z*z
        # would overflow BIGINT; the split keeps it under 3.4e17)
        .withColumn(
            "z2", F.expr("(z * (z div 1000000) + (z * (z % 1000000)) div 1000000) div 1000000")
        )
        .withColumn("z2a", F.expr("z2 div 1000000"))
        .withColumn("z2b", F.expr("z2 % 1000000"))
        .withColumn("p", F.col("z"))
        .withColumn("acc", F.col("z"))  # first series term: z div 1
    )
    # linear column chain, one power advance + one term per step (a
    # nested single-expression form doubles in TEXT per term — 2^14
    # blowup measured as ~2 min of analysis time)
    for _k in range(1, _FIXLOG_TERMS):
        out = out.withColumn("p", F.expr(_fixlog_step("div"))).withColumn(
            "acc", F.expr(f"acc + p div {2 * _k + 1}")
        )
    return (
        out.withColumn(
            "_L", F.col("_m").cast("long") * F.lit(_FIXLOG_LN2) + 2 * F.col("acc")
        )
        .withColumn(
            "w",
            F.expr(
                "CASE WHEN _L >= 0 THEN (_L + 500000) div 1000000"
                " ELSE -((-_L + 500000) div 1000000) END"
            ),
        )
        .drop("_ratio", "_m", "_lo", "_rp", "z", "z2", "z2a", "z2b", "p", "acc", "_L")
    )


def _duck_fixlog(rel: str, key: str = "bkt", prefix: str = "fx") -> str:
    """CTE chain text: ``rel``(<key cols>, num, den) ->
    ``{prefix}w``(<key cols>, w BIGINT), the DuckDB twin of
    _fixlog_micro (same fixed-point algorithm, same constants, `//`
    for integer division).  ``key`` may be a comma-separated column
    list (the bigram LM keys per (prev, term)).  ``prefix`` names
    EVERY generated CTE (``{prefix}pw``, ``{prefix}r`` ...
    ``{prefix}w``) so one oracle can nest several chains without the
    order-sensitive string .replace() renames this helper used to
    force on callers (r11 ADVICE)."""
    p = prefix
    series = "\n".join(
        f"""    {p}p{i + 1} AS (SELECT {key}, m, z2a, z2b, p, acc + p // {2 * i + 3} AS acc FROM
             (SELECT {key}, m, z2a, z2b, (p * z2a + (p * z2b) // 1000000) // 1000000 AS p, acc FROM {p}p{i})),"""
        for i in range(13)
    )
    return f"""
    {p}pw AS (
      SELECT m, CASE WHEN m >= 0 THEN CAST(1::BIGINT << m AS DOUBLE)
                     ELSE 1.0 / CAST(1::BIGINT << (-m) AS DOUBLE) END AS lo
      FROM (SELECT unnest(generate_series(-62, 62)) AS m)),
    {p}r AS (SELECT {key}, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ratio FROM {rel}),
    {p}j AS (SELECT {key}, ratio / lo AS rp, m FROM {p}r
            JOIN {p}pw ON ratio >= lo AND ratio < 2 * lo),
    {p}z AS (SELECT {key}, m,
                   CAST(floor((rp - 1.0) / (rp + 1.0) * {float(_FIXLOG_S)})
                        AS BIGINT) AS z
            FROM {p}j),
    {p}z2 AS (SELECT {key}, m, z,
                    (z * (z // 1000000) + (z * (z % 1000000)) // 1000000) // 1000000 AS z2
             FROM {p}z),
    {p}p0 AS (SELECT {key}, m, z2 // 1000000 AS z2a, z2 % 1000000 AS z2b,
                    z AS p, z AS acc FROM {p}z2),
{series}
    {p}s AS (SELECT {key}, m * {_FIXLOG_LN2} + 2 * acc AS L FROM {p}p13),
    {p}w AS (SELECT {key}, CAST(CASE WHEN L >= 0 THEN (L + 500000) // 1000000
                                 ELSE -((-L + 500000) // 1000000) END AS BIGINT) AS w
           FROM {p}s)"""



_DUCK_BUCKET = _duck_hex4("md5(CAST(doc_id AS VARCHAR))") + " % 100"


def _leakage_oracle() -> str:
    from .graph import _ORACLE as _CLUSTER_ORACLE

    cbucket = _duck_hex4("md5(CAST(cluster_id AS VARCHAR))") + " % 100"
    return f"""
    WITH clusters AS ({_CLUSTER_ORACLE})
    SELECT doc_id, cluster_id,
           CASE WHEN {cbucket} < 90 THEN 'train' ELSE 'test' END AS split
    FROM clusters
    """


@register("split_leakage_safe", oracle=_leakage_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split: hash the near-dup CLUSTER id, not
    the doc id, so a document and its near-duplicates always land on
    the same side — the doc-hash split (train_test_split) leaks
    training content into eval whenever near-dups exist, which inflates
    every benchmark a model is scored on.  This is the split a
    production pretraining pipeline runs AFTER dedup clustering.

    Scale shape: rides dedup_clusters (collapse-first label
    propagation); the split itself is a pure per-row hash — no extra
    shuffle beyond the clustering.  The no-straddle invariant (no
    near-dup pair crosses the split) is locked in
    tests/test_pipeline.py."""
    from .graph import dedup_clusters

    c = dedup_clusters(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
    ).cast("int") % 100
    return c.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )


@register(
    "train_test_split",
    oracle=f"""
    SELECT CASE WHEN {_DUCK_BUCKET} < 90 THEN 'train' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/test split (90/10): the split of a document is a
    pure function of its id — stable under reprocessing, shard order,
    and cluster size, the property random splits lack. Buckets come
    from the first 4 hex chars of md5(doc_id), identical in both
    engines. Embarrassingly parallel scan + 2-group aggregate."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    split = F.when(bucket < 90, "train").otherwise("test")
    return (
        d.select(split.alias("split"), F.length("text").alias("len"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("len").alias("n_chars"),
        )
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                i -> toks[i] || ' ' || toks[i+1]) AS grams
          FROM t)
    SELECT doc_id,
           len(grams) AS n_bigrams,
           len(list_distinct(grams)) AS n_distinct,
           round(1 - CAST(len(list_distinct(grams)) AS DOUBLE)
                     / greatest(len(grams), 1), 4) AS rep_ratio
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality metric: fraction of duplicated word bigrams
    per document (machine-generated / boilerplate text scores high; the
    standard cheap quality gate next to text_stats). Zero-shuffle row
    transform — the bigram list is built from two array slices, never
    exploded."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )
    return d.select(
        "doc_id",
        F.size(grams).alias("n_bigrams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
        F.round(
            1 - F.col("n_distinct") / F.greatest(F.col("n_bigrams"), F.lit(1)), 4
        ).alias("rep_ratio"),
    ).select(
        "doc_id", "n_bigrams", "n_distinct", "rep_ratio"
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, round(score, 4) AS tfidf, rk FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by TF-IDF — the classic
    content-signature / topic-drift monitor over a corpus.

    Scale shape: the corpus is exploded ONCE — tf aggregates (doc_id,
    term) with map-side partial combine, and df derives from tf (one
    row per (doc, term) ⇒ count per term = document frequency) instead
    of a second corpus explode + count-distinct. The df table is one
    row per vocabulary term (≪ corpus) joined back on term; the corpus
    row count joins as a broadcast 1-row cross join, not a collected
    literal. Both engines compute the identical double score (count ×
    ln of a double ratio), so rank order matches exactly."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).alias(
                "score"
            ),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("score", 4).alias("tfidf"), "rk")
    )


@register(
    "source_mix",
    oracle="""
    WITH agg AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM agg)
    SELECT source, n_docs, n_chars,
           round(CAST(n_docs AS DOUBLE) / tot.total, 4) AS share,
           round(CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, source)
                      AS DOUBLE) / tot.total, 4) AS cum_share
    FROM agg CROSS JOIN tot
    """,
)
def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: document/char counts per source with
    share and cumulative share (the mix dashboard every data pipeline
    keeps to catch source drift). The running share is a window over the
    tiny aggregate (one row per source), not the corpus, so the wide
    part stays a single map-side-combined groupBy."""
    d = table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.length("text")).alias("n_chars")
    )
    tot = agg.agg(F.sum("n_docs").alias("total"))
    w = W.orderBy(F.col("n_docs").desc(), "source").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(F.col("n_docs") / F.col("total"), 4).alias("share"),
            F.round(F.sum("n_docs").over(w) / F.col("total"), 4).alias("cum_share"),
        )
    )


@register(
    "quality_funnel",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS n_tokens,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio
      FROM documents)
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN n_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty,
           CAST(sum(CASE WHEN n_tokens > 0 AND n_tokens BETWEEN 5 AND 5000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(sum(CASE WHEN n_tokens > 0 AND n_tokens BETWEEN 5 AND 5000
                              AND punct_ratio <= 0.1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM s
    """,
)
def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel observability: how many documents survive each
    cumulative quality gate (non-empty → length band → punctuation
    ratio). One conditional-sum aggregate over one scan — the shape to
    prefer over N separate count jobs at 100 TB."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    punct_ratio = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    s = d.select(n_tokens.alias("n_tokens"), punct_ratio.alias("punct_ratio"))
    nonempty = F.col("n_tokens") > 0
    len_ok = nonempty & F.col("n_tokens").between(5, 5000)
    clean = len_ok & (F.col("punct_ratio") <= 0.1)
    as_long = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return s.agg(
        F.count(F.lit(1)).alias("n_total"),
        as_long(nonempty).alias("n_nonempty"),
        as_long(len_ok).alias("n_len_ok"),
        as_long(clean).alias("n_clean"),
    )


# Per-source sampling rates (percent) for the corpus-mix operator: a
# high-quality source is kept in full, a noisy one downsampled — the
# composition step before training. Deterministic membership comes from
# the same md5 bucket as train_test_split, so the mix is reproducible
# and composes with the split (independent hash inputs).
_MIX_RATES = "CASE WHEN source IN ('src0','src1','src2','src3') THEN 100 " \
             "WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 50 " \
             "ELSE 20 END"

_MIX_BUCKET_DUCK = _duck_hex4("md5('mix:' || CAST(doc_id AS VARCHAR))") + " % 100"


@register(
    "corpus_mix_sample",
    oracle=f"""
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN {_MIX_BUCKET_DUCK} < {_MIX_RATES} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           any_value({_MIX_RATES}) AS target_pct
    FROM documents
    GROUP BY source
    """,
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: each source class is kept at a
    configured rate (100% / 50% / 20%) by hashing doc_id into a percent
    bucket — reproducible across reruns and engines, unlike rand()
    sampling, and stable under repartitioning. One scan, one tiny
    per-source aggregate; the keep-decision is a row-local codegen
    expression, so the same predicate drops rows BEFORE any downstream
    shuffle in a real pipeline."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("int") % 100
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 100)
        .when(F.col("source").isin("src4", "src5", "src6", "src7", "src8", "src9"), 50)
        .otherwise(20)
    )
    return (
        d.select("source", bucket.alias("b"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("b") < F.col("rate")).cast("long")).alias("n_kept"),
            F.any_value("rate").alias("target_pct"),
        )
    )


@register(
    "text_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    freq AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM freq),
    base AS (SELECT term, CAST(c AS DECIMAL(38,0)) AS num,
                    CAST(tot.n AS DECIMAL(38,0)) AS den
             FROM freq CROSS JOIN tot),
    {_duck_fixlog("base", key="term")}
    SELECT terms.doc_id,
           count(*) AS n_tokens,
           round(CAST(-sum(fxw.w) AS DOUBLE) / 1000000.0 / count(*), 4) AS avg_nll
    FROM terms JOIN fxw USING (term)
    GROUP BY terms.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average negative log-likelihood of
    each document under the corpus's own unigram language model — the
    cheap statistical fluency filter (gibberish and boilerplate score
    far from the corpus mean).

    Determinism discipline: raw double log-probs summed per doc would be
    partial-agg order-dependent, so each token's ln(p) is QUANTIZED to
    BIGINT micro-units via the engine-version-proof fixed-point log
    (r11 — the dsir_select incident showed engine round()/ln() CAN
    diverge across versions; no transcendental survives anywhere in
    the weight path now) — the per-doc sum is then exact at any
    parallelism and in any engine, and the single double division
    happens at the end.
    Scale shape: the unigram table is vocabulary-sized and joins the
    token stream on its own key WITHOUT a broadcast hint (a web-scale
    vocabulary must never be forced onto a broadcast — the BM25 r8
    lesson; AQE still broadcasts it while it is genuinely small); one
    explode + one (doc_id) aggregation."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    lp = _fixlog_micro(
        freq.crossJoin(F.broadcast(tot)).select(
            "term",
            F.col("c").cast("decimal(38,0)").alias("num"),
            F.col("n").cast("decimal(38,0)").alias("den"),
        )
    ).select("term", "w")
    return (
        terms.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                (-F.sum("w")).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)), 4
            ).alias(
                "avg_nll"
            ),
        )
    )


@register(
    "dup_rate_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 4)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: per-source exact-duplicate rate — the
    first diagnostic a training-data pipeline prints (a crawl source
    with 40% dupes gets down-weighted or re-deduped before mixing).
    COUNT(DISTINCT md5) expands to Spark's two-exchange exact plan over
    16-byte fingerprints; document bodies never shuffle."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(fp).alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count_distinct(fp).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("dup_rate"),
    )


@register(
    "source_term_drift",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(CASE WHEN length(trim(text)) = 0 THEN []
                         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS term
      FROM documents),
    st AS (SELECT source, term, count(*) AS n_st FROM tok GROUP BY 1, 2),
    s AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
    t AS (SELECT term, sum(n_st) AS n_t FROM st GROUP BY 1),
    tot AS (SELECT sum(n_st) AS n FROM st),
    oe AS (
      SELECT st.source,
             CAST(n_st AS DOUBLE) AS o,
             CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE) AS e
      FROM st JOIN s USING (source) JOIN t USING (term), tot),
    contrib AS (
      SELECT source, CAST(round((o - e) * (o - e) / e * 1000000) AS BIGINT) AS q
      FROM oe)
    SELECT source,
           count(*) AS n_terms,
           round(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1000000, 4) AS chi2_drift
    FROM contrib GROUP BY source
    """,
)
def source_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source term-distribution drift vs. the whole corpus — the
    distribution-monitoring pass a training-data pipeline runs when a
    crawl source changes character (spam influx, language shift,
    template churn).  Statistic: the observed-pair chi-square sum
    Σ (O−E)²/E over (source, term) pairs, where E = n_s·n_t/N is the
    independence expectation; a source whose term mix matches the
    corpus scores near 0.

    Scale: tokenize map-side, ONE (source, term) shuffle; the
    aggregate is scope-persisted (it is the bounded-size intermediate —
    distinct pairs, never token volume) so the per-source/per-term
    marginals and the final join all read it instead of re-scanning the
    corpus four times (verified: without the persist, Catalyst plans 4
    FileScans — pushed-down isnotnull filters defeat ReuseExchange).
    The corpus total joins as a broadcast single row.  Cross-engine
    exactness: each pair's contribution is a fixed chain of IEEE double
    ops on exact integer counts (no transcendentals), quantized to
    micro-units and summed as bigint — associative, partial-agg-order
    free, same discipline as embeddings_dim_stats."""
    from ..cachescope import scoped_persist

    d = table(spark, sf_dir, "documents")
    st = scoped_persist(
        d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    s = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    t = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    tot = st.agg(F.sum("n_st").alias("n"))
    oe = (
        st.join(s, "source")
        .join(t, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_st").cast("double").alias("o"),
            (
                F.col("n_s").cast("double")
                * F.col("n_t").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    q = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e") * 1_000_000
    ).cast("bigint")
    return (
        oe.select("source", q.alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("q").cast("double") / 1_000_000, 4).alias("chi2_drift"),
        )
    )


_TEMP_ALPHA = 0.3  # mixing temperature: rate ∝ share^alpha
_TEMP_BUDGET_FRAC = 0.5  # token budget = 50% of the corpus


@register(
    "source_temperature_mix",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, source,
             len(CASE WHEN length(trim(text)) = 0 THEN []
                      ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS n_tok,
             CAST(concat('0x', substr(md5(concat('tmix:', CAST(doc_id AS VARCHAR))), 1, 4)) AS INTEGER) % 10000 AS bucket
      FROM documents),
    s AS (SELECT source, count(*) AS n_docs, sum(n_tok) AS n_tok_s FROM dt GROUP BY source),
    tot AS (SELECT sum(n_tok_s) AS n FROM s),
    w AS (
      SELECT source, n_docs, n_tok_s,
             CAST(round(pow(CAST(n_tok_s AS DOUBLE) / CAST(n AS DOUBLE), {_TEMP_ALPHA}) * 1000000000) AS BIGINT) AS wq,
             n
      FROM s, tot),
    wsum AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
    rates AS (
      SELECT source, n_docs, n_tok_s,
             CAST(floor(least(1.0,
               (CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE))
               * (CAST(n AS DOUBLE) * {_TEMP_BUDGET_FRAC})
               / CAST(n_tok_s AS DOUBLE)) * 10000) AS INTEGER) AS rate_bp
      FROM w, wsum)
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.n_tok_s AS BIGINT) AS n_tokens,
           r.rate_bp,
           CAST(sum(CASE WHEN dt.bucket < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN dt.bucket < r.rate_bp THEN dt.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM dt JOIN rates r USING (source)
    GROUP BY r.source, r.n_docs, r.n_tok_s, r.rate_bp
    """,
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the T5/Pile resampling rule):
    source keep-rate ∝ (token share)^α, scaled to a corpus-wide token
    budget and capped at 1 — α < 1 up-weights small/rare sources and
    tames the head, the standard knob for balancing a crawl-dominated
    corpus.  Emits the per-source plan + realized counts under
    deterministic md5-bucket sampling (reproducible across engines,
    reruns, and repartitionings — no RNG state).

    Scale: one tokenize pass builds (doc, n_tok, bucket); marginals are
    a 20-row aggregate; rates join back as a broadcast.  Cross-engine
    exactness around the one transcendental (pow): each source's weight
    quantizes to integer nano-units BEFORE the normalizing sum, so the
    sum is associative; every division chain is then a fixed IEEE
    sequence on identical operands, and the final rate is floored to
    integer basis points before the bucket comparison."""
    d = table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("int")
            % 10000
        ).alias("bucket"),
    )
    s = dt.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tok_s")
    )
    tot = s.agg(F.sum("n_tok_s").alias("n"))
    w = s.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.round(
            F.pow(F.col("n_tok_s").cast("double") / F.col("n").cast("double"), _TEMP_ALPHA)
            * 1_000_000_000
        ).cast("bigint"),
    )
    wsum = w.agg(F.sum("wq").alias("wsum"))
    rates = w.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "n_tok_s",
        F.floor(
            F.least(
                F.lit(1.0),
                (F.col("wq").cast("double") / F.col("wsum").cast("double"))
                * (F.col("n").cast("double") * _TEMP_BUDGET_FRAC)
                / F.col("n_tok_s").cast("double"),
            )
            * 10000
        )
        .cast("int")
        .alias("rate_bp"),
    )
    kept = F.col("bucket") < F.col("rate_bp")
    return (
        dt.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "n_tok_s", "rate_bp")
        .agg(
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)).cast("long")).alias(
                "kept_tokens"
            ),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tok_s").cast("long").alias("n_tokens"),
            "rate_bp",
            "n_kept",
            "kept_tokens",
        )
    )


# Data-constrained epoch planning (the Muennighoff et al. 2023 view):
# when the training budget EXCEEDS the corpus, sources are repeated —
# value decays with repetition (R* ≈ 15-epoch half-life), and a repeat
# cap bounds memorization.  Constants are knobs; the registered config
# exercises both the capped and uncapped branches on the fixture.
_EPOCH_BUDGET_X = 3.0  # budget = 3x the corpus token count
_EPOCH_ALPHA = 0.6  # allocation weight ∝ (token share)^alpha
# Repeat ceiling: 3.00 epochs — the memorization guard.  Fixture
# epochs span ~2.84-3.22, so the ceiling BINDS for the small-token
# sources (α<1 upweights them past the cap) and is slack for the
# large ones: both branches are driver-exercised.
_EPOCH_CAP_CENTI = 300
_EPOCH_RSTAR = 15.0  # repetition-value decay constant


@register(
    "corpus_epoch_plan",
    oracle=f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             sum(len(CASE WHEN length(trim(text)) = 0 THEN []
                          ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END))
               AS n_tok_s
      FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tok_s) AS n FROM s),
    w AS (
      SELECT source, n_docs, n_tok_s, n,
             CAST(round(pow(CAST(n_tok_s AS DOUBLE) / CAST(n AS DOUBLE),
                            {_EPOCH_ALPHA}) * 1000000000) AS BIGINT) AS weight_ppb
      FROM s, tot),
    wsum AS (SELECT CAST(sum(weight_ppb) AS BIGINT) AS wsum FROM w),
    plan AS (
      SELECT source, n_docs, n_tok_s, weight_ppb,
             CAST(floor((CAST(weight_ppb AS DOUBLE) / CAST(wsum AS DOUBLE))
                        * (CAST(n AS DOUBLE) * {_EPOCH_BUDGET_X})) AS BIGINT)
               AS alloc_tokens
      FROM w, wsum),
    e AS (
      SELECT *,
             CAST(floor(CAST(alloc_tokens AS DOUBLE) * 100.0
                        / CAST(greatest(n_tok_s, 1) AS DOUBLE)) AS INTEGER)
               AS epochs_centi
      FROM plan),
    c AS (SELECT *, least(epochs_centi, {_EPOCH_CAP_CENTI}) AS capped_centi FROM e)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tok_s AS BIGINT) AS n_tokens,
           weight_ppb, alloc_tokens, epochs_centi, capped_centi,
           CAST(floor(CAST(n_tok_s AS DOUBLE) * capped_centi / 100.0) AS BIGINT)
             AS served_tokens,
           CAST(alloc_tokens
                - CAST(floor(CAST(n_tok_s AS DOUBLE) * capped_centi / 100.0) AS BIGINT)
             AS BIGINT) AS deficit_tokens,
           CAST(round(CAST(n_tok_s AS DOUBLE) * {_EPOCH_RSTAR}
                      * (1.0 - exp(-(capped_centi / 100.0) / {_EPOCH_RSTAR})))
             AS BIGINT) AS eff_tokens
    FROM c
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repetition plan for a token budget LARGER than the corpus —
    the data-constrained complement of source_temperature_mix (which
    down-samples under a sub-corpus budget).  Per source: temperature-
    weighted allocation, implied epochs, a repeat ceiling (3 epochs —
    the memorization guard), the tokens actually servable under the cap
    and the deficit the cap creates, plus repetition-discounted
    EFFECTIVE tokens (value decays with repeats, ~15-epoch constant) —
    the number a scaling-law budget actually buys from each source.
    On the fixture the ceiling binds for the α-upweighted small-token
    sources and is slack for the large ones, so both the capped and
    uncapped branches appear in every driver check.

    Scale shape: one tokenize pass → a source-cardinality aggregate;
    everything after the first group-by operates on #sources rows
    (broadcast totals, no corpus-sized join).  Cross-engine exactness:
    the two transcendentals (pow for the weight, exp for the repetition
    discount) are computed on identical operand chains and quantized —
    weight to integer ppb BEFORE the normalizing sum (associative
    integer sum), allocation/served floored to whole tokens, effective
    tokens rounded to whole tokens — the source_temperature_mix
    discipline."""
    d = table(spark, sf_dir, "documents")
    s = d.select("source", F.size(tokens(F.col("text"))).alias("n_tok")).groupBy(
        "source"
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tok_s"))
    tot = s.agg(F.sum("n_tok_s").alias("n"))
    w = s.crossJoin(F.broadcast(tot)).withColumn(
        "weight_ppb",
        F.round(
            F.pow(
                F.col("n_tok_s").cast("double") / F.col("n").cast("double"),
                _EPOCH_ALPHA,
            )
            * 1_000_000_000
        ).cast("bigint"),
    )
    wsum = w.agg(F.sum("weight_ppb").alias("wsum"))
    plan = w.crossJoin(F.broadcast(wsum)).withColumn(
        "alloc_tokens",
        F.floor(
            (F.col("weight_ppb").cast("double") / F.col("wsum").cast("double"))
            * (F.col("n").cast("double") * _EPOCH_BUDGET_X)
        ).cast("bigint"),
    )
    e = plan.withColumn(
        "epochs_centi",
        # greatest(.., 1): an all-blank-text source has n_tok_s = 0 and
        # 0/0 would be NaN — Spark casts NaN to 0 while the oracle's
        # INTEGER cast raises, so the guard is a cross-engine contract,
        # not just hygiene (alloc is 0 for such a source either way)
        F.floor(
            F.col("alloc_tokens").cast("double")
            * 100.0
            / F.greatest("n_tok_s", F.lit(1)).cast("double")
        ).cast("int"),
    )
    c = e.withColumn("capped_centi", F.least("epochs_centi", F.lit(_EPOCH_CAP_CENTI)))
    served = F.floor(
        F.col("n_tok_s").cast("double") * F.col("capped_centi") / 100.0
    ).cast("bigint")
    eff = F.round(
        F.col("n_tok_s").cast("double")
        * _EPOCH_RSTAR
        * (
            F.lit(1.0)
            - F.exp(-(F.col("capped_centi") / F.lit(100.0)) / F.lit(_EPOCH_RSTAR))
        )
    ).cast("bigint")
    return c.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tok_s").cast("long").alias("n_tokens"),
        "weight_ppb",
        "alloc_tokens",
        "epochs_centi",
        "capped_centi",
        served.alias("served_tokens"),
        (F.col("alloc_tokens") - served).alias("deficit_tokens"),
        eff.alias("eff_tokens"),
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id AS key, md5(text) AS fp FROM documents
      WHERE doc_id % 4 <> 0),
    new AS (
      SELECT doc_id AS key,
             md5(CASE WHEN doc_id % 4 = 2 THEN text || ' v2' ELSE text END) AS fp
      FROM documents WHERE doc_id % 4 <> 1),
    j AS (
      SELECT CASE
               WHEN o.key IS NULL THEN 'added'
               WHEN n.key IS NULL THEN 'removed'
               WHEN o.fp = n.fp THEN 'unchanged'
               ELSE 'changed'
             END AS status
      FROM old o FULL OUTER JOIN new n ON o.key = n.key)
    SELECT status, count(*) AS n_docs
    FROM j GROUP BY status ORDER BY status
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot audit between two corpus versions: which documents were
    added / removed / changed / unchanged — the reconciliation report an
    incremental pipeline runs after every merge (and the content twin of
    the facade's `SHOW VERSIONS` time travel: versions say WHEN,
    this says WHAT).  Key-matched full-outer join on 16-byte content
    fingerprints — document bodies never shuffle, so the diff costs one
    fp-keyed join at any corpus size.  The two 'snapshots' are carved
    deterministically from the test corpus (drop doc_id%4==0 from the
    old side, drop %4==1 from the new, alter %4==2's text) so the diff
    exercises all four statuses."""
    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("key"), F.md5("text").alias("fp")
    )
    new = d.filter(F.col("doc_id") % 4 != 1).select(
        F.col("doc_id").alias("key"),
        F.md5(
            F.when(
                F.col("doc_id") % 4 == 2, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.key") == F.col("n.key"), "full_outer")
    status = (
        F.when(F.col("o.key").isNull(), "added")
        .when(F.col("n.key").isNull(), "removed")
        .when(F.col("o.fp") == F.col("n.fp"), "unchanged")
        .otherwise("changed")
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# DSIR-style data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling") — hashed n-gram importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 1024  # hashed-feature buckets (DSIR uses 10k at web scale;
# the fixture vocabulary needs fewer for non-degenerate counts — the
# plan shape is B-independent: the weight table is always B rows)
_DSIR_K = 100  # docs to select
_DSIR_TARGET = ("src0", "src1")  # the high-quality exemplar distribution
_DSIR_TGT_IN = ", ".join(f"'{s}'" for s in _DSIR_TARGET)


def _dsir_bucket(term_col):
    """Hashed unigram feature bucket, engine-portable: the first 4 md5
    hex digits are uniform over 65536 = 64·B, so the modulus is exactly
    uniform (the corpus_mix_sample md5-bucket discipline — xxhash64 has
    no DuckDB twin)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ds:"), term_col)), 1, 4), 16, 10
        ).cast("int")
        % _DSIR_B
    )


_DSIR_CNT_SQL = f"""
    t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, source,
                     ({_duck_hex4("md5('ds:' || unnest(toks))")}) % {_DSIR_B} AS bkt
              FROM t),
    cnt AS (SELECT bkt,
                   sum(CASE WHEN source IN ({_DSIR_TGT_IN}) THEN 1 ELSE 0 END) AS tc,
                   sum(CASE WHEN source NOT IN ({_DSIR_TGT_IN}) THEN 1 ELSE 0 END) AS rc
            FROM terms GROUP BY bkt),
    tot AS (SELECT sum(tc) AS nt, sum(rc) AS nr FROM cnt),
    base AS (SELECT bkt, CAST(tc AS BIGINT) AS tc, CAST(rc AS BIGINT) AS rc,
                    CAST(tc + 1 AS DECIMAL(19,0)) * CAST(nr + {_DSIR_B} AS DECIMAL(19,0)) AS num,
                    CAST(rc + 1 AS DECIMAL(19,0)) * CAST(nt + {_DSIR_B} AS DECIMAL(19,0)) AS den
             FROM cnt CROSS JOIN tot)"""


def _dsir_terms_and_weights(spark: SparkSession, sf_dir: str):
    """Shared head of the DSIR family: the bucketed token stream, the
    target predicate, and the B-row (bkt, tc, rc, w) weight table with
    w in engine-proof integer micro-units."""
    d = table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    ).select("doc_id", "source", _dsir_bucket(F.col("term")).alias("bkt"))
    is_target = F.col("source").isin(*_DSIR_TARGET)
    counts = terms.groupBy("bkt").agg(
        F.sum(is_target.cast("long")).alias("tc"),
        F.sum((~is_target).cast("long")).alias("rc"),
    )
    totals = counts.agg(F.sum("tc").alias("nt"), F.sum("rc").alias("nr"))
    # cast-first products: at web scale tc/rc/nt/nr are token counts,
    # so a BIGINT product could wrap silently — decimal(19,0)x(19,0)
    # is exact to 38 digits in both engines
    base = counts.crossJoin(F.broadcast(totals)).select(
        "bkt",
        "tc",
        "rc",
        (
            (F.col("tc") + 1).cast("decimal(19,0)")
            * (F.col("nr") + _DSIR_B).cast("decimal(19,0)")
        ).alias("num"),
        (
            (F.col("rc") + 1).cast("decimal(19,0)")
            * (F.col("nt") + _DSIR_B).cast("decimal(19,0)")
        ).alias("den"),
    )
    return terms, is_target, _fixlog_micro(base)


@register(
    "dsir_weights",
    oracle=f"""
    WITH {_DSIR_CNT_SQL},
    {_duck_fixlog("base")}
    SELECT base.bkt, tc, rc, w AS w_micro FROM base JOIN fxw USING (bkt)
    """,
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic companion to dsir_select: the B-row bucket importance
    table itself — (bucket, target token count, raw token count, micro
    weight).  All-integer output: if a driver environment ever diverges
    on dsir_select again, the red/green pattern across this query and
    dsir_select localizes the divergence to tokenize/count/quantize
    (red here) vs the downstream per-doc sum/top-K (green here, red
    there)."""
    _, _, lw = _dsir_terms_and_weights(spark, sf_dir)
    return lw.select("bkt", "tc", "rc", F.col("w").alias("w_micro"))


@register(
    "dsir_select",
    oracle=f"""
    WITH {_DSIR_CNT_SQL},
    {_duck_fixlog("base")},
    scored AS (
      SELECT terms.doc_id, count(*) AS n_tokens,
             CAST(sum(fxw.w) AS BIGINT) AS dsir_weight_micro
      FROM terms JOIN fxw USING (bkt)
      WHERE terms.source NOT IN ({_DSIR_TGT_IN})
      GROUP BY terms.doc_id)
    SELECT doc_id, n_tokens, dsir_weight_micro FROM (
      SELECT doc_id, n_tokens, dsir_weight_micro,
             row_number() OVER (ORDER BY dsir_weight_micro DESC, doc_id) AS rk
      FROM scored)
    WHERE rk <= {_DSIR_K}
    """,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: rank the RAW pool by hashed-unigram
    importance weights toward a TARGET distribution (here: the src0/
    src1 sources as the high-quality exemplar) and keep the top-K.
    Per Xie et al. 2023: features are hashed n-gram buckets, the
    importance weight of a document is the sum over token occurrences
    of log(p_target(bucket)/p_raw(bucket)) with add-1 smoothing; this
    is the deterministic RANKING variant (true DSIR adds Gumbel noise
    for diversity — a seeded-hash noise column composes on top of the
    same plan, at the cost of oracle-exactness of the float noise).

    Cross-engine exactness: per-bucket weights are BIGINT micro-units
    from the explicit fixed-point log above (no engine ln/round
    anywhere), so the per-doc sum is integer arithmetic — exact at any
    parallelism and in any engine version, and the output carries no
    decimal/float column at all.  Scale shape: one tokenize pass, two
    B-row aggregates, the B-row weight table broadcast onto the token
    stream, one (doc_id) aggregation, TakeOrdered top-K — no shuffle
    carries more than tokens-keyed partials."""
    terms, is_target, lw = _dsir_terms_and_weights(spark, sf_dir)
    scored = (
        terms.filter(~is_target)
        .join(F.broadcast(lw.select("bkt", "w")), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("dsir_weight_micro"),
        )
    )
    # top-K via TakeOrderedAndProject (per-partition heaps + driver
    # merge of KxPartitions rows) — no rank column, so no global-order
    # window is ever needed; the selected SET is deterministic because
    # the (weight desc, doc_id) order is total in both engines
    return (
        scored.orderBy(F.col("dsir_weight_micro").desc(), "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "n_tokens", "dsir_weight_micro")
    )


@register(
    "text_lm_bigram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, u.p AS pos, u.tk AS term FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM t)),
    seq AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM pos),
    uni AS (SELECT term, count(*) AS c FROM pos GROUP BY term),
    v AS (SELECT count(*) AS v FROM uni),
    n AS (SELECT sum(c) AS n FROM uni),
    bi AS (SELECT prev, term, count(*) AS c FROM seq
           WHERE prev IS NOT NULL GROUP BY prev, term),
    bibase AS (  -- per-(prev,term) smoothed conditional -> fixlog micro
      SELECT bi.prev, bi.term,
             CAST(bi.c + 1 AS DECIMAL(38,0)) AS num,
             CAST(pu.c + v.v AS DECIMAL(38,0)) AS den
      FROM bi JOIN uni pu ON pu.term = bi.prev CROSS JOIN v),
    {_duck_fixlog("bibase", key="prev, term", prefix="bx")}
    ,
    hterms AS (SELECT DISTINCT term FROM seq WHERE prev IS NULL),
    ubase AS (  -- unigram head probability -> fixlog micro
      SELECT uni.term, CAST(uni.c + 1 AS DECIMAL(38,0)) AS num,
             CAST(n.n + v.v AS DECIMAL(38,0)) AS den
      FROM uni JOIN hterms USING (term) CROSS JOIN n CROSS JOIN v),
    {_duck_fixlog("ubase", key="term")},
    scored AS (
      SELECT s.doc_id,
             CASE WHEN s.prev IS NULL THEN u.w ELSE b.w END AS w
      FROM seq s
      LEFT JOIN bxw b ON b.prev = s.prev AND b.term = s.term
      LEFT JOIN fxw u ON u.term = s.term)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(-sum(w) AS DOUBLE) / 1000000.0 / count(*), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy (the CCNet-style fluency filter, one
    order up from text_lm_score's unigram): each document's average
    negative log-likelihood under an add-1-smoothed BIGRAM model
    trained on the corpus itself — p(w|prev) = (c(prev,w)+1)/(c(prev)+V),
    with the unigram (c(w)+1)/(N+V) for each document's head token.
    Repetitive boilerplate scores low NLL, gibberish scores high —
    both tails are filter candidates.

    Cross-engine exactness: every conditional's log is quantized to
    BIGINT micro-units per (prev, term) via the fixed-point log (r11 —
    see text_lm_score; no engine ln/round in the weight path), so
    per-doc integer sums are partial-agg-order-free and
    engine-version-proof.  Scale shape: token sequence via
    posexplode + one lag window (doc-partitioned, codegen); the bigram
    count table is corpus-bigram-bounded and joins the token stream on
    its own key; the unigram/head tables are vocabulary-sized
    broadcasts; one (doc_id) aggregation ends the plan."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    seq = pos.select("doc_id", "term", F.lag("term").over(wp).alias("prev"))
    uni = pos.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    from ..cachescope import scoped_persist

    uni = scoped_persist(uni)
    v_n = uni.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c").alias("n")
    )
    bi = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lp = _fixlog_micro(
        bi.join(
            uni.select(F.col("term").alias("prev"), F.col("c").alias("pc")),
            "prev",
        )
        .crossJoin(F.broadcast(v_n))
        .select(
            "prev",
            "term",
            (F.col("c") + 1).cast("decimal(38,0)").alias("num"),
            (F.col("pc") + F.col("v")).cast("decimal(38,0)").alias("den"),
        )
    ).select("prev", "term", F.col("w").alias("logp"))
    # the unigram probability is only consulted for each document's
    # HEAD token, so the broadcast side is semi-restricted to the head
    # terms FIRST (≤ one term per doc, never the vocabulary — the
    # docs_bm25_topk broadcast discipline; a web-scale vocabulary table
    # must never ride a broadcast)
    head_terms = seq.filter(F.col("prev").isNull()).select("term").distinct()
    lpu = _fixlog_micro(
        uni.join(head_terms, "term", "semi")
        .crossJoin(F.broadcast(v_n))
        .select(
            "term",
            (F.col("c") + 1).cast("decimal(38,0)").alias("num"),
            (F.col("n") + F.col("v")).cast("decimal(38,0)").alias("den"),
        )
    ).select("term", F.col("w").alias("logp_u"))
    scored = (
        seq.join(lp, ["prev", "term"], "left")
        # no forced broadcast: head_terms grows with document count (up
        # to one distinct term per doc), so a forced hint could pin
        # executor memory at web scale — AQE sizes the build side at
        # runtime instead (the size-guarded-broadcast discipline).
        .join(lpu, "term", "left")
        .select(
            "doc_id",
            F.when(F.col("prev").isNull(), F.col("logp_u"))
            .otherwise(F.col("logp"))
            .alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            (-F.sum("logp")).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)), 4
        ).alias("avg_nll"),
    )


# --- semantic decontamination + temperature mixing (round 11) --------------

_SEMDECON_Q = 10  # vec_id < Q are the held-out benchmark vectors
_SEMDECON_T = 0.35  # rounded-cosine contamination threshold


@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_SEMDECON_Q}),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= {_SEMDECON_Q}),
    scored AS (
      SELECT c.vec_id, max(round(list_cosine_similarity(q.qv, c.cv), 4)) AS max_sim
      FROM c JOIN q ON true
      GROUP BY c.vec_id)
    SELECT vec_id, max_sim, (max_sim >= {_SEMDECON_T}) AS contaminated
    FROM scored
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of
    decontaminate_ngram: flag corpus vectors whose max cosine to any
    held-out benchmark vector clears the threshold (paraphrased eval
    leakage that no n-gram overlap catches; the screen production
    pretraining sets run alongside the lexical one).

    Scale shape: the benchmark rides a broadcast (eval suites are
    thousands of vectors, never corpus-scale), the corpus side is one
    embarrassingly-parallel scan with a per-row max — no shuffle of
    the big side at all (same plan as ann_topk_bruteforce, reduced to
    a max instead of a top-k heap).  Cross-engine: per-pair cosines
    round to 4 decimals BEFORE the max/threshold (the ANN-oracle
    float discipline)."""
    from ..functions import as_double_vec, vec_dot, vec_norm

    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_vec("embedding").alias("v"))
        .withColumn("nrm", vec_norm(F.col("v")))
    )
    q = e.filter(F.col("vec_id") < _SEMDECON_Q).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    c = e.filter(F.col("vec_id") >= _SEMDECON_Q)
    sim = F.round(
        vec_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 4
    )
    return (
        c.join(F.broadcast(q))
        .groupBy("vec_id")
        .agg(F.max(sim).alias("max_sim"))
        .select(
            "vec_id",
            "max_sim",
            (F.col("max_sim") >= _SEMDECON_T).alias("contaminated"),
        )
    )


_MIX_TAU = 0.5  # flattening temperature: kept_s ∝ n_s^tau, smallest source
# keeps 100%.  tau=1/2 EXACTLY so the per-source rate is sqrt(n_min/n_s) —
# sqrt and division are IEEE-exact-rounded, so the floored percent is
# engine-proof WITHOUT the fixlog machinery a fractional pow would need.


@register(
    "source_mix_temperature",
    oracle=f"""
    WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    mn AS (SELECT min(n) AS n_min FROM cnt),
    rates AS (
      SELECT source, n,
             CAST(floor(100 * sqrt(CAST(mn.n_min AS DOUBLE) / CAST(n AS DOUBLE)))
                  AS BIGINT) AS rate_pct
      FROM cnt CROSS JOIN mn),
    kept AS (
      SELECT d.source,
             sum(CASE WHEN ({_duck_hex4("md5('mix:' || CAST(doc_id AS VARCHAR))")}) % 100
                       < r.rate_pct THEN 1 ELSE 0 END) AS n_kept
      FROM documents d JOIN rates r USING (source)
      GROUP BY d.source)
    SELECT r.source, CAST(r.n AS BIGINT) AS n_total, r.rate_pct,
           CAST(k.n_kept AS BIGINT) AS n_kept
    FROM rates r JOIN kept k USING (source)
    """,
)
def source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (the multilingual/LLM data
    recipe: kept_s ∝ n_s^tau with tau = 0.5, so over-represented
    sources are downsampled toward the small ones; the smallest source
    keeps 100%).  The keep decision is the same deterministic md5
    percent bucket as corpus_mix_sample — reproducible across engines,
    reruns, and repartitioning — with the RATE now derived from the
    corpus's own source histogram instead of a hand-set table.  One
    scan + one source-sized aggregate; the rate table rides a
    broadcast."""
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    mn = cnt.agg(F.min("n").alias("n_min"))
    rates = cnt.crossJoin(F.broadcast(mn)).select(
        "source",
        "n",
        F.floor(
            100 * F.sqrt(F.col("n_min").cast("double") / F.col("n").cast("double"))
        ).alias("rate_pct"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 100
    )
    kept = (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(F.sum((bucket < F.col("rate_pct")).cast("long")).alias("n_kept"))
    )
    return rates.join(kept, "source").select(
        "source",
        F.col("n").cast("bigint").alias("n_total"),
        "rate_pct",
        F.col("n_kept").cast("bigint").alias("n_kept"),
    )


@register(
    "decontaminate_report",
    oracle=f"""
    WITH lex AS (
      SELECT doc_id FROM (
        WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - {_DECON_N - 1}, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
          FROM t),
        bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 10 = 0),
        corp AS (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id % 10 <> 0)
        SELECT DISTINCT c.doc_id FROM corp c JOIN bench b USING (gram))),
    sem AS (
      SELECT vec_id AS doc_id FROM (
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < {_SEMDECON_Q}),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= {_SEMDECON_Q})
        SELECT c.vec_id, max(round(list_cosine_similarity(q.qv, c.cv), 4)) AS ms
        FROM c JOIN q ON true GROUP BY c.vec_id)
      WHERE ms >= {_SEMDECON_T})
    SELECT d.doc_id,
           (l.doc_id IS NOT NULL) AS lexical_hit,
           (s.doc_id IS NOT NULL) AS semantic_hit
    FROM documents d
    LEFT JOIN lex l ON l.doc_id = d.doc_id
    LEFT JOIN sem s ON s.doc_id = d.doc_id
    WHERE l.doc_id IS NOT NULL OR s.doc_id IS NOT NULL
    """,
)
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination REPORT a data audit ships: every document
    flagged by EITHER screen — lexical 5-gram overlap with the
    benchmark split, or embedding cosine against the benchmark vectors
    (documents and embeddings share the id space in the fixtures) —
    with per-screen booleans, so reviewers see WHICH screen fired
    (paraphrased leakage is semantic-only; verbatim leakage usually
    trips both).  Composes the two registered screens by id; both
    benchmark sides ride broadcasts, the corpus is scanned once per
    modality."""
    lex = decontaminate_ngram(spark, sf_dir).select("doc_id")
    sem = (
        decontaminate_semantic(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.join(lex.withColumn("lex", F.lit(True)), "doc_id", "left")
        .join(sem.withColumn("sem", F.lit(True)), "doc_id", "left")
        .filter(F.col("lex").isNotNull() | F.col("sem").isNotNull())
        .select(
            "doc_id",
            F.coalesce("lex", F.lit(False)).alias("lexical_hit"),
            F.coalesce("sem", F.lit(False)).alias("semantic_hit"),
        )
    )


_QRANK_KEEP_PCT = 90  # keep the best 90% by fluency rank


@register(
    "quality_rank_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    freq AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM freq),
    base AS (SELECT term, CAST(c AS DECIMAL(38,0)) AS num,
                    CAST(tot.n AS DECIMAL(38,0)) AS den
             FROM freq CROSS JOIN tot),
    {_duck_fixlog("base", key="term")},
    nll AS (
      SELECT terms.doc_id, count(*) AS n_tokens,
             (CAST(-sum(fxw.w) AS BIGINT) * 1000) // count(*) AS qscore
      FROM terms JOIN fxw USING (term)
      GROUP BY terms.doc_id),
    ranked AS (
      SELECT doc_id, n_tokens, qscore,
             row_number() OVER (ORDER BY qscore, doc_id) AS rk,
             count(*) OVER () AS n
      FROM nll)
    SELECT doc_id, n_tokens, qscore
    FROM ranked WHERE rk <= (n * {_QRANK_KEEP_PCT}) // 100
    """,
)
def quality_rank_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE quality filtering — keep the best {pct}% of the corpus
    by fluency rank instead of a hand-set ceiling (the form production
    filters actually use: absolute thresholds go stale as the corpus
    mix shifts; a rank cut self-calibrates).  The score is the
    unigram-LM per-token NLL in integer milli-micro units
    ((total_micro_nll * 1000) div n_tokens — an exact integer, so the
    (qscore, doc_id) order is total and identical in every engine; no
    float average ever exists).

    Scale shape: the global rank runs as the TWO-PHASE distributed
    row_number (range-partition by the order key, per-partition local
    windows + broadcast prefix offsets — distwindow.global_row_number),
    never a single-partition window; the cutoff count is one tiny
    aggregate."""
    from .distwindow import global_row_number

    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    lp = _fixlog_micro(
        freq.crossJoin(F.broadcast(tot)).select(
            "term",
            F.col("c").cast("decimal(38,0)").alias("num"),
            F.col("n").cast("decimal(38,0)").alias("den"),
        )
    ).select("term", "w")
    nll = (
        terms.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("(CAST(-sum(w) AS BIGINT) * 1000) div count(*)").alias("qscore"),
        )
    )
    ranked, n = global_row_number(
        nll, [F.col("qscore").asc(), F.col("doc_id").asc()], "rk"
    )
    cutoff = (n * _QRANK_KEEP_PCT) // 100
    return ranked.filter(F.col("rk") <= cutoff).select(
        "doc_id", "n_tokens", "qscore"
    )


quality_rank_filter.__doc__ = quality_rank_filter.__doc__.format(
    pct=_QRANK_KEEP_PCT
)


# --- frozen bigram LM artifact (the streaming-curation scorer) -------------


def build_bigram_lm(spark: SparkSession, docs: DataFrame, lm_dir: str) -> None:
    """Train the add-1 bigram LM on ``docs`` and FREEZE it as parquet:
    ``lp`` (prev, term, w) conditional micro-log-probs, ``lpu``
    (term, w) unigram micro-log-probs over the FULL vocabulary (the
    in-query head-term restriction is a same-corpus optimization a
    frozen artifact must not bake in — any future head term may need
    the table), and ``consts`` (one row: n, v, and the out-of-
    vocabulary weight fixlog(1, n+v) — the add-1 mass an unseen term
    gets).  All weights ride the engine-proof fixed-point log, so the
    artifact scores identically wherever it is read."""
    import os

    pos = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    seq = pos.select("doc_id", "term", F.lag("term").over(wp).alias("prev"))
    from ..cachescope import scoped_persist

    uni = scoped_persist(pos.groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    v_n = uni.agg(F.count(F.lit(1)).alias("v"), F.sum("c").alias("n"))
    bi = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lp = _fixlog_micro(
        bi.join(
            uni.select(F.col("term").alias("prev"), F.col("c").alias("pc")), "prev"
        )
        .crossJoin(F.broadcast(v_n))
        .select(
            "prev",
            "term",
            (F.col("c") + 1).cast("decimal(38,0)").alias("num"),
            (F.col("pc") + F.col("v")).cast("decimal(38,0)").alias("den"),
        )
    ).select("prev", "term", "w")
    lpu = _fixlog_micro(
        uni.crossJoin(F.broadcast(v_n)).select(
            "term",
            (F.col("c") + 1).cast("decimal(38,0)").alias("num"),
            (F.col("n") + F.col("v")).cast("decimal(38,0)").alias("den"),
        )
    ).select("term", "w")
    oov = _fixlog_micro(
        v_n.select(
            F.lit(1).cast("decimal(38,0)").alias("num"),
            (F.col("n") + F.col("v")).cast("decimal(38,0)").alias("den"),
        )
    )
    lp.write.mode("overwrite").parquet(os.path.join(lm_dir, "lp"))
    lpu.write.mode("overwrite").parquet(os.path.join(lm_dir, "lpu"))
    v_n.crossJoin(oov.select(F.col("w").alias("w_oov"))).select(
        "v", F.col("n").cast("bigint").alias("n"), "w_oov"
    ).write.mode("overwrite").parquet(os.path.join(lm_dir, "consts"))


def bigram_nll_against(
    spark: SparkSession, docs: DataFrame, lm_dir: str
) -> DataFrame:
    """Score (doc_id, text) rows against a FROZEN bigram LM: seen
    bigram -> its conditional; unseen bigram or head token -> the
    term's unigram (stupid-backoff-style, weight 1 — a screening
    scorer, not a normalized LM); unseen term -> the frozen OOV
    weight.  Returns (doc_id, n_tokens, avg_nll).  Scale shape: the
    batch's token stream joins the bigram table on its own key and the
    unigram table hint-free (vocabulary-sized sides never forced onto
    broadcasts); integer micro sums, one double division at the end."""
    import os

    from ..sources import artifact

    lp = artifact(spark, os.path.join(lm_dir, "lp")).select(
        "prev", "term", F.col("w").alias("w_bi")
    )
    lpu = artifact(spark, os.path.join(lm_dir, "lpu")).select(
        "term", F.col("w").alias("w_uni")
    )
    w_oov = artifact(spark, os.path.join(lm_dir, "consts")).collect()[0].w_oov
    pos = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    seq = pos.select("doc_id", "term", F.lag("term").over(wp).alias("prev"))
    scored = (
        seq.join(lp, ["prev", "term"], "left")
        .join(lpu, "term", "left")
        .select(
            "doc_id",
            F.coalesce("w_bi", "w_uni", F.lit(int(w_oov))).alias("w"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            (-F.sum("w")).cast("double") / F.lit(1000000.0) / F.count(F.lit(1)), 4
        ).alias("avg_nll"),
    )


_LMF_BATCH_SRCS = ("src15", "src16", "src17", "src18", "src19")
_LMF_BATCH_IN = ", ".join(f"'{s}'" for s in _LMF_BATCH_SRCS)


@register(
    "text_lm_frozen_score",
    oracle=f"""
    WITH tall AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    cpos AS (
      SELECT doc_id, u.p AS pos, u.tk AS term FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM tall WHERE source NOT IN ({_LMF_BATCH_IN}))),
    cseq AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM cpos),
    uni AS (SELECT term, count(*) AS c FROM cpos GROUP BY term),
    v AS (SELECT count(*) AS v FROM uni),
    n AS (SELECT sum(c) AS n FROM uni),
    bi AS (SELECT prev, term, count(*) AS c FROM cseq
           WHERE prev IS NOT NULL GROUP BY prev, term),
    bibase AS (
      SELECT bi.prev, bi.term,
             CAST(bi.c + 1 AS DECIMAL(38,0)) AS num,
             CAST(pu.c + v.v AS DECIMAL(38,0)) AS den
      FROM bi JOIN uni pu ON pu.term = bi.prev CROSS JOIN v),
    {_duck_fixlog("bibase", key="prev, term", prefix="bx")}
    ,
    ubase AS (
      SELECT uni.term, CAST(uni.c + 1 AS DECIMAL(38,0)) AS num,
             CAST(n.n + v.v AS DECIMAL(38,0)) AS den
      FROM uni CROSS JOIN n CROSS JOIN v),
    {_duck_fixlog("ubase", key="term")},
    oovbase AS (SELECT 0 AS bkt, CAST(1 AS DECIMAL(38,0)) AS num,
                       CAST(n.n + v.v AS DECIMAL(38,0)) AS den
                FROM n CROSS JOIN v),
    {_duck_fixlog("oovbase", key="bkt", prefix="ox")}
    ,
    bpos AS (
      SELECT doc_id, u.p AS pos, u.tk AS term FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM tall WHERE source IN ({_LMF_BATCH_IN}))),
    bseq AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM bpos),
    scored AS (
      SELECT s.doc_id,
             coalesce(b.w, u.w, (SELECT w FROM oxw)) AS w
      FROM bseq s
      LEFT JOIN bxw b ON b.prev = s.prev AND b.term = s.term
      LEFT JOIN fxw u ON u.term = s.term)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(-sum(w) AS DOUBLE) / 1000000.0 / count(*), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_frozen_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FROZEN-LM scoring path driver-checked end-to-end: train the
    bigram LM on the corpus split, persist it as the parquet artifact
    (`build_bigram_lm` — exactly what the streaming curation face
    scores against), and score the BATCH split against the frozen
    tables with stupid-backoff: seen bigram -> conditional, unseen ->
    the term's unigram, unseen term -> the frozen OOV mass.  The
    oracle re-derives train+backoff+score fully in SQL on the same
    split, so the artifact build -> read -> score path is proven
    semantics-preserving (the build_span_index precedent, for the LM
    artifact)."""
    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(~F.col("source").isin(*_LMF_BATCH_SRCS)).select(
        "doc_id", "text"
    )
    batch = d.filter(F.col("source").isin(*_LMF_BATCH_SRCS)).select(
        "doc_id", "text"
    )
    lm_dir = _artifact_tmp("lmfroz", sf_dir)
    import os

    # consts is written LAST by build_bigram_lm and parquet writes its
    # _SUCCESS marker last, so this is the committed-build sentinel —
    # a crashed partial build rebuilds instead of being read torn
    if not os.path.exists(os.path.join(lm_dir, "consts", "_SUCCESS")):
        build_bigram_lm(spark, corpus, lm_dir)
    return bigram_nll_against(spark, batch, lm_dir)


# -- learned quality classifier: logistic over hashed unigram features --
# The discriminative filter production pipelines (GPT-3, LLaMA, Dolma)
# run alongside heuristic gates and LM scoring: a fastText-style linear
# model over hashed word features, trained on weak labels and frozen as
# a weight artifact.  Everything is integer fixed-point (micro-units)
# with a HARD-SIGMOID link — clamp(1/2 + x/4, 0, 1), the standard
# quantized-ML surrogate — because every op (sum, div-toward-zero,
# least/greatest) has pinned identical semantics in Spark and DuckDB,
# so the whole R-round gradient trainer unrolls into an exact SQL
# oracle (the Lloyd-chain precedent).  Ranking is what scoring is used
# for, and the link is monotone, so the surrogate changes no decision
# a threshold on the score would make.
#
# Weak labels: the docs_quality_gate verdict (quality.py) — clean = 1,
# any violation = 0.  Features: presence of each hashed-unigram bucket
# (BPE word universe: lowercase alnum, len >= 2) plus a bias feature.
# The registered config keeps D small so the unrolled oracle stays
# readable; D is a knob (production would run 2^18+, where the weight
# table is still a few-MB broadcast).

_QC_D = 32  # hashed feature buckets in the registered config
_QC_S = 1_000_000  # fixed-point scale: 1e6 micro-units = 1.0
_QC_ROUNDS = 2
_QC_LR_NUM = 4  # per-round step = trunc(gradient * LR_NUM / n_docs)
_QC_GATE_LANGS = ("en", "de", "fr", "es")
_QC_WORD_RE = "^[a-z0-9]+$"


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark's `div` and
    DuckDB's `//` both truncate (measured: -7/2 -> -3 in both), while
    Python's // floors (-4).  Driver-side weight updates must match
    the engines' semantics on negative gradients."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _qc_feats(docs: DataFrame, d_buckets: int = _QC_D) -> DataFrame:
    """(doc_id, f): distinct hashed-unigram presence features plus the
    bias feature f = D every document carries (so zero-word documents
    still score and the trained intercept rides the same join)."""
    w = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter((F.length("word") >= 2) & F.col("word").rlike(_QC_WORD_RE))
    bucket = F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10).cast(
        "bigint"
    ) % d_buckets
    feats = w.select("doc_id", bucket.alias("f")).distinct()
    bias = docs.select("doc_id", F.lit(d_buckets).cast("bigint").alias("f"))
    return feats.unionByName(bias)


def _qc_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, y): the docs_quality_gate weak label — 1 iff every gate
    check passes (length floor, known language, non-null source)."""
    y = (
        F.coalesce(F.col("n_chars") >= 100, F.lit(False))
        & F.coalesce(F.col("lang").isin(*_QC_GATE_LANGS), F.lit(False))
        & F.col("source").isNotNull()
    ).cast("int")
    return docs.select("doc_id", y.alias("y"))


def _qc_labels_curated(docs: DataFrame) -> DataFrame:
    """(doc_id, y): the NON-CIRCULAR label source (r13 VERDICT Next
    #4) — 1 iff the document comes from the curated exemplar sources
    (the DSIR target distribution, _DSIR_TARGET).  A production
    fastText-style filter's value is generalizing from a curated
    positive SET (wiki/books-like) against raw crawl; the gate-label
    variant (`_qc_labels`) distills a rule one projection already
    computes, so the classifier the FUNNEL loads trains on THIS
    signal instead: it can flag crawl documents whose vocabulary
    diverges from curated material even when every gate check passes
    (tests/test_pipeline.py locks exactly that separation)."""
    y = F.coalesce(F.col("source").isin(*_DSIR_TARGET), F.lit(False)).cast(
        "int"
    )
    return docs.select("doc_id", y.alias("y"))


def _qc_p_expr(dot_col: str = "dot") -> str:
    """Hard-sigmoid in micro-units: clamp(S/2 + logit/4, 0, S) — the
    identical text runs in Spark (div) and, with //, in DuckDB."""
    return (
        f"CAST(least({_QC_S}, greatest(0, {_QC_S // 2} + {dot_col} div 4)) AS BIGINT)"
    )


def qc_train(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int = _QC_ROUNDS,
    d_buckets: int = _QC_D,
    labels: DataFrame | None = None,
) -> dict[int, int]:
    """Batch-gradient training of the hard-sigmoid logistic model;
    returns {feature -> weight} in micro-units.

    Scale shape per round: ONE broadcast join of the (D+1)-row weight
    table onto the feature stream + a doc-keyed partial-agg sum (the
    logit), one label join (doc-keyed), and ONE feature-keyed
    aggregation whose output is exactly D+1 rows — the driver's only
    collect.  Feature rows stream; nothing corpus-sized is ever held.
    The update trunc-divides by the corpus size with engine-matching
    semantics (`_tdiv`), so the unrolled SQL oracle reproduces every
    weight bit-for-bit."""
    from ..cachescope import scoped_persist

    feats = scoped_persist(_qc_feats(docs, d_buckets))
    labels = scoped_persist(_qc_labels(docs) if labels is None else labels)
    n = labels.count()
    w = {f: 0 for f in range(d_buckets + 1)}
    for _ in range(rounds):
        wdf = local_rows_df(spark, sorted(w.items()), "f bigint, w bigint")
        dot = (
            feats.join(F.broadcast(wdf), "f")
            .groupBy("doc_id")
            .agg(F.sum("w").alias("dot"))
        )
        err = labels.join(dot, "doc_id").select(
            "doc_id",
            (F.col("y") * _QC_S - F.expr(_qc_p_expr())).alias("e"),
        )
        grads = (
            feats.join(err, "doc_id")
            .groupBy("f")
            .agg(F.sum("e").alias("g"))
            .collect()
        )
        for r in grads:
            w[int(r["f"])] += _tdiv(int(r["g"]) * _QC_LR_NUM, n)
    return w


def qc_build(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    rounds: int = _QC_ROUNDS,
    d_buckets: int = _QC_D,
    labels: DataFrame | None = None,
) -> None:
    """Train and FREEZE the classifier as a parquet weight artifact at
    ``out_dir/weights`` (f, w) — the build_bigram_lm discipline; the
    single table's _SUCCESS marker is the committed-build sentinel.
    ``labels`` overrides the default gate weak labels (pass
    ``_qc_labels_curated(docs)`` for the non-circular curated-source
    signal the funnel loads)."""
    import os

    w = qc_train(spark, docs, rounds, d_buckets, labels=labels)
    local_rows_df(spark, sorted(w.items()), "f bigint, w bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "weights"))


def qc_score(
    spark: SparkSession, docs: DataFrame, qc_dir: str, d_buckets: int = _QC_D
) -> DataFrame:
    """Score documents against a FROZEN weight artifact: one broadcast
    join of the weight table onto the hashed-feature stream, one
    doc-keyed sum, one clamp projection — (doc_id, logit_micro,
    p_micro).  No training state, no iteration: the production scoring
    path is a pure map-side pipeline over the corpus scan."""
    import os

    from ..sources import artifact

    wdf = artifact(spark, os.path.join(qc_dir, "weights"))
    dot = (
        _qc_feats(docs, d_buckets)
        .join(F.broadcast(wdf), "f")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("dot"))
    )
    return dot.select(
        "doc_id",
        F.col("dot").alias("logit_micro"),
        F.expr(_qc_p_expr()).alias("p_micro"),
    )


_QC_GATE_CASE = """CASE WHEN coalesce(n_chars >= 100, FALSE)
                         AND coalesce(lang IN ('en', 'de', 'fr', 'es'), FALSE)
                         AND source IS NOT NULL THEN 1 ELSE 0 END"""


def _qc_oracle(
    rounds: int = _QC_ROUNDS,
    d: int = _QC_D,
    lab_case: str = _QC_GATE_CASE,
    y_alias: str = "y_weak",
) -> str:
    """The full trainer + scorer unrolled: per round, the logit join,
    the hard-sigmoid error, the feature-keyed gradient, and the
    trunc-divided weight update — every op integer-exact in both
    engines (`_tdiv` note).  ``lab_case``/``y_alias`` select the label
    source: the gate weak label (default) or the curated-source label
    (`quality_classifier_curated`)."""
    hexw = _duck_hex4("md5(word)")
    p_of = lambda dotrel: (  # noqa: E731 — local SQL text helper
        f"CAST(least({_QC_S}, greatest(0, {_QC_S // 2} + {dotrel} // 4)) AS BIGINT)"
    )
    parts = [
        f"""toks AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS word FROM documents),
    fx AS (
      SELECT DISTINCT doc_id, {hexw} % {d} AS f
      FROM toks
      WHERE length(word) >= 2 AND regexp_matches(word, '{_QC_WORD_RE}')
      UNION ALL
      SELECT doc_id, {d} AS f FROM documents),
    lab AS (SELECT doc_id, {lab_case} AS y
            FROM documents),
    nn AS (SELECT count(*) AS n FROM documents),
    w0 AS (SELECT unnest(range(0, {d + 1})) AS f, CAST(0 AS BIGINT) AS w)"""
    ]
    for k in range(rounds):
        parts.append(
            f"""dot{k} AS (
      SELECT fx.doc_id, CAST(sum(w.w) AS BIGINT) AS dot
      FROM fx JOIN w{k} w USING (f) GROUP BY fx.doc_id),
    er{k} AS (
      SELECT l.doc_id, l.y * {_QC_S} - {p_of("d.dot")} AS e
      FROM lab l JOIN dot{k} d USING (doc_id)),
    g{k} AS (
      SELECT f, CAST(sum(e) AS BIGINT) AS g
      FROM fx JOIN er{k} USING (doc_id) GROUP BY f),
    w{k + 1} AS (
      SELECT w.f,
             w.w + (coalesce(g.g, 0) * {_QC_LR_NUM}) // (SELECT n FROM nn) AS w
      FROM w{k} w LEFT JOIN g{k} g USING (f))"""
        )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain},
    dotF AS (
      SELECT fx.doc_id, CAST(sum(w.w) AS BIGINT) AS dot
      FROM fx JOIN w{rounds} w USING (f) GROUP BY fx.doc_id)
    SELECT l.doc_id, l.y AS {y_alias}, d.dot AS logit_micro,
           {p_of("d.dot")} AS p_micro
    FROM lab l JOIN dotF d USING (doc_id)
    """


@register("quality_classifier_score", oracle=_qc_oracle(), bench=True)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned-filter lifecycle driver-checked end-to-end: train
    the hashed-unigram hard-sigmoid logistic model on the corpus's own
    gate verdicts (weak labels), FREEZE the weights as a parquet
    artifact, then score every document against the frozen artifact in
    one broadcast-join projection — (doc_id, weak label, integer logit
    and clamped probability in micro-units).  The oracle re-derives
    the full R-round gradient trainer AND the scoring join in SQL, so
    the update rule, the truncating division, and the clamp are all
    proven cross-engine.  Ranking sanity (holdout separation of
    gate-clean from gate-reject) is locked in tests/test_pipeline.py."""
    import os

    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    qdir = _artifact_tmp("qclf", sf_dir)
    if not os.path.exists(os.path.join(qdir, "weights", "_SUCCESS")):
        qc_build(spark, d, qdir)
    scored = qc_score(spark, d, qdir)
    return _qc_labels(d).join(scored, "doc_id").select(
        "doc_id", F.col("y").alias("y_weak"), "logit_micro", "p_micro"
    )


_QC_CURATED_CASE = (
    f"CASE WHEN coalesce(source IN ({_DSIR_TGT_IN}), FALSE) THEN 1 ELSE 0 END"
)


def _qc_curated_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once curated-label weight artifact (the qc_build
    discipline, separate dir from the gate-label artifact)."""
    import os

    from .dedup import _artifact_tmp

    qdir = _artifact_tmp("qclfcur", sf_dir)
    if not os.path.exists(os.path.join(qdir, "weights", "_SUCCESS")):
        d = table(spark, sf_dir, "documents")
        qc_build(spark, d, qdir, labels=_qc_labels_curated(d))
    return qdir


@register(
    "quality_classifier_curated",
    oracle=_qc_oracle(lab_case=_QC_CURATED_CASE, y_alias="y_curated"),
)
def quality_classifier_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-CIRCULAR learned filter (r13 VERDICT Next #4): the same
    hashed-unigram hard-sigmoid trainer, but the positive set is the
    CURATED exemplar sources (the DSIR target distribution) against
    everything else — provenance, not the quality gate's own verdict,
    so the model generalizes 'looks like curated material' instead of
    distilling a rule one projection already computes.  This is the
    weight artifact the curation funnel's classifier stage loads
    (pipeline.curate_corpus, build_curation_state) and the quality
    mass the curriculum schedule anneals toward; the gate-label
    variant (`quality_classifier_score`) stays registered as the
    weak-label-distillation face.  tests/test_pipeline.py locks the
    value claim: gate-PASSING docs whose vocabulary diverges from
    curated material score BELOW gate-passing curated-like docs —
    separation the gate itself cannot express.

    Scale shape: identical to quality_classifier_score (per-round
    driver traffic = D+1 gradient rows; scoring = one broadcast join +
    clamp); the oracle unrolls the full trainer with the curated-label
    CTE swapped in."""
    d = table(spark, sf_dir, "documents")
    qdir = _qc_curated_dir(spark, sf_dir)
    scored = qc_score(spark, d, qdir)
    return _qc_labels_curated(d).join(scored, "doc_id").select(
        "doc_id", F.col("y").alias("y_curated"), "logit_micro", "p_micro"
    )


# -- data-constrained scaling: capped duplicate copies ------------------
# Full dedup (one copy per cluster) is optimal in the data-rich regime;
# when data is the constraint, repeating good documents a FEW times
# beats dropping them (the data-constrained scaling-law result) — the
# curation knob is "at most N copies per near-dup cluster", not "one".

_CAP_COPIES = 2


def _cap_copies_oracle() -> str:
    from .graph import _ORACLE as _CLUSTER_ORACLE

    return f"""
    WITH clusters AS ({_CLUSTER_ORACLE}),
    ranked AS (
      SELECT c.doc_id, c.cluster_id,
             CAST(row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id) AS BIGINT) AS copy_rank
      FROM clusters c JOIN documents d USING (doc_id))
    SELECT doc_id, cluster_id, copy_rank,
           (copy_rank <= {_CAP_COPIES}) AS kept
    FROM ranked
    """


@register("dedup_cap_copies", oracle=_cap_copies_oracle())
def dedup_cap_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-copy dedup: keep the BEST min(n, {cap}) copies per
    near-dup cluster (quality order = n_chars desc, doc_id tie-break —
    the dedup_keep_best rule generalized from rank 1 to rank <= cap).
    Every doc is returned with its cluster, its copy rank, and the
    keep verdict, so downstream sampling can weight by rank instead of
    hard-dropping.  Scale shape: rides dedup_clusters
    (collapse-first label propagation); the cap itself is one
    cluster-partitioned rank window — no new shuffle shape."""
    from .graph import dedup_clusters

    c = dedup_clusters(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        c.join(d, "doc_id")
        .withColumn("copy_rank", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "cluster_id",
            "copy_rank",
            (F.col("copy_rank") <= _CAP_COPIES).alias("kept"),
        )
    )


dedup_cap_copies.__doc__ = dedup_cap_copies.__doc__.format(cap=_CAP_COPIES)


# -- deterministic global training-order shuffle + shard assignment ----

_SHUF_SHARDS = 8


@register(
    "corpus_shuffle_shards",
    oracle=f"""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS ord_rank,
           CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                % {_SHUF_SHARDS} AS BIGINT) AS shard
    FROM documents
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: documents ordered by
    md5(doc_id) (reproducible across engines, reruns, and partitionings
    — unlike rand()) and dealt round-robin into {n} shards, so every
    shard is an unbiased 1/{n} sample of the shuffled order and a
    data-parallel trainer reads disjoint, equally-mixed streams.

    Scale shape: the global rank runs through the two-phase
    ``distwindow.global_row_number`` (range-partition on the hash →
    parallel local row_number → O(partitions) offset broadcast) —
    never an Exchange SinglePartition over the corpus."""
    from .distwindow import global_row_number

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    ranked, _n = global_row_number(d, ["_h", "doc_id"], "ord_rank")
    return ranked.select(
        "doc_id",
        "ord_rank",
        ((F.col("ord_rank") - 1) % _SHUF_SHARDS).alias("shard"),
    )


corpus_shuffle_shards.__doc__ = corpus_shuffle_shards.__doc__.format(n=_SHUF_SHARDS)


# -- classifier operating-point sweep -----------------------------------
# A trained filter is only usable once a THRESHOLD is chosen; the
# operating-point table (confusion counts per candidate threshold
# against the weak labels) is the artifact that choice is made from.

_QC_THRESHOLDS = (100_000, 300_000, 500_000, 700_000, 900_000)


def _qc_pr_oracle(rounds: int = _QC_ROUNDS, d: int = _QC_D) -> str:
    thr_rows = ", ".join(f"({t})" for t in _QC_THRESHOLDS)
    base = _qc_oracle(rounds, d)
    return f"""
    WITH scored AS ({base}),
    thr AS (SELECT * FROM (VALUES {thr_rows}) AS t(thr_micro))
    SELECT CAST(thr.thr_micro AS BIGINT) AS thr_micro,
           CAST(sum(CASE WHEN s.p_micro >= thr.thr_micro AND s.y_weak = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN s.p_micro >= thr.thr_micro AND s.y_weak = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN s.p_micro < thr.thr_micro AND s.y_weak = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN s.p_micro < thr.thr_micro AND s.y_weak = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM scored s CROSS JOIN thr
    GROUP BY thr.thr_micro
    """


@register("quality_classifier_pr", oracle=_qc_pr_oracle())
def quality_classifier_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen classifier's operating-point sweep: exact confusion
    counts (tp/fp/fn/tn vs the weak gate labels) at each candidate
    probability threshold — the table a pipeline owner reads to pick
    the filter's production cut-off (precision = tp/(tp+fp), recall =
    tp/(tp+fn) fall out row-wise; the INTEGER counts are what cross the
    engine boundary, so the check is exact, never float-ratio fuzz).

    Scale shape: one artifact-scoring pass (broadcast weight join +
    doc-keyed sum), then a THRESHOLDS-sized explode per doc-row into
    one global aggregate — |thresholds| x corpus rows through a
    map-side-combined sum, no shuffle wider than |thresholds| groups."""
    import os

    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    qdir = _artifact_tmp("qclf", sf_dir)
    if not os.path.exists(os.path.join(qdir, "weights", "_SUCCESS")):
        qc_build(spark, d, qdir)
    scored = _qc_labels(d).join(qc_score(spark, d, qdir), "doc_id")
    thr = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in _QC_THRESHOLDS])
    ).alias("thr_micro")
    e = scored.select("y", "p_micro", thr)
    pos = F.col("p_micro") >= F.col("thr_micro")
    yb = F.col("y") == 1
    return e.groupBy("thr_micro").agg(
        F.sum((pos & yb).cast("bigint")).alias("tp"),
        F.sum((pos & ~yb).cast("bigint")).alias("fp"),
        F.sum(((~pos) & yb).cast("bigint")).alias("fn"),
        F.sum(((~pos) & ~yb).cast("bigint")).alias("tn"),
    )


# -- curriculum: epoch-annealed source-mixture schedule ------------------
# The pretraining knob the static mixers (corpus_mix_sample,
# source_temperature_mix) cannot express: EARLY epochs sample sources
# near-uniformly (coverage), LATE epochs tilt toward measured quality
# (the anneal-good-data-late recipe).  Integer-exact: linear
# interpolation between the uniform share and the quality-proportional
# share, truncating division in both engines.

_CURR_EPOCHS = 4


def _curriculum_oracle(rounds: int = _QC_ROUNDS, d: int = _QC_D) -> str:
    # the quality signal is the CURATED-label classifier (r13 VERDICT
    # Next #8): annealing toward the gate-distilled score would anneal
    # toward a rule the gate already enforces upstream
    base = _qc_oracle(rounds, d, lab_case=_QC_CURATED_CASE, y_alias="y_curated")
    E = _CURR_EPOCHS
    return f"""
    WITH scored AS ({base}),
    bysrc AS (
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(s.p_micro) AS BIGINT) AS q_sum
      FROM scored s JOIN documents d USING (doc_id)
      GROUP BY d.source),
    tot AS (SELECT count(*) AS n_src, CAST(sum(q_sum) AS BIGINT) AS q_tot
            FROM bysrc),
    ep AS (SELECT unnest(range(0, {E})) AS epoch)
    SELECT CAST(ep.epoch AS BIGINT) AS epoch, b.source, b.n_docs, b.q_sum,
           CAST((({E - 1} - ep.epoch) * ({_QC_S} // t.n_src)
                 + ep.epoch * (CASE WHEN t.q_tot = 0 THEN {_QC_S} // t.n_src
                               ELSE (b.q_sum * {_QC_S}) // t.q_tot END))
                // {E - 1} AS BIGINT) AS weight_micro
    FROM bysrc b CROSS JOIN tot t CROSS JOIN ep
    """


@register("corpus_curriculum_schedule", oracle=_curriculum_oracle())
def corpus_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-annealed source mixture: epoch 0 samples sources uniformly
    (coverage first), the final epoch samples proportionally to each
    source's MEASURED quality mass (the frozen CURATED-label
    classifier's summed p_micro — the non-circular signal; r14
    re-pointed it off the gate-distilled score), and intermediate
    epochs interpolate linearly — all in integer micro-units with
    truncating division, so the whole schedule (including the
    classifier training that produces the quality signal) is one exact
    SQL oracle.  The output (epoch, source, weight_micro) table is
    what a data loader's per-epoch sampler consumes.

    Scale shape: one artifact-scoring pass + one source-keyed
    aggregate (|sources| rows), then a |sources| x |epochs| projection
    — nothing after the score is corpus-sized.  The quality-share
    multiply is decimal-widened: a source's p_micro mass at 100 TB
    exceeds int64/1e6."""
    d = table(spark, sf_dir, "documents")
    scored = qc_score(spark, d, _qc_curated_dir(spark, sf_dir))
    bysrc = (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p_micro").alias("q_sum"),
        )
    )
    tot = bysrc.agg(
        F.count(F.lit(1)).alias("n_src"), F.sum("q_sum").alias("q_tot")
    )
    E = _CURR_EPOCHS
    ep = F.explode(F.array(*[F.lit(e).cast("bigint") for e in range(E)])).alias(
        "epoch"
    )
    return (
        bysrc.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", "q_sum", "n_src", "q_tot", ep)
        .select(
            "epoch",
            "source",
            "n_docs",
            "q_sum",
            # q_tot = 0 (every doc scored 0 — a pathological corpus)
            # falls back to the uniform share instead of dividing by
            # zero, identically in the oracle's CASE
            F.expr(
                f"CAST((({E - 1} - epoch) * ({_QC_S} div n_src)"
                f" + epoch * (CASE WHEN q_tot = 0 THEN {_QC_S} div n_src"
                f" ELSE (CAST(q_sum AS DECIMAL(38,0)) * {_QC_S}) div q_tot END))"
                f" div {E - 1} AS BIGINT)"
            ).alias("weight_micro"),
        )
    )
