"""End-to-end training-corpus pipeline — the capstone composition of the
data-pipeline operators: dedup → quality filter → language tag → token
accounting → partitioned corpus write.

Each stage is the registered operator's logic reused as a library
function, so the pipeline is one lazy DataFrame graph: Catalyst fuses
the per-row stages into the same scan, and the only shuffles are the
ones the semantics require (exact-dedup group, near-dup clustering).
At 100 TB this runs as a single job whose output is partitioned by
language — the layout downstream training jobs partition-prune on.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions import local_rows_df
from .operators.graph import dedup_clusters
from .operators.textops import text_langid, text_stats
from .sources import build_once, table


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    min_tokens: int = 10,
    max_stop_ratio: float = 0.9,
    max_rep_ratio: float | None = None,
    decontaminate: bool = False,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """documents → cluster-level near-dup removal → quality filter →
    (optional) repetition filter and benchmark decontamination →
    language tag → token counts; optionally written partitioned by
    predicted language. Returns the corpus DataFrame.

    Pass an ``Observation`` to collect corpus metrics (row count, token
    total, per-language spread) as a side effect of whatever action
    materializes the result — zero extra passes over the data, which is
    the only acceptable cost for monitoring a 100 TB job."""
    docs = table(spark, sf_dir, "documents")

    # 1. near-dup removal: keep each cluster's representative (min doc_id)
    clusters = dedup_clusters(spark, sf_dir)
    keep = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    docs = docs.join(keep, "doc_id", "left_semi")

    # 2. quality filter on cheap per-row stats
    stats = text_stats(spark, sf_dir).select("doc_id", "n_tokens", "stop_ratio")
    docs = (
        docs.join(stats, "doc_id")
        .filter((F.col("n_tokens") >= min_tokens) & (F.col("stop_ratio") <= max_stop_ratio))
    )

    # 2b. repetition gate (boilerplate/generated text) — per-row, fuses
    # into the same scan stage
    if max_rep_ratio is not None:
        from .operators.corpus_ext import text_repetition_ratio

        rep = text_repetition_ratio(spark, sf_dir).select("doc_id", "rep_ratio")
        docs = docs.join(rep, "doc_id").filter(F.col("rep_ratio") <= max_rep_ratio)

    # 2c. benchmark decontamination — drop any doc sharing 5-grams with
    # the held-out set (broadcast anti-join on contaminated doc_ids)
    if decontaminate:
        from .operators.corpus_ext import decontaminate_ngram

        dirty = decontaminate_ngram(spark, sf_dir).select("doc_id")
        # no forced broadcast: the contaminated-id set is corpus-bounded
        docs = docs.join(dirty, "doc_id", "left_anti")

    # 3. language tag
    lang = text_langid(spark, sf_dir).select("doc_id", "lang_pred")
    corpus = docs.join(lang, "doc_id").select(
        "doc_id", "text", "source", "n_tokens", "lang_pred"
    )

    if observation is not None:
        corpus = corpus.observe(
            observation,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.approx_count_distinct("lang_pred").alias("n_langs"),
        )

    # 4. partitioned write: downstream jobs prune on lang_pred
    if out_dir:
        corpus.write.mode("overwrite").partitionBy("lang_pred").parquet(out_dir)
    return corpus


# ---------------------------------------------------------------------------
# Chunk vector index — the RAG-style retrieval capstone: chunk → embed →
# train codebook → write cell-partitioned index → partition-pruned query.
# ---------------------------------------------------------------------------

CVI_DIM = 8  # chunk-embedding dimensions (deterministic md5-derived stub)
CVI_K = 8  # codebook size
CVI_SCALE = 1000  # k-means quantization (similarity._KM_SCALE discipline)
CVI_PROBE = 2  # cells probed per query


def _chunk_embedding_col():
    """Deterministic CVI_DIM-dim embedding of the `chunk` column from its
    md5 bytes — the stand-in for a real encoder (pure codegen, engine-
    neutral; swap in a Pandas-UDF model call and nothing else changes)."""
    md5 = F.md5(F.col("chunk").cast("binary"))
    return F.array(
        *[
            (
                F.conv(F.substring(md5, 1 + 2 * j, 2), 16, 10).cast("double") / 255.0
                - 0.5
            )
            for j in range(CVI_DIM)
        ]
    )


def _embed_text_py(text: str) -> list[float]:
    """Driver-side twin of _chunk_embedding_col for query strings."""
    import hashlib

    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    return [int(h[2 * j : 2 * j + 2], 16) / 255.0 - 0.5 for j in range(CVI_DIM)]


def build_chunk_vector_index(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    docs: DataFrame | None = None,
) -> None:
    """Build the retrieval index: chunk every document
    (text_chunks_builtin's codegen chunker), embed each chunk, train a
    CVI_K-cell k-means codebook (similarity._km_train — quantized
    integer Lloyd, driver traffic = iters × K·dim rows), and write the
    (doc_id, chunk_idx, chunk, v) rows PARTITIONED BY cell, plus the
    centroid table next to it.  Write-once artifact: every query batch
    afterwards reads only its probed cells' partitions — the same
    layout discipline as similarity.build_ivf_index, applied to the
    text-retrieval pipeline."""
    from .operators.similarity import _km_assign, _km_train
    from .operators.udtf_ops import chunk_docs_frame

    if docs is None:
        docs = table(spark, sf_dir, "documents")
    chunks = chunk_docs_frame(docs).withColumn("v", _chunk_embedding_col())
    qv = F.expr(
        f"transform(v, e -> CAST(floor(e * {CVI_SCALE}) AS BIGINT))"
    )
    e = chunks.withColumn("qv", qv)
    init_rows = (
        e.orderBy("doc_id", "chunk_idx").select("qv").limit(CVI_K).collect()
    )
    init = {i: list(r["qv"]) for i, r in enumerate(init_rows)}
    # production training runs to the exact integer fixed point (capped);
    # the index is self-contained — queries read the PERSISTED centroids,
    # so convergence depth never has to match an external oracle
    cents = _km_train(
        e.select("qv"), k=CVI_K, init=init, dim=CVI_DIM, iters=15, converge=True
    )
    assigned = e.withColumn("cell", _km_assign(cents)).select(
        "doc_id", "chunk_idx", "chunk", "v", "cell"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out_path)
    cent_rows = [(c, [int(x) for x in cents[c]]) for c in sorted(cents)]
    local_rows_df(spark, cent_rows, "cell int, centroid array<bigint>").coalesce(
        1
    ).write.mode("overwrite").parquet(out_path + "_centroids")


def admit_chunks(spark: SparkSession, new_docs: DataFrame, index_path: str) -> None:
    """Incremental RAG-index admission — the chunk-index member of the
    admit family (``admit_corpus_batch`` for the dedup artifacts,
    ``similarity.admit_ivf_vectors`` for the vector index): chunk and
    embed ONLY the new batch, assign each chunk against the index's
    PERSISTED centroids (the frozen codebook — never a re-derivation
    from the grown corpus), and append into the existing cell
    partitions.  Cost scales with the batch; because the codebook is
    frozen, the admitted index is row-identical to rebuilding the whole
    corpus under the same centroids (equivalence-tested), and
    ``query_chunk_index``'s partition-pruned probe works unchanged —
    appended files land inside the cell=N directories it prunes to.
    Codebook drift management mirrors the IVF path: re-train via
    ``build_chunk_vector_index`` to a fresh path and swap."""
    from .operators.similarity import _km_assign
    from .operators.udtf_ops import chunk_docs_frame

    cents = {
        int(r["cell"]): list(r["centroid"])
        for r in spark.read.parquet(index_path + "_centroids").collect()
    }
    chunks = chunk_docs_frame(new_docs).withColumn("v", _chunk_embedding_col())
    e = chunks.withColumn(
        "qv", F.expr(f"transform(v, e -> CAST(floor(e * {CVI_SCALE}) AS BIGINT))")
    )
    assigned = e.withColumn("cell", _km_assign(cents)).select(
        "doc_id", "chunk_idx", "chunk", "v", "cell"
    )
    assigned.write.mode("append").partitionBy("cell").parquet(index_path)


def query_chunk_index(
    spark: SparkSession,
    index_path: str,
    query_text: str,
    top_k: int = 5,
    n_probe: int = CVI_PROBE,
) -> DataFrame:
    """Retrieve the top-k chunks for a query string from a prebuilt
    index: embed the query driver-side (tiny), rank cells by integer
    distance to the persisted centroids (a CVI_K-row read), and scan
    ONLY the probed cells — `cell IN (...)` is a partition filter, so
    the 100 TB index touches n_probe/CVI_K of its files.  Exact cosine
    ranks the survivors with a deterministic tie-break."""
    import math

    from .functions import vec_dot, vec_norm

    qv_f = _embed_text_py(query_text)
    qv_q = [int(math.floor(x * CVI_SCALE)) for x in qv_f]
    cents = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(index_path + "_centroids").collect()
    }
    ranked = sorted(
        cents, key=lambda c: (sum((a - b) ** 2 for a, b in zip(qv_q, cents[c])), c)
    )
    cells = ranked[:n_probe]
    qlit = F.array(*[F.lit(float(x)) for x in qv_f])
    idx = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    sim = vec_dot(qlit, F.col("v")) / (vec_norm(qlit) * vec_norm(F.col("v")))
    return (
        idx.withColumn("cos_sim", F.round(sim, 6))
        .orderBy(F.desc("cos_sim"), "doc_id", "chunk_idx")
        .limit(top_k)
        .select("doc_id", "chunk_idx", "chunk", "cos_sim")
    )


def admit_corpus_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    fp_path: str,
    bloom_path: str,
    min_tokens: int = 10,
) -> DataFrame:
    """Incremental corpus admission — the rolling-crawl companion to
    ``build_training_corpus``'s batch rebuild, composing the write-once
    artifacts end-to-end:

    1. Bloom-prefiltered exact dedup against the persisted fingerprint
       table (``dedup_incremental_bloom``: definitely-new rows skip the
       anti-join; only the maybe slice pays it);
    2. cheap per-row quality gate (token floor) on the survivors;
    3. ARTIFACT MAINTENANCE: the admitted docs' fingerprints append to
       the fingerprint table (partition layout preserved) and their
       words OR into the Bloom filter (``merge_fingerprint_bloom``) —
       so the NEXT batch probes up-to-date artifacts and a re-submitted
       duplicate of an admitted doc is rejected.

    Returns the admitted batch (scope-CHECKPOINTED: it must materialize
    BEFORE the artifacts change underneath its own lazy plan — the
    admission read and the admission write touch the same table — and a
    plain cache is not enough, because writing to fp_path invalidates
    caches whose plans read fp_path).
    Cost scales with the batch, never the corpus.

    Cluster caveat: the persisted batch spills to disk locally, but an
    EXECUTOR LOSS after the artifact append would recompute the
    admitted plan against the already-appended fingerprints (its own
    rows would anti-join away).  A production deployment therefore
    writes the admitted batch to its destination FIRST and appends the
    artifacts from that written copy — same statement ordering as
    here, with the returned frame replaced by a durable read."""
    from .cachescope import scoped_local_checkpoint
    from .functions import tokens
    from .operators.dedup import dedup_incremental_bloom, merge_fingerprint_bloom
    from .versioned import read_artifact

    # resolver, not a plain read: after the first merge the filter lives
    # in SnapshotArtifact's manifest-committed snapshot dirs
    words = read_artifact(spark, bloom_path)
    fresh = dedup_incremental_bloom(spark, new_docs, fp_path, words).filter(
        F.size(tokens(F.col("text"))) >= min_tokens
    )
    # eager localCheckpoint, not persist: the artifact writes below touch
    # fp_path, and Spark's post-write refreshByPath invalidates any CACHE
    # whose plan reads that path — a rebuild would then re-execute the
    # plan against artifacts that have moved underneath it.  Checkpointed
    # lineage is truncated to materialized partitions, immune to both.
    admitted = scoped_local_checkpoint(fresh)
    fps = admitted.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    ).withColumn("fp_prefix", F.substring("fp", 1, 1))
    # Bloom merge BEFORE fingerprint append — the crash-ordering that
    # keeps the filter's no-false-negative contract: a crash between the
    # two writes then leaves bits set for fps not yet in the table
    # (harmless false positives, the filter's design budget), never the
    # reverse (fps present but bits absent → a re-submitted copy probes
    # 'definitely new' and skips the anti-join entirely).
    merge_fingerprint_bloom(spark, fps.select("fp"), bloom_path)
    fps.write.mode("append").partitionBy("fp_prefix").parquet(fp_path)
    return admitted


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    nll_ceiling: float = 12.0,
    min_kept_tokens: int = 5,
    token_budget: int | None = None,
    scrub_min_freq: int | None = None,
    clf_floor_micro: int | None = None,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """The round-10 curation capstone — the full modern training-data
    funnel, composed from the registered operators' library forms:

    1. NEAR-DUP removal keeping the BEST copy per cluster (longest
       text, deterministic tie-break — graph.dedup_keep_best's rule);
    2. row-level QUALITY GATE (quality.gate_rows fused projection —
       only clean rows continue, the violating rows stay inspectable);
    3. FLUENCY filter: drop documents whose bigram-LM average NLL
       exceeds the ceiling (corpus_ext.text_lm_bigram_score — the
       CCNet-style perplexity screen, both-tails variant left to the
       caller);
    4. SUBSTRING DEDUP: excise corpus-repeated k-token spans from the
       survivors' text (dedup.span_cut, keep-first) and drop husks
       left with fewer than ``min_kept_tokens`` tokens;
    5. optional TOKEN BUDGET: DSIR-selected docs (corpus_ext.
       dsir_select — importance toward the high-quality sources) are
       packed FIRST, then the rest in doc_id order, cut at the budget
       via the two-phase global cumsum (never a single-partition
       window).

    Every stage is a doc_id-keyed join against an operator output, so
    Catalyst shares the documents scan where semantics allow and the
    only shuffles are the ones the operators themselves justify.  The
    output carries the CLEANED text — what actually ships to training."""
    from .operators.corpus_ext import dsir_select, text_lm_bigram_score
    from .operators.dedup import span_cut
    from .operators.distwindow import global_cumsum
    from .operators.graph import dedup_clusters
    from .operators.quality import gate_rows

    docs = table(spark, sf_dir, "documents")

    # 1. keep-best per near-dup cluster
    c = dedup_clusters(spark, sf_dir).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    best = (
        c.groupBy("cluster_id")
        .agg(F.max(w).alias("b"))
        .select(
            (-F.col("b.nd")).cast("bigint").alias("doc_id")
        )
    )
    docs = docs.join(best, "doc_id", "left_semi")

    # 2. row-level quality gate (same checks as docs_quality_gate)
    gated = gate_rows(
        docs,
        {"min_length": "n_chars >= 100", "known_lang": "lang IN ('en','de','fr','es')"},
        not_null=["source"],
    )
    docs = gated.filter(F.size("_violations") == 0).drop("_violations")

    # 3. bigram-LM fluency ceiling
    nll = text_lm_bigram_score(spark, sf_dir).select("doc_id", "avg_nll")
    docs = docs.join(nll, "doc_id").filter(F.col("avg_nll") <= nll_ceiling)

    # 3c. optional LEARNED quality floor: the discriminative screen
    # production pipelines run beside the generative LM ceiling — the
    # classifier is trained on the CURATED-source positives vs
    # everything else (the non-circular signal; r14 re-pointed this
    # stage off the gate-label distillation, whose verdict the gate
    # already enforced in stage 2) and survivors below the integer
    # logit floor drop.  Gate-clean docs whose VOCABULARY diverges
    # from curated material are exactly what this stage removes and
    # the gate cannot.
    if clf_floor_micro is not None:
        from .operators.corpus_ext import _qc_curated_dir, qc_score

        raw = table(spark, sf_dir, "documents")
        scores = qc_score(spark, raw, _qc_curated_dir(spark, sf_dir)).select(
            "doc_id", "logit_micro"
        )
        docs = docs.join(scores, "doc_id").filter(
            F.col("logit_micro") >= clf_floor_micro
        )

    # 3b. optional boilerplate scrub: span frequencies are counted over
    # the FULL RAW POOL — a template span's count includes the near-dup
    # copies keep-best already removed, which is precisely what lets a
    # surviving representative's boilerplate clear the threshold (among
    # survivors alone nothing repeats, by dedup's own success) — and
    # the excision is applied to the survivors' text before keep-first
    # dedup of what remains
    if scrub_min_freq is not None:
        from .operators.dedup import span_scrub
        from .sources import table as _table

        scrubbed = span_scrub(
            _table(spark, sf_dir, "documents").select("doc_id", "text"),
            min_freq=scrub_min_freq,
        ).select("doc_id", F.col("cleaned").alias("text"))
        docs = docs.drop("text").join(scrubbed, "doc_id")

    # 4. substring dedup on the survivors; drop cut-to-nothing husks
    cut = span_cut(docs.select("doc_id", "text")).select(
        "doc_id", "n_kept", F.col("cleaned").alias("clean_text")
    )
    docs = (
        docs.drop("text")
        .join(cut, "doc_id")
        .filter(F.col("n_kept") >= min_kept_tokens)
    )

    # 5. token budget: DSIR picks first, then doc_id order
    if token_budget is not None:
        picked = dsir_select(spark, sf_dir).select(
            "doc_id", F.lit(0).alias("pri")
        )
        ordered = docs.join(picked, "doc_id", "left").withColumn(
            "pri", F.coalesce("pri", F.lit(1))
        )
        cum, _ = global_cumsum(
            ordered,
            "n_kept",
            [F.col("pri").asc(), F.col("doc_id").asc()],
            "cum_tokens",
        )
        docs = cum.filter(F.col("cum_tokens") <= token_budget).drop(
            "pri", "cum_tokens"
        )

    cols = ["doc_id", "source", "n_kept", "avg_nll"]
    if clf_floor_micro is not None:
        cols.append("logit_micro")
    out = docs.select(*cols, "clean_text")
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_kept").alias("total_tokens"),
        )
    if out_dir:
        out.write.mode("overwrite").partitionBy("source").parquet(out_dir)
    return out


# ---------------------------------------------------------------------------
# driver-oracled capstone query (VERDICT r10 task 3): the funnel's
# COMPOSITION — stage order, inner-join drop semantics, husk floor,
# DSIR-first budget packing — proven against one DuckDB WITH-pipeline
# that chains the stages' own oracles on fixed deterministic parameters.
# ---------------------------------------------------------------------------

_CURATE_NLL = 12.0
_CURATE_MIN_KEPT = 5
_CURATE_BUDGET = 20_000


def _curate_oracle() -> str:
    from .operators import corpus_ext as _ce  # registers its oracles
    from .operators import graph as _graph
    from .operators.dedup import _span_cut_oracle
    from .registry import QUERIES

    bigram = QUERIES["text_lm_bigram_score"].oracle
    dsir = QUERIES["dsir_select"].oracle
    clusters = _graph._ORACLE
    return f"""
    WITH clusters AS ({clusters}),
    best AS (
      SELECT CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS doc_id
      FROM (SELECT c.cluster_id, d.doc_id,
                   row_number() OVER (
                     PARTITION BY c.cluster_id
                     ORDER BY d.n_chars DESC, d.doc_id) AS rk
            FROM clusters c JOIN documents d USING (doc_id))
      GROUP BY cluster_id),
    nll AS ({bigram}),
    surv AS (
      SELECT d.doc_id, d.source, d.text, n.avg_nll
      FROM documents d
      JOIN best USING (doc_id)
      JOIN nll n USING (doc_id)
      WHERE d.n_chars >= 100 AND d.lang IN ('en','de','fr','es')
            AND d.source IS NOT NULL AND n.avg_nll <= {_CURATE_NLL}),
    cutres AS ({_span_cut_oracle("surv")}),
    husked AS (
      SELECT s.doc_id, s.source, s.avg_nll, c.n_kept, c.cleaned_md5
      FROM surv s JOIN cutres c USING (doc_id)
      WHERE c.n_kept >= {_CURATE_MIN_KEPT}),
    picked AS ({dsir}),
    ordered AS (
      SELECT h.doc_id, h.source, h.n_kept, h.avg_nll, h.cleaned_md5,
             CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS pri
      FROM husked h LEFT JOIN picked p USING (doc_id)),
    cum AS (
      SELECT doc_id, source, n_kept, avg_nll, cleaned_md5,
             sum(n_kept) OVER (
               ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM ordered)
    SELECT doc_id, source, CAST(n_kept AS BIGINT) AS n_kept, avg_nll,
           cleaned_md5 AS clean_md5
    FROM cum WHERE cum_tokens <= {_CURATE_BUDGET}
    """


def _register_curate() -> None:
    from .registry import register

    @register("corpus_curate_q", oracle=_curate_oracle())
    def corpus_curate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The curation capstone as a driver-checked query: keep-best
        near-dup removal -> row-level quality gate -> bigram-NLL
        fluency ceiling -> substring span-cut + husk floor -> DSIR-
        first token budget, on fixed parameters.  Each stage's oracle
        exists separately; THIS row proves the composition (stage
        order, inner-join drop semantics, budget packing order)."""
        out = curate_corpus(
            spark,
            sf_dir,
            nll_ceiling=_CURATE_NLL,
            min_kept_tokens=_CURATE_MIN_KEPT,
            token_budget=_CURATE_BUDGET,
        )
        return out.select(
            "doc_id",
            "source",
            "n_kept",
            "avg_nll",
            F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        )


_register_curate()


_CURATE_SCRUB_F = 2  # must BITE at sf0.01 (raw-pool counts: 47 docs scrubbed) or the chaining is untested


def _curate_scrub_oracle() -> str:
    """The scrubbed capstone variant: identical funnel with the
    boilerplate scrub inserted between the fluency ceiling and the
    keep-first span cut — the cut then tokenizes the SCRUBBED text
    (reassembled with single spaces, so retokenization is exact)."""
    from .operators import corpus_ext as _ce  # registers its oracles
    from .operators import graph as _graph
    from .operators.dedup import _span_cut_oracle, _span_scrub_oracle
    from .registry import QUERIES

    bigram = QUERIES["text_lm_bigram_score"].oracle
    dsir = QUERIES["dsir_select"].oracle
    clusters = _graph._ORACLE
    return f"""
    WITH clusters AS ({clusters}),
    best AS (
      SELECT CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS doc_id
      FROM (SELECT c.cluster_id, d.doc_id,
                   row_number() OVER (
                     PARTITION BY c.cluster_id
                     ORDER BY d.n_chars DESC, d.doc_id) AS rk
            FROM clusters c JOIN documents d USING (doc_id))
      GROUP BY cluster_id),
    nll AS ({bigram}),
    surv AS (
      SELECT d.doc_id, d.source, d.text, n.avg_nll
      FROM documents d
      JOIN best USING (doc_id)
      JOIN nll n USING (doc_id)
      WHERE d.n_chars >= 100 AND d.lang IN ('en','de','fr','es')
            AND d.source IS NOT NULL AND n.avg_nll <= {_CURATE_NLL}),
    scrubres AS ({_span_scrub_oracle("documents", with_text=True, min_freq=_CURATE_SCRUB_F)}),
    surv2 AS (
      SELECT s.doc_id, s.source, s.avg_nll, r.cleaned AS text
      FROM surv s JOIN scrubres r USING (doc_id)),
    cutres AS ({_span_cut_oracle("surv2")}),
    husked AS (
      SELECT s.doc_id, s.source, s.avg_nll, c.n_kept, c.cleaned_md5
      FROM surv2 s JOIN cutres c USING (doc_id)
      WHERE c.n_kept >= {_CURATE_MIN_KEPT}),
    picked AS ({dsir}),
    ordered AS (
      SELECT h.doc_id, h.source, h.n_kept, h.avg_nll, h.cleaned_md5,
             CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS pri
      FROM husked h LEFT JOIN picked p USING (doc_id)),
    cum AS (
      SELECT doc_id, source, n_kept, avg_nll, cleaned_md5,
             sum(n_kept) OVER (
               ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM ordered)
    SELECT doc_id, source, CAST(n_kept AS BIGINT) AS n_kept, avg_nll,
           cleaned_md5 AS clean_md5
    FROM cum WHERE cum_tokens <= {_CURATE_BUDGET}
    """


def _register_curate_scrub() -> None:
    from .registry import register

    @register("corpus_curate_scrub_q", oracle=_curate_scrub_oracle())
    def corpus_curate_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The capstone with the r11 boilerplate SCRUB stage composed
        in: keep-best -> gate -> NLL ceiling -> scrub (all occurrences
        of spans repeating >= 2x in the RAW pool — dup copies inflate the counts, so surviving representatives' template spans clear the bar) -> keep-first span
        cut OVER THE SCRUBBED TEXT -> husk floor -> DSIR-first budget.
        Proves the text-transform CHAINING (cut retokenizes scrub's
        reassembled output) cross-engine, not just each transform."""
        out = curate_corpus(
            spark,
            sf_dir,
            nll_ceiling=_CURATE_NLL,
            min_kept_tokens=_CURATE_MIN_KEPT,
            token_budget=_CURATE_BUDGET,
            scrub_min_freq=_CURATE_SCRUB_F,
        )
        return out.select(
            "doc_id",
            "source",
            "n_kept",
            "avg_nll",
            F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        )


_register_curate_scrub()


_CURATE_CLF_FLOOR = -20_000_000  # logit micro-units; drops ~37% of the
# gate-clean pool at BOTH fixture scales (measured r14), so the stage
# BITES in the driver check instead of passing vacuously.  Recalibrated
# when the stage re-pointed to the CURATED-label classifier: its
# positive class (src0/src1 provenance) is ~10% of docs, so logits sit
# around -20M rather than the gate-distillation's +6M.


def _curate_clf_oracle() -> str:
    """The capstone with the r13 LEARNED-classifier floor composed in
    between the fluency ceiling and the span cut.  The classifier CTE
    is the registered quality_classifier_score oracle verbatim (its own
    nested WITH is scoped), so the unrolled gradient trainer, the
    frozen-artifact scoring join, and the funnel's composition are all
    one DuckDB pipeline."""
    from .operators import corpus_ext as _ce  # registers its oracles
    from .operators import graph as _graph
    from .operators.dedup import _span_cut_oracle
    from .registry import QUERIES

    bigram = QUERIES["text_lm_bigram_score"].oracle
    dsir = QUERIES["dsir_select"].oracle
    clf = QUERIES["quality_classifier_curated"].oracle
    clusters = _graph._ORACLE
    return f"""
    WITH clusters AS ({clusters}),
    best AS (
      SELECT CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS doc_id
      FROM (SELECT c.cluster_id, d.doc_id,
                   row_number() OVER (
                     PARTITION BY c.cluster_id
                     ORDER BY d.n_chars DESC, d.doc_id) AS rk
            FROM clusters c JOIN documents d USING (doc_id))
      GROUP BY cluster_id),
    nll AS ({bigram}),
    clf AS ({clf}),
    surv AS (
      SELECT d.doc_id, d.source, d.text, n.avg_nll, q.logit_micro
      FROM documents d
      JOIN best USING (doc_id)
      JOIN nll n USING (doc_id)
      JOIN clf q USING (doc_id)
      WHERE d.n_chars >= 100 AND d.lang IN ('en','de','fr','es')
            AND d.source IS NOT NULL AND n.avg_nll <= {_CURATE_NLL}
            AND q.logit_micro >= {_CURATE_CLF_FLOOR}),
    cutres AS ({_span_cut_oracle("surv")}),
    husked AS (
      SELECT s.doc_id, s.source, s.avg_nll, s.logit_micro,
             c.n_kept, c.cleaned_md5
      FROM surv s JOIN cutres c USING (doc_id)
      WHERE c.n_kept >= {_CURATE_MIN_KEPT}),
    picked AS ({dsir}),
    ordered AS (
      SELECT h.*, CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS pri
      FROM husked h LEFT JOIN picked p USING (doc_id)),
    cum AS (
      SELECT doc_id, source, n_kept, avg_nll, logit_micro, cleaned_md5,
             sum(n_kept) OVER (
               ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM ordered)
    SELECT doc_id, source, CAST(n_kept AS BIGINT) AS n_kept, avg_nll,
           logit_micro, cleaned_md5 AS clean_md5
    FROM cum WHERE cum_tokens <= {_CURATE_BUDGET}
    """


def _register_curate_clf() -> None:
    from .registry import register

    @register("corpus_curate_clf_q", oracle=_curate_clf_oracle())
    def corpus_curate_clf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The capstone with the LEARNED quality floor composed in:
        keep-best -> gate -> NLL ceiling -> classifier logit floor
        (hard-sigmoid logistic over hashed unigrams, trained on the
        raw pool's own gate labels and scored from the frozen weight
        artifact) -> keep-first span cut -> husk floor -> DSIR-first
        budget.  The generative (LM) and discriminative (classifier)
        screens intersect: a gate-clean, fluent document whose
        vocabulary resembles gate-reject material drops HERE and
        nowhere else.  This row proves that composition — including
        the trainer's unrolled gradient rounds — in one oracle."""
        out = curate_corpus(
            spark,
            sf_dir,
            nll_ceiling=_CURATE_NLL,
            min_kept_tokens=_CURATE_MIN_KEPT,
            token_budget=_CURATE_BUDGET,
            clf_floor_micro=_CURATE_CLF_FLOOR,
        )
        return out.select(
            "doc_id",
            "source",
            "n_kept",
            "avg_nll",
            "logit_micro",
            F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        )


_register_curate_clf()


# ---------------------------------------------------------------------------
# streaming curation: the funnel as a continuous ingest face
# ---------------------------------------------------------------------------


def build_curation_state(
    spark: SparkSession,
    corpus: DataFrame,
    state_dir: str,
    classifier_docs: DataFrame | None = None,
) -> None:
    """Freeze the batch-trained curation state a streaming ingest
    scores against: the bigram LM tables (corpus fluency model), the
    corpus span index (substring-dedup memory), and — when
    ``classifier_docs`` is given (needs the gate columns doc_id, text,
    n_chars, lang, source) — the learned-quality-classifier weight
    artifact trained on the corpus's own gate labels.  All artifacts
    are write-once; the span store then grows one committed segment
    per admitted batch."""
    import os

    from .operators.corpus_ext import _qc_labels_curated, build_bigram_lm, qc_build
    from .operators.dedup import SpanIndexStore

    build_bigram_lm(spark, corpus, os.path.join(state_dir, "lm"))
    SpanIndexStore(spark, os.path.join(state_dir, "spans")).build(corpus)
    if classifier_docs is not None:
        # curated-source labels — the funnel's classifier stage must
        # carry the non-circular signal (its gate stage already
        # enforces the gate rule)
        qc_build(
            spark,
            classifier_docs,
            os.path.join(state_dir, "clf"),
            labels=_qc_labels_curated(classifier_docs),
        )


def curate_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    out_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    nll_ceiling: float = 12.0,
    min_kept_tokens: int = 5,
    clf_floor_micro: int | None = None,
):
    """The curation funnel as a Structured Streaming ingest: each
    micro-batch of (doc_id, source, lang, n_chars, text) rows flows
    through (1) the row-level quality gate, (2) the FROZEN bigram-LM
    fluency ceiling (stupid-backoff scoring against
    ``state_dir/lm``), (2b, opt-in) the FROZEN learned-classifier
    logit floor (``state_dir/clf`` weights scored in one broadcast
    join; the bias feature guarantees every doc a score, so this stage
    has no NULL-routing branch), (3) incremental substring dedup
    against the rolling span index (``state_dir/spans`` — corpus spans
    and every PRIOR batch's shipped spans cut; this batch's cleaned
    grams commit as its segment), and (4) the husk floor.  Survivors
    land under ``out_dir/batch=<id>/`` carrying (doc_id, source,
    avg_nll, n_kept, cleaned); every rejected row lands under
    ``reject_dir/batch=<id>/`` with the stage that dropped it —
    nothing disappears silently.

    Exactly-once under foreachBatch's at-least-once contract: the cut
    is deterministic-idempotent (a replayed tag skips its committed
    segment and excludes it from its own cut), and both landings are
    batch-keyed tmp-write + rename swaps (with stranded-.old
    reclamation).  Returns the ready DataStreamWriter."""
    import os
    import shutil

    from .operators.corpus_ext import bigram_nll_against
    from .operators.dedup import SpanIndexStore
    from .operators.quality import gate_rows

    store = SpanIndexStore(spark, os.path.join(state_dir, "spans"))
    lm_dir = os.path.join(state_dir, "lm")

    def _land(df, root: str, batch_id: int) -> None:
        dest = os.path.join(root, f"batch={batch_id}")
        tmp = os.path.join(root, f".batch_{batch_id}.tmp")
        old = os.path.join(root, f".batch_{batch_id}.old")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dest):
            os.rename(dest, old)
            os.rename(tmp, dest)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.makedirs(root, exist_ok=True)
            os.rename(tmp, dest)

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        b = int(batch_id)
        flagged = gate_rows(
            batch_df,
            {
                "min_length": "n_chars >= 100",
                "known_lang": "lang IN ('en','de','fr','es')",
            },
            not_null=["source"],
        )
        gate_bad = (
            flagged.filter(F.size("_violations") > 0)
            .select(
                "doc_id",
                F.concat(F.lit("gate:"), F.array_join("_violations", ",")).alias(
                    "reject_reason"
                ),
            )
        )
        good = flagged.filter(F.size("_violations") == 0).drop("_violations")
        nll = bigram_nll_against(
            spark, good.select("doc_id", "text"), lm_dir
        ).select("doc_id", "avg_nll")
        good = good.join(nll, "doc_id", "left")
        # A doc whose text tokenizes to zero tokens (e.g. whitespace-only
        # text under a lying n_chars) gets NO row from bigram_nll_against,
        # so avg_nll is NULL after the left join and fails BOTH the <= and
        # the ~(<=) filter — route it explicitly so nothing disappears
        # silently (the funnel's contract).
        fluent = good.filter(F.col("avg_nll") <= nll_ceiling)
        unscorable = good.filter(F.col("avg_nll").isNull()).select(
            "doc_id", F.lit("fluency:unscorable").alias("reject_reason")
        )
        nll_bad = good.filter(
            F.col("avg_nll") > nll_ceiling
        ).select("doc_id", F.lit("fluency:nll_over_ceiling").alias("reject_reason"))
        clf_bad = None
        if clf_floor_micro is not None:
            from .operators.corpus_ext import qc_score

            scores = qc_score(
                spark, fluent.select("doc_id", "text"), os.path.join(state_dir, "clf")
            ).select("doc_id", "logit_micro")
            scored = fluent.join(scores, "doc_id")
            clf_bad = scored.filter(
                F.col("logit_micro") < clf_floor_micro
            ).select(
                "doc_id",
                F.lit("classifier:logit_below_floor").alias("reject_reason"),
            )
            fluent = scored.filter(
                F.col("logit_micro") >= clf_floor_micro
            ).drop("logit_micro")
        cleaned = store.cut_admit(fluent.select("doc_id", "text"), f"b{b:08d}")
        out = (
            fluent.drop("text")
            .join(cleaned.select("doc_id", "n_kept", "cleaned"), "doc_id")
        )
        husks = out.filter(F.col("n_kept") < min_kept_tokens).select(
            "doc_id", F.lit("dedup:husk_below_floor").alias("reject_reason")
        )
        keep = out.filter(F.col("n_kept") >= min_kept_tokens).select(
            "doc_id", "source", "avg_nll", "n_kept", "cleaned"
        )
        _land(keep, out_dir, b)
        rejects = gate_bad.unionByName(unscorable).unionByName(nll_bad)
        if clf_bad is not None:
            rejects = rejects.unionByName(clf_bad)
        _land(rejects.unionByName(husks), reject_dir, b)

    return (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


# ---------------------------------------------------------------------------
# funnel ROUTING driver-checked: per-doc terminal disposition
# ---------------------------------------------------------------------------

_FNA_CEIL_MICRO = 3_450_000  # fluency ceiling: 3.45 micro-NLL per token
_FNA_MIN_KEPT = 12  # husk floor (fixture 10% quantile of survivor n_kept)


def _funnel_audit_oracle() -> str:
    """One WITH-pipeline re-deriving the funnel's ROUTING: the frozen-LM
    chain (text_lm_frozen_score's oracle, verbatim structure), the gate
    predicate, the survivor-restricted span cut (corpus grams always
    win; keep-first among SURVIVOR occurrences only — exactly what the
    stream cuts, since gate/fluency rejects never reach the cut), and
    the terminal CASE with the stream's precedence."""
    from .operators.corpus_ext import _DUCK_TOKS, _LMF_BATCH_IN, _duck_fixlog
    from .operators.dedup import _SPAN_K as k

    return f"""
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
      LEFT JOIN fxw u ON u.term = s.term),
    dsc AS (SELECT doc_id, count(*) AS n_tok,
                   CAST(sum(w) AS BIGINT) AS sum_w
            FROM scored GROUP BY doc_id),
    gate AS (
      SELECT doc_id,
             (n_chars >= 100 AND lang IN ('en','de','fr','es')
              AND source IS NOT NULL) AS gate_ok
      FROM documents WHERE source IN ({_LMF_BATCH_IN})),
    surv AS (
      SELECT g.doc_id FROM gate g JOIN dsc s USING (doc_id)
      WHERE g.gate_ok AND -s.sum_w <= {_FNA_CEIL_MICRO} * s.n_tok),
    spanpos AS (
      SELECT doc_id, source, u.p AS pos, u.g AS gram FROM (
        SELECT doc_id, source,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                 i -> struct_pack(p := i,
                        g := substring(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 16)))) AS u
        FROM tall)),
    cg AS (SELECT DISTINCT gram FROM spanpos
           WHERE source NOT IN ({_LMF_BATCH_IN})),
    occ AS (
      SELECT doc_id, pos, gram,
             count(*) OVER (PARTITION BY gram) AS n,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
      FROM spanpos WHERE doc_id IN (SELECT doc_id FROM surv)),
    cut AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS cp
      FROM occ
      WHERE gram IN (SELECT gram FROM cg) OR (n > 1 AND rk > 1)),
    tokpos AS (
      SELECT doc_id, u.p AS pos FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i))) AS u
        FROM tall WHERE doc_id IN (SELECT doc_id FROM surv))),
    kept AS (
      SELECT p.doc_id, p.pos
      FROM tokpos p LEFT JOIN cut c ON c.doc_id = p.doc_id AND c.cp = p.pos
      WHERE c.cp IS NULL),
    clean AS (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN NOT g.gate_ok THEN 'gate'
                WHEN s.sum_w IS NULL THEN 'fluency:unscorable'
                WHEN -s.sum_w > {_FNA_CEIL_MICRO} * s.n_tok
                  THEN 'fluency:nll_over_ceiling'
                WHEN coalesce(c.n_kept, 0) < {_FNA_MIN_KEPT}
                  THEN 'dedup:husk_below_floor'
                ELSE 'kept' END AS stage,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM surv)
                THEN CAST(coalesce(c.n_kept, 0) AS BIGINT) END AS n_kept
    FROM documents d
    JOIN gate g USING (doc_id)
    LEFT JOIN dsc s ON s.doc_id = d.doc_id
    LEFT JOIN clean c ON c.doc_id = d.doc_id
    WHERE d.source IN ({_LMF_BATCH_IN})
    """


def _register_funnel_audit() -> None:
    from .registry import register

    @register("curate_funnel_audit", oracle=_funnel_audit_oracle(), bench=True)
    def curate_funnel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The streaming curation funnel's ROUTING driver-checked: for
        every doc in the batch split, its terminal disposition under the
        exact stream precedence (`curate_ingest_stream`) — gate violation,
        NULL fluency score (the r11 silent-drop defect class, now an
        explicit reject), over the frozen-LM ceiling, span-cut husk below
        the floor, or kept — plus the survivor's post-cut token count.
        The LM is trained on the corpus split and FROZEN as the parquet
        artifact (what the stream scores against); the span cut runs over
        gate+fluency SURVIVORS only, because in the stream rejected rows
        never reach the cut and keep-first winners depend on who does.
        The ceiling comparison is pure integer (-sum_w vs ceil_micro *
        n_tok) so no float crosses the engine boundary.  'fluency:
        unscorable' is fixture-dead (every fixture doc tokenizes) — its
        routing is pytest-live in test_streaming's whitespace-text row.

        Scale shape: one corpus tokenize for LM + span index (write-once
        artifacts), one batch tokenize scored against vocabulary-keyed
        joins, the survivor-restricted cut, and a four-way CASE — every
        stage is the registered standalone operator's own plan."""
        import os

        from .operators.corpus_ext import _LMF_BATCH_SRCS, build_bigram_lm
        from .operators.dedup import build_span_index, span_cut_incremental

        d = table(spark, sf_dir, "documents")
        corpus = d.filter(~F.col("source").isin(*_LMF_BATCH_SRCS)).select(
            "doc_id", "text"
        )
        batch = d.filter(F.col("source").isin(*_LMF_BATCH_SRCS))

        lm_dir = build_once(
            "fnaud_lm", sf_dir, lambda out: build_bigram_lm(spark, corpus, out)
        )
        idx = build_once(
            "fnaud_span", sf_dir, lambda out: build_span_index(spark, corpus, out)
        )

        from .functions import tokens
        from pyspark.sql import Window as W

        from .cachescope import scoped_persist

        # integer frozen-LM score (bigram_nll_against's joins, micro
        # sums).  The tiny artifact frames are scope-persisted (r15 opt
        # round, VERDICT Next #7: ~7 sub-50 ms artifact reads per run)
        # so repeated runs hit warm in-memory copies, and w_oov rides
        # into the plan as a broadcast one-row frame instead of a
        # per-construction driver collect job.
        from .sources import artifact

        lp = scoped_persist(
            artifact(spark, os.path.join(lm_dir, "lp")).select(
                "prev", "term", F.col("w").alias("w_bi")
            )
        )
        lpu = scoped_persist(
            artifact(spark, os.path.join(lm_dir, "lpu")).select(
                "term", F.col("w").alias("w_uni")
            )
        )
        consts = artifact(spark, os.path.join(lm_dir, "consts")).select(
            F.col("w_oov").cast("bigint").alias("w_oov")
        )

        # Tokenize the batch ONCE (r14 opt round, guide §1.2 step 1):
        # this same position-exploded frame feeds the LM score below
        # AND the survivor span cut (via span_cut_incremental's
        # tok_rows hand-in) — previously the cut re-exploded survivor
        # text, a second full pass over the batch payload.  The column
        # is named `tok` because that is the span cut's contract.
        pos = scoped_persist(
            batch.select(
                "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
            )
        )
        wp = W.partitionBy("doc_id").orderBy("pos")
        seq = pos.select(
            "doc_id", F.col("tok").alias("term"), F.lag("tok").over(wp).alias("prev")
        )
        dsc = (
            seq.join(lp, ["prev", "term"], "left")
            .join(lpu, "term", "left")
            .crossJoin(F.broadcast(consts))
            .select("doc_id", F.coalesce("w_bi", "w_uni", "w_oov").alias("w"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tok"),
                F.sum("w").cast("bigint").alias("sum_w"),
            )
        )
        gate_ok = (
            (F.col("n_chars") >= 100)
            & F.col("lang").isin("en", "de", "fr", "es")
            & F.col("source").isNotNull()
        )
        # Score-once (r14 opt round): `flags` is read by the survivor
        # filter (feeding the cut's tok_rows AND its doc-id spine) and
        # again by the final routing join — unpersisted, the whole
        # batch-scan + LM-join + aggregate subplan re-executed once per
        # consumer (three times per action, measured in the funnel's
        # profile).  One persisted score pass is exactly how the
        # streaming funnel treats a micro-batch.
        flags = scoped_persist(
            batch.select("doc_id", "text", gate_ok.alias("gate_ok")).join(
                dsc, "doc_id", "left"
            )
        )
        surv = flags.filter(
            F.col("gate_ok")
            & F.col("sum_w").isNotNull()
            & (-F.col("sum_w") <= F.lit(_FNA_CEIL_MICRO) * F.col("n_tok"))
        )
        cut = span_cut_incremental(
            spark,
            surv.select("doc_id", "text"),
            idx,
            tok_rows=pos.join(surv.select("doc_id"), "doc_id", "semi"),
        ).select("doc_id", "n_kept")
        stage = (
            F.when(~F.col("gate_ok"), F.lit("gate"))
            .when(F.col("sum_w").isNull(), F.lit("fluency:unscorable"))
            .when(
                -F.col("sum_w") > F.lit(_FNA_CEIL_MICRO) * F.col("n_tok"),
                F.lit("fluency:nll_over_ceiling"),
            )
            .when(F.col("n_kept") < _FNA_MIN_KEPT, F.lit("dedup:husk_below_floor"))
            .otherwise(F.lit("kept"))
        )
        return (
            flags.join(cut, "doc_id", "left")
            .select("doc_id", stage.alias("stage"), F.col("n_kept").cast("bigint"))
        )



_register_funnel_audit()
