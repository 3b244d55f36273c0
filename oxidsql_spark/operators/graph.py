"""Graph-shaped operators: connected-component clustering of near-dup
pairs — the step that turns pairwise similarity into dedup groups.

This is the canonical iterative Spark algorithm (min-label propagation,
the simplified 'large-star' of Kiveris et al., "Connected Components in
MapReduce and Beyond"): each iteration is one join + one aggregate, state
is a (node, label) table partitioned by node. At 100 TB the iteration
count is the graph diameter (near-dup graphs are shallow — dup clusters
are cliques or near-cliques, so 2-4 iterations), and every step is a
key-partitioned shuffle Catalyst handles; nothing is collected to the
driver except the 1-row convergence check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cachescope import free_local_checkpoint, scoped_local_checkpoint, scoped_persist
from ..functions import local_rows_df
from ..registry import register
from ..sources import table
from .dedup import (  # noqa: F401
    _JACCARD_N,
    _JACCARD_T,
    _can_shingle,
    _ngram_jaccard_pairs_direct,
    collapse_exact,
    dedup_ngram_jaccard,
)

_MAX_ITERS = 20

_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM toks),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(count(*) AS DOUBLE)
             / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= {_JACCARD_T}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach AS (
      WITH RECURSIVE r(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      SELECT * FROM r)
    SELECT d.doc_id,
           least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
    GROUP BY d.doc_id
"""


def cluster_documents(docs: DataFrame) -> DataFrame:
    """Near-dup connected components over an arbitrary (doc_id, text)
    frame via the collapse-first pipeline: exact-dup groups are
    collapsed to representatives, min-label propagation runs over the
    REP-level Jaccard pair graph only, and labels are then expanded
    through the exact groups with one membership join — member-level
    pairs are never materialized.  A verbatim-duplicated corpus (the
    case dedup exists for) therefore costs one fingerprint group-by on
    top of the unique-text clustering, instead of multiplying every
    pair — and every propagation state — by k²; driver/executor state
    is bounded by the UNIQUE-text graph, not the duplicate blow-up.

    Label expansion is exact: identical texts have identical shingle
    sets, so a member's component is its rep's component, and the min
    doc_id of any component is always a rep id (each member's rep has a
    ≤ id in the same component).  Shingle-less groups (texts under n
    tokens) share no inverted-index key in the direct pipeline — even
    verbatim copies stay singletons — so their members keep their own
    doc_id as cluster_id.

    Expansion cost is proportional to the DUPLICATED subset, not the
    corpus: a rep's propagated label is already its final cluster_id
    (a non-shingleable rep never pairs, so propagation left it at its
    own id — exactly the singleton rule above), so ``rep_labels``
    passes through untouched and only the dup groups' NON-rep members
    need the membership joins.  On a mostly-unique corpus (the r9
    bench regression: two corpus-sized joins + the weight filter cost
    +71% on 8 dup docs in 5000) those joins carry a handful of rows —
    AQE broadcast-joins them — while a verbatim-saturated corpus
    degrades gracefully to the same shuffle expansion as before."""
    reps, members = collapse_exact(docs)
    rep_pairs = _ngram_jaccard_pairs_direct(
        reps.select("doc_id", "text"), _JACCARD_T
    ).select("a_id", "b_id")
    rep_labels = propagate_min_labels(reps.select("doc_id"), rep_pairs)
    # the shingle-capability test only matters for DUPLICATED groups (a
    # weight-1 member IS its rep, whose propagated label is already
    # right either way), so the extra tokenize pass touches only
    # weight>1 reps — an empty scan on a dup-free corpus
    dup_can = _can_shingle(reps.filter(F.col("weight") > 1))
    dup_nonrep = members.filter(
        (F.col("weight") > 1) & (F.col("doc_id") != F.col("rep_id"))
    )
    fixed = (
        dup_nonrep.join(
            rep_labels.withColumnRenamed("doc_id", "rep_id"), "rep_id"
        )
        .join(dup_can, "rep_id", "left")
        .select(
            "doc_id",
            F.when(
                F.coalesce(F.col("can_shingle"), F.lit(False)),
                F.col("cluster_id"),
            )
            .otherwise(F.col("doc_id"))
            .alias("cluster_id"),
        )
    )
    return rep_labels.unionByName(fixed)


@register("dedup_clusters", bench=True, oracle=_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the exact Jaccard
    pair graph; cluster_id = smallest doc_id in the component (singleton
    docs are their own cluster). Collapse-first label propagation in
    Spark (see cluster_documents) vs a recursive-CTE transitive closure
    over the DIRECT pair graph in the oracle — each driver round
    re-proves collapsed == direct."""
    return cluster_documents(table(spark, sf_dir, "documents"))


@register(
    "dedup_clusters_collapsed",
    oracle=f"""
    WITH clusters AS ({_ORACLE}),
    grp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    gs AS (SELECT fp, min(doc_id) AS rep_id, count(*) AS exact_group_size
           FROM grp GROUP BY fp)
    SELECT c.doc_id, c.cluster_id, gs.rep_id, gs.exact_group_size
    FROM clusters c
    JOIN grp ON grp.doc_id = c.doc_id
    JOIN gs ON gs.fp = grp.fp
    """,
)
def dedup_clusters_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collapse-expand cluster pipeline with its internal structure
    exposed: per doc, the near-dup cluster_id PLUS the exact-group
    representative it was collapsed through and that group's size.
    The oracle computes cluster_id from the DIRECT (un-collapsed)
    transitive closure and the groups independently from md5(text), so
    a green row is a standing proof that collapsing exact duplicates
    before pair enumeration changes nothing about the cluster sets —
    the invariant the 100 TB pipeline relies on when it skips verbatim
    copies in the shingler."""
    docs = table(spark, sf_dir, "documents")
    reps, members = collapse_exact(docs)
    rep_pairs = _ngram_jaccard_pairs_direct(
        reps.select("doc_id", "text"), _JACCARD_T
    ).select("a_id", "b_id")
    rep_labels = propagate_min_labels(reps.select("doc_id"), rep_pairs)
    dup_can = _can_shingle(reps.filter(F.col("weight") > 1))
    return (
        members.join(
            rep_labels.withColumnRenamed("doc_id", "rep_id"), "rep_id"
        )
        .join(dup_can, "rep_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("weight") == 1)
                | F.coalesce(F.col("can_shingle"), F.lit(False)),
                F.col("cluster_id"),
            )
            .otherwise(F.col("doc_id"))
            .alias("cluster_id"),
            "rep_id",
            F.col("weight").alias("exact_group_size"),
        )
    )


# Driver union-find fast path: below this edge count the closure
# collects the (already duplicate-count-sized) edge list and resolves
# components in one job instead of O(log d) latency-bound rounds.
# 500k edge rows ≈ 8 MB over the wire — the same bounded-collect
# discipline as dedup._PROBE_BROADCAST_CAP; above it, the distributed
# loop below runs unchanged (at 100 TB a duplicate graph can carry
# billions of edges, and nothing here assumes otherwise).  Equality of
# the two paths is pytest-locked (test_dedup_similarity).
_CC_DRIVER_EDGE_CAP = 500_000


def _driver_union_find(edge_rows, spark, schema) -> DataFrame:
    """Exact min-label components over a collected edge list (includes
    the self-loop rows, so every node appears).  Union-find with path
    compression; the component label is the minimum member id — the
    same fixed point the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min keeps the root the component minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(x, find(x)) for x in parent]
    return local_rows_df(spark, out, schema)


def propagate_min_labels(
    docs: DataFrame, pairs: DataFrame, max_iters: int = _MAX_ITERS
) -> DataFrame:
    """Connected components by min-label propagation over an undirected
    pair graph; raises (never returns silently-wrong labels) if the
    graph's diameter exceeds the iteration bound.  Graphs at or under
    ``_CC_DRIVER_EDGE_CAP`` edge rows short-circuit through a driver
    union-find (identical labels, one job); the loop below is the
    at-scale path.

    Every node in ``docs`` gets a SELF-LOOP edge, so one
    join-and-aggregate computes ``label(u) = min(label(u), min over
    neighbors)``; since r14 each round ALSO takes the pointer jump
    ``L(L(u))`` (hash-to-min), so convergence is O(log diameter)
    checkpoint jobs instead of diameter+1 — the loop is LATENCY-bound
    (tiny label frames, ~1 job per round), so serial round count is
    the whole cost: an 11-round chain closure dropped to 5 rounds at
    sf0.1, and a web-scale duplicate chain of diameter 1000 costs ~11
    rounds instead of ~1001.  Contract: ``pairs`` endpoints must be ⊆
    ``docs`` (all callers build nodes explicitly), otherwise unknown
    endpoints would gain label rows via their incoming edges.

    Convergence probe: labels are positive and componentwise
    NON-INCREASING under min-propagation, so the label-vector sum is
    strictly decreasing until the fixed point — the probe compares
    consecutive sums (exact decimal(38,0) — no float rounding, no
    int64 overflow at any realistic id range) riding the SAME job
    that materializes the generation (df.observe): no old-vs-new
    column, no extra action."""
    # Undirect the pair graph with a row-local explode, NOT a union of
    # the frame with its own reversal: a union duplicates the (possibly
    # very expensive) pairs subplan into both branches and executes it
    # twice — measured 2× the whole Jaccard pipeline on the first
    # materialization.  The explode reads the pairs once; the node
    # self-loops are one cheap extra branch over `docs`.
    edges = scoped_persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
                    F.struct(F.col("b_id").alias("u"), F.col("a_id").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .unionByName(
            docs.select(F.col("doc_id").alias("u"), F.col("doc_id").alias("v"))
        )
    )
    # Size the loop's parallelism to the graph, not the session: after
    # successful dedup the touched graph is duplicate-count-sized
    # (hundreds of rows at bench scale), and running every round's
    # join/agg across the full default partition fan-out makes the
    # latency-bound loop pay ~32 task launches per stage for rows that
    # fit in one (measured ~1 s/round in-context vs ~0.25 s isolated).
    # The count() also eagerly materializes the edges cache, so the
    # first round's job no longer carries the whole upstream pairs
    # pipeline.  At real scale the clamp is a no-op: 1M+ edge rows per
    # partition keeps the session's parallelism.
    n_edges = edges.count()
    if n_edges <= _CC_DRIVER_EDGE_CAP:
        # The latency-dominant case: a post-dedup touched graph is
        # duplicate-count-sized (hundreds of rows at bench scale), and
        # even O(log d) checkpoint rounds cost ~1-2 s EACH in fixed
        # job latency — 8 rounds of scheduling for microseconds of
        # arithmetic.  One bounded collect + union-find replaces the
        # whole loop (measured: mm_video_dedup 21 s → ~6 s at sf0.1).
        from pyspark.sql import types as T

        id_type = docs.schema["doc_id"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        return _driver_union_find(
            [(r[0], r[1]) for r in edges.collect()], docs.sparkSession, schema
        )
    cur_parts = edges.rdd.getNumPartitions()
    want = max(1, min(cur_parts, n_edges // 1_000_000 + 1))
    if want < cur_parts:
        edges = scoped_persist(edges.coalesce(want))

    labels = docs.select(F.col("doc_id"), F.col("doc_id").alias("cluster_id"))
    first_labels = labels
    converged = False
    prev_sum = None
    # NOTE: part_pagerank's loop adds a broadcast hint + AQE toggle; here
    # they were measured NEUTRAL-to-negative (the label table is doc-
    # count-sized — broadcasting 500k labels per iteration costs what
    # the join saves, and the loop is 2-4 iterations, not 16), so this
    # loop stays plain.
    for i in range(max_iters):  # O(log d) rounds with the label jump below
        obs = Observation(f"cc_sum_{i}")
        # POINTER JUMP (hash-to-min, Rastogi et al.): after the
        # neighbor-min aggregate, follow the winner's OWN label —
        #   L'(u) = min(nbr(u), L(nbr(u))),  nbr(u) = min over N(u) of L(v)
        # — neighbor-min alone needs diameter+1 serial rounds (a
        # 10-long near-dup chain = 11 checkpoint jobs; the loop is
        # LATENCY-bound, ~1 s/job ambient in r14's measurements),
        # while the jump collapses label chains doubling-fast:
        # path-33 closes in 7 rounds instead of 33.  Correctness
        # invariants are unchanged — nbr(u) <= L(u) via the self-loop,
        # nbr(u) and L(nbr(u)) are both ids inside u's component, so
        # labels remain componentwise non-increasing (the convergence
        # probe's premise), and at the fixed point labels are
        # edge-constant with L(m)=m, which forces the component
        # minimum.  The jump is a second join but on the POST-AGGREGATE
        # frame (doc-count-sized, broadcastable) and the edges⋈labels
        # join is byte-identical to the pre-jump shape — an edges-side
        # UNION variant was measured to break the cached-edges plan
        # substitution and re-run the whole upstream pairs pipeline
        # every round (dedup_clusters 1.6 s -> 4.0 s).
        nbr = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        jmp = labels.select(
            F.col("doc_id").alias("_jd"), F.col("cluster_id").alias("_jc")
        )
        stepped = (
            nbr.join(jmp, nbr.nmin == jmp._jd)
            .select(
                "doc_id", F.least("nmin", "_jc").alias("cluster_id")
            )
            .observe(
                obs,
                F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("lsum"),
            )
        )
        # Checkpoint, not persist: each generation's plan references the
        # previous one, so the logical tree grows per iteration —
        # lineage truncation keeps plan analysis O(1) per step all the
        # way to the iteration bound.  Eager, so the same job fires the
        # observation (and the CollectMetrics node can never be skipped
        # by cached-plan substitution — a checkpoint is always a fresh
        # execution).
        new_labels = scoped_local_checkpoint(stepped)
        lsum = obs.get["lsum"]
        if labels is not first_labels:
            free_local_checkpoint(labels)
        labels = new_labels
        # A NULL sum means zero label rows (empty corpus/batch): the
        # fixed point is trivially reached — treating it as "not yet
        # converged" would burn max_iters jobs and then raise, because
        # NULL == NULL never compares equal.
        if lsum is None or (prev_sum is not None and lsum == prev_sum):
            converged = True
            break
        prev_sum = lsum
    if not converged:
        raise RuntimeError(
            f"propagate_min_labels: did not converge in {max_iters} "
            f"iterations (pair-graph diameter exceeds bound)"
        )
    return labels


@register(
    "dedup_cluster_stats",
    oracle=f"""
    WITH clusters AS ({_ORACLE})
    SELECT count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           count(*) - count(DISTINCT cluster_id) AS n_redundant
    FROM clusters
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup summary: how many docs survive cluster-level
    dedup (keep one representative per component)."""
    c = dedup_clusters(spark, sf_dir)
    return c.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        (F.count(F.lit(1)) - F.countDistinct("cluster_id")).alias("n_redundant"),
    )


# -- persisted pair-graph path (the 100 TB shape) -----------------------


def build_pair_table(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the exact Jaccard pair graph once per corpus snapshot.

    At 100 TB the pair computation (shingle + prefix-filter self-join)
    is the expensive step, and it is write-once: clustering, cluster
    stats, audits, and incremental merges all re-read the tiny
    (a_id, b_id, jaccard) rows instead of re-shingling document bodies.
    Same discipline as dedup.build_fingerprint_table."""
    from .dedup import dedup_ngram_jaccard

    dedup_ngram_jaccard(spark, sf_dir).write.mode("overwrite").parquet(out_path)


def dedup_clusters_prepared(
    spark: SparkSession, docs: DataFrame, pairs_path: str
) -> DataFrame:
    """Connected components from a PREBUILT pair table: label
    propagation starts at the persisted graph — no shingling, no
    similarity self-join. Cold-start cost drops from O(corpus scan +
    pair join) to O(pairs), which is what makes re-clustering after
    every corpus append viable.  Caller contract (inherited from
    propagate_min_labels' self-loop formulation): the pair table's
    endpoints must all appear in ``docs`` — i.e. the table was built
    from this corpus snapshot or an earlier one."""
    pairs = spark.read.parquet(pairs_path).select("a_id", "b_id")
    return propagate_min_labels(docs, pairs)


class IncrementalClusters:
    """Persisted near-dup cluster state with O(batch + touched
    clusters) admission — the corpus-lifecycle form of
    ``cluster_documents``: a rolling crawl admits each batch WITHOUT
    re-shingling or re-clustering the corpus.

    State = a versioned (doc_id, cluster_id) labels table plus the
    write-once shingle inverted index (``dedup.build_shingle_index``).
    ``admit(new_docs)``:

    1. batch-internal exact-Jaccard pairs via the collapse-first
       pipeline (cost: the batch);
    2. batch-vs-corpus pairs by probing the persisted index — shingle
       only the batch, join it onto one pass over the index (broadcast
       while the batch's shingle rows fit under _PROBE_BROADCAST_CAP,
       shuffle join on the shingle key above it — batch size is never
       capped by executor memory), count shared shingles per
       (new, old) pair and verify Jaccard exactly from the stored set
       sizes (corpus text is never re-read);
    3. merge on a SUPERNODE mini-graph: nodes are the batch doc ids
       plus the touched old cluster LABELS, edges are the pairs from
       (1) and (2) with the old endpoint mapped to its label.  Because
       every stored label is the min doc id of its cluster (the
       propagate_min_labels invariant, preserved inductively across
       admissions), min-label propagation over this mini-graph yields
       the true min-id label of every merged component — including the
       case where one new document BRIDGES two old clusters;
    4. commit: remap the touched old labels, append the batch labels,
       append the batch's shingle rows to the index.

    The labels table is a PartitionedVersionedTable bucketed by
    pmod(xxhash64(cluster_id), 64) — the Scd2History discipline — and
    every row is stored in its CURRENT cluster's bucket (the admit
    commit moves relabeled rows), so an admission reads only the
    remapped old labels' buckets and rewrites only those plus the new
    labels' buckets.  The holding scan is skipped via upsert's
    extra_touched — the remap IS the proof of where moved keys live.
    A SECOND layout of the same rows, bucketed by pmod(xxhash64(
    doc_id), 64), serves the admission's old-id→label lookup: the
    probed old ids' doc-buckets are the only labels data an admission
    READS, so I/O is O(batch + touched buckets) end-to-end — never a
    corpus-wide labels scan or rewrite (full-read-free admission is
    asserted in tests).  The secondary commits after the primary; its
    marker records the labels version it reflects, and a crash in the
    window between the two commits is healed by the next admission's
    one-pass rebuild from the committed primary.

    Crash-safety: the shingle index is a set of version-named COMMITTED
    segments (`seg_v<n>`, `_SUCCESS` last — torn writes are invisible),
    one per labels version, and ``admit`` writes the batch's segment
    BEFORE committing its labels version, skipping the segment write if
    a previous attempt already committed it.  Admission is therefore
    deterministic-idempotent against a crash at any point before the
    labels commit; a REPLAY after the labels commit is the one case the
    caller must fence (the streaming sink below does, with the same
    marker protocol as matview_apply_stream).

    Exactness (admitted == full re-clustering) is locked by the
    driver-checked ``dedup_clusters_incremental_q`` (full-corpus
    recursive-closure oracle) and a multi-batch bridge-merge pytest."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        from ..versioned import PartitionedVersionedTable

        self.spark = spark
        self.path = path
        self.index_path = os.path.join(path, "shingle_index")
        os.makedirs(self.index_path, exist_ok=True)
        self._labels = PartitionedVersionedTable(
            spark, os.path.join(path, "labels"), "bkt"
        )
        # Secondary label layout bucketed by DOC id (the primary is
        # bucketed by CLUSTER id): the admission's old-id→label lookup
        # reads only the probed old ids' doc-buckets instead of the
        # whole labels table.  dbkt is a pure function of doc_id, so
        # its upserts skip the holding scan (partition_from_key).
        self._by_doc = PartitionedVersionedTable(
            spark, os.path.join(path, "labels_by_doc"), "dbkt"
        )
        self._by_doc_marker = os.path.join(path, "labels_by_doc", "_synced.json")

    _N_BUCKETS = 64
    # Index-probe sides above this row count shuffle-join instead of
    # broadcasting (the index is already shingle-keyed): a huge
    # admission batch must not be silently capped by executor memory.
    _PROBE_BROADCAST_CAP = 1_000_000

    @classmethod
    def _bkt(cls, cluster_col) -> F.Column:
        return F.pmod(F.xxhash64(F.col(cluster_col)), F.lit(cls._N_BUCKETS)).cast(
            "int"
        )

    @classmethod
    def _dbkt(cls, doc_col) -> F.Column:
        return F.pmod(F.xxhash64(F.col(doc_col)), F.lit(cls._N_BUCKETS)).cast("int")

    # -- doc-bucketed secondary labels ---------------------------------

    def _by_doc_version(self) -> int:
        import json
        import os

        if not os.path.exists(self._by_doc_marker):
            return -1
        with open(self._by_doc_marker) as fh:
            return int(json.load(fh)["labels_version"])

    def _mark_by_doc(self, labels_version: int) -> None:
        import json
        import os

        tmp = self._by_doc_marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"labels_version": int(labels_version)}, fh)
        os.replace(tmp, self._by_doc_marker)

    def _sync_by_doc(self) -> None:
        """Bring the doc-bucketed secondary in line with the primary.
        The marker records which labels version the secondary reflects;
        a mismatch (crash between the labels commit and the secondary
        commit — the one unprotected window) rebuilds the secondary
        from the primary in one full pass.  Steady state is a marker
        read; the O(corpus) rebuild is crash-recovery only."""
        latest = self._latest()
        if latest and self._by_doc_version() != latest:
            self._by_doc.write_full(
                self._labels.read()
                .select("doc_id", "cluster_id")
                .withColumn("dbkt", self._dbkt("doc_id"))
            )
            self._mark_by_doc(latest)

    def _latest(self) -> int:
        vs = self._labels.versions()
        return vs[-1] if vs else 0

    # -- committed index segments ------------------------------------

    def _seg_dir(self, version: int) -> str:
        import os

        return os.path.join(self.index_path, f"seg_v{version:08d}")

    def _segments(self) -> list[str]:
        import os

        out = []
        for name in sorted(os.listdir(self.index_path)):
            p = os.path.join(self.index_path, name)
            if name.startswith("seg_v") and os.path.exists(
                os.path.join(p, "_SUCCESS")
            ):
                out.append(p)
        return out

    def _read_index(self) -> DataFrame:
        return self.spark.read.parquet(*self._segments())

    def _write_segment(self, version: int, docs: DataFrame) -> None:
        """Commit docs' (doc_id, shingle, n_sh) rows as the segment
        accompanying labels `version`; a no-op if that segment already
        committed (a replayed attempt)."""
        import os

        from .dedup import _shingle_rows

        seg = self._seg_dir(version)
        if os.path.exists(os.path.join(seg, "_SUCCESS")):
            return
        ex = _shingle_rows(docs)
        n_tab = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        ex.join(n_tab, "doc_id").write.mode("overwrite").parquet(seg)

    def build(self, docs: DataFrame) -> int:
        """Initial state: full collapse-first clustering + the corpus
        shingle index as the first committed segment (plus the
        doc-bucketed secondary labels layout, synced from the
        primary)."""
        next_v = self._latest() + 1
        self._write_segment(next_v, docs)
        v = self._labels.write_full(
            cluster_documents(docs).withColumn("bkt", self._bkt("cluster_id"))
        )
        self._sync_by_doc()
        return v

    def labels(self) -> DataFrame:
        return self._labels.read().select("doc_id", "cluster_id")

    def admit(self, new_docs: DataFrame) -> int:
        """Fold a batch into the cluster state; returns the committed
        labels version.  I/O is O(batch + touched buckets) end-to-end:
        the index probe broadcasts the batch's shingle rows only under
        ``_PROBE_BROADCAST_CAP`` (above it, a shuffle join on the
        already-shingle-keyed index — batch size is never capped by
        executor memory), and the old-id→label resolution reads only
        the probed ids' buckets of the doc-bucketed secondary labels
        layout, never the corpus labels whole."""
        from .dedup import _shingle_rows, ngram_jaccard_pairs

        self._sync_by_doc()
        next_v = self._latest() + 1
        batch_pairs = ngram_jaccard_pairs(new_docs, _JACCARD_T).select(
            "a_id", "b_id"
        )
        nb = _shingle_rows(new_docs)
        n_tab = nb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
        probe_side = scoped_persist(
            nb.join(n_tab, "doc_id").select(
                F.col("doc_id").alias("new_id"), "shingle", "n_a"
            )
        )
        # size-guarded broadcast: the probe side is batch-shingle-sized,
        # and a rolling crawl's batch can be arbitrarily large
        self._last_probe_broadcast = (
            probe_side.count() <= self._PROBE_BROADCAST_CAP
        )
        probe = (
            F.broadcast(probe_side) if self._last_probe_broadcast else probe_side
        )
        idx = self._read_index()
        inter = (
            idx.join(probe, "shingle")
            .groupBy("new_id", F.col("doc_id").alias("old_id"))
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.any_value("n_a").alias("n_a"),
                F.any_value("n_sh").alias("n_b"),
            )
        )
        jac = F.col("inter").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("inter")
        )
        cross = scoped_persist(
            inter.filter(jac >= _JACCARD_T).select("new_id", "old_id")
        )

        # old-id→label via the doc-bucketed secondary: only the buckets
        # that can hold a probed old id are read (≤ _N_BUCKETS paths,
        # each 1/_N_BUCKETS of the corpus), so lookup I/O is bounded by
        # the batch's touch set — the bucket-id collect is ≤ _N_BUCKETS
        # rows
        old_dbkts = sorted(
            {
                str(r.b)
                for r in cross.select(self._dbkt("old_id").alias("b"))
                .distinct()
                .collect()
            }
        )
        if old_dbkts:
            lookup = self._by_doc.read_partitions(old_dbkts).select(
                "doc_id", "cluster_id"
            )
        else:
            lookup = local_rows_df(
                self.spark, [], "doc_id bigint, cluster_id bigint"
            )
        cross_lab = (
            cross.join(lookup, cross.old_id == lookup.doc_id)
            .select(F.col("new_id").alias("a_id"), F.col("cluster_id").alias("b_id"))
        )
        mini_edges = scoped_persist(batch_pairs.unionByName(cross_lab))
        n_edges = mini_edges.count()
        if n_edges == 0:
            # every batch doc is its own (new) cluster and no old label
            # moves: skip the propagation loop entirely — its >=2
            # checkpointed jobs are pure fixed floor on edgeless batches
            mini = new_docs.select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            )
            self._last_mini_mode = "edgeless"
        else:
            # r11 A/B: a driver-side union-find over the collected mini
            # graph measured consistently SLOWER here (13.9-15.4 s vs
            # 11.9-13.6 s interleaved at sf0.1) — the checkpointed
            # propagation result is cheap for the three downstream
            # consumers to reuse, while a local-relation plan re-runs
            # its lineage; so the supernode merge stays distributed
            touched = mini_edges.select(
                F.col("b_id").alias("doc_id")
            ).unionByName(mini_edges.select(F.col("a_id").alias("doc_id"))).distinct()
            nodes = new_docs.select("doc_id").unionByName(touched).distinct()
            mini = propagate_min_labels(nodes, mini_edges)
            self._last_mini_mode = "distributed"

        # remap rows are batch-bounded (≤ the mini-graph's old-label
        # nodes), so collecting their bucket ids is a driver-tiny list.
        # BATCH doc nodes are excluded: a batch id cannot be an existing
        # corpus cluster label (ids are new by contract), yet before r11
        # every merged batch doc rode into remap — inflating the
        # upsert's extra_touched bucket set toward all 64 and the held
        # relabel read with it
        remap = (
            mini.filter(F.col("doc_id") != F.col("cluster_id"))
            .join(new_docs.select("doc_id"), "doc_id", "left_anti")
            .select(
                F.col("doc_id").alias("old_label"),
                F.col("cluster_id").alias("new_label"),
            )
        )
        remap_rows = remap.select(
            "old_label", "new_label", self._bkt("old_label").alias("old_bkt")
        ).collect()
        old_bkts = sorted({str(r.old_bkt) for r in remap_rows})
        old_labels = [r.old_label for r in remap_rows]

        # rows holding a remapped label live EXACTLY in the old labels'
        # buckets (every row is stored in its current cluster's bucket),
        # so the relabel reads only those partitions
        relabeled = local_rows_df(
            new_docs.sparkSession, [], "doc_id bigint, cluster_id bigint"
        )
        if remap_rows:
            held = (
                self._labels.read_partitions(old_bkts)
                .select("doc_id", "cluster_id")
                .filter(F.col("cluster_id").isin(old_labels))
            )
            relabeled = held.join(
                remap, held.cluster_id == remap.old_label
            ).select("doc_id", F.col("new_label").alias("cluster_id"))
        new_labels = new_docs.select("doc_id").join(mini, "doc_id").select(
            "doc_id", "cluster_id"
        )
        # persisted so the primary and secondary commits share one
        # materialization instead of re-running the admission pipeline
        updates = scoped_persist(relabeled.unionByName(new_labels))
        # segment first, labels second: a crash anywhere before the
        # labels commit replays as a deterministic no-op-then-retry
        # (the committed segment is skipped, the labels recompute
        # identically); after the labels commit the caller's batch
        # fence takes over.  The doc-bucketed secondary commits LAST —
        # a crash between the two upserts leaves the marker stale and
        # the next admission's _sync_by_doc rebuilds it from the
        # committed primary.
        self._write_segment(next_v, new_docs)
        v = self._labels.upsert(
            updates.withColumn("bkt", self._bkt("cluster_id")),
            "doc_id",
            extra_touched=old_bkts,
        )
        self._by_doc.upsert(
            updates.withColumn("dbkt", self._dbkt("doc_id")),
            "doc_id",
            partition_from_key=True,
        )
        self._mark_by_doc(v)
        return v


def _make_cluster_sink(state: IncrementalClusters):
    """Idempotent foreachBatch sink for streaming cluster admission
    (exposed for the crash-replay tests).  Same marker protocol as
    matview_apply_stream: the last fully-admitted batch_id + labels
    version are recorded atomically after each admit; replays of a
    tagged batch are skipped, and a labels version NEWER than the
    marker identifies the one batch whose admit committed before the
    marker write crashed (admit itself is idempotent against any
    earlier crash — see IncrementalClusters)."""
    import json
    import os

    marker = os.path.join(state.path, "_stream_batch.json")

    def _last() -> dict:
        if not os.path.exists(marker):
            return {"batch_id": -1, "version": 0}
        with open(marker) as f:
            return json.load(f)

    def _mark(batch_id: int, version: int) -> None:
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": int(batch_id), "version": int(version)}, f)
        os.replace(tmp, marker)

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        b = int(batch_id)
        m = _last()
        if b <= m["batch_id"]:
            return
        latest = state._latest()
        if latest > m["version"]:
            _mark(b, latest)
            return
        if batch_df.isEmpty():
            return
        _mark(b, state.admit(batch_df))

    _sink._mark = _mark  # the stream wrapper writes the baseline
    return _sink


def admit_clusters_stream(
    spark: SparkSession, source_dir: str, state_path: str, checkpoint_dir: str
):
    """Streaming near-dup cluster maintenance: a file stream of
    (doc_id, text) batches folds into a prebuilt IncrementalClusters
    state via foreachBatch — per micro-batch cost is the admission's
    O(batch + touched clusters), the labels table stays continuously
    queryable (versioned snapshots), and the batch-id marker makes the
    fold exactly-once under foreachBatch's at-least-once redelivery.
    Returns the ready DataStreamWriter (caller .start()s it)."""
    import os

    state = IncrementalClusters(spark, state_path)
    sink = _make_cluster_sink(state)
    if not os.path.exists(os.path.join(state_path, "_stream_batch.json")):
        sink._mark(-1, state._latest())
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


_CLINC_SEQ = 0  # per-process invocation counter for fresh state dirs


@register("dedup_clusters_incremental_q", oracle=_ORACLE)
def dedup_clusters_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end incremental clustering: build the
    cluster state on the corpus split (sources outside the batch set),
    ADMIT the batch split through the persisted state (batch-only
    shingling, index probe, supernode merge), and return the final
    labels of the whole corpus.  The oracle is the full-corpus
    recursive-closure clustering, so a green row proves admitted ==
    re-clustered exactly — bridges, merges, and shingle-less singleton
    edge cases included."""
    import shutil

    from .dedup import _BATCH_SRCS, _artifact_tmp

    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source").isin(*_BATCH_SRCS)).select("doc_id", "text")
    corpus = d.filter(~F.col("source").isin(*_BATCH_SRCS)).select("doc_id", "text")
    # a FRESH state dir per invocation (monotonic suffix), never
    # wipe-and-reuse: a long-lived session may still hold cached plans
    # over a previous run's file paths, and rebuilding under the same
    # paths after deleting them invites reads of vanished files.  The
    # previous invocation's dir is removed afterwards instead.
    global _CLINC_SEQ
    _CLINC_SEQ += 1
    path = _artifact_tmp(f"clinc{_CLINC_SEQ}", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    if _CLINC_SEQ > 1:
        shutil.rmtree(
            _artifact_tmp(f"clinc{_CLINC_SEQ - 1}", sf_dir), ignore_errors=True
        )
    state = IncrementalClusters(spark, path)
    state.build(corpus)
    state.admit(batch)
    return state.labels()


# ---------------------------------------------------------------------------
# Weighted PageRank (quantized) over the part co-purchase graph
# ---------------------------------------------------------------------------

_PR_MAX_ITERS = 16  # oracle unroll depth = the iteration cap
_PR_SCALE = 1_000_000  # ranks in integer micro-units


def _copurchase_edges_sql() -> str:
    """DuckDB CTEs for the weighted co-purchase graph: nodes = parts,
    edge weight = number of orders containing both parts.  MATERIALIZED
    hints matter: the unrolled PageRank references `edges`/`wsum` in
    every step, and without them DuckDB re-inlines the co-purchase
    self-join per step (measured 3.5× slower at 16 steps)."""
    return """
    items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    edges AS MATERIALIZED (SELECT u, v, w FROM pairs UNION ALL SELECT v, u, w FROM pairs),
    wsum AS MATERIALIZED (SELECT u, sum(w) AS ws FROM edges GROUP BY u)
    """


def _pagerank_oracle() -> str:
    """Unrolled quantized PageRank: ranks live in integer micro-units,
    every neighbor contribution is an integer floor-division
    (r·w) // ws, and the damping update is integer arithmetic — so the
    partial-agg merge order can't shift a single bit and the SQL
    re-derivation matches Spark exactly (the embeddings_kmeans oracle
    discipline, applied to graph centrality).

    Unrolled to _PR_MAX_ITERS steps — the Spark side's iteration CAP.
    The Spark loop may stop earlier, but only on an EXACT integer fixed
    point (rank vector identical to the previous iteration's), and the
    update is a deterministic function of the rank vector, so every
    further unrolled oracle step maps the fixed point to itself:
    r_cap == r_converged bit-for-bit, whatever iteration convergence
    lands on."""
    s = _PR_SCALE

    def step(prev: str, out: str) -> str:
        return f"""
    c_{out} AS (
      SELECT e.v AS node, sum(({prev}.r * e.w) // ws.ws) AS c
      FROM edges e
      JOIN {prev} ON {prev}.node = e.u
      JOIN wsum ws ON ws.u = e.u
      GROUP BY e.v),
    {out} AS (
      SELECT n.node, CAST({s} * 15 // 100 + 85 * coalesce(c_{out}.c, 0) // 100 AS BIGINT) AS r
      FROM (SELECT DISTINCT u AS node FROM edges) n
      LEFT JOIN c_{out} ON c_{out}.node = n.node)"""

    steps = ",\n".join(
        step(f"r{i}", f"r{i + 1}") for i in range(_PR_MAX_ITERS)
    )
    return f"""
    WITH {_copurchase_edges_sql()},
    r0 AS (SELECT DISTINCT u AS node, CAST({s} AS BIGINT) AS r FROM edges),
    {steps}
    SELECT node AS part_id, r AS rank_micro,
           round(CAST(r AS DOUBLE) / {s}, 6) AS pagerank
    FROM r{_PR_MAX_ITERS}
    """


@register("part_pagerank", oracle=_pagerank_oracle())
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-purchase graph — the graph-
    centrality twin of `dedup_clusters`' connected components: which
    products sit at the center of the co-purchase network (assortment /
    recommendation seeding).  Damping 0.85, CONVERGENCE-DRIVEN: iterate
    until the integer rank vector reaches an exact fixed point (zero
    micro-unit change — the observe-ridden probe from
    propagate_min_labels), capped at _PR_MAX_ITERS, which is also the
    oracle's unroll depth.  The exact-fixed-point exit (never an ε > 0
    one) is what keeps early exit ORACLE-SAFE: a fixed point is mapped
    to itself by every further unrolled oracle step, so the cap-depth
    oracle equals the converged Spark result bit-for-bit.  The realized
    iteration count is published as ``part_pagerank.last_iters``
    (convergence asserted in tests/test_dedup_similarity.py).

    Scale shape per iteration: one edge-keyed join against the rank
    table + one aggregation — the same bounded-key shuffles as label
    propagation; edge and weight tables build once (scope-persisted)
    from a single co-purchase aggregation whose fan-out is C(k,2) per
    order with k ≤ ~7; superseded rank generations unpersist as soon as
    the next lands.  Cross-engine exactness: ranks are integer
    micro-units, contributions integer floor-divisions, damping integer
    arithmetic — associative, partial-agg-order-free."""
    from ..cachescope import scoped_persist

    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = scoped_persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v"), F.col("w")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")),
                )
            ).alias("e")
        ).select("e.u", "e.v", "e.w")
    )
    wsum = edges.groupBy("u").agg(F.sum("w").alias("ws"))
    ew = scoped_persist(edges.join(wsum, "u"))
    nodes = edges.select(F.col("u").alias("node")).distinct()
    s = _PR_SCALE
    ranks = scoped_persist(nodes.withColumn("r", F.lit(s).cast("bigint")))
    first_ranks = ranks
    # Checkpointed generations are LogicalRDDs with NO size statistics,
    # so Catalyst falls back to sort-merge — sorting the full edge table
    # EVERY iteration (measured: the whole loop's cost).  The rank table
    # is node-count-sized; broadcast it explicitly while it fits (a
    # billion-node graph drops the hint and shuffle-joins, same code
    # path) — n_nodes is already on the driver from the edges build.
    n_nodes = nodes.count()
    hint = F.broadcast if n_nodes <= 10_000_000 else (lambda df: df)

    def step(prev: DataFrame) -> DataFrame:
        contrib = (
            ew.join(hint(prev), ew.u == prev.node)
            .select(F.col("v").alias("node"), F.expr("(r * w) div ws").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        return (
            prev.withColumnRenamed("r", "__old")
            .join(hint(contrib), "node", "left")
            .select(
                "node",
                F.col("__old"),
                F.expr(
                    f"CAST({s} * 15 div 100 + 85 * coalesce(c, 0) div 100 AS BIGINT)"
                ).alias("r"),
            )
        )

    part_pagerank.last_iters = _PR_MAX_ITERS
    # AQE off for the loop: every iteration has the same tiny fixed-shape
    # plan, and AQE's per-shuffle re-optimization is pure latency here —
    # measured 0.86 → 0.53 s/iteration at sf0.1 together with the
    # broadcast hint.  Restored in the finally (harness lifecycles are
    # single-threaded query-at-a-time, see cachescope's module note).
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for i in range(_PR_MAX_ITERS):
            obs = Observation(f"pr_changed_{i}")
            stepped = step(ranks).observe(
                obs,
                F.sum((F.col("r") != F.col("__old")).cast("long")).alias("changed"),
            )
            # Checkpoint, not persist: the generation references `ranks`
            # twice (contrib + the delta join), so without lineage
            # truncation the plan tree doubles per iteration and the
            # 16-step loop OOMs the driver on plan analysis alone
            # (measured).  Eager checkpoint = one fresh job per
            # iteration that also fires the observation.
            new_ranks = scoped_local_checkpoint(stepped.select("node", "r"))
            changed = obs.get["changed"] or 0
            if ranks is not first_ranks:
                free_local_checkpoint(ranks)
            ranks = new_ranks
            if changed == 0:  # exact integer fixed point — oracle-safe exit
                part_pagerank.last_iters = i + 1
                break
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    return ranks.select(
        F.col("node").alias("part_id"),
        F.col("r").alias("rank_micro"),
        F.round(F.col("r").cast("double") / s, 6).alias("pagerank"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH clusters AS ({_ORACLE}),
    ranked AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, d.doc_id
             ) AS rk
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT cluster_id,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_id,
           count(*) AS n_docs,
           max(n_chars) AS max_chars
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over near-dup clusters: keep the BEST document
    per component (longest text, doc_id as the deterministic
    tie-break), not the arbitrary smallest id — the selection step a
    production pipeline runs after clustering (quality-weighted
    canonical copy).  One window over the cluster-keyed join; at 100 TB
    the quality column is whatever scorer the funnel produced
    (text_lm_score, length, source priority) — the plan shape is
    identical."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c = dedup_clusters(spark, sf_dir).join(docs, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("cluster_id")
    )


_TRI_MIN_SUP = 2  # co-purchase support threshold for an edge


@register(
    "part_triangles",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= {_TRI_MIN_SUP}),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node),
    o AS (  -- orient each edge from lower (degree, id) to higher
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM o e1
      JOIN o e2 ON e2.s = e1.t
      JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t),
    part_tri AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b AS node FROM tri UNION ALL
        SELECT c AS node FROM tri)
      GROUP BY node)
    SELECT CAST(node AS BIGINT) AS part, n_triangles, rnk FROM (
      SELECT node, n_triangles,
             row_number() OVER (ORDER BY n_triangles DESC, node) AS rnk
      FROM part_tri) WHERE rnk <= 20
    """,
)
def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts bought together
    in >= 2 orders), top-20 parts by triangle participation — the
    clustering-coefficient primitive for community/affinity mining.

    Scale strategy is the degree-ordered orientation (Schank-Wagner /
    Cohen's MapReduce form): every edge points from its lower-(degree,
    id) endpoint to the higher, so each triangle is enumerated EXACTLY
    once and the wedge join fans out from the LOW-degree side — total
    wedge volume is O(m^1.5) regardless of hubs (a naive u~v~w join is
    quadratic in the hottest degree).  Three shuffles (degree, wedge
    join, closure semi-join), all on node keys; AQE handles residual
    skew.  The tie-break on ids makes the orientation total, so the
    DuckDB oracle re-derives the identical triangle set."""
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("v")
    )
    e = (
        items.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("v"))
        .groupBy(F.col("l_partkey").alias("u"), "v")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUP)
        .select("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    from ..cachescope import scoped_persist

    o = scoped_persist(o)
    e2 = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    wedges = o.join(e2, o["t"] == e2["b"]).select(
        F.col("s").alias("a"), F.col("t").alias("b2"), "c"
    )
    closure = o.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = wedges.join(closure, ["a", "c"])
    part_tri = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b2").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    from .distwindow import global_row_number

    ranked, _ = global_row_number(
        part_tri, [F.col("n_triangles").desc(), F.col("node").asc()], "rnk"
    )
    return ranked.filter(F.col("rnk") <= 20).select(
        F.col("node").cast("bigint").alias("part"),
        "n_triangles",
        F.col("rnk").cast("int").alias("rnk"),
    )
