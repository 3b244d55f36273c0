"""Deduplication operators over the `documents` / `embeddings` tables —
exact, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine.

Scale design (the whole point of these at 100 TB):
* Exact dedup = hash-groupBy on a 128-bit content fingerprint — one
  shuffle keyed by the hash, trivially balanced.
* Near-dup never compares all pairs. Candidates come from an inverted
  index (shared shingle) or LSH band buckets; exact verification runs
  only on candidates. All joins are key-joins Catalyst can shuffle-hash.
  Hot shingles are the skew risk; the prefix filter keeps them out of
  candidate buckets and the MinHash min-aggregation is frequency-blind —
  both measured on an adversarial corpus in tests/test_dedup_skew.py.
* Signatures (minhash arrays, simhash bits) are built with built-in
  xxhash64/bit expressions — JVM codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cachescope import scoped_persist
from ..functions import local_rows_df, tokens
from ..registry import register
from ..sources import scratch_dir, table

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    At 100 TB this is the canonical single-shuffle dedup; hashing first
    means the shuffle carries 16-byte keys, not document bodies."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def collapse_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate documents to one representative per
    content fingerprint: the canonicalization pre-pass every near-dup
    stage should run FIRST.

    Returns ``(reps, members)``:

    * ``reps`` — one row per distinct text: ``(id_col, text_col,
      weight)`` where ``id_col`` is the smallest member id (so rep ids
      are stable and the min-label invariant below holds) and
      ``weight`` is the exact-group size.
    * ``members`` — ``(id_col, rep_id, weight)`` mapping every input
      doc to its representative (``rep_id == id`` for the
      representative itself and for all unique texts).

    Why this exists: identical texts have identical shingle/signature
    sets, so k verbatim copies turn every near-dup candidate into k²
    candidates and every pair into k² pairs — a duplicate-saturated
    corpus (the exact corpus dedup is FOR) makes the un-collapsed
    pipeline quadratic in the duplication factor.  Enumerating shingles
    and pairs over representatives only makes verbatim copies cost one
    group-by, and component structure is preserved exactly: a member's
    neighbors are its rep's neighbors (same text → same shingles), and
    the min doc_id of any component is always a rep id (each doc's rep
    has a smaller-or-equal id and lives in the same component).

    Physical shape: ONE groupBy on the 128-bit fingerprint produces
    both outputs — ``min_by`` partial-aggregates map-side so the
    shuffle carries roughly one text per distinct fingerprint per
    partition, never the duplicated bodies, and the membership map is
    the exploded per-group id list (ids only — 8 B per member), so the
    corpus is scanned exactly once and no second hash join is needed.
    The widest exact group costs one id array in its aggregation
    buffer; a single text verbatim-copied often enough for that array
    itself to strain a worker (≫10⁸ copies) is degenerate input — and
    still far cheaper here than the k² it would cost downstream
    un-collapsed.
    """
    fp_col = F.md5(F.col(text_col).cast("binary")).alias("fp")
    groups = scoped_persist(
        docs.select(F.col(id_col), F.col(text_col), fp_col)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("weight"),
            F.min_by(text_col, F.col(id_col)).alias(text_col),
            F.collect_list(id_col).alias("_ids"),
        )
    )
    reps = groups.select(
        F.col("rep_id").alias(id_col), F.col(text_col), F.col("weight")
    )
    members = groups.select(
        F.explode("_ids").alias(id_col), "rep_id", "weight"
    )
    return reps, members


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact near-dup, oracle-checkable)
# ---------------------------------------------------------------------------

_JACCARD_N = 3  # word 3-gram shingles
_JACCARD_T = 0.2

# Batch-probe sides above this row count shuffle-join instead of
# broadcasting (the persisted index is already keyed on the probe
# column): an incremental probe's batch can be arbitrarily large, and
# forcing it onto a broadcast silently caps batch size at executor
# memory (the IncrementalClusters._PROBE_BROADCAST_CAP discipline).
_PROBE_BROADCAST_CAP = 1_000_000


def _probe_hint(probe: DataFrame) -> DataFrame:
    """scoped-persist the probe side, broadcast it only under the cap."""
    from ..cachescope import scoped_persist

    p = scoped_persist(probe)
    return F.broadcast(p) if p.count() <= _PROBE_BROADCAST_CAP else p

# Exact n-gram Jaccard pair oracle — shared by dedup_ngram_jaccard and
# dedup_minhash_lsh (whose banded-LSH + exact-verify output equals the
# exact pair set: the band config recalls every >=T pair on this corpus,
# deterministically — fixed permutation constants, no RNG).
_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM documents)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= {_JACCARD_T}
    """


def _shingle_rows(d: DataFrame, n: int = _JACCARD_N) -> DataFrame:
    """Distinct (doc_id, shingle) word-n-gram rows.

    Shingles as ROWS (posexplode + window leads), not arrays: Spark's
    higher-order array functions evaluate interpreted (outside codegen)
    and Catalyst re-inlines the tokenizer into every lambda reference —
    the row formulation stays entirely inside whole-stage codegen.
    Shared by the Jaccard/containment similarity joins and the
    decontamination scan."""
    tok_rows = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", k).over(wp) for k in range(1, n)]
    return (
        tok_rows.select(
            "doc_id", F.concat_ws(" ", *grams).alias("shingle"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("doc_id", "shingle")
        .distinct()
    )


def _allpairs_index(docs: DataFrame, threshold: float) -> DataFrame:
    """The persisted AllPairs index: per doc, its df-ordered shingle
    array (`sset`), its size (`n_sh`), and the prefix slice (`prefix` =
    the first n - ceil(t·n) + 1 rarest shingles).  Shared by the
    candidate and verify passes of both the Jaccard and containment
    joins.  sort_array on struct(sdf, shingle) gives the same
    deterministic rarity order as a (sdf, shingle) window sort: shingles
    are distinct within a doc, so the struct order is total."""
    ex = _shingle_rows(docs)
    df_tab = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    return scoped_persist(
        ex.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("sdf", "shingle"))).alias("ordered"))
        .select(
            "doc_id",
            F.col("ordered.shingle").alias("sset"),
            F.size("ordered").alias("n_sh"),
        )
        .withColumn("prefix", F.slice("sset", 1, prefix_len))
    )


def jaccard_candidates(
    docs_arr: DataFrame, threshold: float = _JACCARD_T, positions: bool = False
) -> DataFrame:
    """Prefix-filtered candidate pairs (a_id, b_id) from an AllPairs
    index — the quadratic-risk step, exposed separately so the
    adversarial-skew test can count candidates directly.

    On top of the prefix join, the PPJoin POSITIONAL filter (Xiao et
    al. 2008; r15 opt round — the t=0.2 prefix keeps ~80% of each set,
    so the join alone yields 764k candidates for 256 true pairs at
    sf0.1): Jaccard >= t forces overlap >= t/(1+t)·(n_a+n_b), and the
    overlap is bounded above by what the prefix join already saw plus
    what could still follow.  Both docs' shingle arrays share one
    global (df, shingle) sort order, so with c = |shared prefix
    shingles| and pa/pb = the 0-based positions of the LAST shared
    prefix shingle (position is monotone in that order, so max(pos)
    on both sides names the SAME shingle): every common shingle
    ordered <= that shingle must sit before pa/pb in BOTH arrays and
    inside both prefixes (a common shingle outside one prefix would
    have to sort after it, contradicting its position before pa/pb) —
    so exactly c of them exist — and every common shingle after it
    adds at most min(n_a-pa-1, n_b-pb-1).  Candidates whose bound
    falls short cannot pass exact verification and are dropped before
    the shingle arrays ever attach (measured: 764,309 -> 476,944
    candidates at sf0.1, a 37.6% cut of the verify volume).

    ``positions=True`` additionally returns (c, pa, pb, n_a, n_b) so
    the verify can intersect only the post-prefix SUFFIXES: the same
    sort-order argument above gives the exact identity
    |A∩B| = c + |A[pa+1:] ∩ B[pb+1:]| (0-based) — every common
    shingle ordered <= the last shared prefix shingle is one of the c,
    and every common shingle ordered after it sits strictly after
    position pa in a AND pb in b (position is monotone in the shared
    order), i.e. in both suffixes."""
    pre = docs_arr.select(
        "doc_id", "n_sh", F.posexplode("prefix").alias("p", "shingle")
    )
    a, b = pre.alias("a"), pre.alias("b")
    grouped = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: jac >= t bounds the size ratio to [t, 1/t]
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("a.p").alias("pa"),
            F.max("b.p").alias("pb"),
        )
    )
    overlap_ub = F.col("c") + F.least(
        F.col("n_a") - F.col("pa") - 1, F.col("n_b") - F.col("pb") - 1
    )
    # The keep-test is the VERIFY's own float form evaluated at the
    # overlap upper bound: x/(S-x) is monotone in integer x and double
    # division is correctly rounded, so jac_d(ub) >= jac_d(true I) —
    # any pair the exact verify would keep passes here too (an
    # algebraic t/(1+t)·(n_a+n_b) literal would round DIFFERENTLY from
    # the verify's division and could clip a borderline pair).
    jac_ub = overlap_ub.cast("double") / (
        F.col("n_a") + F.col("n_b") - overlap_ub
    )
    kept = grouped.filter(jac_ub >= threshold)
    if positions:
        return kept.select("a_id", "b_id", "c", "pa", "pb", "n_a", "n_b")
    return kept.select("a_id", "b_id")


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = _JACCARD_T, collapse: bool = True
) -> DataFrame:
    """Exact n-gram Jaccard pairs over an arbitrary documents DataFrame
    (doc_id, text).

    By default the corpus is first collapsed through ``collapse_exact``:
    shingling, the prefix-filtered candidate self-join, and exact
    verification all run over one representative per distinct text, and
    the pair set is then expanded back through the exact groups —
    rep-pair (a, b) → all cross-group member pairs with the rep pair's
    jaccard, plus all intra-group member pairs at jaccard 1.0 (only for
    groups that produce ≥1 shingle; shingle-less docs share no inverted-
    index key, so the direct pipeline never pairs them — not even with
    verbatim copies — and the expansion preserves that).  The output is
    row-identical to the direct computation (identical texts have
    identical shingle sets, so every expanded pair's jaccard equals its
    rep pair's), but a duplicate-saturated corpus costs a group-by plus
    an output-sized expansion join instead of a quadratic blow-up inside
    the candidate machinery.  ``collapse=False`` runs the direct path
    (the equality is pinned by tests/test_dedup_skew.py on a verbatim-
    saturated corpus and by the driver's DuckDB oracle every round)."""
    if not collapse:
        return _ngram_jaccard_pairs_direct(docs, threshold)
    reps, members = collapse_exact(docs)
    rep_pairs = _ngram_jaccard_pairs_direct(
        reps.select("doc_id", "text"), threshold
    )
    # the shingle-capability test is only consulted for DUPLICATED
    # groups (weight-1 members expand to nothing new), so the extra
    # tokenize pass touches only their reps — on a dup-free corpus it
    # is an empty scan
    dup_can = _can_shingle(reps.filter(F.col("weight") > 1))
    return _expand_rep_pairs(rep_pairs, members, dup_can)


def _can_shingle(reps: DataFrame, n: int = _JACCARD_N) -> DataFrame:
    """(rep_id, can_shingle): whether a representative's text yields at
    least one word n-gram — groups that can't never appear in the
    inverted index, so their members stay unpaired in the direct
    pipeline and must stay unpaired after expansion too."""
    return reps.select(
        F.col("doc_id").alias("rep_id"),
        (F.size(tokens(F.col("text"))) >= n).alias("can_shingle"),
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, can: DataFrame
) -> DataFrame:
    """Expand representative-level near-dup pairs back to member-level
    pairs through the exact groups.  Inter-group: each rep pair crosses
    both groups' member lists (ordered with least/greatest — members of
    the smaller-id group may carry larger ids).  Intra-group: every
    member pair inside a shingle-capable DUPLICATED group is an exact
    dup, jaccard 1.0 (``can`` need only cover weight>1 reps).  Both
    joins are keyed on rep_id; the work is proportional to the OUTPUT
    pair count, which is the inherent cost of materializing the
    expanded pair set (cluster-level consumers skip this entirely and
    expand labels instead — see graph.dedup_clusters)."""
    ma = members.select(
        F.col("rep_id").alias("a_id"), F.col("doc_id").alias("m_a")
    )
    mb = members.select(
        F.col("rep_id").alias("b_id"), F.col("doc_id").alias("m_b")
    )
    inter = (
        rep_pairs.join(ma, "a_id")
        .join(mb, "b_id")
        .select(
            F.least("m_a", "m_b").alias("a_id"),
            F.greatest("m_a", "m_b").alias("b_id"),
            "jaccard",
        )
    )
    grouped = members.filter(F.col("weight") > 1).join(
        can.filter(F.col("can_shingle")).select("rep_id"), "rep_id", "semi"
    )
    x, y = grouped.alias("x"), grouped.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("a_id"),
        F.col("y.doc_id").alias("b_id"),
        F.lit(1.0).alias("jaccard"),
    )
    return inter.unionByName(intra)


def _expand_directed_pairs(
    rep_pairs: DataFrame, members: DataFrame, can: DataFrame, value_col: str
) -> DataFrame:
    """Directional twin of ``_expand_rep_pairs`` for asymmetric scores
    (containment): each rep pair (contained → container) crosses the
    contained group's members with the container group's members,
    keeping the rep pair's value (identical texts ⇒ identical shingle
    sets ⇒ identical score); inside a shingle-capable DUPLICATED group
    every ORDERED member pair scores 1.0 — exactly what the direct
    pipeline emits for verbatim copies (both directions pass the
    |A∩B|/|A| = 1 test)."""
    ma = members.select(
        F.col("rep_id").alias("contained_id"), F.col("doc_id").alias("m_a")
    )
    mb = members.select(
        F.col("rep_id").alias("container_id"), F.col("doc_id").alias("m_b")
    )
    inter = (
        rep_pairs.join(ma, "contained_id")
        .join(mb, "container_id")
        .select(
            F.col("m_a").alias("contained_id"),
            F.col("m_b").alias("container_id"),
            value_col,
        )
    )
    grouped = members.filter(F.col("weight") > 1).join(
        can.filter(F.col("can_shingle")).select("rep_id"), "rep_id", "semi"
    )
    x, y = grouped.alias("x"), grouped.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") != F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("contained_id"),
        F.col("y.doc_id").alias("container_id"),
        F.lit(1.0).alias(value_col),
    )
    return inter.unionByName(intra)


def _ngram_jaccard_pairs_direct(
    docs: DataFrame, threshold: float = _JACCARD_T
) -> DataFrame:
    """Direct (un-collapsed) exact n-gram Jaccard pairs — candidate
    generation + exact verification against the shared AllPairs index."""
    docs_arr = _allpairs_index(docs, threshold)
    cand = jaccard_candidates(docs_arr, threshold, positions=True)
    # Spread the verify BEFORE the shingle arrays attach (r14 opt
    # round; the embedding_cosine_lsh fix, guide §8): the candidate-id
    # shuffle is ~12 MB at sf0.1 (764k pairs), so AQE coalesces it to
    # ONE partition — and the joins below then attach BOTH full shingle
    # arrays (~50 strings each) to every pair, putting the whole
    # array_intersect verify on a single task.  A round-robin
    # repartition of the ids (not re-coalesced by AQE) spreads the
    # attach + intersect across every core; the extra exchange moves
    # only 16-byte id pairs, and at real scale the candidate shuffle
    # exceeds the advisory size so AQE never coalesced it anyway.
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    # Exact verify on candidates only — SUFFIX intersection (r15 opt
    # round, guide §1.2 step 2): the candidate aggregate already knows
    # c = |shared prefix shingles| and the positions pa/pb of the last
    # shared one, and |A∩B| = c + |A[pa+1:] ∩ B[pb+1:]| exactly (see
    # jaccard_candidates).  Intersecting only the suffixes cuts the
    # per-pair array_intersect from ~n×n to ~suffix×suffix — chance-
    # shared shingles are HIGH-df and sort late in the rarity-ordered
    # prefix, so suffixes are short (~t·n elements).  Profiled: the
    # verify stage was 123 s of task CPU (~258 µs/pair over 477k
    # candidates) with full 50-string arrays.
    sa = docs_arr.select(F.col("doc_id").alias("a_id"), F.col("sset").alias("set_a"))
    sb = docs_arr.select(F.col("doc_id").alias("b_id"), F.col("sset").alias("set_b"))
    verified = (
        cand.join(sa, "a_id")
        .select(
            "a_id", "b_id", "c", "pb", "n_a", "n_b",
            F.slice("set_a", F.col("pa") + 2, F.col("n_a")).alias("suf_a"),
        )
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_a",
            "n_b",
            (
                F.col("c")
                + F.size(
                    F.array_intersect(
                        "suf_a", F.slice("set_b", F.col("pb") + 2, F.col("n_b"))
                    )
                )
            ).alias("inter"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        verified.filter(jac >= threshold)
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
    )


@register("dedup_ngram_jaccard", bench=True, oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via prefix filtering
    (the AllPairs/SSJoin similarity-join algorithm).

    A naive inverted-index self-join explodes quadratically on hot
    shingles (a phrase shared by k docs yields k² candidate rows). The
    prefix filter bounds that: order each doc's shingles by global
    document frequency (rarest first); Jaccard(a,b) >= t forces
    |a∩b| >= ceil(t·n) for BOTH docs, so any qualifying pair must share
    a shingle inside both docs' first (n - ceil(t·n) + 1) shingles.
    Candidates come from self-joining only those prefixes (rare
    shingles → tiny buckets); each candidate is then verified exactly
    with array_intersect on the full shingle sets. Hot shingles never
    generate candidates because they sort to the ends of the prefixes —
    this is what makes exact near-dup viable at corpus scale
    (tests/test_dedup_skew.py measures it on an adversarial corpus:
    a boilerplate phrase in 50% of docs contributes ZERO candidates).

    Physical shape (AllPairs index as per-doc ordered arrays): one
    groupBy builds each doc's df-ordered shingle array; the prefix is a
    ``slice`` of it and the verify step is ``array_intersect`` against
    the persisted array table — no re-derivation of the shingle rows
    per branch and no per-(pair, shingle) row explosion during
    verification.  ~8 shuffles total vs ~13 for the row-form plan
    (2-3x faster at sf0.1); the persisted array table IS the AllPairs
    index the literature materializes — scope-tracked (cachescope) and
    shared by the candidate and verify passes.

    The whole machine runs AFTER an exact-dup collapse (collapse_exact):
    verbatim copies — the dominant duplication mode in web corpora —
    never reach the shingler, and the expanded output is row-identical
    to the direct computation (the DuckDB oracle below computes the
    direct pair set, so every driver round re-proves the equality)."""
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), _JACCARD_T)


# ---------------------------------------------------------------------------
# MinHash-LSH parameter tuning: the (bands, rows) S-curve evaluated
# against the exact Jaccard pair distribution on a deterministic sample
# ---------------------------------------------------------------------------

# All configs spend the same 16-hash signature budget; the knob is the
# band split.  s50 (the similarity where detection probability crosses
# 1/2) is a pure function of (b, r) — precomputed here and embedded as a
# literal in BOTH engines, so no fractional pow() runs cross-engine.
_SCURVE_GRID: tuple[tuple[int, int], ...] = ((16, 1), (8, 2), (4, 4), (2, 8))
_SCURVE_SAMPLE = 40  # md5(doc_id) bucket < 40 → ~40% deterministic sample


def _s50(b: int, r: int) -> float:
    return round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r), 4)


def _pow_sql(expr: str, k: int) -> str:
    """Left-associated k-fold product — identical association order to
    the Spark chain below, so the IEEE result is bit-equal."""
    out = expr
    for _ in range(k - 1):
        out = f"({out} * {expr})"
    return out


def _scurve_sample(d: DataFrame) -> DataFrame:
    """The deterministic evaluation sample shared by the S-curve and
    threshold-sweep faces (md5-bucket < _SCURVE_SAMPLE)."""
    from ..functions import md5_bucket

    return d.filter(md5_bucket("doc_id") < _SCURVE_SAMPLE).select("doc_id", "text")


def _scurve_oracle() -> str:
    from ..functions import duck_md5_bucket

    bucket = duck_md5_bucket("doc_id")

    pairs = f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM documents
            WHERE {bucket} < {_SCURVE_SAMPLE})
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT round(CAST(count(*) AS DOUBLE)
                   / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS j
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""
    selects = []
    for b, r in _SCURVE_GRID:
        srs = _pow_sql("j", r)
        qb = _pow_sql(f"(1.0 - {srs})", b)
        p = f"(1.0 - {qb})"
        selects.append(f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           CAST({_s50(b, r)} AS DOUBLE) AS s50,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN j >= {_JACCARD_T} THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(sum(CAST(round({p} * 1000000.0) AS BIGINT)) AS BIGINT) AS exp_cand_units,
           CAST(sum(CASE WHEN j >= {_JACCARD_T}
                         THEN CAST(round({qb} * 1000000.0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS fn_units,
           CAST(sum(CASE WHEN j < {_JACCARD_T}
                         THEN CAST(round({p} * 1000000.0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS fp_units
    FROM pairs""")
    return pairs + " UNION ALL ".join(selects)


def _pow_col(col: F.Column, k: int) -> F.Column:
    out = col
    for _ in range(k - 1):
        out = out * col
    return out


@register("dedup_lsh_scurve", oracle=_scurve_oracle())
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter tuning: for each (bands, rows-per-band)
    split of a fixed 16-hash signature budget, evaluate the detection
    S-curve p(s) = 1 - (1 - s^r)^b against the EXACT Jaccard pair
    distribution — expected candidate volume, false-negative mass over
    pairs at/above the dedup threshold, false-positive mass below it,
    and the s50 crossover.  This is the query an operator runs BEFORE
    committing a band config to a 100 TB dedup pass: fp_units predicts
    the wasted exact-verify work, fn_units the duplicates a config
    would leak.

    Scale shape: the exact-pair evaluation is inherently pair-quadratic
    in the worst case, so it runs on a DETERMINISTIC hash-sample of the
    corpus (md5-bucket < 40), the same estimate-on-a-sample discipline
    as statistics.py's selectivity estimator; within the sample the
    pair set comes from the collapse-first AllPairs machinery (threshold
    0 keeps every shingle-sharing pair — the sub-threshold region is the
    point here, it is where fp mass lives).  The config grid is a
    4-row literal crossed with pair-level aggregates only.

    Cross-engine determinism: s = the 4-dp-rounded exact Jaccard
    (integer operands, one division — bit-equal in both engines); the
    S-curve polynomial is evaluated as LEFT-ASSOCIATED multiplication
    chains (no pow()) in both engines and quantized to integer
    micro-units per pair before summing, so partial-aggregate merge
    order cannot perturb the totals; s50 is a Python-precomputed
    literal embedded in both plans."""
    sample = _scurve_sample(table(spark, sf_dir, "documents"))
    pairs = scoped_persist(ngram_jaccard_pairs(sample, threshold=0.0))
    parts = []
    for b, r in _SCURVE_GRID:
        j = F.col("jaccard")
        srs = _pow_col(j, r)
        qb = _pow_col(F.lit(1.0) - srs, b)
        p = F.lit(1.0) - qb
        p_units = F.round(p * F.lit(1000000.0)).cast("long")
        fn_units = F.round(qb * F.lit(1000000.0)).cast("long")
        above = j >= _JACCARD_T
        parts.append(
            pairs.agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.when(above, 1).otherwise(0)).alias("n_above"),
                F.sum(p_units).alias("exp_cand_units"),
                F.sum(F.when(above, fn_units).otherwise(F.lit(0).cast("long"))).alias(
                    "fn_units"
                ),
                F.sum(F.when(~above, p_units).otherwise(F.lit(0).cast("long"))).alias(
                    "fp_units"
                ),
            ).select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.lit(_s50(b, r)).alias("s50"),
                "n_pairs",
                "n_above",
                "exp_cand_units",
                "fn_units",
                "fp_units",
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH jp AS ({_JACCARD_ORACLE}),
    src AS (SELECT doc_id, source FROM documents),
    cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    m AS (
      SELECT least(sa.source, sb.source) AS source_lo,
             greatest(sa.source, sb.source) AS source_hi,
             count(*) AS n_pairs
      FROM jp JOIN src sa ON jp.a_id = sa.doc_id
              JOIN src sb ON jp.b_id = sb.doc_id
      GROUP BY 1, 2)
    SELECT m.source_lo, m.source_hi, CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(cl.n_docs AS BIGINT) AS n_docs_lo,
           CAST(ch.n_docs AS BIGINT) AS n_docs_hi,
           CAST(round(CAST(m.n_pairs AS DOUBLE)
                 / (CASE WHEN m.source_lo = m.source_hi
                         THEN CAST(cl.n_docs AS DOUBLE) * (cl.n_docs - 1) / 2
                         ELSE CAST(cl.n_docs AS DOUBLE) * ch.n_docs END)
                 * 1000000000) AS BIGINT) AS rate_ppb
    FROM m JOIN cnt cl ON m.source_lo = cl.source
           JOIN cnt ch ON m.source_hi = ch.source
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup matrix: exact Jaccard pairs rolled up by
    unordered source pair, normalized by the pairable population
    (C(n,2) within a source, n_a*n_b across) to parts-per-billion —
    the provenance view of duplication that tells a pipeline owner
    WHICH feeds copy from each other (mirror sites, syndication) vs
    which merely self-duplicate, i.e. where to spend crawl-dedup
    effort before paying for global near-dup.

    Scale shape: rides the collapse-first AllPairs pair set (the
    dedup_ngram_jaccard machinery — hot shingles never form
    candidates); the source lookups are doc_id-keyed joins from the
    pair table, the per-source count relation is source-cardinality and
    broadcast.  The normalizing division is a fixed IEEE chain on
    integer operands rounded to integer ppb, so partial-agg order
    cannot perturb it."""
    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, _JACCARD_T)
    src = d.select("doc_id", "source")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    m = (
        pairs.join(src.withColumnRenamed("doc_id", "a_id"), "a_id")
        .withColumnRenamed("source", "source_a")
        .join(src.withColumnRenamed("doc_id", "b_id"), "b_id")
        .withColumnRenamed("source", "source_b")
        .select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    cl = F.broadcast(
        cnt.select(F.col("source").alias("source_lo"), F.col("n_docs").alias("n_docs_lo"))
    )
    ch = F.broadcast(
        cnt.select(F.col("source").alias("source_hi"), F.col("n_docs").alias("n_docs_hi"))
    )
    denom = F.when(
        F.col("source_lo") == F.col("source_hi"),
        F.col("n_docs_lo").cast("double") * (F.col("n_docs_lo") - 1) / 2,
    ).otherwise(F.col("n_docs_lo").cast("double") * F.col("n_docs_hi"))
    return (
        m.join(cl, "source_lo")
        .join(ch, "source_hi")
        .select(
            "source_lo",
            "source_hi",
            "n_pairs",
            "n_docs_lo",
            "n_docs_hi",
            F.round(F.col("n_pairs").cast("double") / denom * F.lit(1000000000.0))
            .cast("long")
            .alias("rate_ppb"),
        )
    )


# Containment threshold: |A∩B| / |A| — asymmetric, so a small document
# quoted inside a large one is caught even when Jaccard is tiny.
_CONT_T = 0.7

_CONTAIN_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM documents)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             count(*) AS inter, any_value(a.n_sh) AS n_a
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT contained_id, container_id,
           round(CAST(inter AS DOUBLE) / n_a, 4) AS containment
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / n_a >= {_CONT_T}
    """


@register("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: |A∩B| / |A| >= t emits
    (contained_id, container_id) — the quote/subset-detection primitive
    Jaccard misses (a paragraph pasted into a book scores near-zero
    Jaccard but containment ≈ 1).  The training-data use is boilerplate
    and quotation removal where the smaller side duplicates.  Runs
    collapse-first like the Jaccard path (containment_pairs): the index
    and candidate join see one representative per distinct text, and
    the directed pair set is expanded back through the exact groups —
    row-identical to the direct computation (the oracle IS the direct
    computation).

    Prefix filter, containment form: c(a,b) >= t forces
    |a∩b| >= ceil(t·n_a), so removing a's last ceil(t·n_a)-1 shingles
    (in the global document-frequency order, rarest first) still leaves
    a shared shingle — candidates come from joining only A-side prefixes
    (the rarest ~(1-t) fraction of each doc's shingles) against the full
    inverted index; exact verification runs on candidates only.  Unlike
    the Jaccard join there is no length-ratio bound (containment is the
    point when sizes differ), so the B side is unpruned — hot shingles
    are still never in an A-prefix, which keeps bucket fan-out bounded
    by prefix df, and the banded-MinHash path remains the 100 TB default
    when even that is too wide.

    Same array-index physical shape as ``dedup_ngram_jaccard``: one
    persisted per-doc df-ordered shingle-array table feeds the A-prefix
    (``slice``), the full inverted index (``explode``), and the
    ``array_intersect`` verification — no per-branch shingle re-derive,
    no per-(pair, shingle) verify explosion."""
    return containment_pairs(table(spark, sf_dir, "documents"), _CONT_T)


def containment_pairs(
    docs: DataFrame, threshold: float = _CONT_T, collapse: bool = True
) -> DataFrame:
    """Directed containment pairs over an arbitrary (doc_id, text)
    frame, collapse-first by default (see ngram_jaccard_pairs — same
    argument, directional expansion)."""
    if not collapse:
        return _containment_pairs_direct(docs, threshold)
    reps, members = collapse_exact(docs)
    rep_pairs = _containment_pairs_direct(
        reps.select("doc_id", "text"), threshold
    )
    dup_can = _can_shingle(reps.filter(F.col("weight") > 1))
    return _expand_directed_pairs(rep_pairs, members, dup_can, "containment")


def _containment_pairs_direct(
    docs: DataFrame, threshold: float = _CONT_T
) -> DataFrame:
    # keep a's first n_a - ceil(t*n_a) + 1 rarest shingles
    docs_arr = _allpairs_index(docs, threshold)
    a_prefix = docs_arr.select(
        F.col("doc_id").alias("contained_id"),
        F.col("n_sh").alias("n_a"),
        F.posexplode("prefix").alias("p", "shingle"),
    )
    b_full = docs_arr.select(
        F.col("doc_id").alias("container_id"),
        F.col("n_sh").alias("n_b"),
        F.posexplode("sset").alias("p", "shingle"),
    )
    # Same positional machinery as jaccard_candidates (r15 opt round):
    # c counts EXACTLY the common shingles ordered <= the last join-seen
    # one (the a-side prefix covers every such shingle: position in a is
    # monotone in the shared (df, shingle) order, and the b side is the
    # FULL set), pa/pb are that shingle's 0-based positions, so
    # inter = c + |A[pa+1:] ∩ B[pb+1:]| exactly and the verify
    # intersects only the short suffixes.  The candidate filter keeps a
    # pair iff the overlap UPPER BOUND still clears the containment
    # threshold under the verify's own double division.
    cand = (
        a_prefix.join(b_full.withColumnRenamed("p", "pb"), "shingle")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("p").alias("pa"),
            F.max("pb").alias("pb"),
        )
    )
    overlap_ub = F.col("c") + F.least(
        F.col("n_a") - F.col("pa") - 1, F.col("n_b") - F.col("pb") - 1
    )
    cand = cand.filter(
        overlap_ub.cast("double") / F.col("n_a") >= threshold
    ).select("contained_id", "container_id", "c", "pa", "pb", "n_a")
    sa = docs_arr.select(
        F.col("doc_id").alias("contained_id"), F.col("sset").alias("set_a")
    )
    sb = docs_arr.select(
        F.col("doc_id").alias("container_id"), F.col("sset").alias("set_b")
    )
    verified = (
        cand.join(sa, "contained_id")
        .select(
            "contained_id", "container_id", "c", "pb", "n_a",
            F.slice("set_a", F.col("pa") + 2, F.col("n_a")).alias("suf_a"),
        )
        .join(sb, "container_id")
        .select(
            "contained_id",
            "container_id",
            "n_a",
            (
                F.col("c")
                + F.size(
                    F.array_intersect(
                        "suf_a", F.slice("set_b", F.col("pb") + 2, F.size("set_b"))
                    )
                )
            ).alias("inter"),
        )
    )
    c = F.col("inter").cast("double") / F.col("n_a")
    return verified.filter(c >= threshold).select(
        "contained_id", "container_id", F.round(c, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path for near-dup; verified against exact Jaccard)
# ---------------------------------------------------------------------------

_MH_K = 32  # signature length
_MH_BANDS = 8  # 8 bands x 4 rows
# 31-bit Mersenne prime keeps (a*h + b) within signed-64 range under
# Spark's ANSI overflow checking: h,a,b < 2^31 → a*h+b < 2^62.
_MH_PRIME = (1 << 31) - 1
# Deterministic permutation parameters (fixed constants → reproducible).
_MH_A = [((2 * i + 1) * 0x9E3779B9) % _MH_PRIME or 1 for i in range(_MH_K)]
_MH_B = [((i * i + 7) * 0xC2B2AE3D) % _MH_PRIME for i in range(_MH_K)]


def minhash_signatures(docs: DataFrame, n: int = _JACCARD_N) -> DataFrame:
    """(doc_id, sig array<long>, n_sh) — one aggregation pass over the
    codegen row-form shingles.

    Base hash = xxhash64(shingle) (JVM built-in); permutation i is
    (a_i*h + b_i) mod p computed via pmod arithmetic in codegen. The
    signature build is groupBy(doc_id).agg(min...) — map-side partials
    make the final shuffle balanced regardless of corpus size; n_sh is
    just count(*) since the row frame is already per-doc distinct."""
    ex = _shingle_rows(docs, n).withColumn(
        "h", F.pmod(F.xxhash64("shingle"), F.lit(_MH_PRIME))
    )
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(_MH_A[i]) + F.lit(_MH_B[i]), F.lit(_MH_PRIME))).alias(f"m{i}")
        for i in range(_MH_K)
    ]
    sig = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"), *mins)
    return sig.select(
        "doc_id", "n_sh", F.array(*[f"m{i}" for i in range(_MH_K)]).alias("sig")
    )


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (a_id, b_id) — the quadratic-risk
    step of the MinHash path, exposed separately so the adversarial-skew
    test can count candidates.  A hot shingle cannot flood this: the
    signature build is a min-aggregation (a shared phrase shifts a few
    signature positions, it does not put all its docs in one bucket), so
    bucket sizes track true near-dup cliques, not shingle frequency."""
    sig = minhash_signatures(docs)
    rows_per_band = _MH_K // _MH_BANDS
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)])
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: band signatures into buckets, join within
    buckets, then verify candidates with exact Jaccard — so the output
    equals the exact operator's pairs that LSH recalled. Deterministic
    (fixed permutation constants, no RNG), and at this band config the
    LSH recalls every >=T pair of the test corpus, so the exact-Jaccard
    SQL is a true oracle (recall additionally asserted in
    tests/test_dedup_similarity.py).  Collapse-first like the other
    near-dup paths: signatures, band buckets and verification run over
    one representative per distinct text (verbatim copies have
    IDENTICAL signatures, so un-collapsed they collide in every band —
    the worst-case bucket blow-up), and the pair set is expanded back
    through the exact groups, row-identical to the direct output."""
    reps, members = collapse_exact(table(spark, sf_dir, "documents"))
    rep_pairs = _minhash_pairs_direct(reps.select("doc_id", "text"))
    dup_can = _can_shingle(reps.filter(F.col("weight") > 1))
    return _expand_rep_pairs(rep_pairs, members, dup_can)


def _minhash_pairs_direct(d: DataFrame) -> DataFrame:
    cand = minhash_candidates(d)
    # Exact verification on candidates only; shingle sets collected from
    # the same codegen row frame the signatures use (rows are already
    # per-doc distinct, so collect_list IS the distinct shingle set).
    sh = (
        _shingle_rows(d)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shingles"))
    )
    va = sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("sh_a"))
    vb = sh.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed int64 in any engine
_SIMHASH_HAM = 6  # max hamming distance for a near-dup pair
_SIMHASH_BANDS = 4  # 4 × 15-bit band buckets


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash long): sign-aggregated 60-bit token-hash sketch.

    Per doc: hash each token, for each bit position sum +1/-1, take the
    sign bit. Expressed as explode → groupBy(doc) with 60 conditional
    sums — all codegen, one shuffle. The token hash is the first 15 hex
    chars of md5 (not xxhash64): a portable definition every engine can
    reproduce, which makes the whole sketch SQL-oracle-checkable; 60 bits
    also never touches the int64 sign bit, so no wraparound cases."""
    ex = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    agg = ex.groupBy("doc_id").agg(*bit_sums)
    sh = F.lit(0).cast("long")
    for i in range(_SIMHASH_BITS):
        sh = sh + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc_id", sh.alias("simhash"))


def _simhash_oracle() -> str:
    """DuckDB SQL computing the identical simhash pipeline: md5-based
    60-bit token hash → sign-aggregated signature → 4×15-bit band
    candidates → exact hamming verify. A full independent re-derivation
    (not a stored expected answer) — the strongest oracle an approximate-
    flavored operator can have."""
    sig_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(
        CASE WHEN length(trim(text)) = 0 THEN []
             ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    sig AS (SELECT doc_id, {sig_terms} AS simhash FROM h GROUP BY doc_id),
    band AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (15 * b)) & 32767 AS chunk
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM band a JOIN band b ON a.band = b.band AND a.chunk = b.chunk
                             AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_HAM}
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signatures, candidates via 4×15-bit band
    buckets (a pair within hamming distance 3 must share ≥1 of 4 bands;
    wider distances are caught probabilistically), verified by exact
    hamming distance ≤ 6 via bit_count(xor). Oracle re-derives the whole
    pipeline in DuckDB SQL — possible because the token hash is md5."""
    d = table(spark, sf_dir, "documents")
    sig = simhash(d)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftrightunsigned("simhash", 15 * b).bitwiseAND(F.lit(0x7FFF)) for b in range(_SIMHASH_BANDS)])
        ).alias("band", "chunk"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return cand.filter(ham <= _SIMHASH_HAM).select("a_id", "b_id", ham.alias("hamming"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_COS_T = 0.3  # testdata embeddings are random; 0.3 yields a non-trivial pair set
# Broadcast-regime guard: the exact GEMM path collects one side to the
# driver to broadcast it. ~1M rows × 64 dims × 8 B ≈ 0.5 GB — the edge of
# a sane broadcast. Above the cap the operator routes to the LSH-bucketed
# candidate path instead of OOMing the driver at corpus scale.
_COS_BROADCAST_ROW_CAP = 1_000_000


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= {_COS_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold.

    All-pairs similarity is a matrix product, not a join: Spark's
    non-equi self-join compiles to BroadcastNestedLoopJoin (never
    codegen'd) evaluating an interpreted expression 12.5M times. The
    Spark shape for this is blocked GEMM — broadcast the full (small)
    matrix, mapInPandas computes each partition-block's similarities
    vectorized in numpy, Spark keeps the blocks distributed. ~25x over
    the join form at sf0.1. The accumulation loops run dimension-
    ascending so every float op matches the sequential SQL fold
    bit-for-bit (numpy elementwise ops don't fuse) — the DuckDB oracle
    still hash-matches; final rounding stays in Spark (HALF_UP). The
    100 TB billion-vector path is similarity.ann_lsh_bucketed; this is
    the exact spec + the broadcastable-side fast path."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_cosine_pairs(spark, e)


def embedding_cosine_pairs(
    spark: SparkSession,
    e: DataFrame,
    threshold: float = _COS_T,
    broadcast_row_cap: int = _COS_BROADCAST_ROW_CAP,
) -> DataFrame:
    """Cosine near-dup pairs with an explicit broadcast-regime guard.

    <= broadcast_row_cap rows: exact blocked GEMM (collect one side,
    broadcast, numpy per partition block). Above the cap the collect
    would OOM the driver long before the O(n²) output mattered, so the
    operator routes to the LSH-bucketed candidate path (exact cosine
    verify on bucket candidates only — approximate recall, linear cost),
    the same strategy similarity.ann_lsh_bucketed uses for search.

    The regime probe is `limit(cap+1).count()` over a 1-column
    projection, not a full `count()`: CollectLimit stops the scan after
    cap+1 rows and the projection never touches the vector column, so
    the guard costs O(cap) rows regardless of corpus size (a full count
    at 100 TB would be a whole extra scan just to pick a code path)."""
    import numpy as np
    import pandas as pd

    over_cap = (
        e.select(F.lit(1).alias("one")).limit(broadcast_row_cap + 1).count()
        > broadcast_row_cap
    )
    if over_cap:
        return _embedding_cosine_lsh_path(e, threshold)
    full = e.toPandas()  # the broadcastable side (one row per vector)
    ids_f = full["vec_id"].to_numpy()
    M = np.stack(full["embedding"].to_numpy()).astype(np.float64)

    def seq_sq_norms(mat: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(mat.shape[0])
        for k in range(mat.shape[1]):  # ascending dim = the SQL fold order
            acc = acc + mat[:, k] * mat[:, k]
        return np.sqrt(acc)

    norms_f = seq_sq_norms(M)
    bc = spark.sparkContext.broadcast((ids_f, M, norms_f))
    thresh = threshold

    def block_sims(batches):
        ids_all, mat_all, nrm_all = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids_b = pdf["vec_id"].to_numpy()
            mb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((mb.shape[0], mat_all.shape[0]))
            for k in range(mb.shape[1]):  # ascending dim, no FMA fusion
                acc = acc + mb[:, k][:, None] * mat_all[:, k][None, :]
            sim = acc / (seq_sq_norms(mb)[:, None] * nrm_all[None, :])
            mask = (ids_b[:, None] < ids_all[None, :]) & (sim >= thresh)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "a_id": ids_b[ai],
                    "b_id": ids_all[bi],
                    "cos_sim_raw": sim[ai, bi],
                }
            )

    out = e.mapInPandas(block_sims, "a_id bigint, b_id bigint, cos_sim_raw double")
    return out.select("a_id", "b_id", F.round("cos_sim_raw", 4).alias("cos_sim"))


def _cos_lsh_oracle() -> str:
    """DuckDB re-derivation of the full LSH-fallback pipeline: the
    hyperplanes are fixed constants (similarity._hyperplanes), so the
    signatures, hamming-1 probe buckets, candidate pairs, and exact
    cosine verification are all SQL-expressible.  Recall < 1 relative to
    the exact all-pairs operator, but the output is a deterministic
    function of the data — same oracle strategy as ann_lsh_bucketed."""
    from .similarity import _LSH_PLANES, _hyperplanes, _plane_sql

    planes = _hyperplanes(64)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_sql(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    probe_list = ", ".join(["sig"] + [f"xor(sig, {1 << i})" for i in range(_LSH_PLANES)])
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sigs AS (SELECT vec_id, v, {sig_terms} AS sig FROM e),
    probes AS (SELECT vec_id AS b_id, unnest([{probe_list}]) AS sig FROM sigs),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, p.b_id
      FROM sigs a JOIN probes p ON a.sig = p.sig AND a.vec_id < p.b_id)
    SELECT c.a_id, c.b_id,
           round(list_cosine_similarity(sa.v, sb.v), 4) AS cos_sim
    FROM cand c
    JOIN sigs sa ON sa.vec_id = c.a_id
    JOIN sigs sb ON sb.vec_id = c.b_id
    WHERE list_cosine_similarity(sa.v, sb.v) >= {_COS_T}
    """


@register("embedding_cosine_lsh", oracle=_cos_lsh_oracle(), bench=True)
def embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The over-broadcast-cap fallback of ``embedding_cosine_pairs``,
    registered directly so its behavior has a driver-checked row (the
    guarded operator only exercises this path above 1M vectors, which
    the test corpus never reaches).  Recall < 1 vs the exact GEMM by
    design; the oracle re-derives the identical LSH pipeline, so what IS
    produced is verified exactly — precision 1 by construction (every
    emitted pair passed the exact cosine filter)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _embedding_cosine_lsh_path(e, _COS_T)


def _embedding_cosine_lsh_path(e: DataFrame, threshold: float) -> DataFrame:
    """Above-broadcast-cap route: random-hyperplane LSH buckets generate
    candidates (same-bucket or hamming-1 bucket), exact cosine verifies.
    Linear in corpus size (bucket join, no all-pairs, nothing collected);
    recall < 1 by design — the documented trade at the scale where the
    exact GEMM's broadcast is impossible.

    Verification is an Arrow-batched numpy pass over the joined
    candidate pairs (per-partition, stateless, nothing broadcast):
    measured ~10× over evaluating a 64-term JVM dot per pair, which
    falls out of whole-stage codegen at this width and runs
    interpreted.  The accumulation loops run dimension-ascending so
    every float op matches the SQL fold bit-for-bit — the same
    discipline that keeps the exact-GEMM path hash-identical to the
    DuckDB oracle."""
    import numpy as np
    import pandas as pd

    from ..functions import as_double_vec
    from .similarity import _LSH_PLANES, _hyperplanes

    # The hyperplanes are a deterministic function of the vector dim,
    # so each task derives them from its first batch instead of the
    # driver paying a head() probe job per construction (r15 opt
    # round: ~70 ms + one job per run for one row's length).
    def sign_batches(batches):
        planes = None
        # numpy twin of similarity.lsh_signature: same ascending-dim
        # fold per plane dot product, so every sign decision — and
        # therefore every bucket — is bit-identical to the SQL form the
        # oracle evaluates.  The fold is cumsum along the dim axis
        # (r14 opt round): cumsum IS the sequential ascending-k
        # accumulation, computed in C instead of a planes×dim Python
        # loop of numpy calls (768 per batch before; the loop start
        # differs only in 0.0+x0 vs x0, which can differ in ZERO SIGN
        # alone and never flips the >= 0 decision).
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if planes is None:
                planes = np.array(_hyperplanes(M.shape[1]))
            acc = np.cumsum(M[:, None, :] * planes[None, :, :], axis=2)[:, :, -1]
            sig = (
                (acc >= 0).astype(np.int64)
                << np.arange(planes.shape[0], dtype=np.int64)
            ).sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "sig": sig}
            )

    # The signature frame feeds four plan branches (bucket side, probe
    # side, both verify sides); persisting it computes the per-row
    # hyperplane dot products once instead of four times.
    v = scoped_persist(
        e.select("vec_id", as_double_vec("embedding").alias("v")).mapInPandas(
            sign_batches, "vec_id bigint, v array<double>, sig int"
        )
    )
    # candidate ids only ride the bucket join; vectors rejoin afterwards
    a = v.select(F.col("vec_id").alias("a_id"), "sig")
    probes = v.select(
        F.col("vec_id").alias("b_id"),
        F.explode(
            F.array(
                F.col("sig"),
                *[F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(_LSH_PLANES)],
            )
        ).alias("sig"),
    )
    cand = (
        a.join(probes, "sig")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # Spread the verify BEFORE the vectors attach (r14 opt round, guide
    # §8: decide placement on small rows, then attach the payload).
    # The candidate-id shuffle is tiny (~2 MB for 271k pairs at sf0.1),
    # so AQE coalesces it to ONE partition — but the joins below then
    # explode each pair to 2×dim doubles (~280 MB) and the whole Arrow
    # verify ran as a single 3.5 s task.  An explicit round-robin
    # repartition of the ids (which AQE does not re-coalesce) makes the
    # byte explosion and the numpy verify land on every core; the extra
    # exchange moves only 16-byte id pairs.  defaultParallelism scales
    # with the cluster; at real scale the candidate shuffle is large
    # enough that AQE never coalesces it and this exchange is a cheap
    # id-only no-op relative to the verify it parallelizes.
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    va = v.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    vb = v.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    joined = cand.join(va, "a_id").join(vb, "b_id")
    thresh = threshold

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            # cumsum = the sequential ascending-dim fold in C (r14 opt
            # round; see sign_batches) — this stage lands on ONE
            # AQE-coalesced task at bench scale (the candidate shuffle
            # is ~2 MB), so per-pair Python-loop cost was the entire
            # head: measured 4.2 s -> ~0.1 s for the verify task.
            acc = np.cumsum(A * B, axis=1)[:, -1]
            na = np.cumsum(A * A, axis=1)[:, -1]
            nb = np.cumsum(B * B, axis=1)[:, -1]
            sim = acc / (np.sqrt(na) * np.sqrt(nb))
            m = sim >= thresh
            yield pd.DataFrame(
                {
                    "a_id": pdf["a_id"][m],
                    "b_id": pdf["b_id"][m],
                    "cos_sim_raw": sim[m],
                }
            )

    out = joined.mapInPandas(verify, "a_id bigint, b_id bigint, cos_sim_raw double")
    return out.select("a_id", "b_id", F.round("cos_sim_raw", 4).alias("cos_sim"))


@register(
    "dedup_incremental",
    oracle="""
    SELECT n.doc_id, n.source
    FROM documents n
    WHERE n.source IN ('src15', 'src16', 'src17', 'src18', 'src19')
      AND NOT EXISTS (
        SELECT 1 FROM documents o
        WHERE o.source NOT IN ('src15', 'src16', 'src17', 'src18', 'src19')
          AND md5(o.text) = md5(n.text)
      )
    ORDER BY n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: a new batch (sources 15-19 stand in for
    'today's crawl') keeps only docs whose fingerprint is absent from the
    existing corpus. The anti-join ships 16-byte md5 keys, never bodies;
    at 100 TB the existing-corpus side is a pre-built fingerprint table
    read instead of recomputed, and the join shuffles new-batch keys only."""
    d = table(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("source").isin("src15", "src16", "src17", "src18", "src19"))
    corpus_fp = (
        d.filter(~F.col("source").isin("src15", "src16", "src17", "src18", "src19"))
        .select(F.md5("text").alias("fp"))
    )
    return (
        new_batch.withColumn("fp", F.md5("text"))
        .join(corpus_fp, "fp", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Persisted fingerprints (the write-once/reuse shape for production dedup)
# ---------------------------------------------------------------------------


def build_fingerprint_table(spark: SparkSession, docs: DataFrame, out_path: str) -> None:
    """Write the corpus fingerprint table: one row per doc with the md5
    content hash. At 100 TB this is written once per corpus snapshot and
    every dedup consumer (incremental merge, exact dedup, audit) reads
    the 24-byte rows instead of rehashing document bodies. Partitioned
    by the first hex nibble so a fingerprint lookup prunes to 1/16 of
    the table."""
    fp = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
    ).withColumn("fp_prefix", F.substring("fp", 1, 1))
    fp.write.mode("overwrite").partitionBy("fp_prefix").parquet(out_path)


def dedup_incremental_prepared(
    spark: SparkSession, new_docs: DataFrame, fp_path: str
) -> DataFrame:
    """Incremental dedup against a PREBUILT fingerprint table: hash only
    the new batch, anti-join on the fingerprint. The corpus side streams
    from its parquet snapshot — no rehash, no body shuffle."""
    corpus_fp = spark.read.parquet(fp_path).select("fp")
    return (
        new_docs.withColumn("fp", F.md5(F.col("text").cast("binary")))
        .join(corpus_fp, "fp", "left_anti")
        .drop("fp")
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: persisted MinHash signature table
# ---------------------------------------------------------------------------


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sig, band, bucket) — one row per LSH band. The
    signature rides along so downstream joins can estimate similarity
    without touching document text."""
    rows_per_band = _MH_K // _MH_BANDS
    return sig.select(
        "doc_id",
        "n_sh",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )


def build_minhash_table(spark: SparkSession, docs: DataFrame, out_path: str) -> None:
    """Persist the corpus's banded MinHash signatures, partitioned by
    band — the write-once artifact for incremental NEAR-dup (the
    near-dup twin of dedup.build_fingerprint_table): each new crawl
    batch probes the buckets instead of re-shingling the corpus."""
    band_rows(minhash_signatures(docs)).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(out_path)


def dedup_minhash_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    table_path: str,
    threshold: float = _JACCARD_T,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the persisted corpus:
    the batch's band buckets join the corpus's (band-partitioned scan,
    batch side broadcast only under _PROBE_BROADCAST_CAP), then candidates are scored by signature
    agreement — estimated Jaccard = matching positions / K — with no
    access to corpus text at all. Cost scales with the batch, not the
    corpus.  ``threshold=0.0`` returns every bucket candidate (used by
    the registered query's exact-verify wrapper)."""
    nb = band_rows(minhash_signatures(new_docs)).select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("sig_n"),
        "band",
        "bucket",
    )
    corpus = spark.read.parquet(table_path).select(
        F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c"), "band", "bucket"
    )
    cand = (
        corpus.join(_probe_hint(nb), ["band", "bucket"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "sig_n", "sig_c")
        .distinct()
    )
    agree = F.aggregate(
        F.zip_with("sig_n", "sig_c", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = agree.cast("double") / _MH_K
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# Incremental containment: persisted shingle inverted index
# ---------------------------------------------------------------------------


def build_shingle_index(spark: SparkSession, docs: DataFrame, out_path: str) -> None:
    """Persist the corpus's distinct (doc_id, shingle, n_sh) rows — the
    write-once inverted index for incremental CONTAINMENT detection
    (completing the family: exact → fingerprint table, MinHash → band
    table, IVF → cell index). Each new crawl batch probes this instead
    of re-shingling the corpus."""
    ex = _shingle_rows(docs)
    n_tab = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ex.join(n_tab, "doc_id").write.mode("overwrite").parquet(out_path)


def dedup_containment_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = _CONT_T,
) -> DataFrame:
    """Containment of NEW docs inside the persisted corpus: shingle only
    the batch, join its (new_id, shingle) rows onto the corpus index
    scan (broadcast only under _PROBE_BROADCAST_CAP — batch size is
    never capped by executor memory), count shared shingles per (new, corpus) pair, and keep
    pairs with |new ∩ corpus| / |new| >= threshold. Cost scales with
    the batch (one pass over the index, no corpus re-shingle, corpus
    text never read) — the quote/boilerplate gate a rolling crawl runs
    before admitting documents."""
    nb = _shingle_rows(new_docs)
    n_tab = nb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    nb = nb.join(n_tab, "doc_id").select(
        F.col("doc_id").alias("new_id"), "shingle", "n_a"
    )
    corpus = spark.read.parquet(index_path).select(
        F.col("doc_id").alias("corpus_id"), "shingle"
    )
    inter = (
        corpus.join(_probe_hint(nb), "shingle")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"), F.any_value("n_a").alias("n_a"))
    )
    c = F.col("inter").cast("double") / F.col("n_a")
    return inter.filter(c >= threshold).select(
        "new_id", "corpus_id", F.round(c, 4).alias("containment")
    )


# -- driver-checked end-to-end runs of the incremental artifact probes ------

_BATCH_SRCS = ("src15", "src16", "src17", "src18", "src19")
_BATCH_IN = ", ".join(f"'{s}'" for s in _BATCH_SRCS)

# Shared oracle prelude: per-doc distinct shingle sets with the source
# column carried, so the batch/corpus split is expressible in SQL.
_SRC_SHINGLE_CTE = f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id, source,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM documents)
    ),
    ex AS (SELECT doc_id, source, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh)
"""


@register(
    "dedup_containment_incremental",
    oracle=_SRC_SHINGLE_CTE
    + f""",
    pairs AS (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
             count(*) AS inter, any_value(a.n_sh) AS n_a
      FROM ex a JOIN ex b ON a.shingle = b.shingle
      WHERE a.source IN ({_BATCH_IN}) AND b.source NOT IN ({_BATCH_IN})
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT new_id, corpus_id,
           round(CAST(inter AS DOUBLE) / n_a, 4) AS containment
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / n_a >= {_CONT_T}
    ORDER BY new_id, corpus_id
    """,
)
def dedup_containment_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end run of the incremental containment
    probe (previously pytest-equivalence-only): persist the corpus
    split's shingle inverted index (``build_shingle_index`` — the
    write-once artifact), then probe it with the batch split's shingles
    only (``dedup_containment_incremental``: one pass over the index,
    corpus text never re-read).  The oracle recomputes cross-split
    containment exactly, so what this locks is that the artifact
    build→probe path preserves the operator's semantics end-to-end."""
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source").isin(*_BATCH_SRCS))
    corpus = d.filter(~F.col("source").isin(*_BATCH_SRCS))
    idx = scratch_dir("shidx", sf_dir)
    build_shingle_index(spark, corpus, idx)
    return dedup_containment_incremental(spark, batch, idx).orderBy(
        "new_id", "corpus_id"
    )


@register(
    "dedup_minhash_incremental",
    oracle=_SRC_SHINGLE_CTE
    + f""",
    pairs AS (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS inter,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle
      WHERE a.source IN ({_BATCH_IN}) AND b.source NOT IN ({_BATCH_IN})
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT new_id, corpus_id,
           round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= {_JACCARD_T}
    ORDER BY new_id, corpus_id
    """,
)
def dedup_minhash_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end run of the incremental MinHash probe
    (previously pytest-equivalence-only): persist the corpus split's
    banded signature table (``build_minhash_table``), probe it with the
    batch split's band buckets (``dedup_minhash_incremental`` at
    threshold 0 — every bucket candidate), and verify candidates with
    EXACT cross-split Jaccard, the same candidates+exact-verify
    structure ``dedup_minhash_lsh`` locks: the band config recalls every
    >=T pair of this corpus deterministically, so the exact-Jaccard SQL
    is a true oracle of the probe path."""
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source").isin(*_BATCH_SRCS))
    corpus = d.filter(~F.col("source").isin(*_BATCH_SRCS))
    tab = scratch_dir("mhband", sf_dir)
    build_minhash_table(spark, corpus, tab)
    cand = dedup_minhash_incremental(spark, batch, tab, threshold=0.0).select(
        "new_id", "corpus_id"
    )
    sh = (
        _shingle_rows(d)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shingles"))
    )
    va = sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_a"))
    vb = sh.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b"))
    jac = F.col("inter").cast("double") / (
        F.size("sh_a") + F.size("sh_b") - F.col("inter")
    )
    return (
        cand.join(va, "new_id")
        .join(vb, "corpus_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(jac >= _JACCARD_T)
        .select("new_id", "corpus_id", F.round(jac, 4).alias("jaccard"))
        .orderBy("new_id", "corpus_id")
    )


# ---------------------------------------------------------------------------
# Bloom-pre-filtered incremental dedup (the shuffle-avoidance fast path)
# ---------------------------------------------------------------------------

_BLOOM_K = 5  # hash probes per key
_BLOOM_BITS_PER_KEY = 10  # ~1% FPR at K=5 (bits/key ≈ -1.44·log2(p))


def bloom_size_bits(n_keys: int, bits_per_key: int = _BLOOM_BITS_PER_KEY) -> int:
    """Sizing rule for the distributed filter: bits_per_key·n_keys
    rounded up to a power of two (pmod on a pow2 keeps positions
    uniform and the word space dense).  10 bits/key with K=5 probes
    gives ~1% false positives — at 10⁹ corpus fingerprints that is
    2³⁴ bits = 2²⁸ word rows (~4 GB as a TABLE, distributed), which is
    exactly why the filter must stay a word table and never a
    driver-assembled array."""
    n = max(1 << 16, n_keys * bits_per_key)
    return 1 << (n - 1).bit_length()


def bloom_word_table(fp_df: DataFrame, n_bits: int) -> DataFrame:
    """Distributed Bloom filter over a fingerprint column (`fp`) as a
    WORD TABLE: (w bigint, m bigint, n_bits bigint) — word index, 64-bit
    word value, and the (constant, RLE-free in parquet) filter size.
    Only populated words appear; an absent word is all-zero.

    Built the only way that scales: each fingerprint maps to K bit
    positions (xxhash64 with K salt columns — JVM codegen), positions
    aggregate into 64-bit words via bit_or with map-side partial
    combine, so the shuffle carries at most n_bits/64 rows regardless
    of corpus size, and NOTHING reaches the driver — the filter lives
    and is probed as a distributed relation (the previous round's
    driver-side array assembly capped the filter at broadcast size,
    orders of magnitude below what a billion-key corpus needs)."""
    pos = fp_df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(n_bits))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("p")
    )
    # shiftleft's bit count must be an expression here (it varies per
    # row), which only the SQL form accepts — the DataFrame function
    # insists on a Python int.
    return (
        pos.groupBy((F.col("p") / 64).cast("long").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(pmod(p, 64) as int)))").alias("m"))
        .withColumn("n_bits", F.lit(n_bits).cast("bigint"))
    )


def build_fingerprint_bloom(
    spark: SparkSession, fp_df: DataFrame, out_path: str, n_bits: int | None = None
) -> None:
    """Persist the distributed Bloom word table next to the fingerprint
    table (the write-once artifact for the incremental-dedup fast path;
    see ``bloom_word_table`` for the build shape).  Default sizing is
    ``bloom_size_bits(count)`` — the bits-per-key rule applied to the
    actual corpus; the count is footer-only on a parquet-backed
    fingerprint table.  Self-describing: n_bits rides along as a
    constant column, so probes need no side-channel metadata."""
    if n_bits is None:
        n_bits = bloom_size_bits(fp_df.count())
    bloom_word_table(fp_df, n_bits).write.mode("overwrite").parquet(out_path)


def merge_fingerprint_bloom(
    spark: SparkSession, new_fps: DataFrame, bloom_path: str
) -> None:
    """Admit a batch into the persisted filter: OR the batch's word rows
    into the word table and swap the artifact — the maintenance step
    that completes the incremental-dedup lifecycle (build → probe →
    admit → merge) without ever rebuilding from the full corpus.
    Bloom filters are unions of bit sets, so merge ≡ rebuild exactly
    (asserted word-for-word in tests); cost is one bounded aggregation
    over old-words ∪ batch-words (≤ n_bits/64 + K·|batch| rows).

    Commit is the manifest-snapshot protocol (``versioned.
    SnapshotArtifact``): the merged word table lands in the next ``_v``
    snapshot dir and that write job's ``_SUCCESS`` marker is the commit
    — one object PUT, safe on object stores where a directory rename is
    copy+delete; the previous filter stays fully readable through any
    crash.  Read the live filter back with
    ``versioned.read_artifact(spark, bloom_path)``."""
    from ..versioned import SnapshotArtifact

    art = SnapshotArtifact(spark, bloom_path)
    words = art.read()
    n_bits = int(words.select("n_bits").first()["n_bits"])
    merged = (
        words.select("w", "m")
        .unionByName(bloom_word_table(new_fps, n_bits).select("w", "m"))
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("m"))
        .withColumn("n_bits", F.lit(n_bits).cast("bigint"))
    )
    merged.write.mode("errorifexists").parquet(art.next_dir())
    art.finalize()


def bloom_probe(fps: DataFrame, words: DataFrame, n_bits: int) -> DataFrame:
    """(fp, bloom_maybe) for every distinct fingerprint in `fps`:
    bloom_maybe is true iff ALL K probed bits are set.

    Pure join algebra — no broadcast of the filter, no driver
    materialization: each fingerprint explodes into K (word-index,
    bit-mask) probe rows, probes left-join the word table on the word
    index (absent word ⇒ bit unset), and a fingerprint is 'maybe' iff
    its matched-probe count equals K.  Both join sides are bounded
    (K·|batch| probes vs ≤ n_bits/64 words), the join key is uniform
    by construction, and AQE picks broadcast/shuffle-hash per actual
    sizes — the shape survives any corpus scale the word table does.

    Fingerprints are distinct-ed BEFORE exploding probes: a fingerprint
    appearing m>1 times in `fps` would otherwise contribute K·m hit
    rows and fail the sum(hit)==K test even with every bit set — a
    false negative on exactly the rows (batch-internal duplicates of a
    corpus doc) the filter exists to catch.  Callers left-join the
    (fp, bloom_maybe) result back onto their rows, which fans the flag
    out to duplicates correctly."""
    probes = fps.select("fp").distinct().select(
        "fp",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"named_struct("
                        f"'w', pmod(xxhash64(fp, {i}), {n_bits}L) div 64, "
                        f"'mask', shiftleft(1L, cast(pmod(pmod(xxhash64(fp, {i}), {n_bits}L), 64) as int)))"
                    )
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("pr"),
    ).select("fp", "pr.w", "pr.mask")
    hit = F.when(
        F.col("m").isNotNull() & (F.col("m").bitwiseAND(F.col("mask")) != 0), 1
    ).otherwise(0)
    return (
        probes.join(words.select("w", "m"), "w", "left")
        .groupBy("fp")
        .agg((F.sum(hit) == F.lit(_BLOOM_K)).alias("bloom_maybe"))
    )


def dedup_incremental_bloom(
    spark: SparkSession, new_docs: DataFrame, fp_path: str, bloom_words: DataFrame
) -> DataFrame:
    """Incremental dedup with a distributed Bloom pre-filter: rows whose
    fingerprint the filter rejects are DEFINITELY new (no false
    negatives) and skip the anti-join against the full corpus
    fingerprint table; only the maybe-duplicate slice — fp-rate +
    true-dup fraction of the batch — pays that join.  Result is
    row-identical to `dedup_incremental_prepared` (equivalence-tested);
    at a 1% false-positive rate on a mostly-novel crawl batch this
    removes ~99% of the join's left side.

    `bloom_words` is the word-table relation (from ``bloom_word_table``
    or a ``build_fingerprint_bloom`` read) — the filter is probed with
    a K-probe join, never collected or broadcast as an array, so the
    same code runs at 2²³ bits and at the 2³⁴ bits a billion-key
    corpus needs.  The only driver read is the 1-row n_bits lookup."""
    n_bits = int(bloom_words.select("n_bits").first()["n_bits"])
    # hash once, persist: both the maybe- and definite-branches read
    # `hashed`, and without the scope-tracked persist the batch would be
    # scanned (and md5'd) twice
    hashed = scoped_persist(
        new_docs.withColumn("fp", F.md5(F.col("text").cast("binary")))
    )
    flags = bloom_probe(hashed, bloom_words, n_bits)
    flagged = hashed.join(flags, "fp", "left").withColumn(
        "bloom_maybe", F.coalesce("bloom_maybe", F.lit(False))
    )
    maybe = flagged.filter(F.col("bloom_maybe")).drop("bloom_maybe")
    definite_new = flagged.filter(~F.col("bloom_maybe")).drop("bloom_maybe", "fp")
    corpus_fp = spark.read.parquet(fp_path).select("fp")
    survivors = maybe.join(corpus_fp, "fp", "left_anti").drop("fp")
    return definite_new.unionByName(survivors)


@register(
    "dedup_incremental_bloom",
    oracle="""
    SELECT n.doc_id, n.source
    FROM documents n
    WHERE n.source IN ('src15', 'src16', 'src17', 'src18', 'src19')
      AND NOT EXISTS (
        SELECT 1 FROM documents o
        WHERE o.source NOT IN ('src15', 'src16', 'src17', 'src18', 'src19')
          AND md5(o.text) = md5(n.text)
      )
    ORDER BY n.doc_id
    """,
)
def dedup_incremental_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end run of the distributed Bloom fast path:
    build the corpus word table, K-probe the new batch against it as a
    join, anti-join only the maybe slice, and union the definite-new
    slice back in.  The Bloom filter is pure pre-filtering, so the
    result — and hence the oracle — is exactly `dedup_incremental`'s
    NOT EXISTS semantics; what this query locks is that the join-based
    probe path (the 100 TB shape, zero driver materialization) keeps
    the no-false-negative contract on real data."""
    batch_srcs = ("src15", "src16", "src17", "src18", "src19")
    d = table(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("source").isin(*batch_srcs))
    corpus_fp = scoped_persist(
        d.filter(~F.col("source").isin(*batch_srcs)).select(F.md5("text").alias("fp"))
    )
    n_bits = 1 << 20
    words = scoped_persist(bloom_word_table(corpus_fp, n_bits))
    hashed = scoped_persist(new_batch.withColumn("fp", F.md5("text")))
    flags = bloom_probe(hashed, words, n_bits)
    flagged = hashed.join(flags, "fp", "left").withColumn(
        "bloom_maybe", F.coalesce("bloom_maybe", F.lit(False))
    )
    maybe = flagged.filter(F.col("bloom_maybe")).join(corpus_fp, "fp", "left_anti")
    definite = flagged.filter(~F.col("bloom_maybe"))
    return (
        maybe.unionByName(definite)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact repeated-span coverage (substring-level dedup signal)
# ---------------------------------------------------------------------------

_SPAN_K = 6  # token span length (Lee et al. 2022 use 50-token spans at
# web scale; the fixture's short docs need a smaller k for a non-trivial
# signal — the plan shape is k-independent)

# DuckDB twin of functions.tokens (positions are 1-based there vs
# Spark's 0-based posexplode — the covered-position SETS differ by a
# constant shift, so the per-doc counts are identical)
_DUCK_TOKS_DD = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


def _gram_key(col):
    """16-hex-char md5 prefix of the span text — the span family's
    SHUFFLE KEY.  At k=8 the raw gram string is ~8x the corpus token
    bytes, and the span-frequency exchange was the widest shuffle in
    the repo (VERDICT r10 #3); hashing shrinks it ~wordsize-fold at a
    collision risk of 2^-64 per pair (the dedup_exact fingerprint
    discipline).  The DuckDB oracles key on the SAME prefix, so
    cross-engine equality holds even under a collision."""
    return F.substring(F.md5(col.cast("binary")), 1, 16)


def _duck_gram_key(expr: str) -> str:
    """DuckDB twin of _gram_key."""
    return f"substring(md5({expr}), 1, 16)"


def _span_oracle() -> str:
    k = _SPAN_K
    return f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS_DD} AS toks FROM documents),
    pos AS (
      SELECT doc_id, u.p AS pos, u.g AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                 i -> struct_pack(p := i,
                        g := substring(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 16)))) AS u
        FROM t)),
    gcnt AS (SELECT gram, count(*) AS n FROM pos GROUP BY gram),
    cov AS (
      SELECT DISTINCT p.doc_id, unnest(range(p.pos, p.pos + {k})) AS cp
      FROM pos p JOIN gcnt g USING (gram) WHERE g.n > 1),
    percov AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_covered, 0) AS BIGINT) AS n_covered,
           round(CAST(coalesce(p.n_covered, 0) AS DOUBLE)
                 / greatest(len(t.toks), 1), 4) AS coverage
    FROM t LEFT JOIN percov p ON p.doc_id = t.doc_id
    """


@register("dedup_span_coverage", oracle=_span_oracle())
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-SPAN coverage (the Lee et al. 2022 substring-dedup
    signal): for every document, the fraction of its token positions
    covered by some k-token span that occurs more than once in the
    corpus — at ANY alignment, counting multiplicity.  Chunk-level
    dedup (dedup_chunk_exact) only sees repeats that respect chunk
    boundaries; span coverage catches a license block pasted mid-
    paragraph, and is the quantity substring-dedup pipelines threshold
    on before cutting repeated ranges out of training text.

    Scale shape: positions stay rows (posexplode + window leads — the
    _shingle_rows codegen discipline, multiplicity preserved); the only
    corpus-wide exchange is the span-frequency groupBy keyed on the
    span text, and the interval union (span → its k covered positions)
    is a row-local explode + per-doc distinct riding the doc_id
    partitioning.  No text is ever shuffled except the k-token spans
    themselves."""
    d = table(spark, sf_dir, "documents")
    tok_rows = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", j).over(wp) for j in range(1, _SPAN_K)]
    spans = (
        tok_rows.select(
            "doc_id",
            "pos",
            _gram_key(F.concat_ws(" ", *grams)).alias("gram"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("doc_id", "pos", "gram")
    )
    gcnt = spans.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    covered = (
        spans.join(gcnt.filter(F.col("n") > 1).select("gram"), "gram")
        .select(
            "doc_id", F.explode(F.expr(f"sequence(pos, pos + {_SPAN_K - 1})")).alias("cp")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    n_tok = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return (
        n_tok.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_covered", F.lit(0)).cast("bigint").alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("coverage"),
        )
    )


def _span_cut_oracle(rel: str = "documents") -> str:
    """DuckDB twin of span_cut over any (doc_id, text) relation ``rel``
    (a name or a parenthesized subselect) — relation-parameterized so
    the curation-capstone oracle can run the cut over the FUNNEL
    SURVIVORS exactly as the pipeline does."""
    k = _SPAN_K
    return f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS_DD} AS toks FROM {rel}),
    tokpos AS (
      SELECT doc_id, u.p AS pos, u.tk AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM t)),
    spanpos AS (
      SELECT doc_id, u.p AS pos, u.g AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                 i -> struct_pack(p := i,
                        g := substring(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 16)))) AS u
        FROM t)),
    occ AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS n,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
      FROM spanpos),
    cut AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS cp
      FROM occ WHERE n > 1 AND rk > 1),
    kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM tokpos p LEFT JOIN cut c ON c.doc_id = p.doc_id AND c.cp = p.pos
      WHERE c.cp IS NULL),
    clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(c.cleaned, '')) AS cleaned_md5
    FROM t LEFT JOIN clean c ON c.doc_id = t.doc_id
    """


def span_cut(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Substring dedup as a TRANSFORM (Lee et al. 2022): excise every
    token position covered by a non-first occurrence of a k-token span
    that repeats anywhere in the corpus, keep-first-occurrence policy
    (the corpus-wide first occurrence — smallest (doc_id, pos) — of
    each repeated span survives; later copies are cut).  Returns
    per-doc (doc_id, n_tokens, n_kept, cleaned, cleaned_md5) with the
    cleaned text reassembled from the surviving tokens in order.

    Scale shape, same discipline as dedup_span_coverage: tokens and
    spans stay ROWS (posexplode + window leads — whole-stage codegen,
    multiplicity preserved); the only corpus-wide exchanges are the
    span-frequency/first-occurrence groupBy (keyed on the span text —
    min(struct(doc_id,pos)) partial-aggregates map-side) and the
    per-doc reassembly groupBy; the cut-range union is a row-local
    explode + per-doc distinct riding the doc_id partitioning.  The
    reassembly's per-doc sorted collect is bounded by document length
    — the same bound tokens() itself implies."""
    from ..cachescope import scoped_persist

    tok_rows = scoped_persist(
        docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
        )
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", j).over(wp) for j in range(1, k)]
    spans = (
        tok_rows.select(
            "doc_id",
            "pos",
            _gram_key(F.concat_ws(" ", *grams)).alias("gram"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("doc_id", "pos", "gram")
    )
    firsts = spans.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    cut = (
        spans.join(firsts.filter(F.col("n") > 1), "gram")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(cut, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    n_tok = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return n_tok.join(clean, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.md5(F.coalesce("cleaned", F.lit("")).cast("binary")).alias("cleaned_md5"),
    )


@register("dedup_span_cut", oracle=_span_cut_oracle())
def dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform dedup_span_coverage only MEASURES: cut repeated
    k-token spans out of the training text (keep the corpus-wide first
    occurrence), returning per-doc kept-token counts and the md5 of
    the cleaned text — the signal's actionable twin, and what
    substring-dedup pipelines actually ship to training.  The oracle
    re-derives the identical cut from the window-ranked first
    occurrence per span, so keep-first tie-breaking is proven
    cross-engine, not just self-consistent."""
    return span_cut(table(spark, sf_dir, "documents"), _SPAN_K).select(
        "doc_id", "n_tokens", "n_kept", "cleaned_md5"
    )


_SCRUB_F = 3  # occurrences at/above which a span is boilerplate (3 bites
# on the sf fixtures — 73 hot spans at sf0.01; 4 would be a NO-OP there,
# and a green oracle over a no-op proves nothing about the excision)


def _span_scrub_oracle(
    rel: str = "documents", with_text: bool = False, min_freq: int = _SCRUB_F
) -> str:
    """DuckDB twin of span_scrub over any (doc_id, text) relation; set
    ``with_text`` to emit the cleaned STRING itself (the curation
    capstone feeds it to the downstream span-cut stage) instead of its
    md5."""
    k = _SPAN_K
    cleaned_col = (
        "coalesce(c.cleaned, '') AS cleaned"
        if with_text
        else "md5(coalesce(c.cleaned, '')) AS cleaned_md5"
    )
    return f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS_DD} AS toks FROM {rel}),
    tokpos AS (
      SELECT doc_id, u.p AS pos, u.tk AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM t)),
    spanpos AS (
      SELECT doc_id, u.p AS pos, u.g AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                 i -> struct_pack(p := i,
                        g := substring(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 16)))) AS u
        FROM t)),
    hot AS (SELECT gram FROM spanpos GROUP BY gram HAVING count(*) >= {min_freq}),
    cut AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS cp
      FROM spanpos WHERE gram IN (SELECT gram FROM hot)),
    kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM tokpos p LEFT JOIN cut c ON c.doc_id = p.doc_id AND c.cp = p.pos
      WHERE c.cp IS NULL),
    clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
           {cleaned_col}
    FROM t LEFT JOIN clean c ON c.doc_id = t.doc_id
    """


def span_scrub(docs: DataFrame, k: int = _SPAN_K, min_freq: int = _SCRUB_F) -> DataFrame:
    """Boilerplate SCRUB (the C4 cleaning rule re-expressed at span
    granularity): excise EVERY position covered by a k-token span whose
    corpus frequency is >= ``min_freq`` — unlike span_cut's keep-first
    policy, no copy survives, because a span that common is template
    noise (cookie banners, license headers), not content.  Returns the
    span_cut shape (doc_id, n_tokens, n_kept, cleaned, cleaned_md5).

    Scale shape: identical to span_cut minus the first-occurrence
    argmin — one hashed-gram frequency exchange, a semi-join of spans
    against the hot grams, a row-local interval explode, the per-doc
    reassembly."""
    from ..cachescope import scoped_persist

    tok_rows = scoped_persist(
        docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
        )
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", j).over(wp) for j in range(1, k)]
    spans = (
        tok_rows.select(
            "doc_id",
            "pos",
            _gram_key(F.concat_ws(" ", *grams)).alias("gram"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("doc_id", "pos", "gram")
    )
    hot = (
        spans.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_freq)
        .select("gram")
    )
    cut = (
        spans.join(hot, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(cut, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    n_tok = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return n_tok.join(clean, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.md5(F.coalesce("cleaned", F.lit("")).cast("binary")).alias("cleaned_md5"),
    )


@register("dedup_span_scrub", oracle=_span_scrub_oracle())
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_cut removes REPEATS keep-first; this removes BOILERPLATE
    entirely — every occurrence of any span the corpus repeats >=
    {f} times (the C4 'remove any line that appears verbatim too
    often' rule at span granularity).  Both transforms ship in real
    pipelines: scrub first (template noise carries no information),
    keep-first dedup after."""
    return span_scrub(table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_kept", "cleaned_md5"
    )


dedup_span_scrub.__doc__ = dedup_span_scrub.__doc__.format(f=_SCRUB_F)


def build_span_index(
    spark: SparkSession, docs: DataFrame, out_path: str, k: int = _SPAN_K
) -> None:
    """Persist the corpus's DISTINCT k-token spans — the write-once
    artifact for INCREMENTAL substring dedup (the span twin of
    build_shingle_index).  Existence is all the cut rule needs: any
    batch occurrence of a corpus span is a non-first occurrence by
    definition (the corpus copy already shipped), so the index carries
    no counts and no positions — one string column, maximally
    compressible, appendable as segments."""
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", j).over(wp) for j in range(1, k)]
    (
        tok_rows.select(
            _gram_key(F.concat_ws(" ", *grams)).alias("gram"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("gram")
        .distinct()
        .write.mode("overwrite")
        .parquet(out_path)
    )


def span_cut_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    k: int = _SPAN_K,
    tok_rows: DataFrame | None = None,
) -> DataFrame:
    from ..sources import artifact

    return _span_cut_against(
        new_docs, artifact(spark, index_path).select("gram"), k, tok_rows
    )


def _span_cut_against(
    new_docs: DataFrame,
    corpus_grams: DataFrame,
    k: int = _SPAN_K,
    tok_rows: DataFrame | None = None,
) -> DataFrame:
    """Substring-dedup a BATCH against a frozen, already-shipped corpus:
    a batch span occurrence is excised iff its gram EXISTS in the
    corpus span index (the corpus copy is the kept first occurrence)
    or it is a non-first occurrence within the batch itself
    (keep-first by (doc_id, pos) among batch occurrences).  Corpus
    text is never re-read — cost is the batch scan plus one join
    against the gram index, keyed on the span text.  Returns the same
    per-doc shape as span_cut, for the batch docs only.  After
    shipping, append the CLEANED batch's distinct grams to the index
    (kept first occurrences become the corpus copies future batches
    dedup against).

    ``tok_rows`` (optional): the caller's already-computed
    ``(doc_id, pos, tok)`` position-exploded token rows for exactly
    ``new_docs`` — callers that tokenized the batch for their own
    scoring pass (curate_funnel_audit's frozen-LM score) hand the rows
    in so the batch text is tokenized ONCE per pipeline instead of
    re-exploded here (guide §1.2 step 1: one pass over the payload,
    not one per consumer).  The contract is strict equality with what
    this function would compute itself; the funnel's oracle row and
    the span-cut pytests pin it."""
    from ..cachescope import scoped_persist

    tok_rows = scoped_persist(
        tok_rows
        if tok_rows is not None
        else new_docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
        )
    )
    wp = W.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("tok")] + [F.lead("tok", j).over(wp) for j in range(1, k)]
    spans = (
        tok_rows.select(
            "doc_id",
            "pos",
            _gram_key(F.concat_ws(" ", *grams)).alias("gram"),
            grams[-1].isNotNull().alias("complete"),
        )
        .filter("complete")
        .select("doc_id", "pos", "gram")
    )
    cg = corpus_grams.select("gram", F.lit(True).alias("in_corpus"))
    firsts = spans.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    cut = (
        spans.join(firsts, "gram")
        .join(cg, "gram", "left")
        .filter(
            F.coalesce("in_corpus", F.lit(False))
            | (
                (F.col("n") > 1)
                & ~(
                    (F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("pos") == F.col("first.pos"))
                )
            )
        )
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(cut, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    n_tok = new_docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return n_tok.join(clean, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        F.md5(F.coalesce("cleaned", F.lit("")).cast("binary")).alias("cleaned_md5"),
    )


def _span_cut_incremental_oracle() -> str:
    k = _SPAN_K
    return f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS_DD} AS toks FROM documents),
    spanpos AS (
      SELECT doc_id, source, u.p AS pos, u.g AS gram FROM (
        SELECT doc_id, source,
               unnest(list_transform(
                 range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                 i -> struct_pack(p := i,
                        g := substring(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 16)))) AS u
        FROM t)),
    cg AS (SELECT DISTINCT gram FROM spanpos WHERE source NOT IN ({_BATCH_IN})),
    occ AS (
      SELECT doc_id, pos, gram,
             count(*) OVER (PARTITION BY gram) AS n,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
      FROM spanpos WHERE source IN ({_BATCH_IN})),
    cut AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS cp
      FROM occ
      WHERE gram IN (SELECT gram FROM cg) OR (n > 1 AND rk > 1)),
    tokpos AS (
      SELECT doc_id, u.p AS pos, u.tk AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, tk := toks[i]))) AS u
        FROM t WHERE source IN ({_BATCH_IN}))),
    kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM tokpos p LEFT JOIN cut c ON c.doc_id = p.doc_id AND c.cp = p.pos
      WHERE c.cp IS NULL),
    clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(c.cleaned, '')) AS cleaned_md5
    FROM t LEFT JOIN clean c ON c.doc_id = t.doc_id
    WHERE t.source IN ({_BATCH_IN})
    """


@register("dedup_span_cut_incremental", oracle=_span_cut_incremental_oracle())
def dedup_span_cut_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end incremental substring dedup: persist
    the corpus split's distinct-span index (``build_span_index``), cut
    the batch split against it (``span_cut_incremental`` — corpus
    occurrences always win keep-first; batch-internal repeats keep
    their own first).  The oracle re-derives the identical cut from
    the full documents table with the corpus/batch split expressed in
    SQL, so the artifact build→probe path is proven semantics-
    preserving, not just self-consistent."""
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source").isin(*_BATCH_SRCS)).select("doc_id", "text")
    corpus = d.filter(~F.col("source").isin(*_BATCH_SRCS)).select("doc_id", "text")
    idx = scratch_dir("spanidx", sf_dir)
    build_span_index(spark, corpus, idx)
    return span_cut_incremental(spark, batch, idx).select(
        "doc_id", "n_tokens", "n_kept", "cleaned_md5"
    )


class SpanIndexStore:
    """Segment-committed span index for a ROLLING corpus — the span twin
    of IncrementalClusters' shingle index: the distinct-gram artifact
    lives as version-named committed segments (``seg_*`` with parquet's
    ``_SUCCESS`` written last — torn writes are invisible), and every
    admitted batch appends ONE segment holding the grams of its CLEANED
    text (kept first occurrences become the corpus copies future
    batches dedup against; grams the batch lost to the cut already
    exist in earlier segments by definition).

    ``cut_admit(batch, tag)`` is deterministic-idempotent: the cut is a
    pure function of (batch, committed segments), and a replayed tag
    skips its already-committed segment — the streaming sink below
    rides that with batch-id tags and batch-keyed output dirs, giving
    exactly-once landing under foreachBatch's at-least-once
    redelivery.  ``compact()`` folds the accumulated micro-batch
    segments into ~128 MB files and dedups grams across them (the same
    gram lands in many segments once text repeats across batches)."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _seg_dir(self, tag: str) -> str:
        import os

        return os.path.join(self.path, f"seg_{tag}")

    def _segments(self) -> list[str]:
        from ..segstore import list_segments

        return list_segments(self.path)

    def compact(self) -> int:
        """Fold all committed segments into one, deduping grams across
        segments (existence is the only signal the cut rule reads, so
        distinct is lossless).  Run at a quiescent point only
        (segstore contract)."""
        from ..segstore import compact_segments

        return compact_segments(
            self.spark, self.path, lambda df: df.select("gram").distinct()
        )

    def grams(self, exclude_tag: str | None = None) -> DataFrame:
        segs = [
            p
            for p in self._segments()
            if exclude_tag is None or not p.endswith(f"seg_{exclude_tag}")
        ]
        if not segs:
            return local_rows_df(self.spark, [], "gram string")
        return self.spark.read.parquet(*segs).select("gram")

    def build(self, docs: DataFrame, k: int = _SPAN_K) -> None:
        """Base corpus segment (idempotent under a replayed build)."""
        build_span_index(self.spark, docs, self._seg_dir("base"), k)

    def _append_segment(self, tag: str, cleaned_docs: DataFrame, k: int) -> None:
        import os

        seg = self._seg_dir(tag)
        if os.path.exists(os.path.join(seg, "_SUCCESS")):
            return  # replayed admission — segment already committed
        build_span_index(self.spark, cleaned_docs, seg, k)

    def cut_admit(
        self, batch: DataFrame, tag: str, k: int = _SPAN_K
    ) -> DataFrame:
        """Cut the batch against every committed segment, commit the
        cleaned text's grams as segment ``tag``, return the cleaned
        rows (doc_id, n_tokens, n_kept, cleaned, cleaned_md5).  The
        returned frame is persisted-scope material the caller lands;
        the segment is written from the SAME cleaned result, so a
        crash between the two is healed by the replay's skip."""
        from ..cachescope import scoped_local_checkpoint

        # eager checkpoint: the segment append writes under self.path,
        # which the cut's own lazy plan reads — materialize first (the
        # admit_corpus_batch read-then-write discipline).  The cut
        # EXCLUDES the tag's own segment, so a replay after a crash
        # between the segment commit and the caller's landing sees the
        # identical index the original run saw (foreachBatch replays
        # only the in-flight batch — later segments cannot exist yet).
        cleaned = scoped_local_checkpoint(
            _span_cut_against(batch, self.grams(exclude_tag=tag), k)
        )
        self._append_segment(
            tag, cleaned.select("doc_id", F.col("cleaned").alias("text")), k
        )
        return cleaned


def cut_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming incremental substring dedup: a file stream of
    (doc_id, text) batches flows through a prebuilt SpanIndexStore —
    per micro-batch, the batch is span-cut against everything shipped
    so far, the CLEANED rows land under ``out_dir/batch=<id>/`` (the
    quality-sink tmp-write + rename-swap discipline), and the cleaned
    grams commit as the batch's index segment.  Exactly-once: replays
    skip the committed segment and replace exactly their own output
    dir.  Returns the ready DataStreamWriter (caller .start()s it)."""
    import os
    import shutil

    store = SpanIndexStore(spark, store_path)

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        b = int(batch_id)
        cleaned = store.cut_admit(batch_df, f"b{b:08d}")
        dest = os.path.join(out_dir, f"batch={b}")
        tmp = os.path.join(out_dir, f".batch_{b}.tmp")
        old = os.path.join(out_dir, f".batch_{b}.old")
        shutil.rmtree(tmp, ignore_errors=True)
        # reclaim a copy stranded at .old by a crash between the two
        # swap renames (dest missing -> the else branch would leak it)
        shutil.rmtree(old, ignore_errors=True)
        cleaned.select("doc_id", "n_tokens", "n_kept", "cleaned").write.mode(
            "overwrite"
        ).parquet(tmp)
        if os.path.isdir(dest):
            os.rename(dest, old)
            os.rename(tmp, dest)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.makedirs(out_dir, exist_ok=True)
            os.rename(tmp, dest)

    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


# Threshold sweep grid — the dedup-T knob itself, next to the (b, r)
# knob dedup_lsh_scurve tunes.  The grid brackets the sampled fixture's
# noise floor (pair mass 564 → 43 → 7 → 1 across 0.01..0.05, then flat
# — a real elbow), so every driver check sees the curve actually bend.
_SWEEP_TS = (0.01, 0.02, 0.03, 0.05, 0.2)


def _sweep_oracle() -> str:
    from ..functions import duck_md5_bucket

    bucket = duck_md5_bucket("doc_id")
    pairs = f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_JACCARD_N - 1}, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      FROM (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM documents
            WHERE {bucket} < {_SCURVE_SAMPLE})
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sh),
    pairs AS (
      SELECT a_id, b_id,
             round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS j
      FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
               any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    )"""
    selects = []
    for t in _SWEEP_TS:
        selects.append(f"""
    SELECT CAST({t} AS DOUBLE) AS threshold,
           CAST((SELECT count(*) FROM pairs WHERE j >= {t}) AS BIGINT) AS n_pairs,
           CAST((SELECT count(DISTINCT d) FROM (
                   SELECT a_id AS d FROM pairs WHERE j >= {t}
                   UNION ALL SELECT b_id FROM pairs WHERE j >= {t}))
                AS BIGINT) AS n_docs_touched,
           CAST(round((SELECT count(DISTINCT d) FROM (
                   SELECT a_id AS d FROM pairs WHERE j >= {t}
                   UNION ALL SELECT b_id FROM pairs WHERE j >= {t}))
                 * 1000000.0 / n.n_docs) AS BIGINT) AS touched_ppm
    FROM n""")
    return pairs + " UNION ALL ".join(selects)


@register("dedup_threshold_sweep", oracle=_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sweep: for each candidate Jaccard threshold T,
    how many pairs and how many distinct documents the near-dup pass
    would touch (absolute + parts-per-million of the sampled corpus) —
    the knob-selection companion of dedup_lsh_scurve (which tunes the
    band split FOR a chosen T; this face chooses T).  A production run
    reads the curve's elbow: the T where touched mass stops growing is
    where near-dup stops finding structure and starts finding noise.

    Scale shape: shares the scurve face's discipline exactly — the
    exact pair set comes from the collapse-first AllPairs machinery at
    threshold 0 over the deterministic md5-bucket sample, is computed
    ONCE (scope-persisted), and each threshold row folds it into three
    integer aggregates.  touched_ppm is one fixed IEEE division chain
    rounded to integer ppm."""
    sample = _scurve_sample(table(spark, sf_dir, "documents"))
    n_docs = sample.agg(F.count(F.lit(1)).alias("n_docs"))
    pairs = scoped_persist(ngram_jaccard_pairs(sample, threshold=0.0))
    parts = []
    for t in _SWEEP_TS:
        sub = pairs.filter(F.col("jaccard") >= t)
        touched = sub.select(
            F.explode(F.array("a_id", "b_id")).alias("d")
        ).agg(F.countDistinct("d").alias("n_docs_touched"))
        np_ = sub.agg(F.count(F.lit(1)).alias("n_pairs"))
        parts.append(
            np_.crossJoin(touched)
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.lit(t).alias("threshold"),
                "n_pairs",
                "n_docs_touched",
                F.round(
                    F.col("n_docs_touched") * F.lit(1000000.0) / F.col("n_docs")
                )
                .cast("long")
                .alias("touched_ppm"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out
