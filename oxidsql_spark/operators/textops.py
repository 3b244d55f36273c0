"""Text analysis for a large-scale training-data pipeline, over the
`documents` table: quality stats, token counting, language-ID heuristic,
and content fingerprinting.

Everything here is built-in-expression work (split / regexp / md5 /
higher-order array functions) — it runs inside whole-stage codegen on a
cluster, no Python. A 100 TB corpus scans these embarrassingly parallel:
no shuffle at all except where an aggregate is explicitly requested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import local_rows_df, tokens
from ..registry import register
from ..sources import table

# Tiny per-language stopword lists for the heuristic language-ID — chosen
# to be expressible identically in the DuckDB oracle.
_LANG_STOPS = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "una", "por"),
}

_STOPS = ("the", "a", "and", "of", "to", "in", "is")


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS n_tokens,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
           round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round(CAST(len(list_filter(
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END,
                   t -> list_contains(['the','a','and','of','to','in','is'], t))) AS DOUBLE)
                 / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END, 1), 4)
             AS stop_ratio
    FROM documents
    """,
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: char/token/punctuation counts + stopword ratio —
    the standard cheap filters before expensive pipeline stages."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPS)))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        F.round(n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1)), 4).alias(
            "punct_ratio"
        ),
        F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias("stop_ratio"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_STOPS[lang])
    return (
        "len(list_filter(CASE WHEN length(trim(text)) = 0 THEN [] "
        "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END, "
        f"t -> list_contains([{words}], t)))"
    )


def langid_scores(toks: "F.Column") -> "dict[str, F.Column]":
    """Per-language stopword hit counts from a token array — the shared
    expression block of text_langid and langid_confusion (pure column
    composition, so consumers stay single-scan / zero-join)."""

    def stop_hits(words: tuple[str, ...]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    return {lang: stop_hits(ws) for lang, ws in _LANG_STOPS.items()}


def langid_pred(s: "dict[str, F.Column]") -> "F.Column":
    """The deterministic tie-break chain (en > de > fr > es) over a
    langid_scores dict."""
    return (
        F.when((s["en"] == 0) & (s["de"] == 0) & (s["fr"] == 0) & (s["es"] == 0), "und")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id,
           {_lang_score_sql('en')} AS s_en, {_lang_score_sql('de')} AS s_de,
           {_lang_score_sql('fr')} AS s_fr, {_lang_score_sql('es')} AS s_es,
           CASE WHEN {_lang_score_sql('en')} = 0 AND {_lang_score_sql('de')} = 0
                 AND {_lang_score_sql('fr')} = 0 AND {_lang_score_sql('es')} = 0 THEN 'und'
                WHEN {_lang_score_sql('en')} >= {_lang_score_sql('de')}
                 AND {_lang_score_sql('en')} >= {_lang_score_sql('fr')}
                 AND {_lang_score_sql('en')} >= {_lang_score_sql('es')} THEN 'en'
                WHEN {_lang_score_sql('de')} >= {_lang_score_sql('fr')}
                 AND {_lang_score_sql('de')} >= {_lang_score_sql('es')} THEN 'de'
                WHEN {_lang_score_sql('fr')} >= {_lang_score_sql('es')} THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID via per-language stopword hit counts with a
    deterministic tie-break order (en > de > fr > es)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    scores = langid_scores(toks)
    d = d.select("doc_id", *[scores[lg].alias(f"s_{lg}") for lg in ("en", "de", "fr", "es")])
    s = {lg: F.col(f"s_{lg}") for lg in ("en", "de", "fr", "es")}
    return d.withColumn("lang_pred", langid_pred(s))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fp_md5, sha256(lower(trim(text))) AS fp_sha256
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 + sha256 of normalized text) — the keys
    for exact dedup and provenance tracking."""
    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fp_md5"),
        F.sha2(norm.cast("binary"), 256).alias("fp_sha256"),
    )


@register(
    "text_top_terms",
    oracle="""
    SELECT term, count(*) AS n
    FROM (
      SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS term
      FROM documents)
    GROUP BY term
    ORDER BY n DESC, term LIMIT 50
    """,
    bench=True,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies, top 50 — explode → count → top-k. The
    wordcount shape: map-side partial counts make the shuffle carry one
    row per distinct term per partition, and TakeOrderedAndProject keeps
    the top-k without a global sort."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single symbols) — the usual proxy for LLM
    token budgets."""
    d = table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_ws = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    n_bpeish = F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)"))
    return d.select("doc_id", n_bpeish.alias("n_bpeish"), n_ws.alias("n_ws"))


# The production PII pattern set (C4/Dolma-style breadth), applied in a
# FIXED order so the patterns cannot bite each other's matches:
#   email first (its local part may contain digits the number patterns
#   would chew), then the 16-digit card (before phone: a spaced card
#   contains phone-shaped digit groups), then SSN (3-2-4 — disjoint from
#   phone's 3-3/4-4 but scrubbed before any loosening of phone), then
#   IPv4 (before phone: phone's dot separator would eat dotted quads
#   whose last octet is 4 digits... it can't, but order makes it moot),
#   then phone.  All RE2-safe (no backrefs/lookarounds) so the DuckDB
#   oracle runs the IDENTICAL patterns.
#
# Exact shapes covered (and deliberately not covered):
#   <CC>    16 digits led by a major-industry IIN digit [3-6]
#           (Amex/Visa/MC/Discover space), bare or with CONSISTENT
#           dash/space separators.  Mixed separators and non-[3-6]
#           leads stay unredacted — a full Luhn check needs arithmetic
#           a regex can't express, and the IIN guard already stops the
#           worst over-redaction (arbitrary bare 16-digit ids).
#           Consistent separators are spelled as an alternation: a
#           backreference would break RE2, hence DuckDB parity.
#   <PHONE> NANP-ish 3-3/4-4 groups with dash/dot/space separators,
#           optionally a parenthesized area code ("(555) 867-5309")
#           and/or a +1- country prefix.  Bare 10-digit runs and other
#           country codes stay unredacted.
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        r"\b[3-6]\d{3}-\d{4}-\d{4}-\d{4}\b|\b[3-6]\d{3} \d{4} \d{4} \d{4}\b|\b[3-6]\d{15}\b",
        "<CC>",
    ),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (
        r"(?:\+1[-. ])?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3,4}[-. ]\d{4}\b",
        "<PHONE>",
    ),
]


def _pii_oracle() -> str:
    expr = "text"
    for pat, tok in _PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{tok}', 'g')"
    return f"""
    WITH r AS (SELECT doc_id, text, {expr} AS redacted FROM documents)
    SELECT doc_id, redacted, length(text) - length(redacted) AS delta_chars
    FROM r
    """


@register("text_redact_pii", oracle=_pii_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for a training corpus: emails, IIN-guarded 16-digit
    card numbers (bare or consistently dash/space separated), SSN-shaped
    ids, IPv4 addresses, and NANP phone numbers (dash/dot/space groups,
    optional parenthesized area code, optional +1 prefix) replaced by
    typed placeholder tokens — the exact shape contract is spelled out
    at ``_PII_PATTERNS``.
    Pure regexp_replace chain — JVM-side, embarrassingly parallel, no
    shuffle; the regexes are RE2-safe so the DuckDB oracle runs the
    identical patterns in the identical order. delta_chars doubles as
    a cheap 'how much PII was here' audit metric."""
    redacted = F.col("text")
    for pat, tok in _PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, tok)
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        redacted.alias("redacted"),
        (F.length("text") - F.length(redacted)).alias("delta_chars"),
    )


@register(
    "corpus_shard_pack",
    oracle="""
    WITH sized AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor(CAST(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS DOUBLE)
                      / 5000) AS BIGINT) AS shard_id
    FROM sized
    ORDER BY doc_id
    """,
)
def corpus_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign docs (in deterministic doc_id
    order) to shards of ~5000 tokens via a running token total — the
    training-data step that cuts a corpus into uniform work units.
    The spec is a global-ordered running sum; a naive unpartitioned
    window would execute as ``Exchange SinglePartition`` (one task over
    the whole corpus), so the running total runs hierarchically instead:
    ``distwindow.global_cumsum`` range-partitions on doc_id, cumsums
    per partition in parallel, and broadcasts the O(num_partitions)
    prefix offsets back.  Identical values to the oracle's window at any
    parallelism — the cumsum is integer-exact, so merge order can't
    change a shard boundary."""
    from .distwindow import global_cumsum

    d = table(spark, sf_dir, "documents")
    toks = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    sized = d.select("doc_id", toks.alias("n_tokens"))
    cum, _total = global_cumsum(sized, "n_tokens", ["doc_id"], "_cum")
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")).cast("double") / 5000)
        .cast("bigint")
        .alias("shard_id"),
    ).orderBy("doc_id")


@register(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS term
      FROM documents),
    counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    ranked AS (
      SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn
      FROM counts),
    tot AS (SELECT count(*) AS t FROM tok)
    SELECT v.vocab_size,
           CAST(sum(r.cnt) AS BIGINT) AS covered_tokens,
           round(CAST(sum(r.cnt) AS DOUBLE) / CAST(any_value(t.t) AS DOUBLE), 6)
             AS coverage
    FROM (VALUES (100), (1000), (10000)) v(vocab_size)
    JOIN ranked r ON r.rn <= v.vocab_size
    CROSS JOIN tot t
    GROUP BY v.vocab_size ORDER BY v.vocab_size
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token occurrences
    the top-K most frequent terms cover, at K = 100 / 1000 / 10000 — the
    first question of tokenizer/vocab design (where the OOV tail starts)
    and a standing corpus-drift monitor.

    Scale shape: term counts partial-combine map-side (the wordcount
    shuffle — one row per distinct term per partition); the global
    frequency rank runs through ``distwindow.global_row_number`` (range
    partition → parallel per-partition numbering → O(partitions) offset
    broadcast), NEVER a single-partition window — the vocabulary of a
    100 TB corpus is itself hundreds of millions of rows.  Only the
    ≤10k-term head is aggregated after ranking; driver traffic is two
    1-row scalars.  The final rounding happens JVM-side (half-away-from-
    zero, matching the oracle — Python's round is half-to-even)."""
    from ..cachescope import scoped_persist
    from .distwindow import global_row_number

    d = table(spark, sf_dir, "documents")
    counts = scoped_persist(
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked, _n_terms = global_row_number(
        counts, [F.col("cnt").desc(), F.col("term").asc()], "rn"
    )
    head = ranked.filter(F.col("rn") <= 10000)
    covered = head.agg(
        F.sum(F.when(F.col("rn") <= 100, F.col("cnt"))).alias("c100"),
        F.sum(F.when(F.col("rn") <= 1000, F.col("cnt"))).alias("c1000"),
        F.sum("cnt").alias("c10000"),
    ).first()
    total = int(counts.agg(F.sum("cnt")).first()[0])
    base = local_rows_df(
        spark,
        [
            (100, int(covered["c100"])),
            (1000, int(covered["c1000"])),
            (10000, int(covered["c10000"])),
        ],
        "vocab_size int, covered_tokens bigint",
    )
    return base.select(
        "vocab_size",
        "covered_tokens",
        F.round(F.col("covered_tokens") / F.lit(total), 6).alias("coverage"),
    ).orderBy("vocab_size")


_SEQ_LEN = 512  # packing context length (tokens)


@register(
    "seq_pack_stats",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS s
      FROM (SELECT * FROM sized WHERE n_tokens > 0)
    ),
    ex AS (
      SELECT doc_id, s, s + n_tokens - 1 AS e,
             s // {_SEQ_LEN} AS first_seq,
             unnest(generate_series(s // {_SEQ_LEN},
                                    (s + n_tokens - 1) // {_SEQ_LEN})) AS seq_id
      FROM pos
    )
    SELECT seq_id,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN first_seq = seq_id THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           CAST(sum(least(e, (seq_id + 1) * {_SEQ_LEN} - 1)
                    - greatest(s, seq_id * {_SEQ_LEN}) + 1) AS BIGINT) AS n_tokens
    FROM ex GROUP BY seq_id ORDER BY seq_id
    """,
)
def seq_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing — the standard pretraining batch
    prep: the corpus's token stream (docs in deterministic doc_id order,
    empty docs dropped) is cut into fixed {_SEQ_LEN}-token sequences, and
    each sequence reports how many documents touch it (n_docs), how many
    START in it (n_starts — the attention-boundary count a packed-batch
    loader needs), and its token fill (n_tokens — {_SEQ_LEN} everywhere
    except the final partial sequence).  The per-sequence doc counts are
    the cross-contamination profile of packed training batches.

    Scale shape: the only global coordination is the token-offset running
    sum, which runs through the two-phase ``distwindow.global_cumsum``
    (range-partition → parallel per-partition cumsum → O(partitions)
    offset broadcast) — never an Exchange SinglePartition.  Each doc then
    explodes into only the sequences it spans (spans/doc ≈
    len/{_SEQ_LEN} + 1), and the per-sequence aggregation partial-combines
    map-side.  All arithmetic is integer (offsets, div, least/greatest),
    so the oracle matches at any parallelism.

    The reference has no corpus tooling at all; this extends its
    aggregation surface (plan.rs HashAggregate intent) the way the other
    training-data operators do."""
    d = table(spark, sf_dir, "documents")
    toks = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    sized = d.select("doc_id", toks.alias("n_tokens")).filter(F.col("n_tokens") > 0)
    return pack_stats_from_sizes(sized)


def pack_stats_from_sizes(sized: DataFrame, L: int = _SEQ_LEN) -> DataFrame:
    """The packing chain over a (doc_id, n_tokens) frame FROM ANY token
    accounting (whitespace tokens, BPE tokens, ...): two-phase global
    cumsum for offsets, per-doc explode into only the sequences the doc
    spans, map-side-combining per-sequence aggregation."""
    from .distwindow import global_cumsum

    cum, _total = global_cumsum(sized, "n_tokens", ["doc_id"], "_cum")
    spans = cum.select(
        "doc_id",
        (F.col("_cum") - F.col("n_tokens")).alias("s"),
        (F.col("_cum") - 1).alias("e"),
    ).select(
        "doc_id",
        "s",
        "e",
        F.expr(f"s div {L}").alias("first_seq"),
        F.expr(f"e div {L}").alias("last_seq"),
    )
    ex = spans.select(
        "s",
        "e",
        "first_seq",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    overlap = (
        F.least(F.col("e"), (F.col("seq_id") + 1) * L - 1)
        - F.greatest(F.col("s"), F.col("seq_id") * L)
        + 1
    )
    return (
        ex.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("first_seq") == F.col("seq_id"), 1).otherwise(0)
            ).alias("n_starts"),
            F.sum(overlap).alias("n_tokens"),
        )
        .orderBy("seq_id")
    )


@register(
    "seq_pack_boundaries",
    bench=True,
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS s
      FROM (SELECT * FROM sized WHERE n_tokens > 0)
    ),
    ex AS (
      SELECT doc_id, s, s + n_tokens - 1 AS e,
             unnest(generate_series(s // {_SEQ_LEN},
                                    (s + n_tokens - 1) // {_SEQ_LEN})) AS seq_id
      FROM pos
    )
    SELECT seq_id, doc_id,
           CAST(greatest(s, seq_id * {_SEQ_LEN}) - seq_id * {_SEQ_LEN} AS BIGINT) AS beg,
           CAST(least(e, (seq_id + 1) * {_SEQ_LEN} - 1) - seq_id * {_SEQ_LEN} AS BIGINT) AS fin,
           s >= seq_id * {_SEQ_LEN} AS is_start,
           e <= (seq_id + 1) * {_SEQ_LEN} - 1 AS is_end
    FROM ex
    """,
)
def seq_pack_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-batch BOUNDARY TABLE itself — what seq_pack_stats
    aggregates away: one row per (sequence, document) span with the
    doc's 0-based token offsets INSIDE the sequence and whether the doc
    starts/ends there.  This is the artifact a pretraining loader
    materializes next to the packed token shards to build cross-document
    attention masks (tokens must not attend across a boundary) and to
    recover per-doc loss attribution.

    Scale shape: identical to seq_pack_stats up to the explode — the
    two-phase global_cumsum for offsets, then a pure projection (no
    aggregation at all: the boundary table is the exploded rows).  All
    integer arithmetic, so the oracle matches at any parallelism."""
    from .distwindow import global_cumsum

    L = _SEQ_LEN
    d = table(spark, sf_dir, "documents")
    toks = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    sized = d.select("doc_id", toks.alias("n_tokens")).filter(F.col("n_tokens") > 0)
    cum, _total = global_cumsum(sized, "n_tokens", ["doc_id"], "_cum")
    spans = cum.select(
        "doc_id",
        (F.col("_cum") - F.col("n_tokens")).alias("s"),
        (F.col("_cum") - 1).alias("e"),
    )
    ex = spans.select(
        "doc_id",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr(f"s div {L}"), F.expr(f"e div {L}"))
        ).alias("seq_id"),
    )
    base = F.col("seq_id") * L
    return ex.select(
        "seq_id",
        "doc_id",
        (F.greatest(F.col("s"), base) - base).cast("bigint").alias("beg"),
        (F.least(F.col("e"), base + L - 1) - base).cast("bigint").alias("fin"),
        (F.col("s") >= base).alias("is_start"),
        (F.col("e") <= base + L - 1).alias("is_end"),
    )


# Winnowing fingerprint parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03
# — the standard document-fingerprint scheme MOSS uses). Rolling k-gram
# polynomial hashes, then the minimum of every w consecutive hashes; the
# distinct minima are the document's fingerprints.
_WN_K = 8  # char k-gram width
_WN_W = 4  # winnowing window
_WN_B = 257  # polynomial base
_WN_P = 1_000_000_007  # modulus; (P-1)*B + 255 stays far under 2^63 (ANSI-safe)


def _poly_hash_sql(gram: str) -> str:
    """Horner-form polynomial hash of an 8-char gram — the same integer
    expression in Spark SQL and DuckDB, so both engines produce
    identical fingerprints."""
    expr = "CAST(0 AS BIGINT)"  # bigint Horner chain: int32 would overflow
    for j in range(1, _WN_K + 1):
        expr = f"(({expr}) * {_WN_B} + ascii(substr({gram}, {j}, 1))) % {_WN_P}"
    return expr


_WN_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lower(trim(text)) AS s FROM documents
      WHERE length(lower(trim(text))) >= {_WN_K + _WN_W - 1}),
    grams AS (
      SELECT doc_id, pos, {_poly_hash_sql(f"substr(s, CAST(pos AS INTEGER), {_WN_K})")} AS h,
             length(s) - {_WN_K} + 1 AS n_grams
      FROM t, unnest(range(1, length(s) - {_WN_K} + 2)) AS u(pos)),
    mins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS fp,
             pos, n_grams
      FROM grams),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= n_grams - {_WN_W} + 1)
    SELECT doc_id,
           count(*) AS n_fp,
           CAST(sum(fp) % {_WN_P} AS BIGINT) AS fp_digest,
           min(fp) AS fp_min, max(fp) AS fp_max
    FROM fps GROUP BY doc_id
    """


@register("text_winnow_fingerprint", oracle=_WN_ORACLE)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing: polynomial
    hashes of char 8-grams, minimum of every 4-hash window, distinct
    minima = the fingerprint set (guaranteed to include a shared hash
    for any match ≥ k+w-1 chars — the plagiarism/near-dup detection
    primitive). Reported per doc as count + modular digest + min/max so
    every column is a scalar.

    Scale shape: position explode is per-row fan-out (no shuffle), the
    window min shuffles once on doc_id, and the Horner hash is a pure
    integer expression in whole-stage codegen — no UDF. The fingerprint
    SET (fps CTE shape) is what a production pipeline would join on for
    containment detection; this query reduces it to per-doc scalars for
    the oracle gate."""
    d = table(spark, sf_dir, "documents")
    s = F.lower(F.trim(F.col("text")))
    base = d.select("doc_id", s.alias("s")).filter(
        F.length("s") >= _WN_K + _WN_W - 1
    )
    n_grams = F.length("s") - _WN_K + 1
    grams = base.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
        "s",
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        F.expr(_poly_hash_sql(f"substr(s, pos, {_WN_K})")).alias("h"),
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WN_W - 1)
    fps = (
        grams.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("n_grams") - _WN_W + 1)
        .select("doc_id", "fp")
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        (F.sum("fp") % _WN_P).cast("bigint").alias("fp_digest"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


# ---------------------------------------------------------------------------
# Count-min heavy hitters (statistics.count_min_sketch driven end-to-end)
# ---------------------------------------------------------------------------


def _cms_oracle() -> str:
    """DuckDB re-derivation of the count-min pipeline: the bucket hash
    is the portable md5-hex4 (corpus_ext._duck_hex4), so sketch counts
    and the min-over-rows estimates are integer-exact across engines."""
    from ..statistics import _CMS_D, _CMS_W
    from .corpus_ext import _duck_hex4

    def bucket(expr: str, i: int) -> str:
        h = f"md5({expr} || '#{i}')"
        return f"({_duck_hex4(h)} % {_CMS_W})"

    sketch_rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS i, {bucket('term', i)} AS b, count(*) AS cnt "
        f"FROM term_rows GROUP BY 2"
        for i in range(_CMS_D)
    )
    est_joins = "\n    ".join(
        f"JOIN sketch s{i} ON s{i}.i = {i} AND s{i}.b = {bucket('e.term', i)}"
        for i in range(_CMS_D)
    )
    least = ", ".join(f"s{i}.cnt" for i in range(_CMS_D))
    return f"""
    WITH term_rows AS MATERIALIZED (
      SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS term
      FROM documents),
    exact AS (
      SELECT term, count(*) AS exact_n FROM term_rows
      GROUP BY term ORDER BY exact_n DESC, term LIMIT 20),
    sketch AS MATERIALIZED (
      {sketch_rows})
    SELECT e.term, CAST(e.exact_n AS BIGINT) AS exact_n,
           CAST(least({least}) AS BIGINT) AS cms_est
    FROM exact e
    {est_joins}
    ORDER BY exact_n DESC, term
    """


@register("terms_cms_heavy_hitters", oracle=_cms_oracle())
def terms_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with count-min estimates beside exact counts: the
    corpus's top-20 terms with the frequency the SKETCH would report —
    the operator that lets a 100 TB pipeline keep per-source/per-day
    term-frequency profiles at d·w rows per profile instead of one row
    per distinct term, mergeable by addition (statistics.
    count_min_sketch; the frequency twin of the reference's CountingHLL
    family, counting_hyperloglog.rs:76-180).  The count-min guarantee
    (est >= exact, overcount only via collisions) is asserted over ALL
    terms in tests/test_statistics.py; this query locks the estimates'
    exact values cross-engine.  One pass builds the bounded sketch, one
    the exact counts; the term rows are scope-persisted so documents is
    scanned once."""
    from ..cachescope import scoped_persist
    from ..statistics import cms_estimate, count_min_sketch

    d = table(spark, sf_dir, "documents")
    terms = scoped_persist(d.select(F.explode(tokens(F.col("text"))).alias("term")))
    exact_top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "term")
        .limit(20)
    )
    sketch = count_min_sketch(terms, "term")
    est = cms_estimate(sketch, exact_top, "term")
    return (
        exact_top.join(est, "term")
        .select("term", "exact_n", F.col("cms_est").cast("bigint").alias("cms_est"))
        .orderBy(F.col("exact_n").desc(), "term")
    )


_BPE_TOP = 30  # merge candidates reported per round


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
               FROM documents),
    w AS (SELECT unnest(toks) AS word FROM t),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
               i -> substring(word, CAST(i AS INTEGER), 2))) AS pair
      FROM w WHERE length(word) >= 2)
    SELECT pair, cnt, rnk FROM (
      SELECT pair, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, pair) AS rnk
      FROM pairs GROUP BY pair) WHERE rnk <= {_BPE_TOP}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE merge-candidate counting: the frequency of every
    adjacent symbol pair across all word occurrences — the statistic a
    byte-pair-encoding tokenizer trainer computes per merge step (the
    top pair becomes the next merge rule).

    Scale shape: pure JVM codegen — tokenize, explode words, explode
    each word's adjacent 2-grams via a sequence transform (no Python),
    then ONE pair-keyed count whose shuffle carries a partial per
    (pair, partition): vocabulary-bounded, independent of corpus size.
    The global top-{_BPE_TOP} rides a single-column TakeOrdered, not a
    full sort."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens(F.col("text"))).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    win = W.orderBy(F.col("cnt").desc(), "pair")
    top = (
        counts.orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOP)
        .withColumn("rnk", F.row_number().over(win))
    )
    return top.select("pair", "cnt", "rnk")


# ---------------------------------------------------------------------------
# iterative BPE tokenizer training (Sennrich et al. 2016) — the frozen
# merge-table artifact a real tokenizer build produces, not just one
# round's pair counts (bpe_pair_counts above).
# ---------------------------------------------------------------------------

_BPE_MERGES = 12  # rounds for the registered queries (oracle unrolls them)

# Training universe: lowercase alnum word TYPES of length >= 2 (standard
# normalization; single-symbol words carry no pairs).  The symbol
# alphabet therefore never contains '(' or ')', which makes the wrapped
# string encoding below collision-free.
_BPE_WORD_RE = "^[a-z0-9]+$"


def _bpe_word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over the training universe — the word-TYPE table
    every round operates on.  Vocabulary-bounded: its size is the
    distinct-word count, independent of corpus size, which is what
    makes N-round training tractable at 100 TB (one corpus-sized
    tokenize+count, then N rounds over the type table)."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter((F.length("word") >= 2) & F.col("word").rlike(_BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_syms_of(enc_col) -> "F.Column":
    """Symbol array from the wrapped encoding '(a)(b)(c)' -> [a,b,c]."""
    body = enc_col.substr(F.lit(2), F.length(enc_col) - 2)
    return F.split(body, r"\)\(")


def _bpe_syms(enc: str) -> "F.Column":
    return _bpe_syms_of(F.col(enc))


def _bpe_admit(top, want: int) -> list[tuple[str, str, int]]:
    """Greedy SYMBOL-DISJOINT admission over an ordered candidate list:
    scan in (count desc, pair asc) order, admit a pair only if neither
    of its symbols appears in any already-admitted pair.  Reserving the
    merged token too keeps a pair CREATED by an admitted merge from
    being consumed in the same round (the one same-round interaction
    string-disjointness misses).  Because rejection depends only on
    previously ADMITTED pairs, scanning the ordered list equals taking
    the best non-conflicting candidate at every step — which is exactly
    what the unrolled batched oracle expresses per admission slot."""
    used: set[str] = set()
    admitted: list[tuple[str, str, int]] = []
    for row in top:
        if len(admitted) == want:
            break
        if row.l in used or row.r in used:
            continue
        used.update((row.l, row.r, row.l + row.r))
        admitted.append((row.l, row.r, int(row.cnt)))
    return admitted


def bpe_train(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = _BPE_MERGES,
    pairs_per_round: int = 1,
):
    """Train a byte-pair-encoding merge table: per round, count adjacent
    symbol pairs weighted by word frequency, pick the argmax pair
    (count DESC, then (left, right) ASC — fully deterministic), merge
    it greedily left-to-right in every word, repeat.  Returns the list
    of merge rules [(rank, left, right, merged, cnt), ...], stopping
    early if a round finds no pairs.

    ``pairs_per_round > 1`` is the PRODUCTION round-count cut: a real
    vocabulary is ~32k merges, and one Spark job per merge is 32k
    driver round-trips — not a credible trainer.  The batched mode
    admits up to that many SYMBOL-DISJOINT pairs per round, scanned in
    (count desc, pair asc) order (a pair joins the batch only if
    neither symbol appears in any already-admitted pair — disjoint
    merges cannot rewrite each other's occurrences, so each admitted
    pair's own count is exactly its sequential value).  This is the
    standard distributed-BPE approximation: a pair CREATED by an
    admitted merge could have outranked a later admission, so the rule
    ORDER may differ from the strictly sequential trainer's.  Both
    configurations are driver-oracled: ``bpe_train_merges`` unrolls the
    sequential rounds, ``bpe_train_merges_batched`` unrolls the batched
    rounds INCLUDING the greedy disjoint-admission rule itself; the
    pytest additionally pins batched == sequential on corpora whose top
    pairs stay disjoint and stable.  Admission starving inside the
    over-fetch window triggers a wider re-fetch, so the implemented
    rule is greedy admission over the FULL ordered candidate list —
    window size is a performance knob, never a semantics knob.

    Greedy-merge representation: each word rides as the wrapped string
    '(s1)(s2)...' and the merge of pair (a, b) is the literal
    non-overlapping left-to-right replace of '(a)(b)' with '(ab)' —
    exactly BPE's scan semantics ('(a)(a)(a)' -> '(aa)(a)'), and the
    wrapping makes a mid-symbol false match impossible (the pattern's
    leading '(' must sit at a symbol start).  DuckDB's replace() has
    identical semantics, so the oracle unrolls the same rounds.

    Scale shape: every round is ONE pair-count aggregation over the
    vocabulary-sized type table (shuffle bounded by distinct pairs, not
    corpus tokens) + ONE driver-collected argmax row (the trainer's
    control decision — the k-means-centroid precedent) + ONE string
    replace projection.  Each generation is scoped_local_checkpoint'd:
    the frame is referenced twice per round (count + merge), so lineage
    must truncate (cachescope discipline)."""
    from ..cachescope import free_local_checkpoint, scoped_local_checkpoint

    wf = scoped_local_checkpoint(
        _bpe_word_freqs(docs).withColumn(
            "enc", F.regexp_replace("word", "(.)", r"($1)")
        )
    )
    merges: list[tuple[int, str, str, str, int]] = []
    cur = wf
    while len(merges) < n_merges:
        syms = _bpe_syms("enc")
        m = F.greatest(F.size(syms) - 1, F.lit(0))
        pair = F.explode(
            F.zip_with(
                F.slice(syms, 1, m),
                F.slice(syms, 2, m),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p")
        want = min(pairs_per_round, n_merges - len(merges))
        # Over-fetch, then WIDEN the window and re-admit whenever
        # disjointness filtering starved the round while candidates
        # remained beyond the truncated fetch (symbol-dense corpora
        # where the top pairs share symbols).  The fixed point is
        # greedy admission over the FULL ordered candidate list — the
        # exact rule the batched oracle unrolls in SQL — never a
        # window-dependent approximation.
        limit = 4 * want
        counts = cur.select("freq", pair).groupBy("p.l", "p.r").agg(
            F.sum("freq").alias("cnt")
        )
        while True:
            top = (
                counts.orderBy(F.col("cnt").desc(), "l", "r")
                .limit(limit)
                .collect()
            )
            admitted = _bpe_admit(top, want)
            if len(admitted) == want or len(top) < limit:
                # got the full batch, or the window already held every
                # candidate (nothing past it to re-fetch)
                break
            limit *= 4
        if not top:
            break
        enc = F.col("enc")
        for l, r, cnt in admitted:
            merges.append((len(merges) + 1, l, r, l + r, cnt))
            enc = F.replace(enc, F.lit(f"({l})({r})"), F.lit(f"({l}{r})"))
        nxt = scoped_local_checkpoint(cur.withColumn("enc", enc))
        if cur is not wf:
            free_local_checkpoint(cur)
        cur = nxt
    return merges, cur


def bpe_build(
    spark: SparkSession, docs: DataFrame, out_dir: str, n_merges: int = _BPE_MERGES
) -> None:
    """Train and FREEZE the tokenizer as a parquet artifact — the
    build_bigram_lm discipline (each table's parquet _SUCCESS marker is
    its committed-build sentinel):

    * ``out_dir/merges`` (rank, left, right, merged, cnt) — the ranked
      merge rules, for encoding words the training never saw;
    * ``out_dir/vocab`` (word, n_syms) — the trainer's FINAL word-type
      state.  This is the table that makes encode scale: every
      training-universe word is encoded by a plain equi-join against
      it, ZERO replay of the (production ~32k-deep) merge chain."""
    import os

    from ..cachescope import free_local_checkpoint

    merges, final = bpe_train(spark, docs, n_merges)
    local_rows_df(
        spark, merges, "rnk int, l string, r string, merged string, cnt bigint"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "merges"))
    final.select("word", F.size(_bpe_syms("enc")).alias("n_syms")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "vocab"))
    free_local_checkpoint(final)


# Frozen merges applied per projection SEGMENT on the out-of-vocabulary
# encode path.  Expression-tree depth and whole-stage-codegen method
# size both scale with the replace count folded into one projection; a
# 32k-merge production vocabulary folded whole is an analysis-time
# blowup plus a guaranteed codegen fallback (64 KB JVM method cap).
# 128 keeps every segment comfortably inside codegen while needing only
# ~250 checkpointed segments at 32k merges — and the OOV TYPE table a
# real encode runs them over is tiny (training-universe words take the
# zero-replay vocab join instead).
_BPE_ENC_SEGMENT = 128


def _bpe_apply_merges(types: DataFrame, rules) -> DataFrame:
    """Replay frozen merge rules in rank order over a (…, enc) frame,
    at most ``_BPE_ENC_SEGMENT`` literal replaces per projection with a
    ``scoped_local_checkpoint`` between segments — the trainer's own
    batched-round discipline (lineage and expression depth both
    truncate at every segment boundary), applied to the encoder."""
    from ..cachescope import free_local_checkpoint, scoped_local_checkpoint

    cur, prev = types, None
    for i in range(0, len(rules), _BPE_ENC_SEGMENT):
        enc = F.col("enc")
        for m in rules[i : i + _BPE_ENC_SEGMENT]:
            enc = F.replace(enc, F.lit(f"({m.l})({m.r})"), F.lit(f"({m.merged})"))
        cur = cur.withColumn("enc", enc)
        if i + _BPE_ENC_SEGMENT < len(rules):
            cur = scoped_local_checkpoint(cur)
            if prev is not None:
                free_local_checkpoint(prev)
            prev = cur
    return cur


def bpe_encode(spark: SparkSession, docs: DataFrame, bpe_dir: str) -> DataFrame:
    """Encode documents against a FROZEN tokenizer artifact.  Returns
    (doc_id, word, n_syms): the per-occurrence symbol count.

    Scale shape — two paths, split by artifact membership:

    * words in the frozen ``vocab`` table (the training universe — in
      a self-encode, all of them) take a word-keyed equi-join against
      the artifact: ZERO merge replays, independent of merge count.
      AQE broadcasts the side that is genuinely small.
    * out-of-vocabulary word TYPES replay the ranked merges (the BPE
      replay property), SEGMENTED at ``_BPE_ENC_SEGMENT`` replaces per
      projection with a checkpoint between segments — bounded
      expression depth and codegen-sized methods at any merge count,
      unlike folding all (production ~32k) merges into one projection.

    Pre-vocab artifacts (merges only) degrade to the segmented replay
    for every word — still correct, still depth-bounded."""
    import os

    from ..sources import artifact

    rules = (
        artifact(spark, os.path.join(bpe_dir, "merges"))
        .orderBy("rnk")
        .collect()
    )
    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter((F.length("word") >= 2) & F.col("word").rlike(_BPE_WORD_RE))
    vocab_dir = os.path.join(bpe_dir, "vocab")
    if os.path.exists(os.path.join(vocab_dir, "_SUCCESS")):
        # occurrences join the vocab DIRECTLY (no distinct shuffle on
        # the hot path — the join is map-side while vocab broadcasts);
        # only the out-of-vocabulary remainder pays a type-level distinct
        vocab = artifact(spark, vocab_dir)
        known = words.join(vocab, "word").select("doc_id", "word", "n_syms")
        oov_w = words.join(vocab.select("word"), "word", "left_anti")
    else:
        known = None
        oov_w = words
    oov_syms = _bpe_apply_merges(
        oov_w.select("word")
        .distinct()
        .withColumn("enc", F.regexp_replace("word", "(.)", r"($1)")),
        rules,
    ).select("word", F.size(_bpe_syms("enc")).alias("n_syms"))
    oov_full = oov_w.join(oov_syms, "word").select("doc_id", "word", "n_syms")
    return oov_full if known is None else known.unionByName(oov_full)


_DUCK_BPE_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


def _bpe_oracle_chain(n: int) -> str:
    """Unrolled N-round BPE training as a linear CTE chain (the fused
    Lloyd-chain oracle precedent, similarity.py): per round, pair
    counts from the current encodings, the deterministic argmax, and
    the greedy merge via DuckDB's replace() (identical non-overlapping
    left-to-right semantics to Spark's).  Every CTE references its
    predecessor BY NAME — linear SQL text, never nested f-strings (the
    r11 fixlog 2^N-blowup lesson).  An exhausted round's t{{k}} is
    empty; the coalesce keeps the merge a no-op instead of NULLing the
    corpus (chr(1) never occurs in an encoding)."""
    parts = [
        f"""wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest({_DUCK_BPE_TOKS}) AS word FROM documents)
      WHERE length(word) >= 2 AND regexp_matches(word, '{_BPE_WORD_RE}')
      GROUP BY word),
    w0 AS MATERIALIZED (SELECT word, freq, regexp_replace(word, '(.)', '(\\1)', 'g') AS enc FROM wf)"""
    ]
    for k in range(n):
        parts.append(
            f"""s{k} AS (SELECT freq, str_split(substring(enc, 2, length(enc) - 2), ')(') AS syms FROM w{k}),
    p{k} AS (
      SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS u
        FROM s{k}) GROUP BY u.l, u.r),
    t{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
    w{k + 1} AS MATERIALIZED (SELECT word, freq,
      replace(enc, coalesce((SELECT '(' || l || ')(' || r || ')' FROM t{k}), chr(1)),
                   coalesce((SELECT '(' || l || r || ')' FROM t{k}), chr(1))) AS enc
      FROM w{k})"""
        )
    return ",\n    ".join(parts)


def _bpe_merges_oracle(n: int = _BPE_MERGES) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {k + 1} AS rnk, l, r, l || r AS merged, cnt FROM t{k}"
        for k in range(n)
    )
    return f"""
    WITH {_bpe_oracle_chain(n)}
    SELECT rnk, l, r, merged, cnt FROM ({rows})
    """


@register("bpe_train_merges", oracle=_bpe_merges_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked iterative BPE training: the ranked merge table
    after {n} rounds over the documents corpus — rank, left symbol,
    right symbol, merged symbol, and the weighted pair count that won
    the round.  The oracle unrolls the same rounds in SQL, so argmax
    tie-breaks, greedy-merge scan semantics, and frequency weighting
    are all proven cross-engine."""
    d = table(spark, sf_dir, "documents")
    merges, _ = bpe_train(spark, d.select("text"), _BPE_MERGES)
    return local_rows_df(
        spark, merges, "rnk int, l string, r string, merged string, cnt bigint"
    )


_BPE_PPR = 4  # pairs per round for the registered batched-trainer query


def _bpe_batched_oracle(n: int = _BPE_MERGES, ppr: int = _BPE_PPR) -> str:
    """Unrolled BATCHED BPE training: per round, the full pair-count
    table, then ``ppr`` admission slots — each slot is the best
    (count desc, pair asc) candidate whose symbols conflict with no
    earlier-admitted pair in the round (conflict = either symbol equals
    an admitted pair's left, right, OR merged token).  Because a
    candidate is rejected only against previously ADMITTED pairs, the
    per-slot argmin over non-conflicting candidates is exactly the
    sequential greedy scan the Spark trainer runs — proven over the
    FULL candidate list on both engines (the trainer re-fetches with a
    wider window whenever admission starves inside a truncated one).
    The round then applies the admitted replaces in admission order."""
    parts = [
        f"""wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest({_DUCK_BPE_TOKS}) AS word FROM documents)
      WHERE length(word) >= 2 AND regexp_matches(word, '{_BPE_WORD_RE}')
      GROUP BY word),
    w0 AS MATERIALIZED (SELECT word, freq, regexp_replace(word, '(.)', '(\\1)', 'g') AS enc FROM wf)"""
    ]
    n_rounds = (n + ppr - 1) // ppr
    for k in range(n_rounds):
        want = min(ppr, n - k * ppr)
        parts.append(
            f"""s{k} AS (SELECT freq, str_split(substring(enc, 2, length(enc) - 2), ')(') AS syms FROM w{k}),
    p{k} AS MATERIALIZED (
      SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
                 i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS u
        FROM s{k}) GROUP BY u.l, u.r)"""
        )
        for j in range(1, want + 1):
            conflicts = " OR ".join(
                f"EXISTS (SELECT 1 FROM a{k}_{i} a WHERE c.l IN (a.l, a.r, a.l || a.r) OR c.r IN (a.l, a.r, a.l || a.r))"
                for i in range(1, j)
            )
            where = f"WHERE NOT ({conflicts})" if conflicts else ""
            parts.append(
                f"""a{k}_{j} AS (SELECT c.l, c.r, c.cnt FROM p{k} c {where}
      ORDER BY c.cnt DESC, c.l, c.r LIMIT 1)"""
            )
        enc_expr = "enc"
        for j in range(1, want + 1):
            enc_expr = (
                f"replace({enc_expr}, "
                f"coalesce((SELECT '(' || l || ')(' || r || ')' FROM a{k}_{j}), chr(1)), "
                f"coalesce((SELECT '(' || l || r || ')' FROM a{k}_{j}), chr(1)))"
            )
        parts.append(
            f"w{k + 1} AS MATERIALIZED (SELECT word, freq, {enc_expr} AS enc FROM w{k})"
        )
    rows = "\n      UNION ALL ".join(
        f"SELECT {k} AS k, {j} AS j, l, r, cnt FROM a{k}_{j}"
        for k in range(n_rounds)
        for j in range(1, min(ppr, n - k * ppr) + 1)
    )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain}
    SELECT rnk, l, r, merged, cnt FROM (
      SELECT CAST(row_number() OVER (ORDER BY k, j) AS INTEGER) AS rnk,
             l, r, l || r AS merged, cnt
      FROM ({rows}))
    WHERE rnk <= {n}
    """


@register("bpe_train_merges_batched", oracle=_bpe_batched_oracle())
def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION trainer configuration driver-checked: batched
    rounds admitting up to {ppr} SYMBOL-DISJOINT pairs each — the only
    credible shape for a ~32k-merge vocabulary (32k sequential rounds =
    32k driver round-trips).  Same merge budget as ``bpe_train_merges``
    so the two tables are directly comparable; the oracle unrolls every
    round's pair counts, the per-slot greedy disjoint admission, and
    the in-order batched replaces — proving the admission rule itself
    cross-engine, not just on toy pytest corpora."""
    d = table(spark, sf_dir, "documents")
    merges, _ = bpe_train(spark, d.select("text"), _BPE_MERGES, pairs_per_round=_BPE_PPR)
    return local_rows_df(
        spark, merges, "rnk int, l string, r string, merged string, cnt bigint"
    )


def _bpe_encode_oracle(n: int = _BPE_MERGES) -> str:
    return f"""
    WITH {_bpe_oracle_chain(n)},
    fin AS (SELECT word,
                   len(str_split(substring(enc, 2, length(enc) - 2), ')(')) AS n_syms
            FROM w{n}),
    dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest({_DUCK_BPE_TOKS}) AS word FROM documents)
      WHERE length(word) >= 2 AND regexp_matches(word, '{_BPE_WORD_RE}'))
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN fin USING (word)
    GROUP BY doc_id
    """


@register("bpe_encode_stats", oracle=_bpe_encode_oracle(), bench=True)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The freeze -> load -> apply chain driver-checked end-to-end:
    train the BPE merge table on the corpus, persist it as the parquet
    artifact, ENCODE the same corpus against the frozen artifact (the
    replay property: applying frozen merges in rank order over
    training-universe words reproduces the trainer's final state), and
    report per-doc token-budget stats — qualifying word count, char
    count, and the post-BPE token count an LLM data pipeline budgets
    by.  The oracle re-derives train + encode fully in SQL."""
    import os

    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    bdir = _artifact_tmp("bpe", sf_dir)
    if not os.path.exists(os.path.join(bdir, "merges", "_SUCCESS")):
        bpe_build(spark, d.select("text"), bdir, _BPE_MERGES)
    enc = bpe_encode(spark, d.select("doc_id", "text"), bdir)
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("word")).alias("n_chars"),
        F.sum("n_syms").alias("n_bpe_tokens"),
    )


def _seq_pack_bpe_oracle(n: int = _BPE_MERGES, L: int = _SEQ_LEN) -> str:
    return f"""
    WITH {_bpe_oracle_chain(n)},
    fin AS (SELECT word,
                   len(str_split(substring(enc, 2, length(enc) - 2), ')(')) AS n_syms
            FROM w{n}),
    dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest({_DUCK_BPE_TOKS}) AS word FROM documents)
      WHERE length(word) >= 2 AND regexp_matches(word, '{_BPE_WORD_RE}')),
    sized AS (
      SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_tokens
      FROM dw JOIN fin USING (word) GROUP BY doc_id),
    pos AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS s
      FROM (SELECT * FROM sized WHERE n_tokens > 0)
    ),
    ex AS (
      SELECT doc_id, s, s + n_tokens - 1 AS e,
             s // {L} AS first_seq,
             unnest(generate_series(s // {L},
                                    (s + n_tokens - 1) // {L})) AS seq_id
      FROM pos
    )
    SELECT seq_id,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN first_seq = seq_id THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           CAST(sum(least(e, (seq_id + 1) * {L} - 1)
                    - greatest(s, seq_id * {L}) + 1) AS BIGINT) AS n_tokens
    FROM ex GROUP BY seq_id ORDER BY seq_id
    """


@register("seq_pack_bpe_stats", oracle=_seq_pack_bpe_oracle())
def seq_pack_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted by TOKENIZER tokens — the unit a real
    pretraining loader packs by (a 512-token context holds 512 BPE
    tokens, not 512 whitespace words): per-doc token counts come from
    encoding against the FROZEN BPE artifact (train → freeze → vocab
    join, the bpe_encode_stats chain), then the identical concat-and-
    chop packing as `seq_pack_stats` — two-phase global cumsum, span
    explode, map-side-combined per-sequence stats.  Proves the two
    frozen-artifact chains COMPOSE: the oracle re-derives BPE train +
    encode + packing in one SQL pipeline.  Docs with no qualifying
    words contribute zero tokens and drop, exactly as zero-whitespace
    docs drop from the whitespace variant."""
    import os

    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    bdir = _artifact_tmp("bpe", sf_dir)
    if not os.path.exists(os.path.join(bdir, "merges", "_SUCCESS")):
        bpe_build(spark, d.select("text"), bdir, _BPE_MERGES)
    enc = bpe_encode(spark, d.select("doc_id", "text"), bdir)
    sized = (
        enc.groupBy("doc_id")
        .agg(F.sum("n_syms").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    return pack_stats_from_sizes(sized)


_FERT_SCALE = 1_000_000  # fixed-point micro-units for the two ratios


def _bpe_fertility_oracle(n: int = _BPE_MERGES) -> str:
    return f"""
    WITH {_bpe_oracle_chain(n)},
    fin AS (SELECT word,
                   len(str_split(substring(enc, 2, length(enc) - 2), ')(')) AS n_syms
            FROM w{n}),
    dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest({_DUCK_BPE_TOKS}) AS word FROM documents)
      WHERE length(word) >= 2 AND regexp_matches(word, '{_BPE_WORD_RE}')),
    per_doc AS (
      SELECT doc_id,
             count(*) AS n_words,
             CAST(sum(length(word)) AS BIGINT) AS n_chars,
             CAST(sum(n_syms) AS BIGINT) AS n_tok
      FROM dw JOIN fin USING (word)
      GROUP BY doc_id)
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(p.n_words) AS BIGINT) AS n_words,
           CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(p.n_tok) AS BIGINT) AS n_bpe_tokens,
           CAST((sum(p.n_tok) * {_FERT_SCALE}) // sum(p.n_words) AS BIGINT)
             AS fertility_micro,
           CAST((sum(p.n_chars) * {_FERT_SCALE}) // sum(p.n_tok) AS BIGINT)
             AS chars_per_token_micro
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@register("bpe_fertility_by_lang", oracle=_bpe_fertility_oracle())
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — the standard multilingual
    tokenizer evaluation (tokens per word, and its inverse view chars
    per token): languages the vocabulary under-serves show higher
    fertility, i.e. more compute spent per unit of content, which is
    what drives vocabulary-budget decisions in a multilingual
    pretraining pipeline.  Encodes the corpus against the FROZEN BPE
    artifact (train -> freeze -> vocab join, the bpe_encode_stats
    chain), joins each doc's language tag, and reports per-language
    integer totals plus the two fixed-point ratios (micro-units,
    truncating division — Spark `div` and DuckDB `//` agree).  Docs
    with no qualifying words contribute nothing, identically in both
    engines.  Scale shape: the encode is the zero-replay vocab join;
    everything after is one doc-keyed aggregate + one language-keyed
    aggregate over per-doc rows."""
    import os

    from .dedup import _artifact_tmp

    d = table(spark, sf_dir, "documents")
    bdir = _artifact_tmp("bpe", sf_dir)
    if not os.path.exists(os.path.join(bdir, "merges", "_SUCCESS")):
        bpe_build(spark, d.select("text"), bdir, _BPE_MERGES)
    enc = bpe_encode(spark, d.select("doc_id", "text"), bdir)
    per_doc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("word")).alias("n_chars"),
        F.sum("n_syms").alias("n_tok"),
    )
    return (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            # widen the intermediate product to decimal: a language's
            # token total at 100 TB can exceed int64 / 1e6 (~9.2e12),
            # and ANSI mode would throw on the bigint multiply.  The
            # RATIO always fits (<= max word length x 1e6).
            F.expr(
                f"CAST((CAST(n_bpe_tokens AS DECIMAL(38,0)) * {_FERT_SCALE})"
                " div n_words AS BIGINT)"
            ).alias("fertility_micro"),
            F.expr(
                f"CAST((CAST(n_chars AS DECIMAL(38,0)) * {_FERT_SCALE})"
                " div n_bpe_tokens AS BIGINT)"
            ).alias("chars_per_token_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) Viterbi segmentation
# ---------------------------------------------------------------------------
# The tokenizer family's second member next to BPE: score candidate
# pieces by corpus frequency, then segment each word by MINIMUM total
# -log p(piece) via dynamic programming.  The reference has no
# tokenizer at all; this extends the training-data surface the same way
# bpe_train_merges does (SURVEY §2 LLM-pipeline block).

_USEG_MAXP = 4  # max piece length considered
_USEG_VOCAB = 40  # multi-char vocab kept (all single chars always kept)
_USEG_MAXW = 24  # words longer than this leave the universe (documented cap)


def _useg_pieces(words: DataFrame) -> DataFrame:
    """(word, freq, s, l, piece): every substring occurrence of length
    1..MAXP at start position s (1-based) — the shared input of piece
    counting and edge construction.  Rows per word <= len*MAXP, so the
    relation stays universe-bounded (never corpus-bounded)."""
    o1 = words.select(
        "word", "freq", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("s")
    )
    o2 = o1.select(
        "word",
        "freq",
        "s",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(_USEG_MAXP), F.length("word") - F.col("s") + 1),
            )
        ).alias("l"),
    )
    return o2.withColumn("piece", F.col("word").substr(F.col("s"), F.col("l")))


def _useg_cte() -> str:
    """Shared oracle prefix: word universe -> piece counts -> vocab ->
    fixlog piece costs -> DP edge list (text of WITH members, no WITH
    keyword) — nested by both unigram oracles."""
    from .corpus_ext import _duck_fixlog

    return f"""wu AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
                           ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)
               AS word
        FROM documents)
      WHERE length(word) BETWEEN 2 AND {_USEG_MAXW}
        AND regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word),
    o1 AS (SELECT word, freq,
                  unnest(generate_series(1, length(word))) AS s FROM wu),
    o2 AS (SELECT word, freq, s,
                  unnest(generate_series(1, least({_USEG_MAXP},
                                                  length(word) - s + 1))) AS l
           FROM o1),
    occ AS (SELECT substr(word, s, l) AS piece, freq FROM o2),
    pcnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM occ GROUP BY piece),
    multi AS (SELECT piece, cnt FROM pcnt WHERE length(piece) > 1
              ORDER BY cnt DESC, piece LIMIT {_USEG_VOCAB}),
    vocab AS (SELECT * FROM multi
              UNION ALL SELECT piece, cnt FROM pcnt WHERE length(piece) = 1),
    vtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    vnd AS (SELECT piece, total AS num, cnt AS den FROM vocab, vtot),
    {_duck_fixlog('vnd', key='piece', prefix='ug')},
    edges AS (
      SELECT o2.word, o2.s - 1 AS j, o2.s - 1 + o2.l AS i,
             64 * ugw.w + 1 AS ekey
      FROM o2 JOIN ugw ON substr(o2.word, o2.s, o2.l) = ugw.piece)"""


def _useg_oracle() -> str:
    return f"""
    WITH RECURSIVE {_useg_cte()},
    paths AS (
      SELECT word, 0 AS i, CAST(0 AS BIGINT) AS key FROM wu
      UNION ALL
      SELECT e.word, e.i, p.key + e.ekey
      FROM paths p JOIN edges e ON e.word = p.word AND e.j = p.i),
    best AS (
      SELECT p.word, min(p.key) AS key
      FROM paths p JOIN wu ON p.word = wu.word AND p.i = length(wu.word)
      GROUP BY p.word)
    SELECT wu.word, wu.freq,
           CAST(length(wu.word) AS INTEGER) AS word_len,
           CAST(b.key // 64 AS BIGINT) AS cost_micro,
           CAST(b.key % 64 AS INTEGER) AS n_pieces
    FROM best b JOIN wu ON b.word = wu.word
    """


@register("unigram_segment_stats", oracle=_useg_oracle())
def unigram_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM segmentation: seed a piece
    vocabulary from substring frequencies (top-40 multi-char
    pieces of length <= 4 by corpus occurrence weight, plus every
    single character so coverage is total), score each piece at
    -ln p(piece) in fixed-point micro-units, and Viterbi-segment every
    word of the training universe to its MINIMUM-cost segmentation
    (ties broken toward fewer pieces).  Emits per word-type: corpus
    frequency, length, optimal cost, piece count — the per-type table a
    tokenizer-selection study aggregates into fertility/compression
    curves next to the BPE ones (bpe_fertility_by_lang).

    Viterbi as additive shortest-path: an edge (j -> i) exists where
    word[j+1..i] is a vocab piece, with integer weight 64*cost + 1, so
    one min over path sums is lexicographic (total cost, n_pieces) —
    the tie-break rides INSIDE the single aggregate (n_pieces <= 24
    < 64 by the word-length cap, so the packing is collision-free).

    Scale shape: the whole computation is VOCABULARY-bounded after one
    corpus tokenize+count (the bpe_train_merges argument): piece rows
    <= universe x len x 4; the DP runs max-word-length (<= 24)
    rounds, each one edge-join + min-aggregate over frontier rows, each
    generation locally checkpointed (the BPE loop discipline — the
    frame is referenced by join and union).  Piece costs use the
    engine-version-proof fixed-point log (corpus_ext._fixlog_micro), so
    Spark and the oracle's recursive-CTE path enumeration agree
    bit-for-bit.  The oracle enumerates ALL segmentations recursively
    (bounded: compositions of len <= 24 into parts <= 4);
    the Spark side never enumerates — the DP frontier carries one row
    per (word, position)."""
    words, vocab, edges, best, maxlen = _useg_dp(spark, sf_dir)
    out = (
        best.join(words, "word")
        .filter(F.col("j") == F.length("word"))
        .select(
            "word",
            "freq",
            F.length("word").cast("int").alias("word_len"),
            F.expr("key div 64").cast("long").alias("cost_micro"),
            (F.col("key") % 64).cast("int").alias("n_pieces"),
        )
    )
    return out


def _useg_dp(spark: SparkSession, sf_dir: str):
    """Shared Viterbi forward pass: (words, vocab, edges, best, maxlen)
    — `best` holds (word, position j, min packed key) for EVERY
    reachable position, so consumers can read the optimum at the word
    end (segmentation stats) or backtrack through it (EM usage
    counting).  All frames checkpointed/vocabulary-bounded; the one
    corpus-sized pass is the universe tokenize+count."""
    from ..cachescope import free_local_checkpoint, scoped_local_checkpoint
    from .corpus_ext import _fixlog_micro

    d = table(spark, sf_dir, "documents")
    # the ONE corpus-sized pass: checkpoint the universe so its four
    # consumers (edges build, maxlen agg, DP seed, final join) read the
    # vocabulary-sized table instead of re-tokenizing the corpus — the
    # bpe_train discipline
    words = scoped_local_checkpoint(
        _bpe_word_freqs(d).filter(F.length("word") <= _USEG_MAXW)
    )
    pieces = _useg_pieces(words)
    pcnt = pieces.groupBy("piece").agg(F.sum("freq").alias("cnt"))
    multi = (
        pcnt.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(_USEG_VOCAB)
    )
    vocab = scoped_local_checkpoint(
        multi.unionByName(pcnt.filter(F.length("piece") == 1))
    )
    tot = vocab.agg(F.sum("cnt").alias("total"))
    vnd = vocab.crossJoin(F.broadcast(tot)).select(
        "piece", F.col("total").alias("num"), F.col("cnt").alias("den")
    )
    wdf = _fixlog_micro(vnd).select("piece", "w")
    edges = scoped_local_checkpoint(
        pieces.join(wdf, "piece").select(
            "word",
            (F.col("s") - 1).alias("j"),
            (F.col("s") - 1 + F.col("l")).alias("i"),
            (F.lit(64) * F.col("w") + 1).alias("ekey"),
        )
    )
    maxlen = words.agg(F.max(F.length("word"))).first()[0] or 0
    # DP frontier: settled (word, position j, best packed key)
    best = scoped_local_checkpoint(
        words.select("word", F.lit(0).alias("j"), F.lit(0).cast("long").alias("key"))
    )
    for i in range(1, maxlen + 1):
        new = (
            edges.filter(F.col("i") == i)
            .join(best, ["word", "j"])
            .groupBy("word")
            .agg(F.min(F.col("key") + F.col("ekey")).alias("key"))
            .select("word", F.lit(i).alias("j"), "key")
        )
        nxt = scoped_local_checkpoint(best.unionByName(new))
        free_local_checkpoint(best)
        best = nxt
    return words, vocab, edges, best, maxlen


def _uem_oracle() -> str:
    from .corpus_ext import _duck_fixlog

    return f"""
    WITH RECURSIVE {_useg_cte()},
    paths AS (
      SELECT word, 0 AS i, CAST(0 AS BIGINT) AS key FROM wu
      UNION ALL
      SELECT e.word, e.i, p.key + e.ekey
      FROM paths p JOIN edges e ON e.word = p.word AND e.j = p.i),
    bestpos AS (
      SELECT word, i, min(key) AS key FROM paths GROUP BY word, i),
    bt AS (
      SELECT word, length(word) AS i, CAST(NULL AS VARCHAR) AS piece FROM wu
      UNION ALL
      SELECT b.word, e.j AS i, substr(b.word, e.j + 1, b.i - e.j) AS piece
      FROM bt b
      JOIN edges e ON e.word = b.word AND e.i = b.i
      JOIN bestpos pj ON pj.word = b.word AND pj.i = e.j
      JOIN bestpos pi ON pi.word = b.word AND pi.i = b.i
      WHERE b.i > 0
        AND pj.key + e.ekey = pi.key
        AND NOT EXISTS (
          SELECT 1 FROM edges e2
          JOIN bestpos pj2 ON pj2.word = e2.word AND pj2.i = e2.j
          WHERE e2.word = b.word AND e2.i = b.i AND e2.j < e.j
            AND pj2.key + e2.ekey = pi.key)),
    usage AS (
      SELECT b.piece, CAST(sum(wu.freq) AS BIGINT) AS usage
      FROM bt b JOIN wu ON b.word = wu.word
      WHERE b.piece IS NOT NULL
      GROUP BY b.piece),
    em_base AS (
      SELECT v.piece, v.cnt AS seed_cnt,
             CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
      FROM vocab v LEFT JOIN usage u ON v.piece = u.piece),
    emt AS (SELECT CAST(sum(usage) AS BIGINT) AS tot_u,
                   CAST(count(*) AS BIGINT) AS v_n FROM em_base),
    emnd AS (
      SELECT piece, seed_cnt, usage,
             tot_u + v_n AS num, usage + 1 AS den
      FROM em_base, emt),
    {_duck_fixlog('emnd', key='piece, seed_cnt, usage', prefix='em')}
    SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len,
           seed_cnt, usage, w AS new_w_micro
    FROM emw
    """


@register("unigram_em_reestimate", oracle=_uem_oracle())
def unigram_em_reestimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unigram-LM EM round (the SentencePiece training step after
    seeding): Viterbi-segment every universe word under the seed piece
    costs, count each piece's CANONICAL-path usage weighted by corpus
    frequency, and re-estimate piece costs from usage with add-one
    smoothing — per piece: seed count, usage, and the re-estimated
    -ln p in fixed-point micro-units.  Pieces whose usage collapses to
    0 are the ones a further round would prune; the usage column IS the
    E-step statistic.

    The backtrack is CANONICAL, not just optimal: among edges achieving
    the optimum at a position, the smallest split point j wins —
    deterministic in both engines (Spark: min(j) per backward step;
    oracle: NOT EXISTS over smaller j inside the recursive CTE), so
    usage counts are well-defined even when distinct segmentations tie
    on (cost, n_pieces).

    Scale shape: rides the shared _useg_dp forward pass (vocabulary-
    bounded, checkpointed generations); the backtrack runs max-word-
    length rounds BACKWARD over the settled position table, each one
    edge-join + min-aggregate on frontier rows (the forward loop's
    shape), and the M-step is two vocab-sized aggregates + the
    fixed-point log.  The oracle reconstructs the same canonical path
    through a recursive CTE with the min-j rule spelled as NOT EXISTS,
    so E-step counts and re-estimated costs are bit-identical."""
    from ..cachescope import free_local_checkpoint, scoped_local_checkpoint
    from .corpus_ext import _fixlog_micro

    words, vocab, edges, best, maxlen = _useg_dp(spark, sf_dir)
    bj = best.select(
        F.col("word").alias("bw"), F.col("j").alias("jj"), F.col("key").alias("kj")
    )
    cur = scoped_local_checkpoint(
        words.select("word", F.length("word").cast("int").alias("i")).filter(
            F.col("i") > 0
        )
    )
    steps = []
    for p in range(maxlen, 0, -1):
        at_p = cur.filter(F.col("i") == p).select("word")
        kp = (
            best.filter(F.col("j") == p)
            .join(at_p, "word")
            .select("word", F.col("key").alias("kp"))
        )
        ok = (
            edges.filter(F.col("i") == p)
            .join(kp, "word")
            .join(
                bj,
                (F.col("word") == F.col("bw")) & (F.col("j") == F.col("jj")),
                "inner",
            )
            .filter(F.col("kj") + F.col("ekey") == F.col("kp"))
        )
        jstar = ok.groupBy("word").agg(F.min("j").alias("j"))
        step = scoped_local_checkpoint(
            jstar.select(
                "word",
                "j",
                F.lit(p).alias("i"),
                F.expr(f"substr(word, j + 1, {p} - j)").alias("piece"),
            )
        )
        steps.append(step)
        nxt = scoped_local_checkpoint(
            cur.filter(F.col("i") != p)
            .unionByName(step.select("word", F.col("j").cast("int").alias("i")))
            .filter(F.col("i") > 0)
        )
        free_local_checkpoint(cur)
        cur = nxt
    allsteps = steps[0]
    for x in steps[1:]:
        allsteps = allsteps.unionByName(x)
    usage = (
        allsteps.join(words, "word")
        .groupBy("piece")
        .agg(F.sum("freq").alias("usage"))
    )
    em_base = vocab.join(usage, "piece", "left").select(
        "piece",
        F.col("cnt").alias("seed_cnt"),
        F.coalesce("usage", F.lit(0)).cast("long").alias("usage"),
    )
    emt = em_base.agg(
        F.sum("usage").alias("tot_u"), F.count(F.lit(1)).alias("v_n")
    )
    emnd = em_base.crossJoin(F.broadcast(emt)).select(
        "piece",
        "seed_cnt",
        "usage",
        (F.col("tot_u") + F.col("v_n")).alias("num"),
        (F.col("usage") + 1).alias("den"),
    )
    emw = _fixlog_micro(emnd)
    return emw.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "seed_cnt",
        "usage",
        F.col("w").alias("new_w_micro"),
    )
