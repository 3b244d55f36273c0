"""Data-contract validation: declarative expectation checks over a table.

The reference enforces exactly two write-time contracts — INSERT arity
and VARCHAR(n) length (/root/reference/src/planner/bottomup.rs insert
path, types.rs) — and nothing at read time.  A 100 TB lake needs the
read-side counterpart: a validation pass that turns a table + a list of
declared expectations (dbt-tests / Great-Expectations style) into a
violations report, cheap enough to run on every landed batch.

Check classes and their plan shapes:

* ``row``      — a boolean SQL predicate every row must satisfy; ALL
                 row checks fuse into ONE scan (a single aggregate of
                 ``sum(violation)`` columns — no shuffle, no second
                 pass per check);
* ``unique``   — key uniqueness via one groupBy(key) counting groups
                 with multiplicity > 1 (shuffle carries distinct keys);
* ``not_null`` — sugar for a row check;
* ``fk``       — referential integrity via a left-anti join against the
                 parent key set (broadcast when the parent is a dim).

Every check yields one (check, violations) row; 0 means the contract
holds.  The report is itself a DataFrame — land it next to the batch,
alert on nonzero, gate promotion on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import local_rows_df
from ..registry import register
from ..sources import table


def validate_contracts(
    df: DataFrame,
    row_checks: dict[str, str] | None = None,
    unique: dict[str, list[str]] | None = None,
    not_null: list[str] | None = None,
    fk: dict[str, tuple[DataFrame, str, str]] | None = None,
) -> DataFrame:
    """Violations report: one (check string, violations bigint) row per
    declared expectation.

    ``row_checks``: name -> SQL predicate that must be TRUE (NULL or
    FALSE counts as a violation — SQL constraint semantics would let
    NULL pass; validation wants the stricter reading, declare an
    explicit ``OR x IS NULL`` to opt out).  ``unique``: name -> key
    column list.  ``not_null``: column names.  ``fk``: name ->
    (parent_df, child_col, parent_col)."""
    spark = df.sparkSession
    reports: list[DataFrame] = []

    preds = dict(row_checks or {})
    for c in not_null or []:
        preds[f"not_null({c})"] = f"{c} IS NOT NULL"
    if preds:
        aggs = [
            F.sum((~F.expr(p).eqNullSafe(True)).cast("bigint")).alias(name)
            for name, p in preds.items()
        ]
        one = df.agg(*aggs)  # ONE scan for every row check
        stack_args = ", ".join(
            f"'{name}', `{name}`" for name in preds
        )
        reports.append(
            one.select(
                F.expr(
                    f"stack({len(preds)}, {stack_args}) AS (check, violations)"
                )
            )
        )

    for name, keys in (unique or {}).items():
        dups = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(
                F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
                .cast("bigint")
                .alias("violations")
            )
        )
        reports.append(dups.select(F.lit(f"unique({name})").alias("check"), "violations"))

    for name, (parent, child_col, parent_col) in (fk or {}).items():
        orphans = (
            df.filter(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)).distinct(),
                child_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        )
        reports.append(
            orphans.select(F.lit(f"fk({name})").alias("check"), "violations")
        )

    if not reports:
        return local_rows_df(spark, [], "check string, violations bigint")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@register(
    "orders_contract_checks",
    oracle="""
    SELECT 'not_null(o_custkey)' AS "check",
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS violations FROM orders
    UNION ALL
    SELECT 'price_positive',
           CAST(sum(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'status_domain',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                           OR o_orderstatus IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'unique(order_pk)',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
             SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'fk(orders_customer)',
           CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    ORDER BY "check"
    """,
)
def orders_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders table's data contract as a validation report: PK
    uniqueness, customer FK integrity, NOT NULL, a value-domain check
    and a range check.  All row-level predicates fuse into ONE scan;
    uniqueness is one distinct-key shuffle; the FK anti-join broadcasts
    the customer key set.  Everything lands as (check, violations) rows
    — the gate a 100 TB ingest runs per batch before promotion."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rep = validate_contracts(
        o,
        row_checks={
            "price_positive": "o_totalprice > 0",
            "status_domain": "o_orderstatus IN ('F','O','P')",
        },
        unique={"order_pk": ["o_orderkey"]},
        not_null=["o_custkey"],
        fk={"orders_customer": (c, "o_custkey", "c_custkey")},
    )
    return rep.orderBy("check")


# ---------------------------------------------------------------------------
# Streaming contract-gated ingest with a dead-letter channel
# ---------------------------------------------------------------------------


def gate_rows(
    df: DataFrame,
    row_checks: dict[str, str] | None = None,
    not_null: list[str] | None = None,
) -> DataFrame:
    """Row-level contract gating: append a ``_violations`` array column
    naming every check the row fails (empty array = clean).  All checks
    evaluate in ONE projection over the scan — same fused-scan
    discipline as validate_contracts, but per-row instead of counted,
    which is what a dead-letter split needs."""
    preds = dict(row_checks or {})
    for c in not_null or []:
        preds[f"not_null({c})"] = f"{c} IS NOT NULL"
    flags = [
        F.when(~F.expr(p).eqNullSafe(True), F.lit(name))
        for name, p in preds.items()
    ]
    return df.withColumn("_violations", F.array_compact(F.array(*flags)))


def ingest_gated_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    good_dir: str,
    dead_dir: str,
    checkpoint_dir: str,
    row_checks: dict[str, str],
    not_null: list[str] | None = None,
):
    """Streaming contract-gated ingest: every micro-batch splits
    row-wise through ``gate_rows`` — clean rows land under
    ``good_dir/batch=<id>/``, violating rows under
    ``dead_dir/batch=<id>/`` carrying the failed check names (the
    dead-letter queue a production landing zone keeps for triage and
    replay-after-fix).  Nothing is dropped silently and nothing dirty
    reaches the good path.

    Exactly-once landing under foreachBatch's at-least-once contract
    comes from the batch-id-keyed subdirectories: a replayed batch
    REPLACES exactly its own two subdirs and touches nothing else —
    the standard idempotent file-sink pattern, no marker needed because
    the write is naturally keyed by batch.  Each replacement is a
    write-to-temp + directory-rename swap (never a distributed
    delete-then-rewrite in place), so a reader concurrent with a
    replay sees a COMPLETE batch copy — old or new — except during the
    two-rename swap instant itself (a missing-batch window of two
    filesystem metadata ops, not a parquet job).
    Readers see whole batches (`spark.read.parquet(good_dir)` — the
    batch=<id> path component doubles as a partition column).  Returns
    the ready DataStreamWriter (caller .start()s it)."""
    import os
    import shutil

    def _land(df, root: str, batch_id: int) -> None:
        dest = os.path.join(root, f"batch={batch_id}")
        tmp = os.path.join(root, f".batch_{batch_id}.tmp")
        old = os.path.join(root, f".batch_{batch_id}.old")
        shutil.rmtree(tmp, ignore_errors=True)  # crashed replay debris
        # a crash BETWEEN the two swap renames strands the previous
        # copy at .old with dest missing — the dest-missing branch
        # below would never reclaim it, so clear it here too
        shutil.rmtree(old, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dest):  # replayed batch: swap out the old copy
            os.rename(dest, old)
            os.rename(tmp, dest)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, dest)

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        flagged = gate_rows(batch_df, row_checks, not_null)
        good = flagged.filter(F.size("_violations") == 0).drop("_violations")
        bad = flagged.filter(F.size("_violations") > 0).withColumn(
            "_violations", F.array_join("_violations", ",")
        )
        _land(good, good_dir, int(batch_id))
        _land(bad, dead_dir, int(batch_id))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


_GATE_CHECKS = {  # declaration order = violation-name order in the output
    "min_length": "n_chars >= 100",
    "known_lang": "lang IN ('en', 'de', 'fr', 'es')",
}


@register(
    "docs_quality_gate",
    oracle="""
    SELECT doc_id,
           concat_ws(',',
             CASE WHEN NOT coalesce(n_chars >= 100, FALSE)
                  THEN 'min_length' END,
             CASE WHEN NOT coalesce(lang IN ('en', 'de', 'fr', 'es'), FALSE)
                  THEN 'known_lang' END,
             CASE WHEN source IS NULL THEN 'not_null(source)' END
           ) AS violations
    FROM documents
    """,
)
def docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch face of the streaming dead-letter gate: per-document
    row-level contract tagging via gate_rows — every declared check
    evaluated in ONE projection, each row labeled with the
    comma-joined names of the checks it fails (empty string = clean).
    Oracle-exact because the violation array is deterministic in
    declaration order (concat_ws skips NULL cases exactly as
    array_compact drops passing checks).  This is the row-routing
    primitive ingest_gated_stream uses per micro-batch; at 100 TB it is
    a pure map over the scan — no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    return gate_rows(d, _GATE_CHECKS, not_null=["source"]).select(
        "doc_id", F.array_join("_violations", ",").alias("violations")
    )
