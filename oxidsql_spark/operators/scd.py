"""Slowly-changing-dimension (Type 2) history builds.

The reference stores dimensions as mutable heap rows — an UPDATE (its
README.md:51 TODO) would overwrite history.  Warehouses instead keep
Type-2 history: one row per (key, attribute-state) validity interval
with ``valid_from`` / ``valid_to`` / ``is_current``, so a fact row can
always be joined to the dimension AS OF its own timestamp.

``scd2_build`` turns a raw change feed (possibly containing consecutive
rows with unchanged attributes — CDC streams routinely re-emit state)
into the minimal interval table:

1. change-point detection: a row starts a new interval iff any tracked
   attribute differs (null-safely) from the key's previous row — one
   window over (key, ts);
2. interval closing: ``valid_to`` = next change's ``valid_from`` — a
   second window over the surviving change points.

Both windows share the same partitioning key, so Catalyst plans ONE
exchange on the key; state per key is a single previous row — linear
streaming evaluation per partition, no join.  At 100 TB the change feed
shuffles once on the dimension key and the output is the (much smaller)
interval table; the companion as-of join (`relational_ext.asof_last_click`
pattern) then serves point-in-time lookups without inequality joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import table


def scd2_build(
    changes: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Collapse a change feed into SCD Type-2 validity intervals.

    ``tiebreak`` columns make the within-key order total when ``ts_col``
    has duplicates (pass the feed's sequence/event id); determinism of
    the output requires a total order."""
    order = [F.col(ts_col), *(F.col(c) for c in (tiebreak or []))]
    w = W.partitionBy(key).orderBy(*order)
    is_change = F.lit(False)
    for a in attrs:
        is_change = is_change | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    # lag(key-ordered first row) is NULL for every attr; eqNullSafe makes
    # a genuinely-NULL first attribute compare equal, so mark row 1 explicitly
    first = F.row_number().over(w) == 1
    cp = changes.withColumn("_chg", first | is_change).filter("_chg")
    w2 = W.partitionBy(key).orderBy(*order)
    nxt = F.lead(ts_col).over(w2)
    return cp.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def _rebuild_affected(
    affected_current: DataFrame,
    batch: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """The merge core shared by both stores: given the CURRENT intervals
    of exactly the batch's keys, return those keys' complete NEW interval
    sets — immutable closed intervals pass through; each key's open
    interval re-enters change detection as a seed row (original
    ``valid_from``, NULL tiebreak so it sorts before same-timestamp batch
    rows) unioned with the key's batch rows, and `scd2_build` re-derives
    the key's tail.  A batch that only re-emits current state reproduces
    the key's intervals unchanged; a real change closes the open interval
    at the change's timestamp.  Keys new to the history have no current
    rows and build from the batch alone."""
    cols = [key, *attrs, ts_col, *(tiebreak or [])]
    out_cols = [key, *attrs, "valid_from", "valid_to", "is_current"]
    closed = affected_current.filter(~F.col("is_current")).select(*out_cols)
    seed = affected_current.filter("is_current").select(
        F.col(key), *[F.col(a) for a in attrs], F.col("valid_from").alias(ts_col)
    )
    for tb in tiebreak or []:
        seed = seed.withColumn(tb, F.lit(None).cast(batch.schema[tb].dataType))
    rebuilt = scd2_build(
        seed.select(*cols).unionByName(batch), key, attrs, ts_col, tiebreak=tiebreak
    )
    return closed.unionByName(rebuilt.select(*out_cols))


def scd2_merge_batch(
    vt,
    batch: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str,
    tiebreak: list[str] | None = None,
) -> None:
    """Fold one APPENDED change batch into a snapshot-versioned SCD2
    table (one atomic commit; readers only ever see whole batches).

    Only AFFECTED keys are touched: closed intervals are immutable and
    pass through; each affected key's OPEN interval re-enters change
    detection as a seed row (its original ``valid_from``, NULL tiebreak
    so it sorts before same-timestamp batch rows), unioned with the
    key's batch rows, and `scd2_build` re-derives that key's tail —
    so a batch that only re-emits current state changes nothing, and a
    real change closes the open interval at the change's timestamp.

    Cost per batch: |batch| + (open intervals of affected keys) rows
    through one `scd2_build` — never the closed history, never
    unaffected keys.  Precondition (standard CDC contract): per key,
    batch timestamps are >= the open interval's ``valid_from`` —
    event-time-ordered feeds per key; cross-key order is free."""
    cols = [key, *attrs, ts_col, *(tiebreak or [])]
    batch = batch.select(*cols)
    if vt.latest_version() is None:
        vt.write(scd2_build(batch, key, attrs, ts_col, tiebreak=tiebreak))
        return
    cur = vt.read()
    bkeys = batch.select(key).distinct()
    untouched = cur.join(bkeys, key, "left_anti")
    affected = cur.join(bkeys, key, "left_semi")
    rebuilt = _rebuild_affected(affected, batch, key, attrs, ts_col, tiebreak)
    vt.write(untouched.unionByName(rebuilt))


_SCD_BUCKETS = 64  # default key-hash buckets for the partitioned history


class Scd2History:
    """Partition-scoped SCD Type-2 history — the 100 TB maintenance
    shape.  The history lives in a `versioned.VersionedTable`
    partitioned by ``pmod(xxhash64(key), n_buckets)``: a micro-batch merge
    rewrites ONLY the buckets containing affected keys (closed intervals
    of every other key carry over by manifest reference, zero I/O), so
    per-batch commit cost is O(touched buckets), never O(history).  The
    bucket is a pure function of the key, so a key can never move
    buckets and the upsert skips its holding scan
    (``partition_from_key=True``).

    Compute is equally bounded: the merge reads only the touched
    buckets' partitions (manifest-pruned scan), restricts to affected
    keys, and re-derives just those keys' interval tails — the same
    `_rebuild_affected` core as the snapshot-store variant, which
    remains the right choice for SMALL dimensions where a full snapshot
    is one cheap file anyway."""

    _KB = "_kb"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        attrs: list[str],
        ts_col: str,
        tiebreak: list[str] | None = None,
        n_buckets: int = _SCD_BUCKETS,
    ):
        from ..versioned import VersionedTable

        self.spark = spark
        self.key = key
        self.attrs = list(attrs)
        self.ts_col = ts_col
        self.tiebreak = list(tiebreak or [])
        self.n_buckets = n_buckets
        self._pvt = VersionedTable(spark, path, self._KB)

    def _bucket(self, col: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self._KB, self._bucket(F.col(self.key)))

    def merge(self, batch: DataFrame) -> None:
        """Fold one appended change batch in; one atomic manifest commit.
        Same CDC precondition as `scd2_merge_batch` (per key, batch
        timestamps >= the open interval's ``valid_from``)."""
        cols = [self.key, *self.attrs, self.ts_col, *self.tiebreak]
        batch = batch.select(*cols)
        if not self._pvt.versions():
            hist = scd2_build(
                batch, self.key, self.attrs, self.ts_col, tiebreak=self.tiebreak
            )
            self._pvt.write(self._with_bucket(hist))
            return
        # ≤ n_buckets values — a bounded collect, independent of data size
        buckets = [
            str(r[0])
            for r in batch.select(self._bucket(F.col(self.key)).alias("b"))
            .distinct()
            .collect()
            if r[0] is not None
        ]
        bkeys = batch.select(self.key).distinct()
        touched = self._pvt.read_partitions(buckets).drop(self._KB)
        affected = touched.join(bkeys, self.key, "left_semi")
        rebuilt = _rebuild_affected(
            affected, batch, self.key, self.attrs, self.ts_col, self.tiebreak
        )
        self._pvt.upsert(
            self._with_bucket(rebuilt), self.key, partition_from_key=True
        )

    def read(self, version: int | None = None) -> DataFrame:
        return self._pvt.read(version).drop(self._KB)

    def versions(self) -> list[int]:
        return self._pvt.versions()

    def enrich_asof(self, batch: DataFrame, probe_id: str) -> DataFrame:
        """Enrich each batch row with the dimension attributes active at
        its timestamp (``asof_<attr>`` columns; NULL before the key's
        first interval).  Manifest-pruned: only the key buckets present
        in the batch are read — per-batch lookup cost is O(batch +
        touched buckets), the partitioned-history dividend.  The as-of
        resolution is the union + running ``last_value`` timeline (one
        exchange on the key, no inequality join); a probe at exactly a
        change point sees the NEW interval.  ``probe_id`` must uniquely
        identify batch rows (the join-back key)."""
        key, ts = self.key, self.ts_col
        buckets = [
            str(r[0])
            for r in batch.select(self._bucket(F.col(key)).alias("b"))
            .distinct()
            .collect()
            if r[0] is not None
        ]
        hist = self._pvt.read_partitions(buckets).drop(self._KB)
        iv = hist.filter(
            F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
        )
        attrs_struct = F.struct(*[F.col(a) for a in self.attrs])
        struct_t = iv.select(attrs_struct.alias("_s")).schema["_s"].dataType
        pid_t = batch.schema[probe_id].dataType
        iv_rows = iv.select(
            F.col(key),
            F.col("valid_from").alias("_t"),
            attrs_struct.alias("_state"),
            F.lit(0).alias("_kind"),
            F.lit(None).cast(pid_t).alias(probe_id),
        )
        probe_rows = batch.select(
            F.col(key),
            F.col(ts).alias("_t"),
            F.lit(None).cast(struct_t).alias("_state"),
            F.lit(1).alias("_kind"),
            F.col(probe_id),
        )
        w = (
            W.partitionBy(key)
            .orderBy("_t", "_kind")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        resolved = (
            iv_rows.unionByName(probe_rows)
            .withColumn("_asof", F.last("_state", ignorenulls=True).over(w))
            .filter(F.col("_kind") == 1)
            .select(
                probe_id,
                *[F.col("_asof")[a].alias(f"asof_{a}") for a in self.attrs],
            )
        )
        return batch.join(resolved, probe_id, "left")


def scd2_enrich_stream(
    spark: SparkSession,
    source_dir: str,
    hist_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming point-in-time enrichment: each micro-batch of the
    events feed is joined to the FROZEN partitioned SCD2 history as-of
    each event's timestamp (`Scd2History.enrich_asof` — only the
    buckets of the batch's keys are read per batch) and appended to a
    parquet sink.  The stream-side twin of `events_scd2_asof`'s
    lookup; replayed-stream == batch equality is tested.  Returns the
    ready DataStreamWriter (caller .start()s it)."""
    from ..streaming.events import _stream_source

    hist = Scd2History(
        spark, hist_path, "user_id", ["event_type"], "ts", tiebreak=["event_id"]
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        if batch_df.isEmpty():
            return
        hist.enrich_asof(batch_df, "event_id").write.mode("append").parquet(out_dir)

    return (
        _stream_source(spark, source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def scd2_apply_stream(
    spark: SparkSession, source_dir: str, table_path: str, checkpoint_dir: str
):
    """Streaming SCD2 maintenance: the events change feed lands in a
    PARTITION-SCOPED Type-2 history (`Scd2History`) via ``foreachBatch``
    — each micro-batch is one atomic manifest commit that rewrites only
    the key buckets the batch touches, so per-batch I/O is O(touched
    buckets) and the commit history is the dimension's CDC log (time
    travel replays to any batch boundary).  Final state == the one-shot
    batch `scd2_build` (tested over a watermark-advancing multi-batch
    replay).  Returns the ready DataStreamWriter (caller .start()s it)."""
    from ..streaming.events import _stream_source

    hist = Scd2History(
        spark, table_path, "user_id", ["event_type"], "ts", tiebreak=["event_id"]
    )

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        if batch_df.isEmpty():
            return
        hist.merge(batch_df)

    return (
        _stream_source(spark, source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def _scd2_asof_oracle() -> str:
    """History chain (the events_scd2_type derivation), month-boundary
    probe grid, then the as-of lookup as a UNION + running last_value
    window — the same O(n log n)-per-key shape the Spark side uses, so
    no inequality join appears in either engine."""
    return """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), cp AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR prev_type <> event_type
    ), hist AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM cp
    ), iv AS (
      SELECT user_id, valid_from, event_type FROM hist
      WHERE valid_to IS NULL OR valid_to > valid_from
    ), days AS (
      SELECT DISTINCT date_trunc('day', ts) + INTERVAL 1 DAY AS m FROM events
    ), users AS (SELECT DISTINCT user_id FROM events),
    u AS (
      SELECT user_id, valid_from AS t, event_type, 0 AS kind FROM iv
      UNION ALL
      SELECT u.user_id, m.m, NULL, 1 FROM users u, days m
    ), st AS (
      SELECT user_id, t, kind,
             last_value(event_type IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY t, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state
      FROM u
    )
    SELECT user_id, CAST(t AS VARCHAR) AS as_of, state AS event_type
    FROM st WHERE kind = 1 AND state IS NOT NULL
    ORDER BY user_id, as_of
    """


@register("events_scd2_asof", oracle=_scd2_asof_oracle())
def events_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup over the SCD2 history: each user's
    active event_type state AS OF every end-of-day boundary in the feed
    — the query a Type-2 dimension exists to answer.

    The as-of join is NOT an inequality join (a BroadcastNestedLoop at
    scale): intervals and probe timestamps UNION into one timeline per
    key and a running ``last_value(ignorenulls)`` window resolves each
    probe to the newest interval at or before it — one exchange on the
    key, linear per partition, the same shape at any history size.
    Zero-length intervals (two change points at one timestamp) are
    dropped first so the survivor at a timestamp is the state that
    actually persisted."""
    ev = table(spark, sf_dir, "events")
    hist = scd2_build(ev, "user_id", ["event_type"], "ts", tiebreak=["event_id"])
    iv = hist.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).select(
        "user_id",
        F.col("valid_from").alias("t"),
        "event_type",
        F.lit(0).alias("kind"),
    )
    days = ev.select(
        (F.date_trunc("day", "ts") + F.expr("INTERVAL 1 DAY")).alias("t")
    ).distinct()
    probes = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(days))
        .select(
            "user_id", "t", F.lit(None).cast("string").alias("event_type"),
            F.lit(1).alias("kind"),
        )
    )
    u = iv.unionByName(probes)
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    st = u.withColumn("state", F.last("event_type", ignorenulls=True).over(w))
    return (
        st.filter((F.col("kind") == 1) & F.col("state").isNotNull())
        .select(
            "user_id",
            F.col("t").cast("string").alias("as_of"),
            F.col("state").alias("event_type"),
        )
        .orderBy("user_id", "as_of")
    )


@register(
    "events_scd2_type",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ), cp AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           CAST(ts AS VARCHAR) AS valid_from,
           CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS VARCHAR) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM cp
    ORDER BY user_id, valid_from
    """,
)
def events_scd2_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each user's event_type state: consecutive
    same-type events collapse into one validity interval; the interval
    closes when the next differing type arrives.  One exchange on
    user_id serves both windows (change-point lag + interval-closing
    lead)."""
    ev = table(spark, sf_dir, "events")
    hist = scd2_build(
        ev, "user_id", ["event_type"], "ts", tiebreak=["event_id"]
    )
    return hist.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    ).orderBy("user_id", "valid_from")
