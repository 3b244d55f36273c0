"""Event-stream operators over the `events` table.

Each aggregation exists twice with identical semantics:
  * a batch query (registered, oracle-checked against DuckDB), and
  * a Structured Streaming pipeline (`stream_*` builders) that runs the
    same windowed aggregation over readStream + watermark — used by the
    test suite, which replays the parquet table as a file stream and
    asserts the streaming result equals the batch result.

Scale: windowed aggs shuffle on (window, key); watermarks bound state so
a 100 TB/day stream holds only the open windows. props is a JSON string
column — parsed with get_json_object/from_json (JVM-side), never Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources import dbl, money, table

def _event_schema(ts_type: "T.DataType") -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_stored_as_nanos(source_dir: str) -> bool:
    """True when the events parquet stores ts as TIMESTAMP(NANOS), which
    Spark's reader rejects unless read as a raw long. One driver-side
    footer read of one file — the generator writes a uniform schema."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(source_dir, "*.parquet")))
    if not files:
        return False
    ts = pq.read_schema(files[0]).field("ts").type
    return getattr(ts, "unit", None) == "ns"


def _stream_source(
    spark: SparkSession, source_dir: str, watermark: bool = True
) -> DataFrame:
    # Watermarks require TIMESTAMP (LTZ), not NTZ — rebuild/cast as LTZ.
    # Run the session in UTC (get_spark does) so event-time windows
    # align with the batch twin's NTZ arithmetic.
    if _ts_stored_as_nanos(source_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = (
            spark.readStream.schema(_event_schema(T.LongType()))
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    else:
        df = (
            spark.readStream.schema(_event_schema(T.TimestampNTZType()))
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    # watermark=False lets a consumer re-watermark derived columns (e.g.
    # the two renamed sides of a stream-stream join, where re-defining an
    # inherited watermark is an analysis error).
    return df.withWatermark("ts", "2 hours") if watermark else df


def _hourly_agg(df: DataFrame) -> DataFrame:
    """Shared tumbling-window aggregation (batch and streaming)."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_hourly",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type — batch twin of the
    streaming pipeline below (same helper builds both plans)."""
    return _hourly_agg(table(spark, sf_dir, "events"))


@register(
    "events_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(min(ts) AS VARCHAR) AS first_ts, CAST(max(ts) AS VARCHAR) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime rollup (the keyed-state shape of a streaming
    `update`-mode aggregation)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            dbl(F.sum(money("value"))).alias("total_value"),
            F.min("ts").cast("string").alias("first_ts"),
            F.max("ts").cast("string").alias("last_ts"),
        )
    )


@register(
    "events_anomaly",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS vc
      FROM events),
    st AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(vc) AS HUGEINT) AS s,
             CAST(sum(vc * vc) AS HUGEINT) AS q
      FROM e GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           round(CAST((e.vc * st.n - st.s) * (e.vc * st.n - st.s) * (st.n - 1) AS DOUBLE)
                 / CAST(st.n * (st.n * st.q - st.s * st.s) AS DOUBLE), 4) AS zsq
    FROM e JOIN st USING (event_type)
    WHERE st.n > 1 AND st.n * st.q > st.s * st.s
      AND CAST((e.vc * st.n - st.s) * (e.vc * st.n - st.s) * (st.n - 1) AS DOUBLE)
          / CAST(st.n * (st.n * st.q - st.s * st.s) AS DOUBLE) > 9
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection: events whose value is >3 sample standard
    deviations from their event-type mean (z² > 9).

    Float stddev aggregates accumulate order-dependently (Spark and any
    oracle would disagree in the last ulp, and a threshold flips rows),
    so the moments are EXACT integer cents — decimal(38,0) here,
    HUGEINT in the oracle — and z² is formed as one double division of
    two exactly-equal integers:
        z² = (v·n − s)²·(n−1) / (n·(n·q − s²)).
    That discipline (exact partials, float only at the last step) is
    also what makes the aggregation partial/merge-safe at 100 TB. One
    shuffle for the per-type moments (25 groups → broadcast back)."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (money("value") * 100).cast("decimal(38,0)").alias("vc"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("vc").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).cast("decimal(38,0)").alias("q"),
    )
    j = e.join(F.broadcast(st), "event_type")
    a = F.col("vc") * F.col("n") - F.col("s")
    b = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    zsq = (a * a * (F.col("n") - 1)).cast("double") / (F.col("n") * b).cast("double")
    return (
        j.filter((F.col("n") > 1) & (b > 0))
        .withColumn("zsq", zsq)
        .filter(F.col("zsq") > 9)
        .select("event_id", "event_type", F.round("zsq", 4).alias("zsq"))
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props parsed with the built-in
    JSON path expression (codegen'd — never a Python json.loads)."""
    return table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("prop_k")
    )


@register(
    "events_variant_agg",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE props IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1
    """,
)
def events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read via the VARIANT type (Spark 4): ``parse_json``
    ingests the ragged JSON ONCE into a binary variant encoding, typed
    paths come out with ``variant_get``, and the aggregation runs on the
    extracted columns. Unlike get_json_object (re-parses the string per
    path, events_json_props) or from_json (needs a declared schema,
    events_props_map), variant is the open-schema columnar path — the
    right default for event-property lakes whose keys drift over time."""
    e = table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select(k.alias("k"), money("value").alias("val"))
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dbl(F.sum("val")).alias("total_value"),
        )
    )


@register(
    "events_sliding",
    oracle="""
    SELECT CAST(win_start AS VARCHAR) AS hour_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL 30 minutes, CAST(ts AS TIMESTAMP)),
                     time_bucket(INTERVAL 30 minutes, CAST(ts AS TIMESTAMP)) - INTERVAL 30 minutes])
               AS win_start,
             event_type, value
      FROM events)
    GROUP BY win_start, event_type
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 1-hour windows every 30 minutes — each
    event lands in exactly two windows. Spark's window() does the fanout
    natively; the oracle spells it out via unnest of both window starts."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS hi
      FROM events),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 hour)) AS hour_start FROM bounds),
    agg AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT CAST(h.hour_start AS VARCHAR) AS hour_start,
           coalesce(a.n, 0) AS n_purchases
    FROM hours h LEFT JOIN agg a ON h.hour_start = a.hour_start
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a generated dense hour spine LEFT JOINs
    the sparse aggregate so empty hours appear as zeros. The spine is
    sequence()-generated from min/max (two scalar aggregates) — no
    driver-side loop; the join is broadcast (the spine is tiny)."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    agg = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(agg, "hour_start", "left")
        .select(
            F.col("hour_start").cast("string").alias("hour_start"),
            F.coalesce("n", F.lit(0)).alias("n_purchases"),
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    numbered AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked)
    SELECT user_id,
           CAST(min(ts) AS VARCHAR) AS sess_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS sess_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, sess_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via F.session_window — the
    same operator Structured Streaming uses for stateful sessionization.
    Batch mode here; the streaming twin is stream_sessionize(). The
    oracle is the gaps-and-islands formulation: a session break is a
    >=30-min gap, session end = last event + 30 min — bitwise the
    session_window contract."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dbl(F.sum(money("value"))).alias("total_value"))
        .select(
            "user_id",
            F.col("sess.start").cast("string").alias("sess_start"),
            F.col("sess.end").cast("string").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Streaming builders (tested in tests/test_streaming.py)
# ---------------------------------------------------------------------------


@register(
    "events_click_purchase",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def events_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs within 30 minutes: the batch twin
    of the stream-stream interval join (stream_click_purchase). The self
    join shuffles both sides on user_id once; the time band is a post-join
    predicate, so cardinality stays |clicks ⋈ purchases in band|."""
    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    )


def stream_click_purchase(spark: SparkSession, source_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks and purchases arrive as two
    watermarked streams; the join condition's time band lets Spark bound
    both state stores (clicks older than watermark+30min are evicted).
    This is the streaming operator the batch twin above certifies."""
    s = _stream_source(spark, source_dir, watermark=False)
    c = s.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    ).withWatermark("c_ts", "2 hours")
    p = s.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    ).withWatermark("p_ts", "2 hours")
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    )


def stream_hourly(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream → watermark → tumbling window agg. Watermark bounds
    state: windows older than 2 h of event time are finalized+dropped."""
    return _hourly_agg(_stream_source(spark, source_dir))


def stream_sessionize(spark: SparkSession, source_dir: str) -> DataFrame:
    stream = _stream_source(spark, source_dir)
    return (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dbl(F.sum(money("value"))).alias("total_value"))
        .select(
            "user_id",
            F.col("sess.start").cast("string").alias("sess_start"),
            F.col("sess.end").cast("string").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )


def stream_sliding(spark: SparkSession, source_dir: str) -> DataFrame:
    """Sliding-window streaming twin of events_sliding."""
    s = _stream_source(spark, source_dir)
    return (
        s.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming stateful dedup: first event per (user_id, event_type)
    via dropDuplicatesWithinWatermark — a key's state is EVICTED once
    the watermark passes its event time + delay, so state is genuinely
    bounded on a continuous stream (plain dropDuplicates without the
    event-time column in the key subset never evicts). A duplicate
    arriving after its key's state expired re-emits that key; the
    batch identity tested is therefore on KEY SETS, which re-emission
    preserves."""
    return (
        _stream_source(spark, source_dir)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


_SPEND_OUT = "user_id bigint, n_events bigint, total_cents bigint"
_SPEND_STATE = "cents bigint, n bigint"


def stream_user_spend(spark: SparkSession, source_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user lifetime spend, one state row per user, an updated total
    emitted every micro-batch the user appears in.

    This is the extension point for operators Structured Streaming lacks
    natively (custom counters, decaying scores, fraud windows). State is
    a pair of ints (cents, n) — integer cents so the accumulated total is
    exact regardless of batch arrival order. Partitioned by user_id: at
    100 TB/day the state store shards across executors with the key."""
    import pandas as pd  # local import: only the pandas path needs it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_spend(key, pdfs, state: GroupState):
        cents, n = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cents += int((pdf["value"] * 100).round().sum())
            n += len(pdf)
        state.update((cents, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return (
        _stream_source(spark, source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_spend,
            outputStructType=_SPEND_OUT,
            stateStructType=_SPEND_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_upsert_versioned(
    spark: SparkSession, source_dir: str, table_path: str, checkpoint_dir: str
):
    """CDC landing pattern: the update-mode per-user spend stream upserts
    into a manifest-versioned table via ``foreachBatch`` — each
    micro-batch is one atomic MERGE commit (``VersionedTable.upsert``),
    so downstream readers only ever see whole batches, and the commit
    history IS the CDC log (time travel = replay to any batch boundary).
    This is how streaming aggregates land in a queryable table without a
    lake-format dependency; effective exactly-once comes from the sink
    being idempotent per key (a replayed batch re-upserts the same
    rows) under the checkpoint's batch tracking.

    Returns the started-ready DataStreamWriter (caller .start()s it)."""
    from ..versioned import VersionedTable

    vt = VersionedTable(spark, table_path)

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        if batch_df.isEmpty():
            return
        if vt.latest_version() is None:
            vt.write(batch_df)
        else:
            vt.upsert(batch_df, "user_id")

    return (
        stream_user_spend(spark, source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def run_stream_to_memory(spark: SparkSession, sdf: DataFrame, name: str, timeout: int = 120):
    """Drive a streaming DF to completion against a finite file source and
    return the materialized result table."""
    q = sdf.writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'signup' AS stage, count(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'click_after_signup', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM s3
    ) ORDER BY ord
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then clicked AFTER signup,
    then purchased AFTER that click. Each stage is a per-user min-ts
    aggregate joined to the previous stage — 3 aggregations over the
    (already user-partitioned) events, no window materialization. The
    ordering constraint is the part naive event counting gets wrong."""
    ev = table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = lambda ord_, name, df: df.agg(
        F.lit(ord_).alias("ord"), F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        stage(1, "signup", s1)
        .unionAll(stage(2, "click_after_signup", s2))
        .unionAll(stage(3, "purchase_after_click", s3))
        .orderBy("ord")
        .select("stage", "n_users")
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cohort_m FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_m AS VARCHAR) AS cohort_month,
           CAST(date_diff('month', f.cohort_m, date_trunc('month', e.ts)) AS INTEGER) AS month_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY f.cohort_m, month_offset
    ORDER BY cohort_month, month_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen month, counted
    distinct in each subsequent activity month. Two aggregations — the
    firsts table is per-user (small) and re-joins the stream on user_id;
    the distinct count shuffles (cohort, offset, user) once."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("month", F.min("ts")).alias("cohort_m"))
    return (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_m",
            F.months_between(F.date_trunc("month", F.col("ts")), F.col("cohort_m"))
            .cast("int")
            .alias("month_offset"),
        )
        .groupBy(F.col("cohort_m").cast("date").cast("string").alias("cohort_month"), "month_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_month", "month_offset")
    )


@register(
    "events_props_map",
    oracle="""
    SELECT event_id, 'k' AS prop_key,
           CAST(json_extract(props, '$.k') AS INTEGER) AS prop_value
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    """,
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props into map<string,int> and
    explode to (key, value) rows — the generic path for ragged
    semi-structured properties (vs the fixed-path get_json_object in
    events_json_props). from_json + explode are both codegen'd. The
    testdata's props happen to hold the single key 'k' (asserted by the
    oracle's fixed-path formulation — this DuckDB build lacks
    json_each); the Spark side stays fully generic."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.explode(F.from_json("props", "map<string,int>")).alias("prop_key", "prop_value"),
        )
    )


@register(
    "events_dow_hour",
    oracle="""
    SELECT isodow(CAST(ts AS TIMESTAMP)) AS dow,
           hour(CAST(ts AS TIMESTAMP)) AS hod,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the temporal-pattern
    rollup behind load forecasting and anomaly baselines. ≤168 output
    groups regardless of input size, so the shuffle after partial
    aggregation is constant-width at any scale. Spark's weekday() is
    0=Monday; +1 matches DuckDB/ISO isodow (1=Monday) so the engines
    agree on the bucket, unlike dayofweek() whose week origin differs."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.weekday("ts") + 1).alias("dow"), F.hour("ts").alias("hod")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_interarrival",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             date_diff('second',
                       lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id),
                       CAST(ts AS TIMESTAMP)) AS gap_s
      FROM events)
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
           min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per-user gaps between consecutive events
    (lag over an event_id-tie-broken total order, so both engines pair
    identical neighbors), reduced to integer-second statistics. One
    shuffle on user_id shared by the window and the aggregate — Catalyst
    reuses the partitioning, no second exchange."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lag(F.col("ts").cast("timestamp")).over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("total_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


_INACT_T1_MS = 30 * 60 * 1000  # idle tier
_INACT_T2_MS = 2 * 3600 * 1000  # churn tier


@register(
    "events_inactivity_alerts",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id FROM events),
    g AS (
      SELECT user_id, ms,
             lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
      FROM ev),
    t(tier, thr) AS (VALUES (1, {_INACT_T1_MS}), (2, {_INACT_T2_MS}))
    SELECT g.user_id, g.ms AS last_ms, t.tier, g.ms + t.thr AS deadline
    FROM g JOIN t ON g.next_ms IS NOT NULL AND g.next_ms - g.ms > t.thr
    ORDER BY user_id, last_ms, tier
    """,
)
def events_inactivity_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered inactivity alerts, batch form: for every consecutive-event
    gap of a user exceeding a tier threshold (30 min idle / 2 h churn),
    one alert row stamped at the moment the tier elapsed
    (last_event + threshold) — the re-engagement trigger feed.  This is
    also the exact interior truth the streaming operator
    (``stream_inactivity_tiers``, event-time TIMER LISTS) must emit, so
    the two are compared in tests/test_streaming.py.

    One shuffle on user_id shared by the lead window and nothing else;
    the two-tier fan-out is a 2-row explode, integer millisecond
    arithmetic in both engines."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("ms", "event_id")
    g = e.withColumn("next_ms", F.lead("ms").over(w)).filter(
        F.col("next_ms").isNotNull()
    )
    tiers = F.array(
        F.struct(F.lit(1).alias("tier"), F.lit(_INACT_T1_MS).alias("thr")),
        F.struct(F.lit(2).alias("tier"), F.lit(_INACT_T2_MS).alias("thr")),
    )
    return (
        g.select("user_id", "ms", "next_ms", F.explode(tiers).alias("t"))
        .filter(F.col("next_ms") - F.col("ms") > F.col("t.thr"))
        .select(
            "user_id",
            F.col("ms").alias("last_ms"),
            F.col("t.tier").alias("tier"),
            (F.col("ms") + F.col("t.thr")).alias("deadline"),
        )
        .orderBy("user_id", "last_ms", "tier")
    )


_INACT_OUT = "user_id bigint, last_ms bigint, tier int, deadline bigint"


def stream_inactivity_tiers(spark: SparkSession, source_dir: str) -> DataFrame:
    """Tiered inactivity alerts as a STREAM — the operator the timer-LIST
    surface exists for: every key holds TWO armed deadlines at once
    (last_event + 30 min, last_event + 2 h), re-registered on activity
    (delete-then-register, the native pattern), fired individually as the
    watermark passes each — ``handleExpiredTimer`` receives the expired
    deadline and derives the tier from it.  The churn tier evicts the
    key's state.  Gaps that close inside one micro-batch (or across two,
    via the carried last-event state) emit inline, with a fired-tier
    marker preventing a timer-then-input duplicate for the same gap.
    Emitted rows are value-identical to ``events_inactivity_alerts``'s
    interior rows plus (watermark-permitting) each user's tail alerts —
    asserted in tests/test_streaming.py.

    State per key: two ints + the timer list — bytes; fired tier-2
    timers delete the row, so state tracks currently-active users, not
    history."""
    import pandas as pd

    from .statefulproc import StatefulProcessor, transform_with_state

    def _empty():
        return pd.DataFrame(
            {"user_id": [], "last_ms": [], "tier": [], "deadline": []}
        ).astype({"user_id": "int64", "last_ms": "int64", "tier": "int32",
                  "deadline": "int64"})

    def _rows(key, alerts):
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(alerts),
                "last_ms": [a[0] for a in alerts],
                "tier": pd.array([a[1] for a in alerts], dtype="int32"),
                "deadline": [a[0] + a[2] for a in alerts],
            }
        )

    class InactivityProc(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.last = handle.get_value_state("last")
            self.fired = handle.get_value_state("fired")

        def handleInputRows(self, key, rows):
            ts = []
            for pdf in rows:
                ts.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
            ts.sort()
            prev, fired = self.last.get(), self.fired.get() or 0
            seq = ([prev] if prev is not None else []) + ts
            alerts = []
            for a, b in zip(seq, seq[1:]):
                skip_below = fired if a == prev else 0
                for tier, thr in ((1, _INACT_T1_MS), (2, _INACT_T2_MS)):
                    if b - a > thr and tier > skip_below:
                        alerts.append((a, tier, thr))
            self.last.update(seq[-1])
            self.fired.update(0)
            for t in self.h.list_timers():
                self.h.delete_timer(t)
            self.h.register_timer(seq[-1] + _INACT_T1_MS)
            self.h.register_timer(seq[-1] + _INACT_T2_MS)
            yield _rows(key, alerts) if alerts else _empty()

        def handleExpiredTimer(self, key, fired_ts):
            last = self.last.get()
            tier = 1 if fired_ts == last + _INACT_T1_MS else 2
            out = _rows(key, [(last, tier, fired_ts - last)])
            if tier == 2:
                self.h.clear_all()  # churned: evict the key entirely
            else:
                self.fired.update(tier)
            yield out

    return transform_with_state(
        _stream_source(spark, source_dir),
        ["user_id"],
        InactivityProc,
        _INACT_OUT,
        output_mode="append",
        time_mode="eventTime",
    )


def stream_anomaly_scored(
    spark: SparkSession, source_dir: str, sf_dir: str
) -> DataFrame:
    """Train-batch / score-stream: the per-type moment table computed in
    batch (events_anomaly's exact integer moments) broadcast-joins a
    live stream, flagging z²>9 events as they arrive — the standard
    shape for model-based stream scoring (static model side, streaming
    fact side; stream-static joins need no state store at all). The
    emitted flag set over a full replay equals the batch operator's."""
    stats = (
        table(spark, sf_dir, "events")
        .select("event_type", (money("value") * 100).cast("decimal(38,0)").alias("vc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("vc").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("vc") * F.col("vc")).cast("decimal(38,0)").alias("q"),
        )
    )
    s = _stream_source(spark, source_dir, watermark=False).select(
        "event_id",
        "event_type",
        (money("value") * 100).cast("decimal(38,0)").alias("vc"),
    )
    j = s.join(F.broadcast(stats), "event_type")
    a = F.col("vc") * F.col("n") - F.col("s")
    b = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    zsq = (a * a * (F.col("n") - 1)).cast("double") / (F.col("n") * b).cast("double")
    return (
        j.filter((F.col("n") > 1) & (b > 0))
        .withColumn("zsq", zsq)
        .filter(F.col("zsq") > 9)
        .select("event_id", "event_type", F.round("zsq", 4).alias("zsq"))
    )


def stream_dow_hour(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming twin of events_dow_hour: the dow×hour heatmap as an
    update-mode aggregation. The grouping keys derive from event time but
    are NOT windows — state is permanently ≤168 rows, so no watermark is
    needed (nothing to evict; the heatmap is cumulative by design)."""
    s = _stream_source(spark, source_dir, watermark=False)
    return s.groupBy(
        (F.weekday("ts") + 1).alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )


@register(
    "events_wau",
    oracle="""
    WITH days AS (
      SELECT user_id,
             unnest(generate_series(CAST(ts AS DATE),
                                    CAST(ts AS DATE) + 6,
                                    INTERVAL 1 DAY)) AS active_day
      FROM events),
    bounds AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events)
    SELECT CAST(CAST(active_day AS DATE) AS VARCHAR) AS day,
           count(DISTINCT user_id) AS wau
    FROM days CROSS JOIN bounds
    WHERE CAST(active_day AS DATE) <= bounds.max_day
    GROUP BY 1
    """,
)
def events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — the sliding
    count-distinct that window frames cannot express (DISTINCT over a
    range frame isn't supported anywhere). Implemented scale-correctly
    by CONTRIBUTION EXPLODE: each event contributes its user to the 7
    days it keeps active, then one groupBy(day) count-distinct. The 7×
    row fan-out happens map-side (no pre-shuffle), and the aggregate
    shuffles (day, user) pairs — bounded by actives, not events, after
    partial dedup. Days beyond the observed range are clipped so no
    partial trailing windows appear."""
    e = table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    days = e.select(
        "user_id",
        F.explode(F.sequence(d, F.date_add(d, 6))).alias("active_day"),
    )
    bounds = e.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    return (
        days.crossJoin(F.broadcast(bounds))
        .filter(F.col("active_day") <= F.col("max_day"))
        .groupBy(F.col("active_day").cast("string").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@register(
    "events_path_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM seq WHERE rn <= 5 GROUP BY user_id)
    SELECT path, count(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k onboarding paths (sequence mining): each user's first 5
    event types joined into a '>' path, counted across users, top 20 by
    frequency with a path tie-break so the cut is deterministic.

    Scale shape: one shuffle on user_id for the ranking window, the
    per-user path built from a sorted ≤5-element struct array (the
    `transform` lambda runs over 5 elements — constant work; ordering
    comes from the collected rank, so collect_list's arrival order
    never matters), then a path-keyed partial-aggregated count and
    TakeOrderedAndProject for the top 20 — no global sort."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        e.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 5)
    )
    paths = first5.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


_SEQ_PATTERNS = [
    # (name, regex over the '>'-joined full event-type path) — ordered
    # subsequence detection, the MATCH_RECOGNIZE shapes product
    # analytics asks for.  Kept to syntax with identical semantics in
    # Java regex (Spark rlike) and RE2 (DuckDB regexp_matches).
    ("view_to_purchase", "view.*purchase"),
    ("full_funnel", "view.*click.*purchase"),
    ("error_then_purchase", "error.*purchase"),
    ("signup_first", "^signup"),
    ("repeat_purchase", "purchase.*purchase"),
]


@register(
    "events_pattern_match",
    oracle=f"""
    WITH paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id)
    {" UNION ALL ".join(
        f"SELECT '{n}' AS pattern, "
        f"CAST(sum(CASE WHEN regexp_matches(path, '{p}') THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_users FROM paths"
        for n, p in _SEQ_PATTERNS
    )}
    ORDER BY pattern
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    MATCH_RECOGNIZE capability expressed Spark-first: each user's FULL
    ordered event-type path becomes one string (total order by
    (ts, event_id), so the path is deterministic at any parallelism),
    and each declared pattern is an ordered-subsequence regex counted
    across users in ONE pass over the path relation.

    Scale shape: one shuffle on user_id builds the paths (sorted-struct
    collect, arrival-order independent); the pattern scan is a
    constant-×-|users| regex pass with map-side partial counts — adding
    patterns costs columns, not scans.  Paths are session-bounded in
    production (a user's path length is bounded by their event count;
    pathological users cap out at the string limit, the same bound the
    string_agg oracle carries)."""
    e = table(spark, sf_dir, "events")
    paths = e.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    aggs = [
        F.sum(F.col("path").rlike(p).cast("bigint")).alias(n)
        for n, p in _SEQ_PATTERNS
    ]
    one = paths.agg(*aggs)
    stacked = ", ".join(f"'{n}', `{n}`" for n, _ in _SEQ_PATTERNS)
    return one.select(
        F.expr(f"stack({len(_SEQ_PATTERNS)}, {stacked}) AS (pattern, n_users)")
    ).orderBy("pattern")


# ---------------------------------------------------------------------------
# transformWithState capability twin (streaming.statefulproc)
# ---------------------------------------------------------------------------

_TWS_SPEND_OUT = "user_id bigint, n_events bigint, total_cents bigint, n_types int"


def stream_user_spend_tws(spark: SparkSession, source_dir: str) -> DataFrame:
    """`stream_user_spend` re-expressed against the transformWithState
    capability surface (streaming.statefulproc): TYPED state variables —
    two ValueStates plus a MapState of per-event-type counts, something
    the flat tuple-state of applyInPandasWithState can't express
    directly — with the adapter handling (de)serialization.  Exact
    integer cents; emits the running totals every micro-batch the user
    appears in (update mode).  State: one row per user, sharded by
    user_id."""
    import pandas as pd

    from .statefulproc import StatefulProcessor, transform_with_state

    class SpendProc(StatefulProcessor):
        def init(self, handle):
            self.cents = handle.get_value_state("cents")
            self.n = handle.get_value_state("n")
            self.by_type = handle.get_map_state("by_type")

        def handleInputRows(self, key, rows):
            cents = self.cents.get() or 0
            n = self.n.get() or 0
            for pdf in rows:
                cents += int((pdf["value"] * 100).round().sum())
                n += len(pdf)
                for et, cnt in pdf["event_type"].value_counts().items():
                    self.by_type.update_value(
                        et, self.by_type.get_value(et, 0) + int(cnt)
                    )
            self.cents.update(cents)
            self.n.update(n)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "n_types": [len(self.by_type.get())],
                }
            )

    return transform_with_state(
        _stream_source(spark, source_dir),
        ["user_id"],
        SpendProc,
        _TWS_SPEND_OUT,
        output_mode="update",
        time_mode="none",
    )


_TWS_SESS_GAP_MS = 30 * 60 * 1000
_TWS_SESS_OUT = (
    "user_id bigint, session_start bigint, session_end bigint, n_events bigint"
)


def _fold_sessions(start, last, n, ts_sorted, gap_ms):
    """Pure in-batch sessionization fold: extend the carried open
    session (start/last/n, None/None/0 when absent) with an ascending
    timestamp list; returns (closed_sessions, start, last, n).

    The property that makes it correct under micro-batching — folding a
    time-ordered stream chunk by chunk, carrying the open-session state,
    yields exactly the sessions of one whole-stream fold — is
    hypothesis-tested in tests/test_streaming.py."""
    closed = []
    for t in ts_sorted:
        if last is not None and t - last > gap_ms:
            closed.append((start, last, n))
            start, n = None, 0
        if start is None:
            start = t
        last = t
        n += 1
    return closed, start, last, n


def stream_user_sessions_tws(
    spark: SparkSession, source_dir: str, gap_ms: int = _TWS_SESS_GAP_MS
) -> DataFrame:
    """Idle-gap sessionization driven by EVENT-TIME TIMERS — the part of
    the transformWithState contract session_window can't show: a
    session row is emitted ONLY when the key's timer fires (watermark
    passes last_event + gap), and firing EVICTS the key's state
    (handle.clear_all), so state holds exactly the open sessions.
    Sessions that close within one micro-batch (an in-batch gap) emit
    immediately.  Session bounds are epoch millis (UTC) for exact
    comparison with the batch twin."""
    import pandas as pd

    from .statefulproc import StatefulProcessor, transform_with_state

    def _empty():
        return pd.DataFrame(
            {"user_id": [], "session_start": [], "session_end": [], "n_events": []}
        ).astype({"user_id": "int64", "session_start": "int64",
                  "session_end": "int64", "n_events": "int64"})

    class SessionProc(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.start = handle.get_value_state("start")
            self.last = handle.get_value_state("last")
            self.n = handle.get_value_state("n")

        def _emit(self, key):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [self.start.get()],
                    "session_end": [self.last.get()],
                    "n_events": [self.n.get()],
                }
            )

        def handleInputRows(self, key, rows):
            ts_all = []
            for pdf in rows:
                ts_all.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
            closed, start, last, n = _fold_sessions(
                self.start.get(), self.last.get(), self.n.get() or 0,
                sorted(ts_all), gap_ms,
            )
            self.start.update(start)
            self.last.update(last)
            self.n.update(n)
            # native timer pattern: retire the previous batch's deadline
            # before arming the new one — timers persist as a LIST, so a
            # stale last+gap from an earlier batch would fire mid-session
            for t in self.h.list_timers():
                self.h.delete_timer(t)
            self.h.register_timer(last + gap_ms)
            if closed:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(closed),
                        "session_start": [c[0] for c in closed],
                        "session_end": [c[1] for c in closed],
                        "n_events": [c[2] for c in closed],
                    }
                )
            else:
                yield _empty()

        def handleExpiredTimer(self, key):
            out = self._emit(key)
            self.h.clear_all()  # eviction: the timer closes the session
            yield out

    return transform_with_state(
        _stream_source(spark, source_dir),
        ["user_id"],
        SessionProc,
        _TWS_SESS_OUT,
        output_mode="append",
        time_mode="eventTime",
    )
