"""Structured Streaming == batch equivalence.

The streaming pipelines replay the events parquet as a file stream
(maxFilesPerTrigger=1) with a watermark; on a finite source in complete
mode the final state must equal the batch aggregation over the same data.
"""

from __future__ import annotations

import shutil

import pytest

from oxidsql_spark.streaming.events import (
    events_hourly,
    events_sessionize,
    run_stream_to_memory,
    stream_dedup,
    stream_hourly,
    stream_sessionize,
    stream_sliding,
)
from oxidsql_spark.streaming.events import events_sliding


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_hourly_equals_batch(spark, sf_dir, stream_dir):
    batch = events_hourly(spark, sf_dir)
    stream = run_stream_to_memory(spark, stream_hourly(spark, stream_dir), "hourly_mem")
    assert _rows(stream) == _rows(batch)


def test_stream_sessionize_equals_batch(spark, sf_dir, stream_dir):
    batch = events_sessionize(spark, sf_dir)
    stream = run_stream_to_memory(spark, stream_sessionize(spark, stream_dir), "sess_mem")
    assert _rows(stream) == _rows(batch)


def test_stream_sliding_equals_batch(spark, sf_dir, stream_dir):
    batch = events_sliding(spark, sf_dir)
    stream = run_stream_to_memory(spark, stream_sliding(spark, stream_dir), "sliding_mem")
    assert _rows(stream) == _rows(batch)


def test_stream_user_spend_stateful(spark, sf_dir, stream_dir):
    """applyInPandasWithState: the FINAL emitted state per user must
    equal the batch per-user aggregate (exact integer cents)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_user_spend

    q = (
        stream_user_spend(spark, stream_dir)
        .writeStream.format("memory")
        .queryName("spend_mem")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update mode appends one row per (user, micro-batch); the final row
    # (max n_events) is the converged state
    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in spark.table("spend_mem")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select("user_id", "s.n_events", "s.total_cents")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_keyset_equals_batch(spark, sf_dir, stream_dir):
    """Stateful streaming dedup: which row survives is arrival-order
    dependent, but the deduped KEY SET must equal the batch distinct."""
    from oxidsql_spark.sources import table

    q = (
        stream_dedup(spark, stream_dir)
        .writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.event_type) for r in spark.table("dedup_mem").collect()}
    want = {
        (r.user_id, r.event_type)
        for r in table(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_stream_click_purchase_join_equals_batch(spark, sf_dir, stream_dir):
    """Stream-stream interval join (append mode — inner joins emit rows
    as matches resolve) must produce exactly the batch self-join pairs."""
    from oxidsql_spark.streaming.events import (
        events_click_purchase,
        stream_click_purchase,
    )

    sdf = stream_click_purchase(spark, stream_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("ssj_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("ssj_mem"))
    want = _rows(events_click_purchase(spark, sf_dir))
    assert got == want and len(got) > 0


def test_stream_parquet_sink_with_checkpoint(spark, sf_dir, stream_dir, tmp_path):
    """End-to-end streaming to a real parquet sink with a checkpoint —
    the production shape (memory sink is test-only). Append mode over a
    watermarked window agg emits only finalized windows; on a finite
    replay every window finalizes except those the final watermark
    hasn't passed, so we assert the emitted subset matches batch."""
    from oxidsql_spark.streaming.events import events_hourly, stream_hourly

    out = str(tmp_path / "hourly_out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_hourly(spark, stream_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        tuple(r)
        for r in spark.read.parquet(out).collect()
    }
    batch = {tuple(r) for r in events_hourly(spark, sf_dir).collect()}
    assert got <= batch          # nothing emitted that batch wouldn't produce
    assert len(got) >= len(batch) - 3  # all but the watermark-open tail windows


def test_stream_anomaly_scoring_equals_batch(spark, sf_dir, stream_dir):
    """Stream-static scoring: replaying the events as a stream against
    the broadcast batch moments flags exactly the events the batch
    operator flags (append mode — stateless join, no store)."""
    from oxidsql_spark.streaming.events import events_anomaly, stream_anomaly_scored

    scored = stream_anomaly_scored(spark, stream_dir, sf_dir)
    q = (
        scored.writeStream.format("memory")
        .queryName("anom_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("anom_mem"))
    want = _rows(events_anomaly(spark, sf_dir))
    assert got == want


def test_stream_dow_hour_counts_equal_batch(spark, sf_dir, stream_dir):
    """The streaming heatmap's exact counts equal the batch operator's
    after a full replay (complete mode; constant 168-row state)."""
    from oxidsql_spark.streaming.events import events_dow_hour, stream_dow_hour

    stream = run_stream_to_memory(spark, stream_dow_hour(spark, stream_dir), "dow_mem")
    got = {(r.dow, r.hod): r.n_events for r in stream.collect()}
    want = {(r.dow, r.hod): r.n_events for r in events_dow_hour(spark, sf_dir).collect()}
    assert got == want


@pytest.fixture(scope="module")
def chunked_stream_dir(spark, tmp_path_factory):
    """The events table split into 4 time-ordered parquet files with
    ascending mtimes: maxFilesPerTrigger=1 then yields 4 micro-batches,
    so the watermark ADVANCES between batches and state eviction
    actually runs (a single-file source is one batch — eviction would
    never be observable)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from oxidsql_spark.sources import table

    d = tmp_path_factory.mktemp("events_stream_chunks")
    # test-only global ntile over 10k rows — not a registered query
    ev = table(spark, SF_DIR, "events").withColumn(
        "_b", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        tmp_out = str(d / f"_tmp{i}")
        ev.filter(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = str(d / f"chunk-{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp_out)
        os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    return str(d)


def _state_rows(progresses):
    """(max, final) total state-store rows across a query's progress
    updates, considering only progresses that ran a stateful operator."""
    totals = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in progresses
        if p.get("stateOperators")
    ]
    return (max(totals), totals[-1]) if totals else (0, 0)


def test_stream_join_state_evicted_by_watermark(spark, sf_dir, chunked_stream_dir):
    """SCALE.md's 100 TB claim, tested not argued: the stream-stream
    interval join's state store must EVICT rows as the watermark
    advances — final state far below the total click+purchase input.
    A watermark/config regression that unbounds state fails this."""
    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_click_purchase

    q = (
        stream_click_purchase(spark, chunked_stream_dir)
        .writeStream.format("memory")
        .queryName("ssj_state_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progresses = q.recentProgress
    q.stop()
    relevant = (
        table(spark, sf_dir, "events")
        .filter("event_type IN ('click', 'purchase')")
        .count()
    )
    max_rows, final_rows = _state_rows(progresses)
    assert final_rows > 0, "join ran with no state operator metrics"
    # without eviction state converges to ~100% of input; with the 2 h
    # watermark over a ~30-day stream in 4 batches it holds roughly the
    # last batch's tail (~25%)
    assert final_rows < 0.5 * relevant, (
        f"state store holds {final_rows} of {relevant} input rows — "
        "watermark eviction is not running"
    )


def test_stream_user_spend_state_bounded_by_keys(spark, sf_dir, chunked_stream_dir):
    """applyInPandasWithState keeps exactly one state row per user —
    state scales with key cardinality, never with events ingested."""
    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_user_spend

    q = (
        stream_user_spend(spark, chunked_stream_dir)
        .writeStream.format("memory")
        .queryName("spend_state_mem")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    progresses = q.recentProgress
    q.stop()
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    max_rows, final_rows = _state_rows(progresses)
    assert final_rows == n_users, (max_rows, final_rows, n_users)
    assert max_rows == n_users  # never exceeded key cardinality either


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """Late-data semantics, asserted directly on a 3-batch replay:

    batch 0 (older half-day) → watermark still unset, nothing evicted;
    batch 1 (newer half-day) → watermark advances, finalized windows
    emit + evict; batch 2 (ONE event re-stamped into an hour batch 0
    covered, now far below the watermark) → the row must be DROPPED
    (numRowsDroppedByWatermark == 1), its window must NOT re-emit, and
    every window emits exactly once (the append contract).

    Empirically pinned Spark subtlety (worth locking): the late-event
    filter uses the PREVIOUS batch's watermark and only protects
    already-evicted windows — a late row whose window is still live
    simply merges into it.  Hence the 3-batch shape: eviction must run
    before the late row arrives for the drop to be observable."""
    import glob
    import os

    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import _hourly_agg, _stream_source

    d = tmp_path / "late_stream"
    d.mkdir()
    ev = table(spark, SF_DIR, "events")
    t0 = ev.agg(F.max("ts")).collect()[0][0]

    def write_one(df, name, mtime):
        tmp_out = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = str(d / name)
        shutil.move(part, dst)
        shutil.rmtree(tmp_out)
        os.utime(dst, (mtime, mtime))

    day = ev.filter(F.col("ts") >= F.lit(t0) - F.expr("INTERVAL 1 DAY"))
    first = day.filter(F.col("ts") < F.lit(t0) - F.expr("INTERVAL 12 HOURS"))
    second = day.filter(F.col("ts") >= F.lit(t0) - F.expr("INTERVAL 12 HOURS"))
    late = (
        ev.limit(1)
        .withColumn("ts", F.lit(t0) - F.expr("INTERVAL 23 HOURS"))
        .select(*ev.columns)
    )
    write_one(first, "chunk-1.parquet", 1_000_000_000)
    write_one(second, "chunk-2.parquet", 1_000_000_060)
    write_one(late, "chunk-3.parquet", 1_000_000_120)

    sdf = _hourly_agg(_stream_source(spark, str(d)))
    q = (
        sdf.writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progresses = list(q.recentProgress)
    q.stop()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, f"late row not dropped (dropped={dropped})"
    emitted = [(r.hour_start, r.event_type) for r in spark.table("late_mem").collect()]
    assert len(emitted) == len(set(emitted)), "append re-emitted a finalized window"


def test_tws_spend_equals_batch(spark, sf_dir, stream_dir):
    """transformWithState twin (statefulproc): the converged per-user
    state — two ValueStates + a MapState of per-type counts — must
    equal the batch aggregate exactly (stream==batch for the capability
    surface that replaces the env-blocked native op)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_user_spend_tws

    q = (
        stream_user_spend_tws(spark, stream_dir)
        .writeStream.format("memory")
        .queryName("tws_spend_mem")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.user_id: (r.n_events, r.total_cents, r.n_types)
        for r in spark.table("tws_spend_mem")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents", "n_types")).alias("s"))
        .select("user_id", "s.n_events", "s.total_cents", "s.n_types")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.cents, r.nt)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.countDistinct("event_type").alias("nt"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_tws_sessions_timers_evict_state(spark, sf_dir, chunked_stream_dir):
    """Event-time timers + eviction through the transformWithState
    surface: session rows are emitted when the watermark passes
    last_event + gap (or on an in-batch gap), every emitted session
    matches the batch sessionization EXACTLY, and firing timers evicts
    state (final state rows well below the peak)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import (
        _TWS_SESS_GAP_MS,
        stream_user_sessions_tws,
    )

    q = (
        stream_user_sessions_tws(spark, chunked_stream_dir)
        .writeStream.format("memory")
        .queryName("tws_sess_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progresses = q.recentProgress
    q.stop()
    emitted = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("tws_sess_mem").collect()
    }
    assert len(emitted) > 10, "timers produced almost no sessions"

    # batch twin: lag-gap sessionization on epoch millis
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms")
    sess = (
        ev.withColumn(
            "brk",
            (F.col("ms") - F.lag("ms").over(w) > _TWS_SESS_GAP_MS).cast("long"),
        )
        .withColumn("sid", F.sum(F.coalesce("brk", F.lit(0))).over(w))
        .groupBy("user_id", "sid")
        .agg(F.min("ms").alias("s"), F.max("ms").alias("e"), F.count(F.lit(1)).alias("n"))
    )
    batch = {(r.user_id, r.s, r.e, r.n) for r in sess.collect()}
    assert emitted <= batch, f"{len(emitted - batch)} emitted sessions not in batch set"

    max_rows, final_rows = _state_rows(progresses)
    assert final_rows < max_rows, "timer firings never evicted state"


def test_stream_upsert_versioned_cdc(spark, sf_dir, chunked_stream_dir, tmp_path):
    """The CDC landing pattern end-to-end: per-user spend totals stream
    through foreachBatch into a VersionedTable — one atomic MERGE
    commit per micro-batch.  The final snapshot must equal the batch
    aggregate EXACTLY, the commit history must hold one version per
    non-empty batch (time travel = replay point), and an intermediate
    version's totals must never exceed the final ones (totals only
    grow)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_upsert_versioned
    from oxidsql_spark.versioned import VersionedTable

    tbl = str(tmp_path / "spend_cdc")
    ckpt = str(tmp_path / "spend_ckpt")
    q = stream_upsert_versioned(spark, chunked_stream_dir, tbl, ckpt).start()
    q.processAllAvailable()
    q.stop()

    vt = VersionedTable(spark, tbl)
    got = {
        r.user_id: (r.n_events, r.total_cents) for r in vt.read().collect()
    }
    want = {
        r.user_id: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) > 0

    versions = vt.versions()
    assert len(versions) >= 2, "chunked replay should commit several batches"
    early = {
        r.user_id: (r.n_events, r.total_cents)
        for r in vt.read(versions[0]).collect()
    }
    for u, (n, c) in early.items():
        fn, fc = got[u]
        assert n <= fn and c <= fc, "totals regressed across versions"


def test_stream_parquet_file_sink_exactly_once(spark, sf_dir, chunked_stream_dir, tmp_path):
    """The production file sink: a stream written to parquet with a
    checkpoint gets the _spark_metadata commit log (readers see only
    committed files — the exactly-once contract), and a full replay
    lands every event exactly once."""
    import os

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import _stream_source

    out = str(tmp_path / "events_sink")
    ckpt = str(tmp_path / "events_sink_ckpt")
    sdf = _stream_source(spark, chunked_stream_dir).select(
        "event_id", "user_id", "event_type"
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert "_spark_metadata" in os.listdir(out), "no sink commit log"
    back = spark.read.parquet(out)
    n = table(spark, sf_dir, "events").count()
    assert back.count() == n
    assert back.select("event_id").distinct().count() == n


def test_stream_inactivity_tiers_equals_batch(spark, sf_dir, chunked_stream_dir):
    """The timer-list surface driving a product operator: two armed
    deadlines per key (idle 30 min / churn 2 h), re-registered on
    activity, fired individually.  Over a chunked replay the emitted
    alert set must contain EVERY interior alert of the batch twin
    (every closed gap emits exactly once — via timer fire or via the
    carried-state inline path, never both) and nothing beyond the
    interior alerts plus each user's tail deadlines; churn firings
    evict state."""
    from pyspark.sql import functions as F

    from oxidsql_spark.streaming.events import (
        _INACT_T1_MS,
        _INACT_T2_MS,
        events_inactivity_alerts,
        stream_inactivity_tiers,
    )

    q = (
        stream_inactivity_tiers(spark, chunked_stream_dir)
        .writeStream.format("memory")
        .queryName("inact_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progresses = q.recentProgress
    q.stop()
    emitted_rows = [
        (r.user_id, r.last_ms, r.tier, r.deadline)
        for r in spark.table("inact_mem").collect()
    ]
    emitted = set(emitted_rows)
    assert len(emitted_rows) == len(emitted), "an alert emitted twice"

    interior = {
        (r.user_id, r.last_ms, r.tier, r.deadline)
        for r in events_inactivity_alerts(spark, sf_dir).collect()
    }
    from oxidsql_spark.sources import table as _table

    tails = {
        (r.user_id, r.ms, tier, r.ms + thr)
        for r in _table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.unix_millis(F.col("ts").cast("timestamp"))).alias("ms"))
        .collect()
        for tier, thr in ((1, _INACT_T1_MS), (2, _INACT_T2_MS))
    }
    missing = interior - emitted
    assert not missing, f"{len(missing)} interior alerts never emitted"
    extra = emitted - interior - tails
    assert not extra, f"{len(extra)} alerts match neither a gap nor a tail"
    assert emitted & tails, "no tail deadline ever fired"

    max_rows, final_rows = _state_rows(progresses)
    assert final_rows < max_rows, "churn firings never evicted state"


def test_tws_multiple_timers_fire_per_deadline(spark, sf_dir, chunked_stream_dir):
    """Timer-LIST parity with the native transformWithState: a key
    registers TWO timers; each fires exactly once, in deadline order,
    and handleExpiredTimer receives the expired deadline as its second
    argument (the native expiredTimerInfo).  When the watermark jumps
    past several deadlines in one batch — the common case with a
    30-day stream in 4 chunks — the adapter must drain them all, one
    handler call per timer."""
    import pandas as pd
    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import _stream_source
    from oxidsql_spark.streaming.statefulproc import (
        StatefulProcessor,
        transform_with_state,
    )

    D1, D2 = 60_000, 120_000

    def _empty():
        return pd.DataFrame({"user_id": [], "fired": []}).astype("int64")

    class TwoTimerProc(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.t0 = handle.get_value_state("t0")

        def handleInputRows(self, key, rows):
            mins = [
                int(pdf["ts"].astype("int64").min()) // 1_000_000
                for pdf in rows
                if len(pdf)
            ]
            # arm once, on the key's first appearance; timers persist as
            # a list in the state row across later batches
            if mins and not self.t0.exists():
                t0 = min(mins)
                self.t0.update(t0)
                self.h.register_timer(t0 + D1)
                self.h.register_timer(t0 + D2)
                assert self.h.list_timers() == [t0 + D1, t0 + D2]
            yield _empty()

        def handleExpiredTimer(self, key, fired):
            yield pd.DataFrame({"user_id": [key[0]], "fired": [fired]})

    q = (
        transform_with_state(
            _stream_source(spark, chunked_stream_dir),
            ["user_id"],
            TwoTimerProc,
            "user_id bigint, fired bigint",
            output_mode="append",
            time_mode="eventTime",
        )
        .writeStream.format("memory")
        .queryName("tws_multitimer_mem")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    fired = [(r.user_id, r.fired) for r in spark.table("tws_multitimer_mem").collect()]
    assert len(fired) == len(set(fired)), "a timer fired more than once"

    t0s = {
        r.user_id: r.t0
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.unix_millis(F.min("ts").cast("timestamp"))).alias("t0"))
        .collect()
    }
    expected = {(u, t0 + d) for u, t0 in t0s.items() for d in (D1, D2)}
    assert set(fired) <= expected, "fired deadline not among registered timers"

    by_user = {}
    for u, f in fired:
        by_user.setdefault(u, set()).add(f - t0s[u])
    # drain order: the second deadline never fires without the first
    assert all(D1 in ds for ds in by_user.values() if D2 in ds)
    # both deadlines passed long before stream end for nearly every
    # user (30-day span, 2 h watermark) — demand broad double-firing
    both = sum(1 for ds in by_user.values() if ds == {D1, D2})
    assert both >= 0.5 * len(t0s), (both, len(t0s))


def test_tws_typed_state_validation():
    """Typed slots reject wrong types and non-JSON values at update time
    (driver-side unit semantics, no Spark needed)."""
    import pytest

    from oxidsql_spark.streaming.statefulproc import (
        ListState,
        MapState,
        StatefulProcessorHandle,
        ValueState,
    )

    h = StatefulProcessorHandle({})
    v = h.get_value_state("v")
    assert not v.exists()
    v.update(42)
    assert v.exists() and v.get() == 42
    with pytest.raises(TypeError):
        v.update(object())
    ls = h.get_list_state("l")
    ls.append_value(1)
    ls.append_value(2)
    assert ls.get() == [1, 2]
    with pytest.raises(TypeError):
        ls.put("not-a-list")
    m = h.get_map_state("m")
    m.update_value("a", 5)
    assert m.get_value("a") == 5 and m.get_value("zz", -1) == -1
    m.remove_key("a")
    assert m.get() == {}
    h.clear_all()
    assert not v.exists()

    # timer lists (native registerTimer/deleteTimer/listTimers parity):
    # multiple deadlines per key, ascending, dedup'd, deletable
    h.register_timer(500)
    h.register_timer(100)
    h.register_timer(300)
    h.register_timer(100)  # duplicate deadline — no-op
    assert h.list_timers() == [100, 300, 500]
    h.delete_timer(300)
    h.delete_timer(999)  # unknown — no-op
    assert h.list_timers() == [100, 500]
    h.clear_all()
    assert h.list_timers() == []

    # clear-then-repopulate keeps the new state: removal is decided on
    # final store emptiness, not on whether clear_all was ever called
    v2 = h.get_value_state("v2")
    h.clear_all()
    v2.update(7)
    assert h._store, "state written after clear_all must survive"
    assert v2.get() == 7


def test_session_fold_chunking_invariant():
    """The micro-batch correctness property of the TWS sessionizer,
    model-tested without Spark: folding a time-ordered stream chunk by
    chunk while carrying the open-session state yields EXACTLY the
    sessions of one whole-stream fold, for any chunk boundaries and any
    gap."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oxidsql_spark.streaming.events import _fold_sessions

    @settings(max_examples=200, deadline=None)
    @given(
        ts=st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=60),
        cuts=st.lists(st.integers(min_value=0, max_value=60), max_size=5),
        gap=st.integers(min_value=1, max_value=2_000),
    )
    def run(ts, cuts, gap):
        ts = sorted(ts)
        whole_closed, ws, wl, wn = _fold_sessions(None, None, 0, ts, gap)

        bounds = sorted({c for c in cuts if c < len(ts)})
        chunks, prev = [], 0
        for b in bounds + [len(ts)]:
            chunks.append(ts[prev:b])
            prev = b
        closed, start, last, n = [], None, None, 0
        for ch in chunks:
            c, start, last, n = _fold_sessions(start, last, n, ch, gap)
            closed.extend(c)
        assert closed == whole_closed
        assert (start, last, n) == (ws, wl, wn)

    run()


def test_tws_state_recovers_across_restart(spark, sf_dir, chunked_stream_dir, tmp_path):
    """Fault tolerance of the transformWithState twin: stop the query
    after half the stream, restart from the CHECKPOINT with the rest of
    the files, and the recovered per-key state must continue the totals
    — post-restart emissions for returning users equal the batch
    aggregate over the WHOLE stream, which is impossible unless state
    (not just offsets) survived the restart.  foreachBatch sink:
    the memory sink cannot recover from a checkpoint."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from oxidsql_spark.sources import table
    from oxidsql_spark.streaming.events import stream_user_spend_tws

    src = tmp_path / "restart_stream"
    src.mkdir()
    chunks = sorted(glob.glob(f"{chunked_stream_dir}/chunk-*.parquet"))
    assert len(chunks) == 4
    for c in chunks[:2]:
        shutil.copy(c, src)
    cp = str(tmp_path / "cp")

    collected: list = []

    def sink(df, _epoch):
        collected.extend(df.collect())

    def run_once():
        q = (
            stream_user_spend_tws(spark, str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .outputMode("update")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    first_run_rows = len(collected)
    assert first_run_rows > 0
    for c in chunks[2:]:
        shutil.copy(c, src)
    second: list = []

    def sink2(df, _epoch):
        second.extend(df.collect())

    q = (
        stream_user_spend_tws(spark, str(src))
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", cp)
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert second, "restart produced no batches"

    # converged totals for users emitted after the restart
    got = {}
    for r in second:
        cur = got.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            got[r.user_id] = (r.n_events, r.total_cents)
    want = {
        r.user_id: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    mismatches = {u: (got[u], want[u]) for u in got if got[u] != want[u]}
    assert not mismatches, f"state lost across restart: {list(mismatches.items())[:3]}"
    assert got, "no returning users emitted post-restart"


def test_scd2_stream_equals_batch(spark, sf_dir, chunked_stream_dir, tmp_path):
    """Streaming SCD2 maintenance over the 4-batch time-ordered replay:
    the final versioned Type-2 history equals the one-shot batch build
    (batch boundaries invisible — including boundaries splitting runs of
    re-emitted state), and the commit log holds one version per
    non-empty batch (time travel = dimension state at any replay point)."""
    from oxidsql_spark.operators.scd import Scd2History, scd2_apply_stream, scd2_build
    from oxidsql_spark.sources import table

    tbl = str(tmp_path / "scd2_stream")
    ckpt = str(tmp_path / "scd2_ckpt")
    q = scd2_apply_stream(spark, chunked_stream_dir, tbl, ckpt).start()
    q.processAllAvailable()
    q.stop()

    vt = Scd2History(spark, tbl, "user_id", ["event_type"], "ts", tiebreak=["event_id"])
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    want = scd2_build(ev, "user_id", ["event_type"], "ts", tiebreak=["event_id"])

    def rows(df):
        return sorted(
            ((r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
             for r in df.collect()),
            key=lambda x: (x[0], x[2]),
        )

    assert rows(vt.read()) == rows(want)
    assert len(vt.versions()) >= 2


def test_scd2_enrich_stream_equals_batch(spark, sf_dir, chunked_stream_dir, tmp_path):
    """Streaming as-of enrichment over the 4-batch replay lands exactly
    the batch enrichment of the same events against the same frozen
    history."""
    from oxidsql_spark.operators.scd import Scd2History, scd2_enrich_stream
    from oxidsql_spark.sources import table

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist_path = str(tmp_path / "hist")
    hist = Scd2History(
        spark, hist_path, "user_id", ["event_type"], "ts", tiebreak=["event_id"]
    )
    hist.merge(ev)

    out = str(tmp_path / "enriched")
    q = scd2_enrich_stream(
        spark, chunked_stream_dir, hist_path, out, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    want = {
        (r.event_id, r.asof_event_type)
        for r in hist.enrich_asof(ev, "event_id").collect()
    }
    got = {
        (r.event_id, r.asof_event_type)
        for r in spark.read.parquet(out).select("event_id", "asof_event_type").collect()
    }
    assert got == want and len(got) == ev.count()


def test_matview_stream_refresh_equals_oneshot(spark, sf_dir, chunked_stream_dir, tmp_path):
    """Streaming incremental view maintenance over the 4-batch replay:
    the final view equals a one-shot materialization of the full feed
    BIT-exactly (decimal partials), and the commit log holds one
    version per non-empty batch."""
    from oxidsql_spark.matview import events_type_view, matview_apply_stream
    from oxidsql_spark.sources import table

    vp = str(tmp_path / "mv_stream")
    q = matview_apply_stream(
        spark, chunked_stream_dir, vp, str(tmp_path / "mv_ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    view = events_type_view(spark, vp)
    oneshot = events_type_view(spark, str(tmp_path / "mv_oneshot"))
    oneshot.create(table(spark, sf_dir, "events"))

    def rows(v):
        return sorted(tuple(r) for r in v.read().collect())

    assert rows(view) == rows(oneshot)
    assert len(view.versions()) >= 2  # one commit per non-empty batch


def test_ivfadc_stream_admission_equals_oneshot(spark, sf_dir, tmp_path):
    """Streaming vector ingestion: replaying the admission batch as a
    3-chunk file stream lands an index row-identical to the one-shot
    admission of the same vectors against the same frozen codebooks."""
    import os
    import time

    from pyspark.sql import functions as F

    from oxidsql_spark.operators.similarity import (
        admit_ivfadc_stream,
        admit_ivfadc_vectors,
        build_ivfadc_index,
    )
    from oxidsql_spark.sources import table

    full = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = full.count()
    split = int(n * 0.7)
    batch = full.filter(F.col("vec_id") >= split)

    # two identical initial indexes (same build → same frozen
    # codebooks); the SAME vectors are then admitted once via the
    # 3-chunk stream and once directly
    idx_stream = str(tmp_path / "ivfadc_s")
    idx_direct = str(tmp_path / "ivfadc_d")
    build_ivfadc_index(spark, sf_dir, idx_stream)
    build_ivfadc_index(spark, sf_dir, idx_direct)

    src = str(tmp_path / "vec_feed")
    os.makedirs(src)
    thirds = [
        batch.filter((F.col("vec_id") % 3) == i).withColumn(
            "vec_id", F.col("vec_id") + 100000  # fresh ids for the appended rows
        )
        for i in range(3)
    ]
    for i, t in enumerate(thirds):
        t.coalesce(1).write.parquet(f"{src}/chunk{i}")
        time.sleep(0.05)
    # flatten chunk dirs into files with ascending mtimes
    import glob
    import shutil

    for i in range(3):
        part = glob.glob(f"{src}/chunk{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/b{i}.parquet")
        shutil.rmtree(f"{src}/chunk{i}")

    q = admit_ivfadc_stream(
        spark, src, idx_stream, str(tmp_path / "vec_ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    admit_ivfadc_vectors(
        spark, batch.withColumn("vec_id", F.col("vec_id") + 100000), idx_direct
    )

    def rows(p):
        return sorted(
            (r.vec_id, tuple(r.codes), r.cell)
            for r in spark.read.parquet(p).select("vec_id", "codes", "cell").collect()
        )

    got, want = rows(idx_stream), rows(idx_direct)
    assert got == want and len(got) == n + batch.count()


def test_matview_sink_replay_and_crash_window_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: the view sink must be idempotent
    under (a) straight redelivery of a committed batch and (b) the
    torn window where the refresh committed but the marker write
    crashed — in both cases the replay must not double-count, and the
    final state must equal the one-shot materialization."""
    import os

    from pyspark.sql import functions as F

    from oxidsql_spark.matview import _make_view_sink, events_type_view
    from oxidsql_spark.segstore import read_marker, write_marker
    from oxidsql_spark.sources import table

    vp = str(tmp_path / "mv_sink")
    os.makedirs(vp, exist_ok=True)
    write_marker(vp, batch_id=-1, version=0)
    view = events_type_view(spark, vp)
    sink = _make_view_sink(view, vp)

    ev = table(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]

    def rows():
        return sorted(tuple(r) for r in view.read().collect())

    sink(batches[0], 0)
    after0, nv0 = rows(), len(view.versions())
    sink(batches[0], 0)  # straight at-least-once redelivery
    assert rows() == after0 and len(view.versions()) == nv0

    sink(batches[1], 1)
    # crash window: batch 2's refresh commits, marker write is lost
    view.refresh(batches[2])
    assert read_marker(vp)["batch_id"] == 1
    after_crash = rows()
    sink(batches[2], 2)  # redelivery after the 'crash'
    assert rows() == after_crash  # tagged, NOT re-applied
    m = read_marker(vp)
    assert m["batch_id"] == 2 and m["version"] == view._store.latest_version()

    oneshot = events_type_view(spark, str(tmp_path / "mv_oneshot2"))
    oneshot.create(ev)
    assert rows() == sorted(tuple(r) for r in oneshot.read().collect())


def test_cluster_admission_stream_equals_full_and_is_idempotent(spark, tmp_path):
    """Streaming near-dup cluster maintenance: replaying the admission
    docs as a 3-file stream lands labels identical to full
    re-clustering of the union; a redelivered batch is skipped by the
    marker; and the commit-without-marker crash window only re-tags
    (admit is never re-applied)."""
    import glob
    import os
    import shutil
    import time

    from oxidsql_spark.operators.graph import (
        IncrementalClusters,
        _make_cluster_sink,
        admit_clusters_stream,
        cluster_documents,
    )

    w = " ".join(f"w{j}" for j in range(20))
    z = " ".join(f"z{j}" for j in range(20))
    corpus = spark.createDataFrame(
        [(100, w), (101, w + " t1 t2"), (102, z), (103, z + " t3 t4")],
        "doc_id bigint, text string",
    )
    feed_rows = [
        (50, " ".join(f"w{j}" for j in range(10)) + " " + " ".join(f"z{j}" for j in range(10))),
        (51, "fresh unique content one two three"),
        (52, z),  # verbatim copy of an old doc
    ]
    sp = str(tmp_path / "clstream")
    state = IncrementalClusters(spark, sp)
    state.build(corpus)

    src = str(tmp_path / "doc_feed")
    os.makedirs(src)
    for i, row in enumerate(feed_rows):
        d = str(tmp_path / f"chunk{i}")
        spark.createDataFrame([row], "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(d)
        shutil.move(glob.glob(f"{d}/part-*.parquet")[0], f"{src}/b{i}.parquet")
        shutil.rmtree(d)
        time.sleep(0.05)

    q = admit_clusters_stream(spark, src, sp, str(tmp_path / "clckpt")).start()
    q.processAllAvailable()
    q.stop()

    got = {(r.doc_id, r.cluster_id) for r in state.labels().collect()}
    everything = corpus.unionByName(
        spark.createDataFrame(feed_rows, "doc_id bigint, text string")
    )
    want = {(r.doc_id, r.cluster_id) for r in cluster_documents(everything).collect()}
    assert got == want
    assert (102, 50) in got  # the bridge merged both old clusters under 50

    # straight redelivery of the last batch: marker-skipped
    sink = _make_cluster_sink(state)
    nv = state._latest()
    sink(spark.createDataFrame([feed_rows[2]], "doc_id bigint, text string"), 2)
    assert state._latest() == nv

    # crash window: an admit commits, the marker write is lost
    extra = spark.createDataFrame(
        [(60, "yet another brand new unique doc")], "doc_id bigint, text string"
    )
    v_committed = state.admit(extra)
    sink2 = _make_cluster_sink(state)
    sink2(extra, 3)  # redelivery after the 'crash' -> tag only
    assert state._latest() == v_committed
    assert state.labels().count() == everything.count() + 1


def test_cut_ingest_stream_exactly_once_and_cross_batch(spark, tmp_path):
    """Streaming incremental substring dedup: batch 2's copy of a span
    SHIPPED by batch 1 is cut (the index grew by batch 1's cleaned
    grams), a corpus span is cut from every batch, and a replayed
    batch neither duplicates its index segment nor its output dir."""
    import os

    from pyspark.sql import functions as F

    from oxidsql_spark.operators.dedup import _SPAN_K, SpanIndexStore

    boiler = " ".join(f"c{j}" for j in range(_SPAN_K))
    novel = " ".join(f"n{j}" for j in range(_SPAN_K))
    corpus = spark.createDataFrame(
        [(1, "intro text " + boiler)], "doc_id bigint, text string"
    )
    store_path = str(tmp_path / "spanstore")
    store = SpanIndexStore(spark, store_path)
    store.build(corpus)
    store.build(corpus)  # replayed build: idempotent

    b0 = spark.createDataFrame(
        [(10, novel + " first shipment"), (11, boiler + " tail")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(20, novel + " second arrival"), (21, "totally fresh words here")],
        "doc_id bigint, text string",
    )

    from oxidsql_spark.operators.dedup import cut_ingest_stream

    # the streaming wrapper wires a file source onto the same store API
    # the rest of this test drives batch-by-batch; smoke its construction
    os.makedirs(str(tmp_path / "src"), exist_ok=True)
    cut_ingest_stream(
        spark, str(tmp_path / "src"), store_path, str(tmp_path / "cut_out"),
        str(tmp_path / "ckpt"),
    )
    r0 = {r.doc_id: r for r in store.cut_admit(b0, "b00000000").collect()}
    assert r0[10].cleaned == novel + " first shipment"  # novel span ships
    assert r0[11].cleaned == "tail"  # corpus span cut
    n_segs = len(store._segments())
    replay = {r.doc_id: r for r in store.cut_admit(b0, "b00000000").collect()}
    assert len(store._segments()) == n_segs  # replayed tag: no new segment
    assert replay == r0  # deterministic-idempotent

    r1 = {r.doc_id: r for r in store.cut_admit(b1, "b00000001").collect()}
    assert r1[20].cleaned == "second arrival"  # batch-0's SHIPPED span now cuts
    assert r1[21].n_kept == r1[21].n_tokens  # fresh text unscathed


def test_stream_sinks_release_scoped_caches(spark, tmp_path):
    """A sink's scoped caches (the cut's checkpoint, the cluster
    admission's persists) are released once its batch has landed, so a
    long-running stream's cachescope ledger does not grow per batch."""
    from oxidsql_spark.cachescope import scoped_cache_count
    from oxidsql_spark.operators.dedup import SpanIndexStore, cut_ingest_stream
    from oxidsql_spark.operators.graph import IncrementalClusters, _make_cluster_sink

    schema = "doc_id bigint, text string"
    batches = [
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        [(20, "alpha beta gamma delta epsilon zeta lambda mu nu xi")],
    ]
    state = IncrementalClusters(spark, str(tmp_path / "clusters"))
    state.build(
        spark.createDataFrame([(1, "one two three four five six seven")], schema)
    )
    sink = _make_cluster_sink(state)
    for b, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), b)
    assert scoped_cache_count() == 0
    assert state.labels().count() == 3  # both batches were admitted

    store = str(tmp_path / "spans")
    SpanIndexStore(spark, store).build(
        spark.createDataFrame([(1, "one two three four five six seven")], schema)
    )
    src = str(tmp_path / "src")
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{b}")
    out = str(tmp_path / "out")
    q = cut_ingest_stream(
        spark, src + "/f*", store, out, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [10, 20]
    assert scoped_cache_count() == 0


def test_curate_ingest_stream_funnel_and_exactly_once(spark, tmp_path):
    """The streaming curation face end-to-end on a real stream: corpus
    state frozen once; two file-batches flow through gate -> frozen-LM
    ceiling -> incremental span cut -> husk floor.  Checks: (1) a
    gate-violating row and a gibberish (all-OOV) row land in the
    reject dir with their stage names; (2) a corpus span is cut and a
    batch-2 copy of a span SHIPPED by batch 1 is cut (the rolling
    index grew); (3) rerunning the stream from a FRESH checkpoint
    (same source, same state) replaces batch dirs and appends no
    duplicate index segments — outputs identical."""
    import os

    from oxidsql_spark.operators.dedup import _SPAN_K, SpanIndexStore
    from oxidsql_spark.pipeline import build_curation_state, curate_ingest_stream

    vocab = "key agg row scan slow fast table value part hash".split()

    def fwd(rot):  # forward rotation — corpus orders
        return " ".join(vocab[rot:] + vocab[:rot])

    # batch docs use fixed PERMUTATIONS of the corpus vocabulary with
    # pairwise-disjoint 6-gram sets, also disjoint from every corpus
    # rotation (verified at authoring time) — rotations of one sequence
    # share nearly all their 6-grams, so naive reorders cut each other
    perm = [
        "value row key part fast agg slow scan hash table",
        "part key row fast value scan hash agg table slow",
        "slow hash key row part value agg scan table fast",
    ]

    boiler = " ".join(f"c{j}" for j in range(_SPAN_K))
    corpus_text = " ".join(fwd(r) for r in range(5)) + " " + boiler
    corpus = spark.createDataFrame(
        [(1, corpus_text)], "doc_id bigint, text string"
    )
    state = str(tmp_path / "state")
    build_curation_state(spark, corpus, state)

    novel = " ".join(f"n{j}" for j in range(_SPAN_K))
    gibberish = " ".join(f"zq{j}" for j in range(30))  # all OOV, no repeats
    rows0 = [
        (10, perm[0] + " " + novel, "en", "src1", 300),  # survives, ships novel
        (11, perm[1] + " " + boiler, "en", "src1", 300),  # corpus span cut
        (12, perm[0], "xx", "src1", 300),  # gate: unknown lang
        (13, gibberish, "en", "src1", 300),  # fluency: OOV gibberish
        # metadata lies: n_chars passes the gate but the text tokenizes to
        # ZERO tokens -> bigram_nll_against emits no row -> avg_nll NULL.
        # Must land in the reject dir as fluency:unscorable, not vanish.
        (14, "   ", "en", "src1", 300),
    ]
    rows1 = [
        (20, perm[2] + " " + novel, "en", "src2", 300),  # batch-0's span now cuts
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(src + "/f0")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/f1")

    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")

    def run(ck):
        q = curate_ingest_stream(
            spark, src + "/f*", state, out, rej, str(tmp_path / ck),
            nll_ceiling=3.5,  # fluent-reorder ~2.4, fluent+6-OOV-novel ~3.1, all-OOV ~4.2
        ).trigger(availableNow=True).start()
        q.awaitTermination(300)

    run("ck1")
    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    rejected = {r.doc_id: r.reject_reason for r in spark.read.parquet(rej).collect()}
    assert 10 in kept and kept[10].n_kept == len(vocab) + _SPAN_K
    assert 11 in kept and boiler not in kept[11].cleaned  # corpus span excised
    assert kept[11].n_kept == len(vocab)
    assert rejected[12].startswith("gate:")
    assert rejected[13].startswith("fluency:")
    assert rejected[14] == "fluency:unscorable"  # NULL-scored row not dropped
    assert 20 in kept and novel not in kept[20].cleaned  # cross-batch cut
    # nothing disappears silently: every input doc is in exactly one side
    all_ids = {r[0] for r in rows0} | {r[0] for r in rows1}
    assert set(kept) | set(rejected) == all_ids
    assert set(kept) & set(rejected) == set()
    store = SpanIndexStore(spark, os.path.join(state, "spans"))
    n_segs = len(store._segments())

    run("ck2")  # full REPLAY from a fresh checkpoint
    kept2 = {r.doc_id: (r.n_kept, r.cleaned) for r in spark.read.parquet(out).collect()}
    assert kept2 == {d: (r.n_kept, r.cleaned) for d, r in kept.items()}
    assert len(store._segments()) == n_segs  # no duplicate segments


def test_curate_ingest_stream_classifier_stage(spark, tmp_path):
    """The opt-in learned-classifier stage of the streaming funnel: a
    gate-clean, LM-fluent document whose vocabulary skews toward the
    classifier's gate-reject training material must land in the reject
    dir as classifier:logit_below_floor, while a full-vocabulary twin
    passes; every doc lands exactly once, and a fresh-checkpoint
    replay reproduces the routing (the stage scores against FROZEN
    weights, so it is deterministic-idempotent by construction)."""
    from oxidsql_spark.operators.corpus_ext import qc_score
    from oxidsql_spark.pipeline import build_curation_state, curate_ingest_stream

    good_words = "key agg row fast value part table".split()
    bad_words = "slow hash scan".split()
    vocab = good_words + bad_words

    corpus = spark.createDataFrame(
        [(1, " ".join(vocab[r:] + vocab[:r]))
         for r in range(5)],
        "doc_id bigint, text string",
    )
    # r14: the state builds the CURATED-label classifier — positives by
    # PROVENANCE (the DSIR target sources), so the curated exemplars
    # carry the good vocabulary and the crawl negatives the bad one
    clf_rows = []
    for i in range(6):
        clf_rows.append((100 + i, " ".join(good_words), 300, "en", "src0"))
        clf_rows.append((200 + i, " ".join(bad_words * 2), 300, "xx", "crawl"))
    clf_docs = spark.createDataFrame(
        clf_rows, "doc_id bigint, text string, n_chars int, lang string, source string"
    )
    state = str(tmp_path / "state")
    build_curation_state(
        spark, corpus.select("doc_id", "text"), state, classifier_docs=clf_docs
    )

    doc_a = " ".join(vocab)  # full vocabulary — scores high
    doc_b = " ".join(bad_words + good_words[:2])  # bad-heavy subset
    rows = [
        (10, doc_a, "en", "src1", 300),
        (11, doc_b, "en", "src1", 300),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/f0")

    import os

    scores = {
        r.doc_id: r.logit_micro
        for r in qc_score(
            spark,
            spark.createDataFrame(
                [(d, t) for d, t, *_ in rows], "doc_id bigint, text string"
            ),
            os.path.join(state, "clf"),
        ).collect()
    }
    assert scores[10] > scores[11], scores  # fixture sanity: A outranks B
    floor = (scores[10] + scores[11]) // 2

    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")

    def run(ck):
        q = (
            curate_ingest_stream(
                spark, src + "/f*", state, out, rej, str(tmp_path / ck),
                nll_ceiling=4.0, min_kept_tokens=2,
                clf_floor_micro=int(floor),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run("ck1")
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    rejected = {r.doc_id: r.reject_reason for r in spark.read.parquet(rej).collect()}
    assert kept == {10}
    assert rejected == {11: "classifier:logit_below_floor"}

    run("ck2")  # fresh-checkpoint replay: identical routing
    kept2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    rejected2 = {r.doc_id: r.reject_reason for r in spark.read.parquet(rej).collect()}
    assert kept2 == kept and rejected2 == rejected


def test_audio_admission_stream_exactly_once_and_cross_batch(spark, tmp_path):
    """Streaming audio-dedup admission: a gain-doubled copy of a CORPUS
    track rejects in batch 0, a trimmed copy of a track ADMITTED in
    batch 0 rejects in batch 1 (the rolling segment grew), fresh and
    too-short tracks admit, and a redelivered batch neither duplicates
    its index segment nor changes its disposition."""
    import glob
    import os
    import random
    import shutil
    import time

    import numpy as np

    from oxidsql_spark.operators.multimodal import _AUD_W, AudioIndexStore
    from oxidsql_spark.segstore import store_sink

    rnd = random.Random(99)

    def track(n=2048):
        return np.array([rnd.randrange(-60, 61) for _ in range(n)], dtype=np.int64)

    def payload(arr):
        return bytes((np.asarray(arr, dtype=np.int64) + 128).astype(np.uint8))

    a, b, c, d = track(), track(), track(), track()
    corpus = spark.createDataFrame(
        [(1, payload(a)), (2, payload(b))], "doc_id bigint, payload binary"
    )
    sp = str(tmp_path / "audstore")
    store = AudioIndexStore(spark, sp)
    store.build(corpus)

    feed = [
        [(10, payload(2 * a)), (11, payload(c))],  # dup-of-corpus, fresh
        [
            (20, payload(c[10 * _AUD_W :])),  # trimmed copy of batch-0's 11
            (21, payload(d)),  # fresh
            (22, payload(d[:40])),  # too short for any shingle -> admits
        ],
    ]
    src = str(tmp_path / "aud_feed")
    os.makedirs(src)
    for i, rows in enumerate(feed):
        tmp = str(tmp_path / f"audchunk{i}")
        spark.createDataFrame(rows, "doc_id bigint, payload binary").coalesce(
            1
        ).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/b{i}.parquet")
        shutil.rmtree(tmp)
        time.sleep(0.05)

    out = str(tmp_path / "aud_out")
    from oxidsql_spark.operators.multimodal import admit_audio_stream

    q = admit_audio_stream(
        spark, src, sp, str(tmp_path / "audckpt"), out
    ).start()
    q.processAllAvailable()
    q.stop()

    disp = {
        r.doc_id: (r.is_dup, r.n_shingles)
        for r in spark.read.parquet(out).collect()
    }
    assert disp[10][0] is True  # gain-doubled corpus copy rejected
    assert disp[11][0] is False  # fresh admits
    assert disp[20][0] is True  # trimmed copy of an ADMITTED track rejected
    assert disp[21][0] is False
    assert disp[22] == (False, 0)  # shingle-less track admits by definition

    # redelivery of batch 1: segment skip + identical disposition
    segs_before = sorted(os.listdir(sp))
    sink = store_sink(store, out)
    sink(
        spark.createDataFrame(feed[1], "doc_id bigint, payload binary"), 1
    )
    assert sorted(os.listdir(sp)) == segs_before
    disp2 = {
        r.doc_id: (r.is_dup, r.n_shingles)
        for r in spark.read.parquet(out).collect()
    }
    assert disp2 == disp


def test_image_admission_stream_over_real_bytes(spark, tmp_path):
    """Streaming image-dedup admission on REAL pixels: a brightened
    BMP copy of a CORPUS image rejects in batch 0 (perceptual, not
    byte-exact), a re-encoding of an image ADMITTED in batch 0 rejects
    in batch 1 (the rolling segment grew), fresh images admit, and a
    redelivered batch neither duplicates its segment nor changes its
    disposition."""
    import glob
    import os
    import random
    import shutil
    import time

    from oxidsql_spark.operators.multimodal import (
        ImageBandIndexStore,
        admit_image_stream,
        dhash_image,
    )
    from oxidsql_spark.segstore import store_sink
    from tests.test_multimodal_codec import _bmp_px

    rnd = random.Random(31)
    w, h = 36, 32

    def img():
        return [[(rnd.randrange(200), rnd.randrange(200), rnd.randrange(200))
                 for _ in range(w)] for _ in range(h)]

    def brighten(px, d=25):
        return [[(r + d, g + d, b + d) for r, g, b in row] for row in px]

    def signed64(b):
        return b - (1 << 64) if b >= (1 << 63) else b

    def fp(px):
        bits = dhash_image(_bmp_px(px))
        assert bits is not None
        return signed64(bits)

    c1, c2, f1, f2 = img(), img(), img(), img()
    corpus = spark.createDataFrame(
        [(1, fp(c1)), (2, fp(c2))], "doc_id bigint, dhash bigint"
    )
    sp = str(tmp_path / "imgstore")
    store = ImageBandIndexStore(spark, sp)
    store.build(corpus)

    feed = [
        [(10, fp(brighten(c1))), (11, fp(f1))],  # perceptual dup, fresh
        [(20, fp(brighten(f1, 20))), (21, fp(f2))],  # dup of ADMITTED 11
    ]
    src = str(tmp_path / "img_feed")
    os.makedirs(src)
    for i, rows in enumerate(feed):
        tmp = str(tmp_path / f"imgchunk{i}")
        spark.createDataFrame(rows, "doc_id bigint, dhash bigint").coalesce(
            1
        ).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/b{i}.parquet")
        shutil.rmtree(tmp)
        time.sleep(0.05)

    out = str(tmp_path / "img_out")
    q = admit_image_stream(
        spark, src, sp, str(tmp_path / "imgckpt"), out
    ).start()
    q.processAllAvailable()
    q.stop()

    disp = {r.doc_id: r.is_dup for r in spark.read.parquet(out).collect()}
    assert disp == {10: True, 11: False, 20: True, 21: False}

    # redelivery: segment skip + identical disposition
    segs_before = sorted(os.listdir(sp))
    store_sink(store, out)(
        spark.createDataFrame(feed[1], "doc_id bigint, dhash bigint"), 1
    )
    assert sorted(os.listdir(sp)) == segs_before
    disp2 = {r.doc_id: r.is_dup for r in spark.read.parquet(out).collect()}
    assert disp2 == disp


def test_video_admission_stream_over_real_containers(spark, tmp_path):
    """Streaming video-dedup admission on REAL pixels: a brightened +
    trimmed copy of CORPUS footage rejects in batch 0, a re-encode of
    footage ADMITTED in batch 0 rejects in batch 1, fresh footage
    admits, and a redelivered batch neither duplicates its segment nor
    changes its disposition."""
    import glob
    import os
    import random
    import shutil
    import time

    from oxidsql_spark.operators.multimodal import (
        VideoKeyframeIndexStore,
        admit_video_stream,
        dhash_image,
        split_p5_frames,
    )
    from oxidsql_spark.segstore import store_sink

    rnd = random.Random(41)
    w, h = 36, 32

    def p5(pixels):
        return f"P5 {w} {h} 255 ".encode() + bytes(
            v for row in pixels for v in row
        )

    def scene():
        return [[rnd.randrange(200) for _ in range(w)] for _ in range(h)]

    def brighten(px, d=25):
        return [[v + d for v in row] for row in px]

    def signed64(b):
        return b - (1 << 64) if b >= (1 << 63) else b

    def frames(vid, container):
        out = []
        for i, fb in enumerate(split_p5_frames(container)):
            out.append((vid, i, signed64(dhash_image(fb))))
        return out

    s1, s2, s3 = scene(), scene(), scene()
    f1a, f1b = scene(), scene()
    f2 = scene()
    corpus_fh = frames(1, b"".join(p5(px) for px in (s1, s1, s2, s2, s3, s3)))
    sp = str(tmp_path / "vidstore")
    store = VideoKeyframeIndexStore(
        spark, sp
    )
    store.build(
        spark.createDataFrame(
            corpus_fh, "doc_id bigint, frame_idx int, dhash bigint"
        )
    )

    fresh1 = b"".join(p5(px) for px in (f1a, f1a, f1b, f1b))
    feed = [
        # brightened AND last-scene-trimmed copy of corpus video 1 + fresh
        frames(10, b"".join(p5(brighten(px)) for px in (s1, s1, s2, s2)))
        + frames(11, fresh1),
        # brightened re-encode of ADMITTED 11 + fresh
        frames(20, b"".join(p5(brighten(px, 20)) for px in (f1a, f1a, f1b, f1b)))
        + frames(21, b"".join(p5(px) for px in (f2, f2))),
    ]
    src = str(tmp_path / "vid_feed")
    os.makedirs(src)
    for i, rows in enumerate(feed):
        tmp = str(tmp_path / f"vidchunk{i}")
        spark.createDataFrame(
            rows, "doc_id bigint, frame_idx int, dhash bigint"
        ).coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/b{i}.parquet")
        shutil.rmtree(tmp)
        time.sleep(0.05)

    out = str(tmp_path / "vid_out")
    q = admit_video_stream(
        spark, src, sp, str(tmp_path / "vidckpt"), out
    ).start()
    q.processAllAvailable()
    q.stop()

    disp = {r.doc_id: r.is_dup for r in spark.read.parquet(out).collect()}
    assert disp == {10: True, 11: False, 20: True, 21: False}

    # redelivery: segment skip + identical disposition
    segs_before = sorted(os.listdir(sp))
    store_sink(store, out)(
        spark.createDataFrame(
            feed[1], "doc_id bigint, frame_idx int, dhash bigint"
        ),
        1,
    )
    assert sorted(os.listdir(sp)) == segs_before
    disp2 = {r.doc_id: r.is_dup for r in spark.read.parquet(out).collect()}
    assert disp2 == disp
