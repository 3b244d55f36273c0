"""SCD Type-2 build: CDC re-emit collapse, NULL attributes, interval
chaining, and the single-exchange plan."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from oxidsql_spark.operators.scd import scd2_build


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "k int, attr string, ts timestamp_ntz, seq int"
    )


def test_scd2_collapses_reemitted_state(spark):
    t = lambda s: datetime(2024, 1, s)
    feed = _mk(spark, [
        (1, "a", t(1), 1),
        (1, "a", t(2), 2),   # CDC re-emit: same state, no new interval
        (1, "b", t(3), 3),
        (1, "b", t(4), 4),
        (1, "a", t(5), 5),   # back to 'a': NEW interval (not merged with the first)
        (2, "x", t(1), 1),
    ])
    out = scd2_build(feed, "k", ["attr"], "ts", tiebreak=["seq"]).collect()
    got = sorted((r.k, r.attr, r.valid_from, r.valid_to, r.is_current) for r in out)
    assert got == [
        (1, "a", t(1), t(3), False),
        (1, "a", t(5), None, True),
        (1, "b", t(3), t(5), False),
        (2, "x", t(1), None, True),
    ]


def test_scd2_null_attribute_and_first_row(spark):
    t = lambda s: datetime(2024, 1, s)
    feed = _mk(spark, [
        (1, None, t(1), 1),  # NULL initial state still opens an interval
        (1, None, t(2), 2),  # unchanged (null-safe): no new interval
        (1, "v", t(3), 3),
        (1, None, t(4), 4),  # change back to NULL opens one
    ])
    out = scd2_build(feed, "k", ["attr"], "ts", tiebreak=["seq"]).collect()
    got = sorted(
        ((r.k, r.attr, r.valid_from, r.valid_to, r.is_current) for r in out),
        key=lambda x: (x[0], x[2]),
    )
    assert got == [
        (1, None, t(1), t(3), False),
        (1, "v", t(3), t(4), False),
        (1, None, t(4), None, True),
    ]


def test_scd2_single_exchange(spark):
    feed = _mk(spark, [(1, "a", datetime(2024, 1, 1), 1)])
    out = scd2_build(feed, "k", ["attr"], "ts", tiebreak=["seq"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def _hist_rows(df):
    return sorted(
        ((r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current) for r in df.collect()),
        key=lambda x: (x[0], x[2]),
    )


def test_scd2_merge_batches_equal_full_build(spark, sf_dir, tmp_path):
    """Applying the change feed as 3 sequential merge commits must land
    the exact table the one-shot build derives — batch boundaries are
    invisible (including a boundary that splits a run of re-emits)."""
    from oxidsql_spark.operators.scd import scd2_build, scd2_merge_batch
    from oxidsql_spark.sources import table
    from oxidsql_spark.versioned import VersionedTable

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    cuts = [lo + span, lo + span * 2]
    vt = VersionedTable(spark, str(tmp_path / "scd2"))
    batches = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for b in batches:
        scd2_merge_batch(vt, b, "user_id", ["event_type"], "ts", tiebreak=["event_id"])
    want = scd2_build(ev, "user_id", ["event_type"], "ts", tiebreak=["event_id"])
    assert _hist_rows(vt.read()) == _hist_rows(want)
    assert vt.versions() == [1, 2, 3]  # one atomic commit per batch


def test_scd2_partitioned_merge_equals_full_build(spark, sf_dir, tmp_path):
    """The partition-scoped store (`Scd2History`) applied as 3 sequential
    merges lands exactly the one-shot build — batch boundaries AND bucket
    boundaries are both invisible."""
    from oxidsql_spark.operators.scd import Scd2History, scd2_build
    from oxidsql_spark.sources import table

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    cuts = [lo + span, lo + span * 2]
    hist = Scd2History(
        spark, str(tmp_path / "scd2p"), "user_id", ["event_type"], "ts",
        tiebreak=["event_id"], n_buckets=16,
    )
    batches = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for b in batches:
        hist.merge(b)
    want = scd2_build(ev, "user_id", ["event_type"], "ts", tiebreak=["event_id"])
    assert _hist_rows(hist.read()) == _hist_rows(want)
    assert hist.versions() == [1, 2, 3]  # one atomic manifest commit per batch


def test_scd2_partitioned_single_key_rewrites_one_bucket(spark, tmp_path):
    """The weak-item fix, asserted on the manifest delta: a merge batch
    touching ONE key advances exactly one bucket partition — every other
    bucket carries over by reference (same data dir in both manifests),
    so per-batch commit I/O is O(touched buckets), not O(history)."""
    from datetime import datetime

    from oxidsql_spark.operators.scd import Scd2History

    t = lambda s: datetime(2024, 1, s)
    hist = Scd2History(
        spark, str(tmp_path / "scd2b"), "k", ["attr"], "ts",
        tiebreak=["seq"], n_buckets=8,
    )
    seed_rows = [(k, "a", t(1), 1) for k in range(40)]
    hist.merge(_mk(spark, seed_rows))
    m1 = hist._pvt._manifest(1)["groups"]
    assert len(m1) > 1, "seed must span multiple buckets for the assertion to bite"
    hist.merge(_mk(spark, [(7, "b", t(2), 2)]))
    m2 = hist._pvt._manifest(2)["groups"]
    changed = {b for b in m2 if m1.get(b) != m2[b]} | (set(m1) - set(m2))
    assert len(changed) == 1, f"single-key batch rewrote buckets {sorted(changed)}"
    # and the merge itself is correct: key 7 now has a closed + an open interval
    rows = sorted(
        (r.k, r.attr, r.is_current) for r in hist.read().filter("k = 7").collect()
    )
    assert rows == [(7, "a", False), (7, "b", True)]


# the streaming twin (scd2_apply_stream == one-shot build over a 4-batch
# replay) lives in tests/test_streaming.py with the chunked_stream_dir fixture


def test_scd2_enrich_asof_semantics(spark, tmp_path):
    """Point-in-time enrichment: rows resolve to the interval active at
    their timestamp, a probe at exactly a change point sees the NEW
    state, and probes before the key's first interval get NULL."""
    from datetime import datetime

    from oxidsql_spark.operators.scd import Scd2History

    t = lambda s: datetime(2024, 1, s)
    hist = Scd2History(
        spark, str(tmp_path / "h"), "k", ["attr"], "ts", tiebreak=["seq"], n_buckets=4
    )
    hist.merge(_mk(spark, [
        (1, "a", t(2), 1),
        (1, "b", t(5), 2),
        (2, "x", t(3), 1),
    ]))
    probes = spark.createDataFrame(
        [(101, 1, t(1)), (102, 1, t(2)), (103, 1, t(4)), (104, 1, t(5)),
         (105, 1, t(9)), (106, 2, t(3)), (107, 3, t(4))],
        "pid int, k int, ts timestamp_ntz",
    )
    got = {
        r.pid: r.asof_attr for r in hist.enrich_asof(probes, "pid").collect()
    }
    assert got == {
        101: None,   # before first interval
        102: "a",    # exactly at the change point -> new state
        103: "a",
        104: "b",    # change point at its own ts
        105: "b",    # open interval
        106: "x",
        107: None,   # unknown key
    }
