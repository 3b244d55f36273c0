"""Statistics tests — mirrors the reference's seeded, bounded accuracy
assertions (counting_hyperloglog.rs:264-291 ±20%; bottomup.rs:523-606
sample-based cardinality estimation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oxidsql_spark.sources import table
from oxidsql_spark.statistics import SAMPLE_SIZE, OnlineTableStats


def _rebuilt(spark, df) -> OnlineTableStats:
    st = OnlineTableStats(spark, df.schema)
    st.rebuild(df)
    return st


def test_selectivity_estimate_within_tolerance(spark, sf_dir):
    """The reference's estimator test shape (bottomup.rs:599-605: expect
    ~4/10 for id<5), scaled: the maintained sample's estimate vs the true
    selectivity on orders."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    st = _rebuilt(spark, o)
    true_sel = o.filter(F.col("o_totalprice") > 200000.0).count() / st.rowcount
    est_sel = st.estimate_cardinality(F.col("o_totalprice") > 200000.0) / st.rowcount
    assert abs(est_sel - true_sel) < 0.08, (est_sel, true_sel)


def test_cardinality_floor_rule(spark, sf_dir):
    """floor at base/(2*SAMPLE_SIZE) and 1 — bottomup.rs:159-161."""
    st = _rebuilt(spark, table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"))
    # impossible predicate → floored, never 0
    est = st.estimate_cardinality(F.col("o_totalprice") < -1.0)
    assert est == max(int(st.rowcount / (2 * SAMPLE_SIZE)), 1)


def test_ndv_sketch_accuracy(spark, sf_dir):
    """The CountingHLL ``ndv`` within the reference's own ±20% test bound
    (counting_hyperloglog.rs:264-291)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    st = _rebuilt(spark, li)
    exact = li.agg(*[F.countDistinct(c).alias(c) for c in li.columns]).first()
    for c in li.columns:
        assert abs(st.ndv(c) - exact[c]) / exact[c] < 0.2, (c, st.ndv(c), exact[c])


def test_sample_deterministic(spark, sf_dir):
    """Two rebuilds from the same table keep the same sample rows, with
    the same priorities."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    a, b = _rebuilt(spark, o), _rebuilt(spark, o)
    assert a._sample and a._sample == b._sample


def test_online_stats_fresh_after_insert_no_analyze(spark):
    """heap.rs:245-292 twin: INSERT maintains rowcount, ndv sketches,
    and the sample incrementally — estimates are fresh with NO ANALYZE.
    Mirrors the reference's planner test (bottomup.rs:523-606): 10 rows,
    predicate id < 5 → cardinality estimate 4."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_online (id INT, name VARCHAR(500))")
    for i in range(1, 11):
        db.query(f"INSERT INTO t_online VALUES ({i}, 'test')")
    st = db.stats("t_online")
    assert st.rowcount == 10
    assert st.estimate_cardinality("id < 5") == 4  # the reference's assert
    assert st.ndv("id") == 10  # HLL exact at tiny cardinalities
    assert st.ndv("name") == 1

    # set-oriented insert folds in the batch, still no rescan of old data
    db.query("INSERT INTO t_online SELECT id + 100, name FROM t_online")
    assert db.stats("t_online").rowcount == 20
    assert abs(db.stats("t_online").ndv("id") - 20) <= 1

    # delete subtracts counting-sketch counts — no rebuild, no rescan
    db.query("DELETE FROM t_online WHERE id > 100")
    assert db.stats("t_online").rowcount == 10
    assert db.stats("t_online").ndv("id") == 10
    db.query("DROP TABLE t_online")


def _counts(df, cols: list[str], m: int):
    """(bucket, rho, count) rows per column, every row of ``df`` +1."""
    from oxidsql_spark.statistics import _SignedCounter

    return _SignedCounter(cols, m).counts(df.select(*cols, F.lit(1).alias("__sign__")))


def test_counting_hll_reference_bounds(spark):
    """CountingHLL twin of counting_hyperloglog.rs: estimate within the
    reference's own test tolerance (±20%, :264-291) at the reference
    geometry (m=64), and delete = exact counter subtraction."""
    from oxidsql_spark.statistics import CountingHLL

    # 200k distinct at m=64 — the reference test's own geometry
    n = 200_000
    df = spark.range(n).selectExpr("id AS a", "CAST(id % 500 AS STRING) AS b")
    counts = _counts(df, ["a", "b"], m=64)

    sk_a, sk_b = CountingHLL(64), CountingHLL(64)
    sk_a.add_counts(counts["a"])
    sk_b.add_counts(counts["b"])
    assert abs(sk_a.estimate() - n) <= 0.2 * n
    assert abs(sk_b.estimate() - 500) <= 0.2 * 500
    assert sum(c for _, _, c in counts["__rows__"]) == n

    # delete the top half: estimate tracks the survivors, no rescan of them
    dele = spark.range(n // 2, n).selectExpr("id AS a", "CAST(id % 500 AS STRING) AS b")
    sk_a.add_counts(_counts(dele, ["a"], m=64)["a"], sign=-1)
    assert abs(sk_a.estimate() - n // 2) <= 0.2 * (n // 2)


def test_counting_hll_duplicate_delete_property(spark):
    """The counting property max-register HLLs lack: deleting ONE copy of
    a duplicated value must not forget the value; deleting the last copy
    must."""
    from oxidsql_spark.statistics import CountingHLL

    vals = spark.createDataFrame([(i,) for i in range(200)] * 2, "a long")
    one_copy = spark.createDataFrame([(i,) for i in range(200)], "a long")

    sk = CountingHLL(1024)
    sk.add_counts(_counts(vals, ["a"], m=1024)["a"])
    before = sk.estimate()
    sk.add_counts(_counts(one_copy, ["a"], m=1024)["a"], sign=-1)
    assert sk.estimate() == before  # duplicates remain -> ndv unchanged
    sk.add_counts(_counts(one_copy, ["a"], m=1024)["a"], sign=-1)
    assert sk.estimate() == 0  # last copies gone -> empty


def test_online_stats_delete_subtracts_without_rescan(spark):
    """Facade DELETE maintains ndv by counter subtraction (the
    heap.rs:296-311 decrement path) — rebuild is never invoked."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_cdel (id INT, name VARCHAR(500))")
    db.query("INSERT INTO t_cdel SELECT id, 'x' FROM range(100)")
    assert abs(db.stats("t_cdel").ndv("id") - 100) <= 5

    db._stats_rebuild = lambda name: (_ for _ in ()).throw(
        AssertionError("DELETE must not rebuild")
    )
    db.query("DELETE FROM t_cdel WHERE id >= 50")
    st = db.stats("t_cdel")
    assert st.rowcount == 50
    assert abs(st.ndv("id") - 50) <= 3
    db.query("DROP TABLE t_cdel") if hasattr(db, "_drop") else None


def test_delete_evicts_null_rows_from_sample(spark):
    """Sample eviction on DELETE must be null-safe: with plain equality
    the anti-join never matches rows carrying a NULL, so deleted
    NULL-bearing rows would linger in the sample and skew estimates."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_nulldel (id INT, name VARCHAR(20))")
    db.query(
        "INSERT INTO t_nulldel SELECT CAST(id AS INT), "
        "CASE WHEN id % 2 = 0 THEN NULL ELSE 'x' END FROM range(40)"
    )
    st = db.stats("t_nulldel")
    assert any(t[1] is None for _, t in st._sample)  # NULLs sampled
    db.query("DELETE FROM t_nulldel WHERE name IS NULL")
    st = db.stats("t_nulldel")
    assert st.rowcount == 20
    assert all(t[1] is not None for _, t in st._sample), "NULL rows lingered"
    assert st._sample, "eviction overshot: surviving rows were dropped too"


def test_online_stats_update_adjusts_without_rescan(spark):
    """Facade UPDATE pairs a subtract (pre-image) with an add
    (post-image) on the counting sketches — no rebuild, rowcount
    unchanged, ndv tracks the rewrite."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_cupd (id INT, grp INT)")
    db.query("INSERT INTO t_cupd SELECT id, CAST(id % 50 AS INT) FROM range(100)")
    st = db.stats("t_cupd")
    assert abs(st.ndv("grp") - 50) <= 3

    db._stats_rebuild = lambda name: (_ for _ in ()).throw(
        AssertionError("UPDATE must not rebuild")
    )
    # collapse every group to 0: ndv(grp) -> 1, rowcount unchanged
    db.query("UPDATE t_cupd SET grp = 0 WHERE true")
    st = db.stats("t_cupd")
    assert st.rowcount == 100
    assert st.ndv("grp") == 1
    assert abs(st.ndv("id") - 100) <= 5


def test_stats_checkpoint_survives_reopen_without_rescan(spark, tmp_path):
    """Durable facade: stats serialize next to the snapshots and a new
    session restores them with NO table rescan (the reference persists
    its sketch blobs into catalog VarBinary columns,
    catalog/mod.rs:574-577)."""
    from oxidsql_spark.database import OxidSparkDatabase
    from oxidsql_spark.statistics import OnlineTableStats

    d = str(tmp_path / "db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE t_ck (id INT, name VARCHAR(50))")
    db.query("INSERT INTO t_ck SELECT id, 'x' FROM range(200)")
    db.query("DELETE FROM t_ck WHERE id >= 150")
    want_ndv = db.stats("t_ck").ndv("id")

    orig_rebuild = OnlineTableStats.rebuild
    OnlineTableStats.rebuild = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("reopen must not rescan")
    )
    try:
        db2 = OxidSparkDatabase(spark, storage_dir=d)
        st = db2.stats("t_ck")
        assert st.rowcount == 150
        assert st.ndv("id") == want_ndv
        assert st.estimate_cardinality("id < 75") > 0
    finally:
        OnlineTableStats.rebuild = orig_rebuild


def test_count_min_overestimate_guarantee(spark, sf_dir):
    """The count-min bound, asserted over EVERY distinct term (not just
    the registered query's top-20): est >= exact always, and the
    overcount stays within the d-row collision expectation (n/w per
    row, generously bounded)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.functions import tokens
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import _CMS_W, cms_estimate, count_min_sketch

    terms = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("term"))
    )
    n_rows = terms.count()
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    sketch = count_min_sketch(terms, "term")
    est = cms_estimate(sketch, exact.select("term"), "term")
    joined = exact.join(est, "term")
    under = joined.filter(F.col("cms_est") < F.col("exact_n")).count()
    assert under == 0, f"{under} terms undercounted — count-min bound violated"
    # generous collision bound: 8x the expected n/w overcount
    max_over = joined.agg(
        F.max(F.col("cms_est") - F.col("exact_n")).alias("m")
    ).first()["m"]
    assert max_over <= max(8 * n_rows // _CMS_W, 8), (max_over, n_rows)

    # unseen items are REPORTED (est 0 or a small collision count), not
    # dropped: the probe left-joins the sketch with absent buckets as 0,
    # so every input item appears in the output exactly once
    novel = spark.range(50).select(
        F.concat(F.lit("___cms_unseen_"), F.col("id").cast("string")).alias("term")
    )
    novel_est = cms_estimate(sketch, novel, "term")
    assert novel_est.count() == 50
    # min over d=4 independently-hashed buckets collides to >0 rarely;
    # the bulk of genuinely-unseen items must report 0
    assert novel_est.filter(F.col("cms_est") == 0).count() >= 45


def test_count_min_sketches_merge_exactly(spark, sf_dir):
    """Sketch mergeability, the property that makes per-shard frequency
    profiles roll up without raw data: summing two shards' sketches on
    (i, b) equals the whole-corpus sketch EXACTLY (counts are exact
    integers; only estimates are approximate)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.functions import tokens
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import count_min_sketch

    d = table(spark, sf_dir, "documents")
    terms = lambda df: df.select(F.explode(tokens(F.col("text"))).alias("term"))
    half_a = count_min_sketch(terms(d.filter(F.col("doc_id") % 2 == 0)), "term")
    half_b = count_min_sketch(terms(d.filter(F.col("doc_id") % 2 == 1)), "term")
    merged = {
        (r.i, r.b): r.cnt
        for r in half_a.unionByName(half_b)
        .groupBy("i", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {(r.i, r.b): r.cnt for r in count_min_sketch(terms(d), "term").collect()}
    assert merged == whole and merged


# -- one signed pass per statement -------------------------------------------


def _assert_stats_match_table(db, name, step):
    """Counter matrices equal a full rebuild's, rowcount is exact, and the
    sample is a sub-multiset of the live rows.  The check reads a copy
    (``loads(dumps())``), so the live object keeps its buffered rows for
    the next statement's fold."""
    from collections import Counter

    import numpy as np

    from oxidsql_spark.statistics import OnlineTableStats

    live = db.stats(name)
    table = db.spark.table(name)
    rows = [tuple(r) for r in table.collect()]
    assert live.rowcount == len(rows), (step, live.rowcount, len(rows))
    copy = OnlineTableStats.loads(db.spark, live.schema, live.dumps())
    copy._flush()
    fresh = OnlineTableStats(db.spark, live.schema)
    fresh.rebuild(table)
    for f in live.schema.fields:
        want = fresh._sketches[f.name]._counts
        sk = copy._sketches.get(f.name)
        got = sk._counts if sk is not None else np.zeros_like(want)
        assert np.array_equal(got, want), (step, f.name, int(np.abs(got - want).sum()))
    sample = Counter(tuple(r) for r in copy.sample_df().collect())
    assert not sample - Counter(rows), (step, sample - Counter(rows))


def _run_dml_invariant_steps(spark, tmp_path):
    import random

    from oxidsql_spark.database import OxidSparkDatabase

    rng = random.Random(7)

    def values(n):
        def lit(v, q=False):
            return "NULL" if v is None else (f"'{v}'" if q else str(v))

        return ", ".join(
            f"({lit(rng.randrange(1000))}, "
            f"{lit(rng.choice([None, *range(6)]))}, "
            f"{lit(rng.choice([None, 'a', 'b', 'cc']), q=True)})"
            for _ in range(n)
        )

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t_inv (id BIGINT, k INT, s VARCHAR(4))")
    steps = [
        f"INSERT INTO t_inv VALUES {values(6)}",
        "INSERT INTO t_inv SELECT id, CAST(CASE WHEN id % 4 = 0 THEN NULL "
        "ELSE id % 5 END AS INT), CASE WHEN id % 3 = 0 THEN NULL ELSE 'x' END "
        "FROM range(40)",
        f"INSERT INTO t_inv VALUES {values(4)}",
        "DELETE FROM t_inv WHERE k > 3 OR s = NULL",
        "UPDATE t_inv SET k = k + 1, s = concat(s, 'z') WHERE id % 3 = 0",
        f"INSERT INTO t_inv VALUES {values(5)}",
        "DELETE FROM t_inv WHERE s IS NULL AND k < 2",
        "UPDATE t_inv SET id = id + 1000, k = NULL "
        "WHERE id IN (SELECT id FROM t_inv WHERE k = 1)",
        "INSERT INTO t_inv SELECT id + 2000, k, s FROM t_inv WHERE k IS NOT NULL",
        "TRUNCATE TABLE t_inv",
        f"INSERT INTO t_inv VALUES {values(3)}",
    ]
    for stmt in steps:
        db.query(stmt)
        _assert_stats_match_table(db, "t_inv", stmt)


def test_dml_stats_equal_full_rebuild_after_every_statement(spark, tmp_path):
    """A seeded statement sequence on a durable table — INSERT VALUES with
    NULLs, INSERT … SELECT, DELETE with NULL predicate operands, a
    multi-column UPDATE (plain and subquery forms), TRUNCATE: after each
    statement the online statistics equal a full rebuild from the table."""
    _run_dml_invariant_steps(spark, tmp_path)


def test_dml_above_driver_row_bound_equals_full_rebuild(spark, tmp_path, monkeypatch):
    """The same sequence with every table above the driver-row bound:
    DELETE and UPDATE rewrite the whole table and fold their statistics
    in one aggregation, with the same results."""
    from oxidsql_spark import database

    monkeypatch.setattr(database, "_DRIVER_ROWS", -1)
    _run_dml_invariant_steps(spark, tmp_path)


def _stats_jobs_per_call(spark, monkeypatch):
    """Tag every Spark job run inside a public statistics call with its
    own job group; returns a dict ``method -> [jobs per call]``."""
    from oxidsql_spark.statistics import OnlineTableStats

    sc = spark.sparkContext
    calls: dict[str, list[str]] = {}
    depth = [0]

    def tagged(method):
        orig = getattr(OnlineTableStats, method)

        def wrapper(*a, **k):
            if depth[0]:
                return orig(*a, **k)
            group = f"stats-{method}-{sum(map(len, calls.values()))}"
            calls.setdefault(method, []).append(group)
            depth[0] += 1
            sc.setJobGroup(group, group)
            try:
                return orig(*a, **k)
            finally:
                depth[0] -= 1
                sc.setJobGroup("stats-outside", "stats-outside")

        monkeypatch.setattr(OnlineTableStats, method, wrapper)

    for m in ("add_rows", "update", "estimate_cardinality"):
        tagged(m)

    def jobs() -> dict[str, list[int]]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {
            m: [len(sc.statusTracker().getJobIdsForGroup(g)) for g in gs]
            for m, gs in calls.items()
        }

    return jobs


def test_dml_stats_run_one_aggregation_per_statement(spark, tmp_path, monkeypatch):
    """DELETE and UPDATE fold their statistics through ``update``, with
    buffered INSERT rows riding along: below the driver-row bound the
    touched rows arrive as driver lists and the fold runs no job;
    INSERT … VALUES and cardinality estimates run no job."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t_jobs (id BIGINT, k INT)")
    db.query("INSERT INTO t_jobs SELECT id, CAST(id % 7 AS INT) FROM range(60)")
    jobs = _stats_jobs_per_call(spark, monkeypatch)
    db.query("INSERT INTO t_jobs VALUES (100, 1), (101, NULL)")
    db.stats("t_jobs").estimate_cardinality("k < 3")
    db.query("DELETE FROM t_jobs WHERE k = 2")
    db.query("INSERT INTO t_jobs VALUES (102, 3)")
    db.query("UPDATE t_jobs SET k = k + 1 WHERE id % 5 = 0")
    db.query("EXPLAIN SELECT * FROM t_jobs WHERE k > 4")
    got = jobs()
    assert got["add_rows"] == [0, 0], got
    assert got["estimate_cardinality"] == [0, 0], got
    assert got["update"] == [0, 0], got


def test_update_rewrites_sample_in_place(spark):
    """UPDATE keeps the sample's rows and their priorities and rewrites
    their values to the post-image — plain and subquery predicates."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_usamp (id INT, v INT)")
    db.query("INSERT INTO t_usamp SELECT CAST(id AS INT) AS id, CAST(id AS INT) AS v FROM range(30)")
    before = dict(db.stats("t_usamp")._sample)
    assert len(before) == 30

    db.query("UPDATE t_usamp SET v = v * 10 WHERE id % 2 = 0")
    after = dict(db.stats("t_usamp")._sample)
    assert after.keys() == before.keys()
    for p, (i, v) in before.items():
        assert after[p] == (i, v * 10 if i % 2 == 0 else v), (p, after[p])

    db.query("UPDATE t_usamp SET v = -1 WHERE id IN (SELECT id FROM t_usamp WHERE id < 5)")
    final = dict(db.stats("t_usamp")._sample)
    assert final.keys() == before.keys()
    for p, (i, v) in after.items():
        assert final[p] == (i, -1 if i < 5 else v), (p, final[p])


def test_stats_blob_round_trips(spark):
    """``dumps`` keeps only the nonzero CountingHLL counters; ``loads``
    restores the same counter matrices, sample and buffered rows."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    st = OnlineTableStats(spark, schema)
    st.rebuild([(i, None if i % 3 else f"v{i % 7}") for i in range(200)])
    st.add_rows([(1000, "new"), (1001, None)])
    blob = st.dumps()
    back = OnlineTableStats.loads(spark, schema, blob)
    assert back.rowcount == st.rowcount == 202
    assert back._sample == st._sample and back._seq == st._seq
    assert back._pending == st._pending and back._unsampled == st._unsampled
    for c in ("id", "s"):
        assert np.array_equal(back._sketches[c]._counts, st._sketches[c]._counts), c
    # two dense 1024 × 56 int64 matrices would be ~0.9 MB
    assert len(blob) < 50_000, len(blob)


def _first_join_columns(df) -> list[str]:
    """Output column names of the deepest join of ``df``'s optimized
    plan: the pair of relations joined first."""

    def joins(node):
        kids = node.children()
        found = [j for i in range(kids.size()) for j in joins(kids.apply(i))]
        return found + [node] if node.nodeName() == "Join" else found

    out = joins(df._jdf.queryExecution().optimizedPlan())[0].output()
    return [out.apply(i).name() for i in range(out.size())]


def test_cbo_settings_reorder_in_memory_facade_joins(spark):
    """The session's CBO settings (``spark.sql.cbo.enabled`` and
    ``spark.sql.cbo.joinReorder.enabled``) change no registered query's
    plan; what they do change is the in-memory facade's multi-join order.
    Over tables of 200k, 2k and 20 rows, Catalyst joins ``mid ⋈ small``
    first with them on and keeps the text order, ``big ⋈ mid``, with them
    off.  Only plans are inspected: no job runs."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    for name, cols, n, mod in (
        ("cbo_big", "a INT, b INT", 200_000, 2000),
        ("cbo_mid", "b INT, c INT", 2000, 20),
        ("cbo_small", "c INT, x INT", 20, 2),
    ):
        db.query(f"CREATE TABLE {name} ({cols})")
        db.query(f"INSERT INTO {name} SELECT CAST(id AS INT), CAST(id % {mod} AS INT) FROM range({n})")
    q = (
        "SELECT * FROM cbo_big AS big, cbo_mid AS mid, cbo_small AS small "
        "WHERE big.b = mid.b AND mid.c = small.c AND small.x = 1"
    )
    sc = spark.sparkContext
    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    assert [spark.conf.get(k) for k in keys] == ["true", "true"]
    sc.setJobGroup("cbo-plan-shape", "cbo-plan-shape")
    try:
        assert _first_join_columns(db.query(q)) == ["b", "c", "c", "x"]
        for k in keys:
            spark.conf.set(k, "false")
        assert _first_join_columns(db.query(q)) == ["a", "b", "b", "c"]
    finally:
        for k in keys:
            spark.conf.set(k, "true")
        sc.setJobGroup("cbo-outside", "cbo-outside")
        for name in ("cbo_big", "cbo_mid", "cbo_small"):
            db.query(f"DROP TABLE {name}")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("cbo-plan-shape")) == []


def test_online_statistics_are_the_only_statistics_code():
    """One statistics stack: no engine module defines or calls the batch
    statistics kit that the online ``OnlineTableStats`` replaced, nor
    issues ``ANALYZE TABLE``.  ``OnlineTableStats.delete_batch`` is kept
    only as a delegate to ``update`` for perfbench's traced runs, and no
    engine module calls it."""
    import ast
    import re
    from pathlib import Path

    gone = {"TableSample", "ndv_sketch", "exact_ndv", "analyze_table", "column_bucket_rho_counts"}
    pkg = Path(__file__).resolve().parent.parent / "oxidsql_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg.parent)
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name in gone:
                offenders.append(f"{rel}:{node.lineno} defines {node.name}")
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in gone | {"delete_batch"}:
                    offenders.append(f"{rel}:{node.lineno} calls {name}()")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.match(r"\s*ANALYZE\s+TABLE\b", node.value, re.IGNORECASE):
                    offenders.append(f"{rel}:{node.lineno} issues ANALYZE TABLE")
    assert not offenders, "the online statistics are the only statistics: " + ", ".join(offenders)
