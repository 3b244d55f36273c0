"""Manifest-versioned tables: time travel, upsert, delete, rollback,
vacuum, and crash isolation (data dirs no manifest references are
invisible)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from oxidsql_spark.sources import table
from oxidsql_spark.versioned import VersionedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_versioned_lifecycle(spark, sf_dir, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "nation_vt"))
    nation = table(spark, sf_dir, "nation")

    v1 = vt.write(nation)
    assert v1 == 1 and vt.versions() == [1]
    assert _rows(vt.read()) == _rows(nation)

    # upsert: rename one nation + add a new one
    updates = spark.createDataFrame(
        [(0, "RENAMED_0", 0), (99, "NEW_99", 4)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    v2 = vt.upsert(updates, "n_nationkey")
    assert v2 == 2
    latest = {r.n_nationkey: r.n_name for r in vt.read().collect()}
    assert latest[0] == "RENAMED_0" and latest[99] == "NEW_99" and len(latest) == 26

    # time travel: v1 is untouched
    assert _rows(vt.read(1)) == _rows(nation)

    # delete: only rows where the predicate is not TRUE survive
    cond = F.col("n_nationkey") >= 90
    v3 = vt.write(vt.read().filter(~cond.eqNullSafe(True)))
    assert vt.read(v3).count() == 25

    # rollback to v1 → new version with v1's content
    v4 = vt.write(vt.read(1))
    assert v4 == 4 and _rows(vt.read()) == _rows(nation)

    # vacuum keeps the tail only
    removed = vt.vacuum(keep_last=2)
    assert removed == [1, 2] and vt.versions() == [3, 4]
    assert _rows(vt.read()) == _rows(nation)  # latest still readable


def test_vacuum_rejects_empty_retention(spark, sf_dir, tmp_path):
    """vacuum(keep_last=0) would compute an empty keep set and delete the
    entire table — unpartitioned and partitioned tables must refuse it
    outright."""
    import pytest

    vt = VersionedTable(spark, str(tmp_path / "guard_vt"))
    vt.write(table(spark, sf_dir, "region"))
    with pytest.raises(ValueError):
        vt.vacuum(keep_last=0)
    assert vt.versions() == [1]  # nothing was deleted

    pvt = VersionedTable(spark, str(tmp_path / "guard_pvt"), "n_regionkey")
    pvt.write(table(spark, sf_dir, "nation"))
    with pytest.raises(ValueError):
        pvt.vacuum(keep_last=0)
    assert pvt.read().count() == 25


def test_uncommitted_snapshot_invisible(spark, sf_dir, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "crash_vt"))
    vt.write(table(spark, sf_dir, "region"))
    # simulate a crashed writer: version 2's data dir exists, no manifest
    crashed = vt._vdir(2)
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-junk.parquet"), "wb") as f:
        f.write(b"torn write")
    assert vt.versions() == [1]
    assert vt.read().count() == 5  # reads v1, never the torn dir
    vt.vacuum(keep_last=5)
    assert not os.path.exists(crashed)  # vacuum clears the debris
    assert vt.write(table(spark, sf_dir, "region")) == 2


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    pvt = VersionedTable(spark, str(tmp_path / "orders_pvt"), "o_orderpriority")
    orders = table(spark, sf_dir, "orders")
    v1 = pvt.write(orders)
    assert v1 == 1
    assert _rows(pvt.read()) == _rows(orders)

    # upsert rows in ONE priority partition
    sample = [r for r in orders.filter("o_orderpriority = '1-URGENT'").limit(2).collect()]
    updates = spark.createDataFrame(
        [(r.o_orderkey, r.o_custkey, "X", 0.0, r.o_orderdate, "1-URGENT") for r in sample],
        orders.schema,
    )
    v2 = pvt.upsert(updates, "o_orderkey")
    before, after = pvt._manifest(v1)["groups"], pvt._manifest(v2)["groups"]
    changed = {g for g in after if after[g] != before.get(g)}
    assert changed == {"1-URGENT"}  # only the 1-URGENT partition advanced
    written = [n for n in os.listdir(pvt._vdir(v2)) if n.startswith("__pv__=")]
    assert written == ["__pv__=1-URGENT"]  # one group dir written

    # semantics: latest == full-rewrite MERGE; v1 untouched
    got = {r.o_orderkey: r.o_orderstatus for r in pvt.read().collect()}
    for r in sample:
        assert got[r.o_orderkey] == "X"
    assert pvt.read().count() == orders.count()
    assert _rows(pvt.read(1)) == _rows(orders)


def test_partitioned_read_prunes_to_named_partitions(spark, sf_dir, tmp_path):
    pvt = VersionedTable(spark, str(tmp_path / "po"), "o_orderpriority")
    orders = table(spark, sf_dir, "orders")
    pvt.write(orders)
    one = pvt.read_partitions(["1-URGENT"])
    assert one.count() == orders.filter("o_orderpriority = '1-URGENT'").count()
    assert {r.o_orderpriority for r in one.select("o_orderpriority").distinct().collect()} == {"1-URGENT"}
    assert pvt.read_partitions(["no-such"]).count() == 0


def test_streaming_foreachbatch_upserts_versioned_table(spark, sf_dir, tmp_path):
    """Production streaming sink shape: each micro-batch MERGEs into a
    versioned table via foreachBatch — the final state equals the batch
    per-user rollup, and every micro-batch left a committed, readable
    version behind it (reader isolation during the stream)."""
    import shutil

    from pyspark.sql import functions as F

    from oxidsql_spark.streaming.events import _stream_source

    stream_dir = str(tmp_path / "ev_stream")
    os.makedirs(stream_dir)
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir + "/part-0.parquet")

    vt = VersionedTable(spark, str(tmp_path / "user_totals"))
    vt.write(spark.createDataFrame([], "user_id long, n_events long"))

    stream = _stream_source(spark, stream_dir, watermark=False)

    def upsert_batch(batch_df, batch_id):
        agg = batch_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        prev = vt.read().withColumnRenamed("n_events", "prev_n")
        merged = (
            agg.join(prev, "user_id", "full")
            .select(
                "user_id",
                (F.coalesce("n_events", F.lit(0)) + F.coalesce("prev_n", F.lit(0))).alias("n_events"),
            )
        )
        vt.upsert(merged, "user_id")

    q = stream.writeStream.foreachBatch(upsert_batch).outputMode("update").start()
    q.processAllAvailable()
    q.stop()

    got = {r.user_id: r.n_events for r in vt.read().collect()}
    want = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    assert len(vt.versions()) >= 2  # every batch committed a version


def test_partitioned_null_partition_routed_not_dropped(spark, tmp_path):
    """Rows with a NULL partition value land in the Hive default-
    partition bucket; the old string-equality filter silently lost them
    from every snapshot."""
    from pyspark.sql import functions as F

    from oxidsql_spark.versioned import NULL_PARTITION

    pvt = VersionedTable(spark, str(tmp_path / "np"), "day")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "id int, day string"
    )
    pvt.write(df)
    assert pvt.read().count() == 4
    assert {r.id for r in pvt.read().filter(F.col("day").isNull()).collect()} == {2, 4}

    up = spark.createDataFrame([(2, None), (5, None)], "id int, day string")
    pvt.upsert(up, "id")
    assert pvt.read().count() == 5
    assert {r.id for r in pvt.read_partitions([NULL_PARTITION]).collect()} == {2, 4, 5}

    # partitionBy writes "" to the same default-partition dir: an upsert
    # landing in "" must keep the NULL rows it shares the dir with
    pvt.upsert(spark.createDataFrame([(6, "")], "id int, day string"), "id")
    assert {(r.id, r.day) for r in pvt.read_partitions([NULL_PARTITION]).collect()} == {
        (2, None), (4, None), (5, None), (6, "")
    }
    assert pvt.read().count() == 6


def test_partitioned_write_is_one_write_job(spark, sf_dir, tmp_path):
    """A partitioned write must be a single partitionBy pass — N
    partition values may NOT cost N filtered scans of the input."""
    sc = spark.sparkContext
    pvt = VersionedTable(spark, str(tmp_path / "sp"), "o_orderpriority")
    orders = table(spark, sf_dir, "orders")  # 5 distinct priorities
    sc.setJobGroup("write_one_pass", "single-pass check")
    v = pvt.write(orders)
    sc.setJobGroup("write_done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("write_one_pass")
    assert len(jobs) < 5, f"partitioned write ran {len(jobs)} jobs for 5 partitions"
    assert _rows(pvt.read(v)) == _rows(orders)


def test_partitioned_vacuum_reclaims_unreferenced_generations(spark, tmp_path):
    """Partitioned vacuum drops manifests outside the retention window
    and every group dir no surviving manifest references; reads within
    the window keep working."""
    from pyspark.sql import functions as F

    pvt = VersionedTable(spark, str(tmp_path / "pv"), "p")
    mk = lambda rows: spark.createDataFrame(rows, "k long, p string, v long")  # noqa: E731
    pvt.write(mk([(1, "a", 1), (2, "b", 2)]))
    for i in range(3):  # 3 upserts touching partition a -> 3 generations of a
        pvt.upsert(mk([(1, "a", 10 + i)]), "k")
    assert len(pvt.versions()) == 4

    def group_dirs():
        root = str(tmp_path / "pv" / "_data")
        return {
            os.path.join(d, g)
            for d in os.listdir(root)
            for g in os.listdir(os.path.join(root, d))
            if g.startswith("__pv__=")
        }

    assert len(group_dirs()) == 5  # a x4 + b x1
    removed = pvt.vacuum(keep_last=2)
    assert removed == [1, 2] and pvt.versions() == [3, 4]
    # a's generations of v1 and v2 are gone; v1's dir survives for b
    assert group_dirs() == {
        "v00000001/__pv__=b", "v00000003/__pv__=a", "v00000004/__pv__=a"
    }
    # both retained versions still fully readable
    assert {r.v for r in pvt.read(4).filter(F.col("k") == 1).collect()} == {12}
    assert {r.v for r in pvt.read(3).filter(F.col("k") == 1).collect()} == {11}
    # partition b's single generation survived (referenced by both)
    assert {r.v for r in pvt.read_partitions(["b"]).collect()} == {2}


def test_schema_evolution_across_snapshots(spark, tmp_path):
    """Snapshots are self-contained: a later version may add a column;
    time travel reads each version with ITS schema (the property file
    formats get from immutable data dirs and per-version manifests)."""
    vt = VersionedTable(spark, str(tmp_path / "evo"))
    vt.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    vt.write(spark.createDataFrame([(1, "a", 9.5)], "k long, v string, score double"))
    assert vt.read(1).columns == ["k", "v"]
    assert vt.read(2).columns == ["k", "v", "score"]
    assert vt.read().collect()[0].score == 9.5


def test_partitioned_torn_manifest_invisible(spark, tmp_path):
    """A crashed manifest write (leftover .tmp) must not surface as a
    version, corrupt reads, or block the next commit."""
    pvt = VersionedTable(spark, str(tmp_path / "torn"), "p")
    pvt.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string"))
    # simulate a torn commit
    with open(str(tmp_path / "torn" / "_manifests" / ".m00000002.tmp"), "w") as fh:
        fh.write('{"partial":')
    assert pvt.versions() == [1]
    assert pvt.read().count() == 2
    v2 = pvt.upsert(spark.createDataFrame([(3, "a")], "k long, p string"), "k")
    assert v2 == 2 and pvt.read().count() == 3


def test_write_retries_over_uncommitted_debris(spark, tmp_path):
    """A crash mid-write leaves a data dir no manifest references; the
    RETRY of that write (e.g. a replayed streaming refresh) must clear
    the debris and commit, not die on errorifexists forever."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.write(spark.createDataFrame([(1,)], "x int"))
    # simulate the crashed attempt at version 2: dir exists, no manifest
    debris = vt._vdir(2)
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "w") as fh:
        fh.write("torn")
    assert vt.latest_version() == 1  # invisible, as designed
    v = vt.write(spark.createDataFrame([(2,)], "x int"))  # the retry
    assert v == 2 and vt.latest_version() == 2
    assert {r.x for r in vt.read().collect()} == {2}


def test_partitioned_upsert_retries_over_stage_and_gdir_debris(spark, tmp_path):
    """A partitioned upsert after a crash that left a partial data dir
    (a torn group dir and stray files) behind: the retry clears it (the
    manifest is the commit point — nothing in it is referenced) and
    commits the same content a first attempt would."""
    pt = VersionedTable(spark, str(tmp_path / "p"), "k")
    pt.write(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    # crashed attempt at version 2: stray file + partial group dir
    stage = pt._vdir(2)
    os.makedirs(stage)
    with open(os.path.join(stage, "leftover"), "w") as fh:
        fh.write("x")
    partial = os.path.join(stage, "__pv__=1")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-torn.parquet"), "w") as fh:
        fh.write("torn")

    v = pt.upsert(
        spark.createDataFrame([(1, 11)], "k int, v int"), "k",
        partition_from_key=False,
    )
    assert v == 2
    got = {(r.k, r.v) for r in pt.read().collect()}
    assert got == {(1, 11), (2, 20)}
    assert not os.path.exists(os.path.join(stage, "leftover"))


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{tag}-done", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_reads_take_schema_from_manifest_and_run_no_job(spark, tmp_path):
    """Every read takes its schema from the manifest: opening a database
    on an existing storage dir and building a time-travel SELECT run no
    Spark job before the first action (a parquet footer-inference job
    per table before), and an unpartitioned upsert through a fresh
    instance runs only its write job."""
    from oxidsql_spark.database import OxidSparkDatabase

    store = str(tmp_path / "db")
    db = OxidSparkDatabase(spark, storage_dir=store)
    db.query("CREATE TABLE t (id INT, name VARCHAR(8))")
    db.query("INSERT INTO t VALUES (1, 'a'), (2, NULL)")
    db.query("CREATE TABLE u (k INT)")

    db2, n_open = _jobs(spark, lambda: OxidSparkDatabase(spark, storage_dir=store))
    assert n_open == 0
    df, n_build = _jobs(spark, lambda: db2.query("SELECT id, name FROM t VERSION AS OF 2"))
    assert n_build == 0
    assert _rows(df) == [(1, "a"), (2, None)]
    assert db2.query("SELECT id FROM t VERSION AS OF 1").count() == 0

    # the upsert runs exactly the jobs of writing its result: none before
    path = str(tmp_path / "vt")
    VersionedTable(spark, path).write(spark.createDataFrame([(1, 1), (2, 2)], "k long, v long"))
    up = spark.createDataFrame([(2, 20), (3, 30)], "k long, v long")
    merged = VersionedTable(spark, path).read().join(up.select("k"), "k", "left_anti")
    merged = merged.unionByName(up)
    _, n_write = _jobs(spark, lambda: merged.write.parquet(str(tmp_path / "plain")))
    _, n_upsert = _jobs(spark, lambda: VersionedTable(spark, path).upsert(up, "k"))
    assert n_upsert <= n_write
    assert _rows(VersionedTable(spark, path).read()) == [(1, 1), (2, 20), (3, 30)]


def test_bench_commit_hooks_hold(spark, tmp_path, monkeypatch):
    """What perfbench/run.py::_install_wrappers relies on: the facade
    commits through ``VersionedTable.write(self, df)`` — one positional
    argument — and ``_vdir(v)`` names the data dir version v wrote, so
    walking it counts exactly that commit's parquet bytes."""
    from oxidsql_spark.database import OxidSparkDatabase

    def walk(path):
        return [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]

    calls = []
    orig = VersionedTable.write

    def write(self, df):  # the bench wrapper's signature
        v = orig(self, df)
        calls.append(sum(os.path.getsize(f) for f in walk(self._vdir(v))))
        return v

    monkeypatch.setattr(VersionedTable, "write", write)
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t (id INT)")
    db.query("INSERT INTO t VALUES (1), (2)")
    assert len(calls) == 2 and calls[-1] > 0

    vt = db._vt("t")
    v = vt.latest_version()
    parquet = [f for f in walk(vt._vdir(v)) if f.endswith(".parquet")]
    assert sorted(parquet) == sorted(vt.files(v))  # exactly v's data files
    assert 0 < sum(os.path.getsize(f) for f in parquet) <= calls[-1]


def test_facade_vacuum_keeps_table_metadata(spark, tmp_path):
    """VACUUM on a facade table removes only unreferenced data: the
    schema, statistics and contract files beside the manifests stay,
    and a reopened database sees the same rows and rowcount."""
    from oxidsql_spark.database import OxidSparkDatabase

    store = str(tmp_path / "db")
    db = OxidSparkDatabase(spark, storage_dir=store)
    db.query("CREATE TABLE t (id INT, v INT)")
    db.query("CREATE CONTRACT ON t (CONSTRAINT v_pos CHECK (v > 0))")
    for i in range(4):
        db.query(f"INSERT INTO t VALUES ({i}, {i + 1})")
    db.query("DELETE FROM t WHERE id = 0")
    removed = [r.removed_version for r in db.query("VACUUM t RETAIN 2 VERSIONS").collect()]
    assert removed and db._vt("t").versions() == [removed[-1] + 1, removed[-1] + 2]
    for f in ("_schema.json", "_stats.pkl", "_contract.json"):
        assert os.path.exists(os.path.join(store, "t", f)), f

    want = [(1, 2), (2, 3), (3, 4)]
    db2 = OxidSparkDatabase(spark, storage_dir=store)
    assert _rows(db2.query("SELECT id, v FROM t")) == want
    assert db2.stats("t").rowcount == len(want)
    assert "t" in db2._contracts


# -- statement cost follows the delta ----------------------------------------


def _durable(spark, tmp_path, n_files=3):
    """A durable facade table `t` of 40 rows spread over `n_files`
    files (ids 0-13 in the first)."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t (id BIGINT, v INT)")
    db.query(
        "INSERT INTO t SELECT id, CAST(id % 3 AS INT) FROM "
        f"(SELECT /*+ REPARTITION_BY_RANGE({n_files}, id) */ id FROM range(40))"
    )
    return db


def test_durable_insert_values_runs_no_job(spark, tmp_path):
    """INSERT … VALUES on a durable table writes its rows as one parquet
    file on the driver: no Spark job, one new file, the old ones kept."""
    db = _durable(spark, tmp_path)
    vt = db._vt("t")
    before = set(vt.files())
    _, n = _jobs(spark, lambda: db.query("INSERT INTO t VALUES (100, 1), (101, NULL)"))
    assert n == 0
    after = set(vt.files())
    assert before < after and len(after - before) == 1
    assert _rows(db.query("SELECT id, v FROM t WHERE id >= 100")) == [(100, 1), (101, None)]


def test_dml_touching_one_file_rewrites_only_it(spark, tmp_path):
    """A DELETE or UPDATE whose touched rows sit in one of several files
    runs at most 2 jobs (find the rows, rewrite their file), and every
    other file path carries over unchanged."""
    db = _durable(spark, tmp_path)
    vt = db._vt("t")
    assert len(vt.files()) == 3
    for stmt, want in [
        ("DELETE FROM t WHERE id < 3", lambda k, v: None if k < 3 else (k, v)),
        ("UPDATE t SET v = v + 10 WHERE id BETWEEN 4 AND 6", lambda k, v: (k, v + 10 if 4 <= k <= 6 else v)),
    ]:
        old = set(vt.files())
        expect = sorted(r for r in (want(*r) for r in _rows(db.query("SELECT id, v FROM t"))) if r)
        _, n = _jobs(spark, lambda: db.query(stmt))
        assert n <= 2, (stmt, n)
        new = set(vt.files())
        assert len(old - new) == 1 and len(new - old) == 1, stmt  # one file swapped
        assert _rows(db.query("SELECT id, v FROM t")) == expect, stmt


def _paths(vt, version=None):
    from oxidsql_spark.versioned import _paths

    return _paths(vt._manifest(version)["groups"].values())


def test_single_row_inserts_keep_reads_job_free(spark, tmp_path):
    """100 single-row INSERTs: a version never references more than
    MAX_SMALL_FILES small paths (the append that would cross it merges
    them on the driver), and neither the inserts nor any read after them
    runs a job."""
    from oxidsql_spark.versioned import MAX_SMALL_FILES

    db = _durable(spark, tmp_path, n_files=2)
    vt = db._vt("t")
    for i in range(100):
        _, n_ins = _jobs(spark, lambda: db.query(f"INSERT INTO t VALUES ({100 + i}, {i})"))
        _, n_read = _jobs(spark, lambda: vt.read())
        assert (n_ins, n_read) == (0, 0), i
        assert len(_paths(vt)) <= MAX_SMALL_FILES
    got = _rows(db.query("SELECT id, v FROM t WHERE id >= 100"))
    assert got == [(100 + i, i) for i in range(100)]
    assert db.query("SELECT COUNT(*) FROM t").first()[0] == 140
    # time travel to a version before the merge still reads its own files
    assert db.query("SELECT COUNT(*) FROM t VERSION AS OF 10").first()[0] == 40 + 10 - 2


def test_driver_appended_rows_read_back_like_spark_written(spark, tmp_path):
    """Rows appended as a pyarrow-written file read back equal to the
    same rows written by Spark, for every facade type and the CTAS
    passthrough types."""
    import datetime
    import decimal

    from oxidsql_spark.versioned import Delta

    schema = (
        "b BIGINT, i INT, s SMALLINT, v STRING, y BINARY, d DECIMAL(12,2), "
        "dt DATE, ts TIMESTAMP, f DOUBLE, o BOOLEAN"
    )
    rows = [
        (
            -(2**62), 2**31 - 1, -(2**15), "héllo", b"\x00\xff", decimal.Decimal("1234567890.12"),
            datetime.date(1999, 12, 31), datetime.datetime(2001, 2, 3, 4, 5, 6, 789),
            1.5, True,
        ),
        (None,) * 10,
    ]
    ref = VersionedTable(spark, str(tmp_path / "ref"))
    ref.write(spark.createDataFrame(rows, schema))
    vt = VersionedTable(spark, str(tmp_path / "arrow"))
    vt.write(spark.createDataFrame([], schema))
    vt.write(Delta(add=rows))
    assert vt.files() and all(f.endswith(".zstd.parquet") for f in vt.files())
    key = lambda r: tuple((x is None, str(x)) for x in r)
    assert sorted(map(tuple, vt.read().collect()), key=key) == sorted(
        map(tuple, ref.read().collect()), key=key
    )


def test_whole_write_of_many_files_reads_without_a_job(spark, tmp_path, monkeypatch):
    """A whole-content write of more files than Spark lists without a
    job is ONE manifest path, so its reads run no job.  A Delta that
    drops one of its files turns the dir into its other files: small
    ones merge on the driver while they total at most (MAX_SMALL_FILES
    + 1) small-file sizes, and a version that would reference more than
    MAX_PATHS paths is rewritten as one dir instead."""
    from oxidsql_spark import versioned
    from oxidsql_spark.versioned import MAX_PATHS, MAX_SMALL_FILES, Delta

    cases = {  # name -> SMALL_FILE_BYTES given the written files' sizes
        "merged": lambda sizes: versioned.SMALL_FILE_BYTES,
        "too_many_bytes": lambda sizes: max(sizes) + 1,
        "compacted": lambda sizes: 0,
    }
    for name, small_bytes in cases.items():
        vt = VersionedTable(spark, str(tmp_path / name))
        n = 12 if name == "too_many_bytes" else MAX_PATHS + 8
        vt.write(spark.range(200).repartition(n))
        assert len(vt.files()) == n
        assert _paths(vt) == [os.path.relpath(vt._vdir(1), vt.path)]
        assert _jobs(spark, vt.read)[1] == 0
        monkeypatch.setattr(versioned, "SMALL_FILE_BYTES", small_bytes(
            [os.path.getsize(f) for f in vt.files()]
        ))
        f = vt.files()[0]
        gone = {r.id for r in spark.read.parquet(f).collect()}
        want = sorted(({r.id for r in vt.read().collect()} - gone) | {1000})
        vt.write(Delta(add=[(1000,)], drop=frozenset([vt.relpath(f)])))
        assert gone and sorted(r.id for r in vt.read().collect()) == want, name
        assert _jobs(spark, vt.read)[1] == 0, name
        got = _paths(vt)
        if name == "merged":
            assert len(got) <= MAX_SMALL_FILES
        elif name == "too_many_bytes":  # the dir's other files and the new one
            assert len(got) == n
        else:
            assert got == [os.path.join(os.path.relpath(vt._vdir(2), vt.path), "c")]
        vt.vacuum(keep_last=1)
        assert sorted(r.id for r in vt.read().collect()) == want, name


def test_merge_keeps_spark_written_timestamps_outside_nanosecond_range(spark, tmp_path):
    """The small-file merge reads Spark-written (INT96) timestamps as
    microseconds: a 9999-12-31 sentinel survives it."""
    import datetime

    from oxidsql_spark import versioned
    from oxidsql_spark.versioned import Delta

    vt = VersionedTable(spark, str(tmp_path / "ts"))
    vt.write(spark.sql("SELECT 0L AS id, TIMESTAMP'9999-12-31 23:59:59' AS ts"))
    for i in range(1, versioned.MAX_SMALL_FILES + 2):
        vt.write(Delta(add=[(i, datetime.datetime(2020, 1, i))]))
    assert len(_paths(vt)) < versioned.MAX_SMALL_FILES  # the merge ran
    assert vt.read().filter("id = 0").first().ts == vt.read(1).first().ts
    assert vt.read().filter("id = 0").first().ts.year == 9999


def test_delta_dropping_an_unreferenced_file_raises(spark, tmp_path):
    """A Delta that drops a file the latest version does not reference
    fails instead of keeping that file's rows beside their rewrite."""
    import pytest

    from oxidsql_spark.versioned import Delta

    vt = VersionedTable(spark, str(tmp_path / "d"))
    vt.write(spark.range(4))
    with pytest.raises(ValueError, match="not files of the latest version"):
        vt.write(Delta(add=[(9,)], drop=frozenset(["_data/v00000001/nope.parquet"])))
    assert vt.versions() == [1]


def test_dml_above_driver_row_bound_rewrites_the_whole_table(spark, tmp_path, monkeypatch):
    """Above the driver-row bound a DELETE or UPDATE collects nothing
    and commits the whole table as one rewritten dir."""
    from oxidsql_spark import database

    db = _durable(spark, tmp_path)
    vt = db._vt("t")
    monkeypatch.setattr(database, "_DRIVER_ROWS", -1)
    for stmt in ["DELETE FROM t WHERE id < 3", "UPDATE t SET v = v + 10 WHERE id = 5"]:
        db.query(stmt)
        assert _paths(vt) == [os.path.relpath(vt._vdir(vt.latest_version()), vt.path)], stmt
    assert _rows(db.query("SELECT id, v FROM t WHERE id < 6")) == [(3, 0), (4, 1), (5, 12)]
