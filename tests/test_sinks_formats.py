"""Sinks + format connectors: round-trips, partition pruning, and the
bucketed-join zero-exchange guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxidsql_spark import sinks
from oxidsql_spark.sources import table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_csv")
    sinks.write_csv(src, p)
    back = sinks.read_csv(spark, p, "n_nationkey int, n_name string, n_regionkey int")
    assert _rows(back) == _rows(src)


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "customer")
    p = str(tmp_path / "cust_json")
    sinks.write_json(src, p)
    back = sinks.read_json(
        spark, p,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).select(*src.columns)
    assert _rows(back) == _rows(src)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_part")
    sinks.write_partitioned(src.withColumn("status", F.col("o_orderstatus")), p, "status")
    back = spark.read.parquet(p)
    q = back.filter(F.col("status") == "F")
    # correctness
    assert q.count() == src.filter(F.col("o_orderstatus") == "F").count()
    # partition pruning: the filter lands in PartitionFilters, so only
    # the status=F directory is scanned
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key must join with no shuffle —
    the plan contains no Exchange. This is the write-once/join-many
    layout for repeated fact-fact joins at scale."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    sinks.write_bucketed(o, "orders_b", "o_orderkey", n_buckets=8)
    sinks.write_bucketed(li, "lineitem_b", "l_orderkey", n_buckets=8)
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderstatus").count()
    # disable broadcast so the join strategy actually uses the buckets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the join consumes the bucketed scans directly — no exchange on
        # either join key (the only allowed exchange is the post-agg one)
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_sorted_output_files(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions → globally range-sorted
    file layout (the zone-map-friendly layout for time-series)."""
    e = table(spark, sf_dir, "events")
    p = str(tmp_path / "events_sorted")
    (
        e.repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(p)
    )
    back = spark.read.parquet(p)
    assert back.count() == e.count()


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Many tiny files -> one rewrite pass -> few right-sized files with
    identical content."""
    from oxidsql_spark import sinks
    from oxidsql_spark.sources import table

    path = str(tmp_path / "shattered")
    li = table(spark, sf_dir, "lineitem")
    li.repartition(64).write.parquet(path)  # simulate small-file explosion
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 64
    n = sinks.compact(spark, path, target_file_mb=128)
    from oxidsql_spark.versioned import VersionedTable, read_artifact

    after = len(VersionedTable(spark, path).files())
    assert after == n < before
    got = read_artifact(spark, path)
    assert got.count() == li.count()
    assert sorted(got.columns) == sorted(li.columns)


def test_compact_recovers_from_crashed_leftover(spark, sf_dir, tmp_path):
    """Debris from crashed maintenance — a data dir no manifest
    references — must neither wedge a future compact nor leak into
    reads; the committed content wins and the debris is swept."""
    import os

    from oxidsql_spark import sinks
    from oxidsql_spark.sources import table
    from oxidsql_spark.versioned import VersionedTable, read_artifact

    path = str(tmp_path / "wedged")
    table(spark, sf_dir, "region").write.parquet(path)
    junk = os.path.join(VersionedTable(spark, path)._vdir(1), "junk")
    os.makedirs(junk)  # crashed uncommitted rewrite
    assert read_artifact(spark, path).count() == 5
    n = sinks.compact(spark, path)
    assert n >= 1
    assert not os.path.exists(junk)
    assert read_artifact(spark, path).count() == 5


def test_maintenance_commit_is_crash_safe_without_renames(spark, sf_dir, tmp_path):
    """The object-store contract of the maintenance family (compact and
    merge_fingerprint_bloom): commit is ONE manifest file beside a fully
    written data dir — no directory rename anywhere — so at EVERY crash
    point the artifact reads back complete:

    1. crash mid-rewrite (data dir written, no manifest) → readers see
       exactly the old content; the debris doesn't block the next run;
    2. crash after commit, in the vacuum step → readers see exactly the
       new content (the stale plain files still on disk are invisible);
    3. the next maintenance run sweeps all debris and stays correct."""
    import glob
    import os

    import pytest

    from oxidsql_spark import sinks
    from oxidsql_spark.sources import table
    from oxidsql_spark.versioned import VersionedTable, read_artifact

    path = str(tmp_path / "crashy")
    nat = table(spark, sf_dir, "nation")
    nat.repartition(8).write.parquet(path)
    want = sorted(map(tuple, nat.collect()))

    # (1) mid-rewrite crash: parquet content in the next data dir, NO manifest
    vt = VersionedTable(spark, path)
    debris = vt._vdir(1)
    nat.limit(3).write.parquet(debris)
    assert sorted(map(tuple, read_artifact(spark, path).collect())) == want

    # (2) commit lands, the vacuum step crashes before running
    real_vacuum = VersionedTable.vacuum

    def exploding_vacuum(self, keep_last=2):
        raise RuntimeError("injected crash between commit and cleanup")

    VersionedTable.vacuum = exploding_vacuum
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            sinks.compact(spark, path, target_file_mb=128)
    finally:
        VersionedTable.vacuum = real_vacuum
    # the commit already happened: new content is live, old files still
    # on disk are invisible to the resolver
    assert vt.latest_version() == 1
    assert sorted(map(tuple, read_artifact(spark, path).collect())) == want
    assert glob.glob(f"{path}/*.parquet"), "stale plain files should still exist"

    # (3) next run sweeps everything and the content never changed
    sinks.compact(spark, path, target_file_mb=128)
    assert sorted(map(tuple, read_artifact(spark, path).collect())) == want
    assert not glob.glob(f"{path}/*.parquet")
    # the retry replaced the 3-row debris with a full commit of version 1
    assert sorted(map(tuple, vt.read(1).collect())) == want
    live = {os.path.dirname(f) for v in vt.versions() for f in vt.files(v)}
    assert live == set(glob.glob(f"{path}/_data/*"))


def test_parquet_bloom_filter_layout(spark, sf_dir, tmp_path):
    """write_parquet_bloom must actually emit filter bytes (same data,
    bloom-enabled files strictly larger) and stay content-identical; a
    pushed-down point predicate on the bloom column still reads
    correctly through Spark's scan (which consults the filters for
    row-group skipping).  The bloom column is a per-row hash id — the
    point-lookup shape blooms exist for — with dictionary encoding
    disabled on it, since at sf0.001 the dictionary would absorb the
    whole chunk and parquet-mr (correctly) elides the then-redundant
    filter."""
    import glob
    import os

    from oxidsql_spark import sinks
    from oxidsql_spark.sources import table

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("rid", F.md5(F.concat_ws("#", "l_orderkey", "l_linenumber")))
    )
    plain, bloomed = str(tmp_path / "pb_plain"), str(tmp_path / "pb_bloom")
    nodict = {"parquet.enable.dictionary#rid": "false"}
    sinks.write_parquet_bloom(li, plain, n_files=2, extra_options=nodict)
    sinks.write_parquet_bloom(
        li, bloomed, "rid", n_files=2, ndv=10_000, extra_options=nodict
    )

    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet")
    )
    assert size(bloomed) > size(plain), "no bloom filter bytes were written"

    back = spark.read.parquet(bloomed)
    assert back.count() == li.count()
    key = li.select("rid").first()[0]
    want = li.filter(F.col("rid") == key).count()
    q = back.filter(F.col("rid") == key)
    assert q.count() == want > 0
    # the equality predicate reaches the scan (bloom consultation
    # happens below PushedFilters, at row-group selection)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "PushedFilters" in buf.getvalue()


def test_write_sorted_rowgroup_stats_disjoint(spark, sf_dir, tmp_path):
    """Sorted layout must yield (near-)disjoint per-file min/max ranges on
    the sort key — the property parquet scans use to skip data."""
    import glob

    import pyarrow.parquet as pq

    from oxidsql_spark import sinks
    from oxidsql_spark.sources import table

    path = str(tmp_path / "sorted_orders")
    o = table(spark, sf_dir, "orders")
    sinks.write_sorted(o, path, "o_totalprice", n_files=8)

    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_totalprice")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    assert len(ranges) >= 8
    # consecutive ranges must not substantially overlap (range partition
    # boundaries are exact; row groups within a file are sorted)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2 or abs(hi1 - lo2) < 1e-9
    # round-trip intact
    assert spark.read.parquet(path).count() == o.count()


def test_write_zordered_multi_dim_skipping(spark, sf_dir, tmp_path):
    """Z-order must give BOTH z columns narrow per-file value spans
    (multi-dimensional skipping), where a plain write gives ~full-range
    spans on both and a single-key sort leaves the second column
    unprunable.  Span = mean over files of (file_max - file_min) /
    global_range, the parquet-stats skipping proxy."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")

    def mean_span(path, col):
        df = spark.read.parquet(path)
        lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
        per_file = (
            df.groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .collect()[0][0]
        )
        return per_file / (hi - lo)

    sinks.write_zordered(li, str(tmp_path / "z"), "l_partkey", "l_suppkey", n_files=16)
    sinks.write_sorted(li, str(tmp_path / "s"), "l_partkey", n_files=16)
    sinks.write_parquet(li.repartition(16), str(tmp_path / "p"), n_files=16)

    z_pk, z_sk = mean_span(str(tmp_path / "z"), "l_partkey"), mean_span(
        str(tmp_path / "z"), "l_suppkey"
    )
    s_pk, s_sk = mean_span(str(tmp_path / "s"), "l_partkey"), mean_span(
        str(tmp_path / "s"), "l_suppkey"
    )
    p_pk = mean_span(str(tmp_path / "p"), "l_partkey")

    assert p_pk > 0.8  # plain: every file spans ~the whole key range
    assert s_pk < 0.15 and s_sk > 0.8  # sorted: first key tight, second unpruned
    assert z_pk < 0.6 and z_sk < 0.6  # z-order: BOTH dimensions skippable
    # row content identical to the source (layout-only transformation)
    assert (
        spark.read.parquet(str(tmp_path / "z")).orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
        == li.orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
    )


def test_write_zordered_arity_and_degenerate(spark, sf_dir, tmp_path):
    """Guards: 1 column degrades gracefully to a sorted-like layout,
    >3 columns is an explicit error (interleave bits would underflow),
    constant columns don't divide by zero."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    with pytest.raises(ValueError):
        sinks.write_zordered(li, str(tmp_path / "bad"), "a", "b", "c", "d")
    sinks.write_zordered(li, str(tmp_path / "one"), "l_partkey", n_files=4)
    assert spark.read.parquet(str(tmp_path / "one")).count() == li.count()
    const = li.withColumn("k", F.lit(7))
    sinks.write_zordered(const, str(tmp_path / "const"), "k", "l_partkey", n_files=4)
    assert spark.read.parquet(str(tmp_path / "const")).count() == li.count()


def test_optimize_zordered_compacts_and_reclusters(spark, sf_dir, tmp_path):
    """One maintenance rewrite fixes BOTH table pathologies: a
    fragmented (many tiny files), unclustered directory comes out with
    few files AND restored multi-dimension z-clustering, content
    byte-identical — the plain-parquet OPTIMIZE ZORDER BY."""
    import glob

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    path = str(tmp_path / "frag")
    # simulate incremental-append fragmentation: 40 tiny unclustered files
    sinks.write_parquet(li.repartition(40), path)
    assert len(glob.glob(f"{path}/*.parquet")) >= 40

    want = li.orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
    n = sinks.compact(spark, path, "l_partkey", "l_suppkey")
    from oxidsql_spark.versioned import VersionedTable, read_artifact

    files = VersionedTable(spark, path).files()
    assert len(files) == n and n < 40

    def mean_span(col):
        df = read_artifact(spark, path)
        lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
        per_file = (
            df.groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .collect()[0][0]
        )
        return per_file / (hi - lo)

    # content identical, clustering restored on both z dimensions
    got = read_artifact(spark, path).orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
    assert got == want
    if n >= 4:  # spans only meaningful with several files
        assert mean_span("l_partkey") < 0.7 and mean_span("l_suppkey") < 0.7


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC: content roundtrip is exact and filters/columns reach the
    ORC scan (PushedFilters + pruned schema) just like parquet."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    p = str(tmp_path / "orc")
    sinks.write_orc(li, p)
    back = sinks.read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))
    q = back.filter(F.col("l_partkey") == 7).select("l_orderkey")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_partkey" in plan.split("PushedFilters")[1][:120]
    assert "l_quantity" not in plan.split("ReadSchema")[1][:200]


def test_stats_manifest_skipping(spark, sf_dir, tmp_path):
    """File-level data skipping: the manifest scan must (a) return
    exactly the full-scan answer, (b) read strictly fewer files than the
    table holds for a selective range, (c) keep all-NULL-stats files
    conservatively, and (d) reject a stale manifest."""
    path = str(tmp_path / "skip_orders")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    sinks.write_skipping(o, path, "o_totalprice", n_files=8)

    lo_all, hi_all = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    lo = lo_all + (hi_all - lo_all) * 0.4
    hi = lo_all + (hi_all - lo_all) * 0.6
    got, stats = sinks.scan_skipping(spark, path, "o_totalprice", lo, hi)
    want = o.filter(F.col("o_totalprice").between(lo, hi))
    assert _rows(got.select(*want.columns)) == _rows(want)
    assert stats["files_total"] >= 8
    assert 0 < stats["files_read"] < stats["files_total"]

    # empty-overlap range: zero files read, empty result, schema intact
    empty, st2 = sinks.scan_skipping(spark, path, "o_totalprice", hi_all + 1, hi_all + 2)
    assert st2["files_read"] == 0 and empty.count() == 0
    assert set(empty.columns) == set(o.columns)

    # stale manifest (file set changed underneath) must be detected
    o.limit(10).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="stale"):
        sinks.scan_skipping(spark, path, "o_totalprice", lo, hi)


def test_stats_manifest_null_column_chunk_kept(spark, sf_dir, tmp_path):
    """A file whose stats column is entirely NULL has NULL min/max; the
    planner cannot rule it out and must keep it (correctness comes from
    the residual filter)."""
    path = str(tmp_path / "skip_nulls")
    df = spark.range(100).select(
        F.col("id"), F.when(F.col("id") < 0, F.col("id")).alias("v")
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    spark.range(100, 200).select(
        F.col("id"), F.col("id").cast("long").alias("v")
    ).coalesce(1).write.mode("append").parquet(path)
    sinks.write_stats_manifest(spark, path, "v")
    got, stats = sinks.scan_skipping(spark, path, "v", 150, 160)
    assert stats["files_total"] == 2 and stats["files_read"] == 2
    assert got.count() == 11
