"""Driver rows enter Spark only through ``functions.local_rows_df``: an
Arrow-built ``LocalRelation`` that must equal the pickled-list build
value for value (timestamps included, under any process or session
zone), must plan as ``LocalTableScan`` on every facade / statistics
surface, and must be the only ``createDataFrame`` call in the package.
"""

from __future__ import annotations

import ast
import datetime
import decimal
import os
import time
from pathlib import Path

import pytest

from oxidsql_spark.database import OxidSparkDatabase
from oxidsql_spark.functions import local_rows_df

PKG = Path(__file__).resolve().parent.parent / "oxidsql_spark"

ALL_TYPES = (
    "s smallint, i int, b bigint, str string, bin binary, d double, f float, "
    "dt date, dec decimal(18,4), bo boolean, ts timestamp, "
    "ad array<double>, al array<bigint>"
)


def _all_type_rows():
    return [
        (
            1, 2, 3, "a", b"\x00\xff", 1.5, 2.25,
            datetime.date(2024, 2, 29), decimal.Decimal("12.3456"), True,
            datetime.datetime(2024, 3, 10, 5, 6, 7, 123456),
            [1.0, -0.5], [1, 2, 3],
        ),
        (
            -32768, -(2**31), -(2**63), "", b"", float("nan"), float("-inf"),
            datetime.date(1969, 12, 31), decimal.Decimal("-0.0001"), False,
            datetime.datetime(1965, 7, 1, 23, 59, 59),
            [float("nan"), None], [],
        ),
        (None,) * 13,
    ]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count()


@pytest.fixture
def local_tz(spark):
    """Run the body with a non-UTC PROCESS zone (what the list path and
    ``collect()`` read naive datetimes in) and a third, different
    SESSION zone, then restore both."""
    old_tz = os.environ.get("TZ")
    old_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        yield
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)


def test_equals_list_build_for_every_type(spark):
    rows = _all_type_rows()
    _assert_same(local_rows_df(spark, rows, ALL_TYPES), spark.createDataFrame(rows, ALL_TYPES))


def test_equals_list_build_under_non_utc_zones(spark, local_tz):
    rows = _all_type_rows()
    _assert_same(local_rows_df(spark, rows, ALL_TYPES), spark.createDataFrame(rows, ALL_TYPES))


def test_empty_rows_keep_the_schema(spark):
    df = local_rows_df(spark, [], ALL_TYPES)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], ALL_TYPES).schema
    assert "ExistingRDD" not in _plan(df)


def test_timestamp_round_trip_under_non_utc_zone(spark, local_tz):
    """collect() hands back process-local naive datetimes; feeding them
    back in must land on the same instant, nested ones included (an
    unlocalized Arrow build moved 05:06:07 to 00:06:07 under
    America/New_York)."""
    src = spark.sql(
        "SELECT k, ts, named_struct('t', ts) AS st, array(ts) AS a, map('m', ts) AS m "
        "FROM VALUES (1, TIMESTAMP'2024-01-02 10:06:07.5 UTC'), "
        "(2, TIMESTAMP'2024-07-02 09:06:07 UTC'), (3, CAST(NULL AS TIMESTAMP)) AS t(k, ts)"
    )
    collected = src.collect()
    assert collected[0].ts == datetime.datetime(2024, 1, 2, 5, 6, 7, 500000)
    schema = (
        "k int, ts timestamp, st struct<t: timestamp>, a array<timestamp>, "
        "m map<string, timestamp>"
    )
    back = local_rows_df(spark, collected, schema)
    assert sorted(back.collect(), key=lambda r: r.k) == sorted(collected, key=lambda r: r.k)
    no_map, src_no_map = back.drop("m"), src.drop("m")  # EXCEPT rejects MAP columns
    assert no_map.exceptAll(src_no_map).count() == 0
    assert src_no_map.exceptAll(no_map).count() == 0
    _assert_same(no_map, spark.createDataFrame(collected, schema).drop("m"))


def test_facade_and_stats_frames_are_local_relations(spark, tmp_path):
    """Result relations, the buffered INSERT view and the statistics
    sample execute as LocalTableScan — no Python RDD scan anywhere."""
    mem = OxidSparkDatabase(spark)
    mem.query("CREATE TABLE lr_mem (id INT, name VARCHAR(8))")
    mem.query("INSERT INTO lr_mem VALUES (1, 'a'), (2, 'b')")
    mem.query("INSERT INTO lr_mem VALUES (3, NULL)")
    buffered = mem.sql("SELECT * FROM lr_mem")
    assert sorted(r.id for r in buffered.collect()) == [1, 2, 3]

    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE lr_dur (id INT, v BIGINT)")
    for i in range(3):
        db.query(f"INSERT INTO lr_dur VALUES ({i}, {i * 10})")
    frames = {
        "buffered insert view": buffered,
        "show tables": db.query("SHOW TABLES"),
        "vacuum": db.query("VACUUM lr_dur RETAIN 1 VERSIONS"),
        "explain": db.query("EXPLAIN SELECT * FROM lr_dur WHERE id > 0"),
        "describe history": db.query("DESCRIBE HISTORY lr_dur"),
        "stats sample": db.stats("lr_dur").sample_df(),
    }
    for what, df in frames.items():
        df.collect()
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (what, plan)
    assert sorted(r.id for r in db.stats("lr_dur").sample_df().collect()) == [0, 1, 2]


def _create_df_calls(path: Path):
    """(line, enclosing function) of every ``.createDataFrame(`` call."""
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((child.lineno, fn))
            visit(child, fn)

    visit(tree, None)
    return out


def test_no_create_dataframe_outside_local_rows_df():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line} (in {fn})"
        for p in sorted(PKG.rglob("*.py"))
        for line, fn in _create_df_calls(p)
        if not (p == PKG / "functions" / "__init__.py" and fn == "local_rows_df")
    ]
    assert not offenders, "driver rows must go through functions.local_rows_df: " + ", ".join(
        offenders
    )
