"""UPDATE / DELETE / DROP — the reference's TODO list (README.md:51)
implemented as declarative rewrites."""

from __future__ import annotations

import pytest

from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase


@pytest.fixture()
def db(spark):
    d = OxidSparkDatabase(spark)
    d.query("CREATE TABLE t (id INT, v VARCHAR(20), n INT)")
    for row in ["(1, 'a', 10)", "(2, 'b', 20)", "(3, 'c', 30)", "(4, 'd', NULL)"]:
        d.query(f"INSERT INTO t VALUES {row}")
    return d


def test_delete_where(db):
    db.query("DELETE FROM t WHERE n >= 20")
    assert sorted(r.id for r in db.query("SELECT id FROM t").collect()) == [1, 4]


def test_delete_all(db):
    db.query("DELETE FROM t")
    assert db.query("SELECT * FROM t").count() == 0


def test_update_where(db):
    db.query("UPDATE t SET n = n + 100, v = 'upd' WHERE id <= 2")
    rows = {r.id: (r.v, r.n) for r in db.query("SELECT id, v, n FROM t").collect()}
    assert rows[1] == ("upd", 110)
    assert rows[2] == ("upd", 120)
    assert rows[3] == ("c", 30)
    assert rows[4] == ("d", None)


def test_update_all_rows(db):
    db.query("UPDATE t SET n = 0")
    assert {r.n for r in db.query("SELECT n FROM t").collect()} == {0}


def test_update_unknown_column(db):
    with pytest.raises(AnalyzerError, match="unknown column"):
        db.query("UPDATE t SET nope = 1")


def test_drop_table(db):
    db.query("DROP TABLE t")
    with pytest.raises(AnalyzerError, match="unknown table"):
        db.query("DELETE FROM t")
    # name is reusable after drop
    db.query("CREATE TABLE t (x INT)")
    db.query("INSERT INTO t VALUES (7)")
    assert db.query("SELECT x FROM t").collect()[0].x == 7


def test_delete_update_with_subquery_predicates(db):
    """DELETE/UPDATE predicates may reference other tables via IN /
    EXISTS subqueries (Catalyst resolves subquery expressions inside the
    rewrite's filter) — the cross-table mutation shape the reference's
    AND-only WHERE grammar could never express."""
    db.query("CREATE TABLE facts (id INTEGER, v INTEGER)")
    for i in range(6):
        db.query(f"INSERT INTO facts VALUES ({i}, {i * 10})")
    db.query("CREATE TABLE bad_ids (id INTEGER)")
    for i in (1, 3):
        db.query(f"INSERT INTO bad_ids VALUES ({i})")

    db.query("DELETE FROM facts WHERE id IN (SELECT id FROM bad_ids)")
    assert sorted(r.id for r in db.query("SELECT id FROM facts").collect()) == [0, 2, 4, 5]
    db.query("DELETE FROM facts WHERE EXISTS (SELECT 1 FROM bad_ids b WHERE b.id = facts.id + 1)")
    assert sorted(r.id for r in db.query("SELECT id FROM facts").collect()) == [4, 5]
    db.query("INSERT INTO facts VALUES (0, 0)")
    db.query("INSERT INTO facts VALUES (2, 20)")

    db.query(
        "UPDATE facts SET v = -1 WHERE EXISTS (SELECT 1 FROM bad_ids b WHERE b.id = facts.id - 1)"
    )
    got = {r.id: r.v for r in db.query("SELECT id, v FROM facts").collect()}
    assert got == {0: 0, 2: -1, 4: -1, 5: 50}
    db.query("DROP TABLE facts")
    db.query("DROP TABLE bad_ids")


@pytest.mark.parametrize("above_bound", [False, True])
def test_update_enforces_varchar_cap(spark, tmp_path, monkeypatch, above_bound):
    """A SET on a VARCHAR(n) column is rejected as INSERT rejects it
    (types.rs:182-191), on both sides of the driver-row bound: nothing is
    committed and the statistics stay as they were.  A SET that no row
    takes commits, and a value within the cap is written."""
    from oxidsql_spark import database

    if above_bound:
        monkeypatch.setattr(database, "_DRIVER_ROWS", -1)
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t (id INT, s VARCHAR(2))")
    db.query("INSERT INTO t VALUES (1, 'a'), (2, NULL)")
    version, blob = db._vt("t").latest_version(), db.stats("t").dumps()
    with pytest.raises(AnalyzerError, match=r"1 value\(s\) exceed VARCHAR\(2\)"):
        db.query("UPDATE t SET s = concat(s, 'bcdef') WHERE id > 0")
    assert db._vt("t").latest_version() == version
    assert db.stats("t").dumps() == blob
    db.query("UPDATE t SET s = 'abcdef' WHERE id > 5")
    db.query("UPDATE t SET s = 'zz', id = id + 1 WHERE id = 1")
    assert {r.s: r.id for r in db.query("SELECT id, s FROM t").collect()} == {None: 2, "zz": 2}


@pytest.mark.parametrize("above_bound", [False, True])
def test_integer_overflow_raises_analyzer_error(spark, tmp_path, monkeypatch, above_bound):
    """An UPDATE SET or INSERT … SELECT value out of an integer column's
    range raises the AnalyzerError INSERT … VALUES raises, on both sides
    of the driver-row bound: nothing is committed and the statistics
    describe the same rows.  A SET that no row takes commits."""
    from oxidsql_spark import database

    if above_bound:
        monkeypatch.setattr(database, "_DRIVER_ROWS", -1)
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t (id INT, c SMALLINT)")
    db.query("INSERT INTO t VALUES (1, 3), (2, NULL)")

    def state():
        st = db.stats("t")
        st.sample_df()  # buffered rows join the sample
        return st.rowcount, [st.ndv(c) for c in ("id", "c")], sorted(st._sample)

    version, stats = db._vt("t").latest_version(), state()
    for stmt, msg in [
        ("UPDATE t SET c = c + 40000 WHERE id > 0", "value 40003 out of range for smallint"),
        ("UPDATE t SET id = 2147483648 WHERE c IS NULL", "value 2147483648 out of range for int"),
        ("INSERT INTO t SELECT 3, 40000", "value 40000 out of range for smallint"),
    ]:
        with pytest.raises(AnalyzerError, match=msg):
            db.query(stmt)
        assert db._vt("t").latest_version() == version, stmt
        assert state() == stats, stmt
    db.query("UPDATE t SET c = c + 40000 WHERE id > 5")
    db.query("UPDATE t SET c = 32767 WHERE id = 1")
    assert sorted(map(tuple, db.query("SELECT id, c FROM t").collect()), key=str) == [(1, 32767), (2, None)]
