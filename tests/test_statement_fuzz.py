"""Differential, stateful fuzz of the durable statement surface against
DuckDB.

A hypothesis ``RuleBasedStateMachine`` drives an ``OxidSparkDatabase``
with a storage dir and an in-memory DuckDB with the same random
statements: INSERT … VALUES and INSERT … SELECT with NULLs, DELETE and
UPDATE under AND-connected comparison predicates (NULL operands
included), TRUNCATE, ``VACUUM … RETAIN k``, reopening the storage dir
and ``VERSION AS OF v``.  Some INSERT rows and UPDATE assignments break
a column's type: a string over the VARCHAR(6) cap, or a value out of
the SMALLINT range.  DuckDB rejects the SMALLINT ones itself but keeps
no VARCHAR(n) cap, so a statement whose DuckDB result holds an
over-length string is rolled back there.  Whenever DuckDB's side is
rejected, the facade must reject the statement too and commit nothing.
After every step:

* the table equals DuckDB's as a multiset;
* ``OnlineTableStats.rowcount`` is exact;
* each column's ``ndv()`` is within the CountingHLL bound below of the
  exact distinct count;
* every sample row is a live row;
* every file a kept manifest references exists.

The default profile runs inside Tier-1; ``RUN_SLOW_TESTS=1`` runs the
long one.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, initialize, invariant, rule

from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase

_COLS = ("a", "b", "c", "s")
_CAP = 6
_DDL = f"CREATE TABLE t (a BIGINT, b INT, c SMALLINT, s VARCHAR({_CAP}))"
_DUCK_DDL = "CREATE TABLE t (a BIGINT, b INTEGER, c SMALLINT, s VARCHAR)"

_INT = {"a": st.integers(-5, 30), "b": st.integers(-3, 8), "c": st.integers(0, 5)}
_STR = st.sampled_from(["", "a", "b", "ab", "ba", "abc"])
_OPS = st.sampled_from(["=", "<>", "<", "<=", ">", ">="])


def _lit(v) -> str:
    if v is None:
        return "NULL"
    return f"'{v}'" if isinstance(v, str) else str(v)


def _values(row) -> str:
    return f"({', '.join(map(_lit, row))})"


_ROW = st.tuples(
    *[st.one_of(st.none(), _INT[c]) for c in "abc"], st.one_of(st.none(), _STR)
).map(_values)
# one value over the VARCHAR cap or out of the SMALLINT range
_BAD_ROW = st.one_of(
    st.tuples(_INT["a"], _INT["b"], _INT["c"], st.sampled_from(["abcdefg", "bbbbbbbbb"])),
    st.tuples(_INT["a"], _INT["b"], st.sampled_from([-32769, 32768, 40000]), _STR),
).map(_values)


@st.composite
def _atom(draw) -> str:
    """One comparison: column against a literal (most often), another
    column, or a NULL operand; or an IS [NOT] NULL test."""
    col = draw(st.sampled_from(_COLS))
    kind = draw(st.integers(0, 9))
    if kind == 0:
        return f"{col} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
    if kind == 1:
        rhs = "NULL"
    elif kind < 4 and col != "s":
        rhs = draw(st.sampled_from([c for c in "abc" if c != col]))
    else:
        rhs = _lit(draw(_STR if col == "s" else _INT[col]))
    return f"{col} {draw(_OPS)} {rhs}"


_PRED = st.lists(_atom(), min_size=1, max_size=2).map(" AND ".join)
_SET = st.sampled_from(
    ["b = b + 1", "a = a - 7", "s = 'ba'", "s = NULL", "c = NULL", "b = c", "c = c + 1"]
)
# over the cap or out of range on every row they touch, or (``||``) only
# on rows whose string is 2 or more long
_BAD_SET = st.sampled_from(["s = 'abcdefg'", "s = s || 'abcde'", "c = c + 40000"])

# |ndv - exact| <= 2 + exact / 10.  In the linear-counting range the
# 1024-bucket sketch's standard error is sqrt(m (e^t - t - 1)), t = n/m:
# about 2.3 at 100 distinct values, so the bound is over 4 sigma there.
_NDV_SLACK, _NDV_REL = 2, 0.1


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


class StatementMachine(RuleBasedStateMachine):
    spark = None
    tmp = None
    rejected = 0  # statements both sides rejected, over all examples

    def __init__(self):
        super().__init__()
        self.store = str(self.tmp.mktemp("fuzz_db"))
        self.db = OxidSparkDatabase(self.spark, storage_dir=self.store)
        self.duck = duckdb.connect()
        self.db.query(_DDL)
        self.duck.execute(_DUCK_DDL)
        self.history: dict[int, Counter] = {}
        self._committed()

    def teardown(self):
        self.duck.close()
        self.db.query("DROP TABLE t")

    def _model(self) -> Counter:
        return Counter(self.duck.execute("SELECT a, b, c, s FROM t").fetchall())

    def _committed(self) -> None:
        """Every statement below commits exactly one version."""
        self.history[self.db._vt("t").latest_version()] = self._model()

    def _both(self, sql: str, duck_sql: str | None = None) -> None:
        self.duck.execute("BEGIN TRANSACTION")
        try:
            self.duck.execute(duck_sql or sql)
            q = f"SELECT count(*) FROM t WHERE length(s) > {_CAP}"
            ok = not self.duck.execute(q).fetchone()[0]
        except duckdb.Error:  # SMALLINT range
            ok = False
        self.duck.execute("COMMIT" if ok else "ROLLBACK")
        if ok:
            self.db.query(sql)
            self._committed()
            return
        version = self.db._vt("t").latest_version()
        with pytest.raises(AnalyzerError):
            self.db.query(sql)
        assert self.db._vt("t").latest_version() == version, sql
        type(self).rejected += 1

    @initialize(rows=st.lists(_ROW, min_size=3, max_size=8))
    def seed_rows(self, rows):
        self._both(f"INSERT INTO t VALUES {', '.join(rows)}")

    # One rule draws each step's kind from fixed shares: hypothesis
    # switches whole rules off per example, which in a short run left
    # most examples with one or two kinds of step.
    @rule(
        kind=st.integers(0, 23),
        rows=st.lists(_ROW, min_size=1, max_size=4),
        pred=_PRED,
        sets=st.lists(_SET, min_size=1, max_size=2, unique_by=lambda s: s[0]),
        n=st.integers(1, 40),
        bad_row=_BAD_ROW,
        bad_set=_BAD_SET,
    )
    def step(self, kind, rows, pred, sets, n, bad_row, bad_set):
        if kind >= 22:
            self._both(f"UPDATE t SET {bad_set} WHERE {pred}")
        elif kind >= 20:
            self._both(f"INSERT INTO t VALUES {', '.join([*rows, bad_row])}")
        elif kind < 5:
            self._both(f"INSERT INTO t VALUES {', '.join(rows)}")
        elif kind < 8:
            if n % 2:  # unnamed columns backfill NULL
                self._both(f"INSERT INTO t (a, s) SELECT a + {n}, s FROM t WHERE {pred}")
            else:
                self._both(f"INSERT INTO t SELECT a + {n}, CAST(NULL AS INT), c, s FROM t WHERE {pred}")
        elif kind < 11:
            self._both("DELETE FROM t" + (f" WHERE {pred}" if n > 4 else ""))
        elif kind < 14:
            self._both(f"UPDATE t SET {', '.join(sets)} WHERE {pred}")
        elif kind == 14:
            self._both("TRUNCATE TABLE t", "DELETE FROM t")
        elif kind == 15:
            self._vacuum(1 + n % 3)
        elif kind == 16:
            self.db = OxidSparkDatabase(self.spark, storage_dir=self.store)
        elif kind == 17:
            vs = sorted(self.history)
            v = vs[n % len(vs)]
            got = _rows(self.db.query(f"SELECT a, b, c, s FROM t VERSION AS OF {v}"))
            assert got == self.history[v], v
        else:
            sql = f"SELECT a, b, c, s FROM t WHERE {pred}"
            assert _rows(self.db.query(sql)) == Counter(self.duck.execute(sql).fetchall()), sql

    def _vacuum(self, keep: int) -> None:
        kept = sorted(self.history)[-keep:]
        removed = [r[0] for r in self.db.query(f"VACUUM t RETAIN {keep} VERSIONS").collect()]
        assert sorted(removed) == sorted(v for v in self.history if v not in kept)
        self.history = {v: self.history[v] for v in kept}
        assert self.db._vt("t").versions() == kept

    @invariant()
    def table_and_statistics_match(self):
        want = self._model()
        assert _rows(self.db.query("SELECT a, b, c, s FROM t")) == want
        st_ = self.db.stats("t")
        assert st_.rowcount == sum(want.values())
        for i, col in enumerate(_COLS):
            exact = len({r[i] for r in want if r[i] is not None})
            est = st_.ndv(col)
            assert abs(est - exact) <= _NDV_SLACK + _NDV_REL * exact, (col, est, exact)
        sample = Counter(tuple(r) for r in st_.sample_df().collect())
        assert not sample - want, sample - want

    @invariant()
    def kept_manifests_reference_existing_files(self):
        vt = self.db._vt("t")
        for v in vt.versions():
            for f in vt.files(v):
                assert os.path.exists(f), (v, f)


def test_statement_fuzz_matches_duckdb(spark, tmp_path_factory):
    from hypothesis.stateful import run_state_machine_as_test

    slow = os.environ.get("RUN_SLOW_TESTS") == "1"
    StatementMachine.spark = spark
    StatementMachine.tmp = tmp_path_factory
    StatementMachine.rejected = 0
    run_state_machine_as_test(
        StatementMachine,
        settings=settings(
            max_examples=12 if slow else 6,
            stateful_step_count=25 if slow else 10,
            derandomize=True,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
    assert StatementMachine.rejected > 0  # the rejection path ran
