"""Differential, stateful fuzz of the durable statement surface against
DuckDB.

A hypothesis ``RuleBasedStateMachine`` drives an ``OxidSparkDatabase``
with a storage dir and an in-memory DuckDB with the same random
statements: INSERT … VALUES and INSERT … SELECT with NULLs, DELETE and
UPDATE under AND-connected comparison predicates (NULL operands
included), TRUNCATE, ``VACUUM … RETAIN k``, reopening the storage dir
and ``VERSION AS OF v``.  After every step:

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
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, initialize, invariant, rule

from oxidsql_spark.database import OxidSparkDatabase

_COLS = ("a", "b", "c", "s")
_DDL = "CREATE TABLE t (a BIGINT, b INT, c SMALLINT, s VARCHAR(6))"
_DUCK_DDL = "CREATE TABLE t (a BIGINT, b INTEGER, c SMALLINT, s VARCHAR)"

_INT = {"a": st.integers(-5, 30), "b": st.integers(-3, 8), "c": st.integers(0, 5)}
_STR = st.sampled_from(["", "a", "b", "ab", "ba", "abc"])
_OPS = st.sampled_from(["=", "<>", "<", "<=", ">", ">="])


def _lit(v) -> str:
    if v is None:
        return "NULL"
    return f"'{v}'" if isinstance(v, str) else str(v)


_ROW = st.tuples(
    *[st.one_of(st.none(), _INT[c]) for c in "abc"], st.one_of(st.none(), _STR)
).map(lambda r: f"({', '.join(map(_lit, r))})")


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

# |ndv - exact| <= 2 + exact / 10.  In the linear-counting range the
# 1024-bucket sketch's standard error is sqrt(m (e^t - t - 1)), t = n/m:
# about 2.3 at 100 distinct values, so the bound is over 4 sigma there.
_NDV_SLACK, _NDV_REL = 2, 0.1


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


class StatementMachine(RuleBasedStateMachine):
    spark = None
    tmp = None

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
        self.db.query(sql)
        self.duck.execute(duck_sql or sql)
        self._committed()

    @initialize(rows=st.lists(_ROW, min_size=3, max_size=8))
    def seed_rows(self, rows):
        self._both(f"INSERT INTO t VALUES {', '.join(rows)}")

    # One rule draws each step's kind from fixed shares: hypothesis
    # switches whole rules off per example, which in a short run left
    # most examples with one or two kinds of step.
    @rule(
        kind=st.integers(0, 19),
        rows=st.lists(_ROW, min_size=1, max_size=4),
        pred=_PRED,
        sets=st.lists(_SET, min_size=1, max_size=2, unique_by=lambda s: s[0]),
        n=st.integers(1, 40),
    )
    def step(self, kind, rows, pred, sets, n):
        if kind < 5:
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
