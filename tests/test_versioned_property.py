"""Property-based check of VersionedTable: a random sequence of
write / upsert / delete / rollback operations (delete and rollback
expressed as writes of a filtered / older version) must match an
in-memory dict model at every step, and time travel must reproduce
every recorded historical state.

Mirrors the reference's seeded-randomized statistics tests
(sampling.rs:558-832 discipline: determinism first), applied to the
snapshot/rollback machinery the reference only TODO-lists
(src/transaction/mod.rs:2-13).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from oxidsql_spark.versioned import VersionedTable

_KEYS = st.integers(min_value=0, max_value=9)
_VALS = st.integers(min_value=-100, max_value=100)

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), st.dictionaries(_KEYS, _VALS, min_size=1, max_size=4)),
        st.tuples(st.just("delete_ge"), _VALS),
        st.tuples(st.just("rollback_latest_minus"), st.integers(0, 2)),
    ),
    min_size=1,
    max_size=6,
)


def _read_model(vt: VersionedTable, version=None) -> dict[int, int]:
    return {r.k: r.v for r in vt.read(version).collect()}


@settings(
    derandomize=True,
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_versioned_matches_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("vt_prop"))
    vt = VersionedTable(spark, path)
    model: dict[int, int] = {0: 0, 1: 10}
    vt.write(spark.createDataFrame(sorted(model.items()), "k long, v long"))
    history: dict[int, dict[int, int]] = {vt.latest_version(): dict(model)}

    for op, arg in ops:
        if op == "upsert":
            vt.upsert(spark.createDataFrame(sorted(arg.items()), "k long, v long"), "k")
            model.update(arg)
        elif op == "delete_ge":
            from pyspark.sql import functions as F

            cond = F.col("v") >= arg
            vt.write(vt.read().filter(~cond.eqNullSafe(True)))
            model = {k: v for k, v in model.items() if v < arg}
        else:  # rollback_latest_minus
            versions = vt.versions()
            target = versions[max(0, len(versions) - 1 - arg)]
            vt.write(vt.read(target))
            model = dict(history[target])
        history[vt.latest_version()] = dict(model)
        assert _read_model(vt) == model, f"after {op}({arg})"

    # time travel: every recorded version reproduces its historical state
    for version, state in history.items():
        assert _read_model(vt, version) == state, f"time travel to v{version}"


_POPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.lists(
                st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
                min_size=1,
                max_size=5,
                unique_by=lambda t: t[0],
            ),
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    derandomize=True,
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_POPS)
def test_partitioned_versioned_matches_model(spark, tmp_path_factory, ops):
    """Partitioned VersionedTable upserts (only touched partitions
    advance) must match a dict model keyed by k, and every partition
    read must equal the model's slice."""
    path = str(tmp_path_factory.mktemp("pvt_prop"))
    pvt = VersionedTable(spark, path, "part")
    model = {0: ("a", 0), 1: ("b", 10)}  # k -> (part, v)
    pvt.write(
        spark.createDataFrame(
            [(k, p, v) for k, (p, v) in sorted(model.items())], "k long, part string, v long"
        )
    )
    for _, rows in ops:
        pvt.upsert(
            spark.createDataFrame(sorted(rows), "k long, part string, v long"), "k"
        )
        for k, p, v in rows:
            model[k] = (p, v)
        got = {r.k: (r.part, r.v) for r in pvt.read().collect()}
        assert got == model
    for p in ("a", "b", "c"):
        want = {k: (pp, v) for k, (pp, v) in model.items() if pp == p}
        got = {r.k: (r.part, r.v) for r in pvt.read_partitions([p]).collect()}
        assert got == want
