"""Per-process artifacts have one owner, ``oxidsql_spark.sources``:
``scratch_dir`` names them and removes them at exit, ``build_once``
builds and commits them, and ``artifact`` reads their leaves — listing a
rebuilt dir again instead of serving the listing of the files it
replaced.  No other module names a per-process path.
"""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from oxidsql_spark import sources
from oxidsql_spark.registry import load_all
from oxidsql_spark.sources import TABLES

from conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "oxidsql_spark"


def _ids(spark, path):
    return sorted(r.id for r in sources.artifact(spark, path).collect())


def test_rebuilt_artifact_is_listed_again(spark):
    """Delete a committed artifact and rebuild it with other rows in the
    same process: the leaf read must return the new rows, not fail on
    the vanished files of the first build."""

    def build(first, last):
        return lambda out: spark.range(first, last).write.parquet(os.path.join(out, "t"))

    path = sources.build_once("test_rebuild", "sf_test", build(0, 3))
    try:
        assert _ids(spark, os.path.join(path, "t")) == [0, 1, 2]
        assert sources.build_once("test_rebuild", "sf_test", build(50, 60)) == path
        assert _ids(spark, os.path.join(path, "t")) == [0, 1, 2]  # built once
        shutil.rmtree(path)
        sources.build_once("test_rebuild", "sf_test", build(10, 14))
        assert _ids(spark, os.path.join(path, "t")) == [10, 11, 12, 13]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ann_ivf_prepared_second_call(spark, sf_dir):
    """The registered query rebuilds its index on every call; the second
    call must read the rebuilt codebook, and the first call's DataFrame
    must still read its own."""
    q = load_all()["ann_ivf_prepared"]
    df1 = q.fn(spark, sf_dir)
    first = df1.count()
    assert first > 0
    assert q.fn(spark, sf_dir).count() == first
    assert df1.count() == first


def test_dead_process_dirs_are_swept():
    """The first scratch_dir call of a process removes the dirs, and their
    staging dirs, of processes that no longer exist — and nothing of a
    live process."""
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait(timeout=60)
    dead = proc.pid  # exited and reaped
    live = os.getpid()
    root = os.path.dirname(sources.scratch_dir("test_sweep", "sf_test"))
    paths = {
        p: os.path.join(root, p)
        for p in (
            f"oxidsql_test_sweep_sf_test_{dead}",
            f"oxidsql_test_sweep_sf_test_{dead}.building",
            f"oxidsql_test_sweep_sf_test_{live}",
            "oxidsql_benchbase_test_sweep_12345678",
        )
    }
    try:
        for p in paths.values():
            os.makedirs(os.path.join(p, "sub"))
        sources._SWEPT = False
        sources.scratch_dir("test_sweep", "sf_test")
        left = sorted(n for n, p in paths.items() if os.path.exists(p))
        assert left == [
            "oxidsql_benchbase_test_sweep_12345678",
            f"oxidsql_test_sweep_sf_test_{live}",
        ]
    finally:
        for p in paths.values():
            shutil.rmtree(p, ignore_errors=True)


def _copy_leaf(src: str, dst: str) -> None:
    """Copy table leaf ``src`` (a file) into ``dst`` as a dir leaf with
    one part file, so more part files can be added next to it."""
    os.makedirs(dst)
    shutil.copyfile(src, os.path.join(dst, "part-0.parquet"))


def test_input_fingerprint_tracks_every_leaf_file(tmp_path):
    """Two copies of one sf dir under the same basename get different
    fingerprints, and so does a dir whose leaf gains or rewrites a file;
    an untouched dir keeps its fingerprint."""
    a, b = tmp_path / "a" / "sf0.001", tmp_path / "b" / "sf0.001"
    for d in (a, b):
        d.mkdir(parents=True)
        for t in ("region", "nation"):
            shutil.copyfile(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
        _copy_leaf(f"{SF_DIR}/embeddings.parquet", str(d / "embeddings.parquet"))
    fa = sources.input_fingerprint(str(a))
    assert fa == sources.input_fingerprint(str(a))
    assert fa != sources.input_fingerprint(str(b))
    shutil.copyfile(f"{SF_DIR}/region.parquet", a / "embeddings.parquet" / "part-1.parquet")
    fa2 = sources.input_fingerprint(str(a))
    assert fa2 != fa
    (a / "nation.parquet").write_bytes((a / "nation.parquet").read_bytes() + b"\0")
    assert sources.input_fingerprint(str(a)) not in (fa, fa2)


def _oracle_rows(sf: str, oracle: str, cols: list[str]) -> list[tuple]:
    """The DuckDB oracle's rows over the leaves in ``sf`` (file or dir
    leaves), with its columns in the order ``cols``."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            leaf = f"{sf}/{t}.parquet"
            src = f"{leaf}/*.parquet" if os.path.isdir(leaf) else leaf
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        res = con.sql(oracle)
        pos = [[d[0] for d in res.description].index(c) for c in cols]
        return sorted(tuple(r[i] for i in pos) for r in res.fetchall())
    finally:
        con.close()


def test_pq_codebook_retrains_on_rewritten_input(spark, tmp_path):
    """ann_pq_adc over a copied sf dir; then the embeddings leaf gains a
    part file (copies of the first 300 vectors under new ids — the
    vec_id < 16 trainer seeds are untouched).  The second call must
    train into a new codebook dir, match the DuckDB oracle over the
    rewritten files, and leave the first call's DataFrame readable."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from oxidsql_spark.operators import similarity as S

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for t in TABLES:
        if t != "embeddings":
            shutil.copyfile(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    _copy_leaf(f"{SF_DIR}/embeddings.parquet", str(sf / "embeddings.parquet"))
    q = load_all()["ann_pq_adc"]
    books_root = sources.scratch_dir(S._PQ_BOOKS_KIND, str(sf))
    try:
        df1 = q.fn(spark, str(sf))
        first = sorted(tuple(r) for r in df1.collect())
        (v1,) = os.listdir(books_root)

        emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
        extra = emb.filter(pc.less(emb["vec_id"], 300))
        ids = pc.add(extra["vec_id"], 1_000_000).cast(emb.schema.field("vec_id").type)
        extra = extra.set_column(emb.schema.get_field_index("vec_id"), "vec_id", ids)
        pq.write_table(extra, sf / "embeddings.parquet" / "part-1.parquet")

        df2 = q.fn(spark, str(sf))
        got = sorted(tuple(r) for r in df2.collect())
        assert sorted(os.listdir(books_root)) == sorted([v1, sources.input_fingerprint(str(sf))])
        assert got == _oracle_rows(str(sf), q.oracle, df2.columns)
        assert any(r[df2.columns.index("vec_id")] >= 1_000_000 for r in got)
        assert got != first
        assert df1.count() == len(first)
    finally:
        shutil.rmtree(books_root, ignore_errors=True)


def test_warm_pq_adc_construction_runs_at_most_two_jobs(spark, sf_dir):
    """Once the codebook of an input version exists, building the
    ann_pq_adc DataFrame reads the codebook and the query rows and runs
    no trainer job."""
    q = load_all()["ann_pq_adc"]
    q.fn(spark, sf_dir).count()  # builds the codebook artifact
    sc = spark.sparkContext
    sc.setJobGroup("warm-pq-adc", "warm-pq-adc")
    try:
        q.fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("warm-pq-adc")) <= 2


_EXIT_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from oxidsql_spark.sources import build_once

def write(out):
    with open(os.path.join(out, "x"), "w") as fh:
        fh.write("ok")

path = build_once("test_exit", "sf_test", write)
assert open(os.path.join(path, "x")).read() == "ok"
print(path)
"""


def test_build_once_failure_and_exit_hygiene():
    """A build that raises leaves neither the dir nor its staging dir,
    and the next call builds; a committed dir is gone once its process
    exits normally."""

    def fail(out):
        with open(os.path.join(out, "x"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("build failed")

    kind_dir = sources.scratch_dir("test_fail", "sf_test")
    path = os.path.join(kind_dir, sources.input_fingerprint("sf_test"))
    try:
        with pytest.raises(RuntimeError, match="build failed"):
            sources.build_once("test_fail", "sf_test", fail)
        assert not os.path.exists(path)
        assert not os.path.exists(path + ".building")
        built = []
        assert sources.build_once("test_fail", "sf_test", built.append) == path
        assert built == [path + ".building"] and os.path.isdir(path)
    finally:
        shutil.rmtree(kind_dir, ignore_errors=True)

    proc = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    child_path = proc.stdout.strip().splitlines()[-1]
    kind_dir = os.path.dirname(child_path)
    assert os.path.basename(kind_dir).startswith("oxidsql_test_exit_sf_test_")
    assert not os.path.exists(kind_dir)


def _pid_and_tmp_uses(path: Path):
    """(line, what) of every ``os.getpid()`` call and ``"/tmp"`` literal."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getpid"
        ):
            out.append((node.lineno, "getpid()"))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and (node.value == "/tmp" or node.value.startswith("/tmp/"))
        ):
            out.append((node.lineno, repr(node.value)))
    return out


def test_per_process_paths_only_in_sources():
    allowed = {
        (PKG / "sources" / "__init__.py", None),
        (PKG / "session.py", "'/tmp/oxidsql-warehouse'"),
    }
    offenders = [
        f"{p.relative_to(REPO)}:{line} {what}"
        for p in sorted(PKG.rglob("*.py"))
        for line, what in _pid_and_tmp_uses(p)
        if (p, None) not in allowed and (p, what) not in allowed
    ]
    assert not offenders, (
        "per-process artifact paths come from sources.scratch_dir/build_once: "
        + ", ".join(offenders)
    )
