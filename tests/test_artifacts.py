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

import pytest

from oxidsql_spark import sources
from oxidsql_spark.registry import load_all

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
    call must read the rebuilt codebook."""
    q = load_all()["ann_ivf_prepared"]
    first = q.fn(spark, sf_dir).count()
    assert first > 0
    assert q.fn(spark, sf_dir).count() == first


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

    path = sources.scratch_dir("test_fail", "sf_test")
    try:
        with pytest.raises(RuntimeError, match="build failed"):
            sources.build_once("test_fail", "sf_test", fail)
        assert not os.path.exists(path)
        assert not os.path.exists(path + ".building")
        built = []
        assert sources.build_once("test_fail", "sf_test", built.append) == path
        assert built == [path + ".building"] and os.path.isdir(path)
    finally:
        shutil.rmtree(path, ignore_errors=True)

    proc = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    child_path = proc.stdout.strip().splitlines()[-1]
    assert os.path.basename(child_path).startswith("oxidsql_test_exit_sf_test_")
    assert not os.path.exists(child_path)


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
