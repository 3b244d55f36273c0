"""Ad-hoc driver-gate mirror: run named registered queries against their
DuckDB oracles at a given sf dir and print match status.

Usage: python tools/check_oracle.py sf_dir name [name ...]
       python tools/check_oracle.py sf_dir ALL
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from oxidsql_spark.cachescope import release_scoped_caches  # noqa: E402
from oxidsql_spark.registry import load_all  # noqa: E402
from oxidsql_spark.session import get_spark  # noqa: E402
from oxidsql_spark.sources import TABLES  # noqa: E402


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    queries = load_all()
    if not names or names == ["ALL"]:
        names = list(queries)
    elif names == ["WINDOW"]:
        names = list(queries)[:50]  # the external harness's checked prefix
    spark = get_spark()
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = 0
    for name in names:
        q = queries[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            if q.oracle is None:
                print(f"{name}: NO_ORACLE rows={len(srows)} ({time.time()-t0:.1f}s)")
                continue
            res = duck.sql(q.oracle)
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
            rc = len(srows) == len(orows)
            sc = sorted(sdf.columns) == sorted(ocols)
            hc = rc and sc and _vhash(sdf.columns, srows) == _vhash(ocols, orows)
            ok = rc and sc and hc
            bad += not ok
            print(
                f"{name}: {'OK' if ok else 'MISMATCH'} rows={len(srows)}/{len(orows)} "
                f"schema={sc} hash={hc} ({time.time()-t0:.1f}s)"
            )
            if not sc:
                print(f"  spark cols: {sorted(sdf.columns)}\n  duck cols: {sorted(ocols)}")
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
        finally:
            # one JVM runs the whole sweep: a query's scoped persists
            # must not outlive it
            release_scoped_caches()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
