"""Compare the benchmark's generated tables with reference fixture tables.

    python3 perfbench/fixture_check.py FIXTURE_DIR [--sf 0.01] [--heads]

FIXTURE_DIR holds one `<table>.parquet` per table of
`oxidsql_spark.sources.TABLES`, at scale factor --sf.  For every table it
prints the row counts, whether the schemas match and, per column, the
share of rows whose value equals the fixture's at the same position.
With --heads it also runs every llm_heads head on both sets of tables in
one local Spark session and prints, per head, the output row count, the
Spark jobs and tasks, the shuffle volume and the median latency of three
runs after one warm-up run.  Run it from the root of a source checkout.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402


def compare_tables(fixture_dir: str, gen) -> None:
    import pyarrow.parquet as pq

    for name, g in gen.items():
        f = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        same = f.schema.remove_metadata().equals(g.schema.remove_metadata())
        print(f"{name}: rows {f.num_rows} / {g.num_rows}, schema {'equal' if same else 'DIFFERS'}")
        for c in g.column_names:
            a, b = f[c].to_pylist(), g[c].to_pylist()
            eq = sum(x == y for x, y in zip(a, b)) / max(len(a), 1)
            print(f"  {c}: {eq:.3f} of values equal")


def compare_heads(fixture_dir: str, gen_dir: str) -> None:
    from oxidsql_spark.cachescope import release_scoped_caches
    from oxidsql_spark.registry import load_all
    from oxidsql_spark.session import get_spark
    from tracing import Tracer
    from workloads import LLM_HEADS

    spark = get_spark("perfbench-fixture-check", len(os.sched_getaffinity(0)))
    tracer = Tracer(spark)
    queries = load_all()
    print(f"{'head':26} {'input':8} {'rows':>6} {'jobs':>5} {'tasks':>6} {'shuffle_mb':>10} {'median_s':>9}")
    try:
        for head in LLM_HEADS:
            for tag, d in (("fixture", fixture_dir), ("datagen", gen_dir)):
                rows = queries[head].fn(spark, d).count()
                release_scoped_caches()
                lats = []
                for i in range(3):
                    tracer.enabled = True
                    with tracer.span("head", f"{tag}-{head}-{i}"):
                        t0 = time.perf_counter()
                        queries[head].fn(spark, d).write.format("noop").mode("overwrite").save()
                        lats.append(time.perf_counter() - t0)
                    tracer.enabled = False
                    release_scoped_caches()
                tracer.settle()
                st = tracer.job_stats(tracer.jobs_of(f"{tag}-{head}-0"))
                print(
                    f"{head:26} {tag:8} {rows:6d} {len(st['jobs']):5d} {st['tasks']:6d} "
                    f"{st['shuffle_mb']:10.3f} {statistics.median(lats):9.3f}"
                )
    finally:
        spark.stop()
        # the per-pid artifact dirs the engine writes to /tmp
        for p in glob.glob(os.path.join("/tmp", f"oxidsql_*_{os.getpid()}")):
            shutil.rmtree(p, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--heads", action="store_true")
    args = ap.parse_args()
    gen = datagen.tables(args.sf, args.seed)
    compare_tables(args.fixture_dir, gen)
    if args.heads:
        with tempfile.TemporaryDirectory() as tmp:
            datagen.write(tmp, args.sf, args.seed)
            compare_heads(args.fixture_dir, tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
