"""oxidsql_spark — a PySpark-native analytics engine with the capability
surface of mzinsmeister/OxidSQL, extended to a 100 TB-scale data-pipeline
engine.

The reference (/root/reference, Rust) implements a volcano-style
single-node engine: tablescan, selection, projection, hash equi-join,
inline table, insert, create table (src/execution/plan.rs:29-68).  Here
every one of those capabilities — and the extensions its README TODO-lists
(GROUP BY, ORDER BY, LIMIT, functions, set ops) — is expressed as
declarative PySpark DataFrame / Spark SQL plans so Catalyst + Tungsten
choose the physical strategy (broadcast vs shuffle join, whole-stage
codegen, AQE re-planning).  Nothing is interpreted tuple-at-a-time.

Layout:
  session.py    — SparkSession factory (CBO/AQE/Arrow/runtime-filter configs)
  sources/      — parquet table loaders (the driver's TPC-H-ish testdata)
  registry.py   — query registry: name -> (spark_fn, duckdb oracle SQL)
  operators/    — relational + tpch + corpus + dedup + similarity + text
                  + multimodal + graph ops
  functions/    — reusable column expressions (vector math, text stats)
  streaming/    — Structured Streaming twins of the batch event queries
  database.py   — OxidSQL-parity SQL facade (CREATE/INSERT/SELECT/DML/EXPLAIN)
  statistics.py — sample-based selectivity, partial-match fallback, and a
                  delete-capable Counting-HLL (reference §4 twins)
  versioned.py  — manifest-versioned tables (time travel, MERGE, vacuum)
  sinks.py      — format writers, bucketed/partitioned layout, compaction
  pipeline.py   — end-to-end training-corpus composition
  plans/        — plan introspection (pushdown/join/exchange summary)
"""

__version__ = "0.3.0"
