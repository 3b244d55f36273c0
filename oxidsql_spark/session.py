"""SparkSession factory.

The reference is single-threaded by design (volcano_style.rs:7); we instead
configure Spark the way a 1000-executor cluster job would be configured and
let local[N] stand in for the cluster:

* AQE on — runtime coalescing + skew-join splitting replaces any
  hand-tuned partition count at 100 TB.
* CBO + join reorder on — the Catalyst twin of the reference's DPccp
  join-order optimizer (src/optimizer/optimizer.rs:60-104).
* Arrow on — every pandas_udf / toPandas crosses the JVM<->Python
  boundary in columnar batches.
* shuffle.partitions defaults to the local core count; on a real cluster
  AQE's coalescing makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "oxidsql-spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Runtime bloom-filter join reduction: a selective dimension
        # filter is pushed as a bloom of its join keys into the fact
        # scan BEFORE the shuffle — the single biggest IO saver for
        # selective star joins at 100 TB. Self-gating: only injects for
        # shuffle joins whose application side exceeds the (default
        # 10 GB) scan threshold, so local runs are unaffected.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Allow shuffled-hash join where the per-partition build side
        # fits (r14 opt round, guide §3.1): sort-merge pays two sorts
        # the hash build skips; the self-join-heavy dedup family
        # (audio/video shingle joins, curate's scoring joins) planned
        # SMJs purely from this preference.  AQE's skew splitting and
        # size-checked SHJ conditions keep the OOM risk bounded — the
        # same trade the optimization guide's baseline config makes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # zstd for every parquet this engine writes (guide §6): smaller
        # files than snappy at similar read speed — artifact stores,
        # segment indexes, versioned snapshots all inherit it.  Read
        # paths are codec-agnostic, so fixtures/oracles are unaffected.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.warehouse.dir", "/tmp/oxidsql-warehouse")
        # partition-scoped overwrites (the plain-parquet UPDATE/DELETE path)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Iterative operators (graph.py) release their localCheckpoint
    # generations deliberately; Spark logs an expected "lineage has been
    # truncated" WARN per release — informational here (the scope
    # contract already declares released results consumed), so keep it
    # out of bench/driver logs.
    # Side artifacts such as `sinks.write_stats_manifest`'s live in
    # `_`-prefixed dirs; Spark's hidden-path rule matches the prefix and
    # WARNs "All paths were ignored" on every read of one, although the
    # read does use the path.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.rdd.MapPartitionsRDD",
            "org.apache.spark.sql.execution.datasources.DataSource",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # cosmetic only; any log4j API drift must not block sessions
    return spark
