"""Incrementally-maintained materialized aggregate views.

The reference recomputes every query from base tables on every run
(volcano execution over heap scans, /root/reference/src/execution/
volcano_style.rs) — there is no materialization layer at all.  At
100 TB the dominant dashboard/reporting pattern is an aggregate whose
base table only ever grows by appended batches; recomputing it means
rescanning 100 TB to fold in a 100 GB delta.  This module keeps the
standard warehouse answer: store per-group PARTIAL aggregates and fold
each appended batch into them.

Design:

* the view state is one row per group holding mergeable partials —
  ``cnt`` plus ``sum_* / min_* / max_*`` per measure.  All four merge
  associatively, so refresh = aggregate the DELTA, union with current
  state, re-aggregate by key — cost bounded by ``|delta| + |groups|``,
  never by the base table;
* state lives in a ``versioned.VersionedTable``: every refresh commits
  a new version (one manifest file — object-store safe, no renames),
  readers are never torn, and ``history()``/time travel come for free;
* the contract is APPEND-ONLY deltas.  ``sum``/``cnt`` could absorb
  retractions, but ``min``/``max`` cannot (dropping the current min
  needs the base data) — the standard IMV limitation; deletes require
  ``rebuild()``.  Spark's own streaming aggregation makes the same
  trade (complete recompute per key from state, no distributive min
  retraction);
* derived measures (``avg = sum/cnt``) are computed at READ time from
  the partials, the same split Spark's partial_avg/final_avg physical
  aggregation uses.

Money sums go through DECIMAL(18,2) (``sources.dec2``) so a refresh
chain is bit-identical to a full recompute at any parallelism — the
equivalence the oracle-checked ``orders_matview_refresh`` query proves
end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .segstore import marked_sink
from .versioned import VersionedTable


class AggView:
    """A materialized aggregate view with append-only incremental
    refresh.  ``keys`` are the group-by columns; ``measures`` maps a
    measure name to the (pre-cast) column expression to aggregate."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        measures: dict[str, F.Column],
    ):
        self.spark = spark
        self.keys = list(keys)
        self.measures = dict(measures)
        self._store = VersionedTable(spark, path)

    # -- partial aggregation (shared by create / refresh / rebuild) ------

    def _stabilize(self, df: DataFrame) -> DataFrame:
        """Pin every ``sum_*`` column to a refresh-depth-independent
        type.  Spark widens decimal sums per aggregation level
        (DECIMAL(18,2) → (28,2) → (38,2)), so without this a view
        refreshed N times would carry a different schema — and a
        different ``avg`` division scale — than a freshly-created one,
        breaking refresh ≡ recompute bit-equality."""
        from pyspark.sql.types import DecimalType

        for f in df.schema.fields:
            if f.name.startswith("sum_") and isinstance(f.dataType, DecimalType):
                df = df.withColumn(
                    f.name, F.col(f.name).cast(DecimalType(38, f.dataType.scale))
                )
        return df

    def _partials(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("cnt")]
        for name, col in self.measures.items():
            aggs.append(F.sum(col).alias(f"sum_{name}"))
            aggs.append(F.min(col).alias(f"min_{name}"))
            aggs.append(F.max(col).alias(f"max_{name}"))
        return self._stabilize(df.groupBy(*self.keys).agg(*aggs))

    def _merge(self, parts: DataFrame) -> DataFrame:
        aggs = [F.sum("cnt").alias("cnt")]
        for name in self.measures:
            aggs.append(F.sum(f"sum_{name}").alias(f"sum_{name}"))
            aggs.append(F.min(f"min_{name}").alias(f"min_{name}"))
            aggs.append(F.max(f"max_{name}").alias(f"max_{name}"))
        return self._stabilize(parts.groupBy(*self.keys).agg(*aggs))

    # -- lifecycle --------------------------------------------------------

    def create(self, base: DataFrame) -> int:
        """Full initial materialization; returns the committed version."""
        return self._store.write(self._partials(base))

    def refresh(self, delta: DataFrame) -> int:
        """Fold an APPENDED batch into the view: aggregate the delta,
        merge with current state by key.  The shuffle carries one row
        per affected group per partition (partial agg), plus the
        |groups| state rows — never the base table."""
        merged = self._merge(self._store.read().unionByName(self._partials(delta)))
        return self._store.write(merged)

    def rebuild(self, base: DataFrame) -> int:
        """Recompute from scratch (the recovery path after any
        non-append mutation of the base)."""
        return self._store.write(self._partials(base))

    def read(self, version: int | None = None) -> DataFrame:
        """Current (or time-traveled) view with derived averages:
        ``avg_<m> = sum_<m> / cnt`` computed at read time."""
        out = self._store.read(version)
        for name in self.measures:
            out = out.withColumn(
                f"avg_{name}", (F.col(f"sum_{name}") / F.col("cnt"))
            )
        return out

    def versions(self) -> list[int]:
        return self._store.versions()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop refresh versions beyond ``keep_last`` (same retention
        semantics as the base `VersionedTable`)."""
        return self._store.vacuum(keep_last=keep_last)


def _make_view_sink(view: AggView, view_path: str):
    """The idempotent foreachBatch sink for streaming view maintenance
    (exposed for the crash-replay tests, which drive it directly).
    AggView.refresh is NOT idempotent (it would double-count), so the
    fold rides segstore's batch-marker protocol."""
    return marked_sink(
        view_path,
        lambda: view._store.latest_version() or 0,
        lambda df: view.refresh(df) if view.versions() else view.create(df),
    )


def matview_apply_stream(
    spark: SparkSession, source_dir: str, view_path: str, checkpoint_dir: str
):
    """Streaming incremental view maintenance: each micro-batch of the
    events feed folds into a per-event-type aggregate view (`AggView`
    create on the first batch, `refresh` after) — one versioned commit
    per non-empty batch, so the view is continuously fresh at
    |delta| + |groups| cost per batch and its commit log is the refresh
    history (time travel = the view at any replay point).  Because
    refresh ≡ recompute is bit-exact (decimal partials, pinned types),
    the replayed stream's final view equals the one-shot
    materialization — tested over the 4-batch chunked replay — and the
    batch-marker protocol (``segstore.marked_sink``) makes the fold
    idempotent under foreachBatch's at-least-once redelivery (a crash
    between the view commit and the streaming checkpoint cannot
    double-count).  Returns the ready DataStreamWriter (caller
    .start()s it)."""
    from .streaming.events import _stream_source

    view = events_type_view(spark, view_path)
    return (
        _stream_source(spark, source_dir)
        .writeStream.foreachBatch(_make_view_sink(view, view_path))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def events_type_view(spark: SparkSession, path: str) -> AggView:
    """The per-event-type spend/volume view both the batch and the
    streaming maintenance paths share: COUNT(*) + SUM/MIN/MAX/AVG over
    exact DECIMAL(18,2) value."""
    from pyspark.sql import functions as F

    return AggView(
        spark,
        path,
        ["event_type"],
        {"value": F.col("value").cast("decimal(18,2)")},
    )
