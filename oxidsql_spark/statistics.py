"""Statistics — the reference's 'crown jewels' (SURVEY §4), kept the
way the reference keeps them: online, advanced by every statement, with
no batch re-derivation step.

Reference machinery → Spark twin, all held by ``OnlineTableStats``:
* online cardinality counter (access/heap.rs:245-292) → ``rowcount``,
  moved by each statement's one signed fold;
* Counting-HLL ndv sketch per column (statistics/counting_hyperloglog.rs)
  → ``CountingHLL``, fed (bucket, rho) counts by ``_SignedCounter``:
  a projection over driver rows (no job) or one aggregation query;
* 1024-row reservoir sample (heap.rs:258-289, SAMPLE_SIZE
  catalog/mod.rs:37) → a bottom-k hash-priority sample, and
  ``estimate_cardinality`` reproducing estimate = matching/total,
  floored at base/(2·SAMPLE_SIZE) and 1 (bottomup.rs:159-161).

The count-min sketch at the end is a query operator (per-item
frequencies), not planner statistics.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import local_rows_df

SAMPLE_SIZE = 1024  # the reference's SAMPLE_SIZE (catalog/mod.rs:37)


class CountingHLL:
    """Delete-capable distinct-count sketch — the twin of the reference's
    Counting-HyperLogLog (counting_hyperloglog.rs:3-17,76-180).

    A classic HLL register keeps max(rho) per bucket, which is
    irreversible; the counting variant keeps a COUNT of hashes per
    (bucket, rho), so delete = decrement and the register value is the
    largest rho with a nonzero counter. The reference squeezes counters
    into probabilistic u8s to fit 3,776 B/column (…:36-37); we keep
    exact int64 counters — the matrix is a few hundred KB driver-side,
    and the probabilistic counter is a memory trick, not a semantic one.

    The per-value hashing/counting runs IN SPARK (see
    ``_SignedCounter``): at most m×max_rho groups survive map-side
    combine, so folding any batch — or a 100 TB table — ships only
    ~thousands of count rows to the driver.
    """

    def __init__(self, m: int = 64):
        import numpy as np

        assert m >= 16 and (m & (m - 1)) == 0, "m must be a power of two"
        self.m = m
        self.bits = m.bit_length() - 1
        self.max_rho = 64 - self.bits + 1
        self._counts = np.zeros((m, self.max_rho + 1), dtype=np.int64)

    # reference ALPHA_M for m=64 (counting_hyperloglog.rs:36-37); the
    # standard HLL constant otherwise
    @property
    def _alpha(self) -> float:
        return 0.709 if self.m == 64 else 0.7213 / (1 + 1.079 / self.m)

    def add_counts(self, rows, sign: int = 1) -> None:
        """Fold (bucket, rho, count) rows in; ``sign=-1`` deletes.
        Deleting values never inserted clamps at 0 (the reference's
        decrement assumes tracked inserts, counting_hyperloglog.rs:117)."""
        for bucket, rho, cnt in rows:
            self._counts[bucket, rho] += sign * cnt
        self._counts.clip(min=0, out=self._counts)

    def estimate(self) -> int:
        """Bias-corrected estimate over the derived registers, with the
        small-range linear-counting correction (the same ladder the
        reference applies, counting_hyperloglog.rs:146-162)."""
        import numpy as np

        nonzero = self._counts[:, 1:] > 0
        # register = largest rho with a live counter, 0 if none
        regs = np.where(
            nonzero.any(axis=1), self.max_rho - np.argmax(nonzero[:, ::-1], axis=1), 0
        )
        inv = float(np.sum(np.power(2.0, -regs.astype(np.float64))))
        est = self._alpha * self.m * self.m / inv
        zeros = int(np.sum(regs == 0))
        if est <= 2.5 * self.m and zeros:
            est = self.m * float(np.log(self.m / zeros))
        return int(round(est))


class _SignedCounter:
    """The signed CountingHLL count over a fixed column list, its
    Columns built once (a py4j build of the stack/hash Columns costs
    ~90 ms, more than the aggregation it feeds on a small slice).

    Each value is hashed and split into (bucket, rho), and the row signs
    are summed per ``(column, bucket, rho)``.  NULLs are skipped per
    column (distinct-count semantics).  Two forms, same hashes:

    * ``counts`` — one aggregation query over a frame of the columns
      plus an integer ``__sign__``: the columns are stacked and grouped,
      so shuffle volume is ≤ (ncols+1)×m×max_rho rows after partial agg,
      whatever the input size; the synthetic ``__rows__`` column nets
      the rows;
    * ``local_counts`` — driver rows: a projection of every value's hash
      over their ``LocalRelation``, which Catalyst folds (no job), split
      and summed with numpy."""

    def __init__(self, cols: list[str], m: int):
        from itertools import chain

        bits = m.bit_length() - 1
        max_rho = 64 - bits + 1
        self.cols = cols
        self._stack = F.stack(
            F.lit(len(cols) + 1),
            *chain(*[(F.lit(c), F.col(c).cast("string")) for c in cols]),
            F.lit("__rows__"),
            F.lit("x"),
        ).alias("c", "v")
        self._sign = F.col("__sign__")
        self._live = F.col("v").isNotNull()
        w = F.expr(f"shiftrightunsigned(xxhash64(v), {bits})")
        rho = F.when(w == 0, F.lit(max_rho)).otherwise(F.lit(max_rho) - F.length(F.bin(w)))
        self._keys = [
            F.col("c"),
            F.xxhash64("v").bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.alias("rho"),
        ]
        self._net = F.sum("__sign__").alias("n")
        self._m = m
        self._hashes = [F.xxhash64(F.col(c).cast("string")) for c in cols]

    def counts(self, signed: DataFrame) -> dict[str, list[tuple[int, int, int]]]:
        """Net (bucket, rho, count) rows per column and for ``__rows__``:
        one aggregation query, a few thousand rows to the driver."""
        rows = (
            signed.select(self._stack, self._sign)
            .filter(self._live)
            .groupBy(*self._keys)
            .agg(self._net)
            .collect()
        )
        out: dict[str, list[tuple[int, int, int]]] = {c: [] for c in self.cols}
        out["__rows__"] = []
        for r in rows:
            out[r["c"]].append((int(r["bucket"]), int(r["rho"]), int(r["n"])))
        return out

    def local_counts(
        self, spark: SparkSession, rows: list[tuple], signs: list[int], schema: T.StructType
    ) -> dict[str, list[tuple[int, int, int]]]:
        """``counts`` of driver rows in ``schema``'s column order, each
        with its sign, and no Spark job: the hashes are a projection over
        the rows' ``LocalRelation`` (Catalyst folds it, one hash per
        value), and numpy splits them into (bucket, rho) exactly as the
        aggregation's keys do and sums the signs (``__rows__`` holds one
        entry, the net row count)."""
        import numpy as np

        frame = local_rows_df(spark, rows, schema)
        # tuples first: numpy probing a Row's attributes raises (slowly)
        h = np.array([tuple(r) for r in frame.select(*self._hashes).collect()], dtype=np.int64)
        h = h.reshape(-1, len(self.cols))
        live = np.array([[v is not None for v in r] for r in rows], dtype=bool).reshape(h.shape)
        sign = np.array(signs, dtype=np.int64)
        bits = self._m.bit_length() - 1
        bucket = h & (self._m - 1)
        rho = (65 - bits) - _bit_length(h.view(np.uint64) >> np.uint64(bits))
        code = bucket * 64 + rho  # rho <= 61 for every m >= 16
        out: dict[str, list[tuple[int, int, int]]] = {}
        for i, c in enumerate(self.cols):
            keep = live[:, i]
            net = np.bincount(code[keep, i], weights=sign[keep], minlength=self._m * 64)
            out[c] = [(int(k) >> 6, int(k) & 63, int(net[k])) for k in np.flatnonzero(net)]
        out["__rows__"] = [(0, 0, int(sign.sum()))]
        return out


def _bit_length(w):
    """Exact bit length of each uint64 in `w` (``length(bin(w))``, 0 for
    0), by halving — a float log2 rounds near powers of two."""
    import numpy as np

    n = np.zeros(w.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = w >= np.uint64(1 << s)
        n += big * s
        w = np.where(big, w >> np.uint64(s), w)
    return n + (w > 0)


class OnlineTableStats:
    """Online statistics maintenance — the twin of the reference's
    per-insert stats path (access/heap.rs:245-311): every statement
    advances a cardinality counter, per-column ndv sketches, and a
    uniform sample, WITHOUT rescanning the table. Like the reference's
    (statistics accumulate in memory, flushed only at checkpoints —
    statistics/mod.rs:13-16), this state lives with the session; rebuild
    from the table to recover.

    Spark-native mapping:

    * cardinality counter → a running count moved by each statement;
    * CountingHLL per column (counting_hyperloglog.rs:76-180) →
      ``CountingHLL`` above: Spark aggregates exact (bucket, rho)
      counts, the driver keeps the counter matrix. Inserted rows count
      +1 and deleted rows −1 — the reference sketch's defining delete
      capability — so no path rescans the table. m=1024 buckets (same
      structure as the reference's m=64; we are not byte-budgeted, and
      1024 buckets puts the rsd at ~3%, exact-ish in the linear-counting
      range);
    * 1024-row reservoir (heap.rs:258-289) → bottom-k sample: rows carry
      a hash priority, the k smallest survive; merging a batch is
      union-and-keep-k-smallest. Statistically a uniform sample like a
      reservoir, but mergeable across batches and executors — the form
      that still works when ingest itself is distributed.

    Cost model, per statement: ONE signed count folds the buffered
    INSERT … VALUES rows (+1), the statement's pre-image (−1) and its
    post-image (+1) together — a projection Catalyst folds over their
    ``LocalRelation`` when the statement hands over its touched rows as
    driver lists (no job), else one aggregation query.  The sample
    follows the statement by applying its own row rewrite to the ≤k
    sample rows as a ``LocalRelation``, which Catalyst folds without a
    job.  INSERT … VALUES, ``ndv`` and cardinality estimates run no job
    at all."""

    NDV_M = 1024  # CountingHLL buckets (reference uses 64; see above)

    def __init__(self, spark: SparkSession, schema, sample_size: int = SAMPLE_SIZE):
        self.spark = spark
        self.schema = schema
        self.sample_size = sample_size
        self.rowcount = 0
        self._cols = [f.name for f in schema.fields]
        self._sketches: dict[str, CountingHLL] = {}
        self._sample: list[tuple[int, tuple]] = []  # (priority, row values)
        self._seq = 0  # rows ever sampled; salts duplicate-row priorities
        self._pending: list[tuple] = []  # driver-known rows not yet counted
        self._unsampled: list[tuple] = []  # driver-known rows not yet sampled
        self._counter: _SignedCounter | None = None  # built at the first fold
        self._typed: list[Column] = []

    def add_rows(self, rows: list[tuple]) -> None:
        """Driver-known tiny batches (INSERT … VALUES): buffer, zero jobs.
        The reference's per-insert maintenance is an in-memory nanosecond
        update (heap.rs:245-292); here the rows' counts ride along in the
        next statement's signed aggregation (or the next ``ndv`` read),
        and they join the sample at the next sample read, job-free."""
        self._pending.extend(rows)
        self._unsampled.extend(rows)
        self.rowcount += len(rows)

    def _fold(self, parts: list[tuple[DataFrame | list, int]]) -> int:
        """The ONE signed count: the buffered rows (+1) and each
        ``(rows, sign)`` part, where ``rows`` is a frame or a list of
        driver rows in schema order.  All-driver parts are counted by a
        projection Catalyst folds, with no job; any frame makes it one
        aggregation query over the parts unioned with a sign column.
        The net counts go into the counter matrices and the net row
        count moves ``rowcount``; returns the net row count of
        ``parts``."""
        from functools import reduce

        pending = self._pending
        if pending:
            parts = [(pending, 1), *parts]
        if not parts:
            return 0
        if self._counter is None:
            self._counter = _SignedCounter(self._cols, self.NDV_M)
            # every part in the declared types: the union needs one row
            # type, and a value must hash the same string whichever part
            # (driver rows or table slice) it arrives in
            self._typed = [
                F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema.fields
            ]
        if all(isinstance(rows, list) for rows, _ in parts):
            rows = [r for rows, _ in parts for r in rows]
            signs = [sign for rows, sign in parts for _ in rows]
            counts = self._counter.local_counts(self.spark, rows, signs, self.schema)
        else:
            frames = [
                (local_rows_df(self.spark, rows, self.schema) if isinstance(rows, list) else rows)
                .select(*self._typed, F.lit(sign).alias("__sign__"))
                for rows, sign in parts
            ]
            counts = self._counter.counts(reduce(DataFrame.union, frames))
        self._pending = []
        for c in self._cols:
            if c not in self._sketches:
                self._sketches[c] = CountingHLL(self.NDV_M)
            self._sketches[c].add_counts(counts[c])
        net = sum(cnt for _, _, cnt in counts["__rows__"]) - len(pending)
        self.rowcount = max(0, self.rowcount + net)
        return net

    def _flush(self) -> None:
        if self._pending:
            self._fold([])

    def _prio_rows(self, frame: DataFrame) -> list[tuple[int, tuple]]:
        """(priority, row values) of a frame with ``__prio__``, collected
        by position (a Row's by-name lookup costs ~10 µs a value)."""
        return [(r[0], tuple(r[1:])) for r in frame.select("__prio__", *self._cols).collect()]

    def _merge_candidates(self, batch: DataFrame, n: int) -> None:
        """Bottom-k merge of an ``n``-row batch into the sample: each row
        gets a hash priority (salted by the ingest sequence, so duplicate
        rows draw distinct priorities)."""
        prio = F.xxhash64(
            *[F.col(c).cast("string") for c in self._cols],
            F.lit(self._seq) + F.monotonically_increasing_id(),
        )
        cand = batch.withColumn("__prio__", prio)
        if n > self.sample_size:
            # a batch that fits the sample is taken whole (the merge below
            # sorts): over a relation of known size <= k, Catalyst drops
            # the limit and the bare ORDER BY runs as a range-partitioned
            # global sort — three jobs instead of one top-k job
            cand = cand.orderBy("__prio__").limit(self.sample_size)
        merged = self._sample + self._prio_rows(cand)
        self._sample = sorted(merged, key=lambda t: t[0])[: self.sample_size]
        self._seq += n

    def _merge_unsampled(self) -> None:
        """Buffered rows join the sample: the priority projection over
        their ``LocalRelation`` folds in Catalyst, no job."""
        if self._unsampled:
            rows = self._unsampled
            self._merge_candidates(local_rows_df(self.spark, rows, self.schema), len(rows))
            self._unsampled = []

    def _rewritten_sample(
        self, rewrite: Callable[[DataFrame], DataFrame]
    ) -> list[tuple[int, tuple]]:
        """A statement's row rewrite applied to the sample: ``rewrite``
        maps the sample frame (table columns plus ``__prio__``) to its
        post-statement rows, carrying ``__prio__`` through.  Over a
        ``LocalRelation`` a filter or projection folds without a job; a
        subquery predicate runs as it does over the table."""
        self._merge_unsampled()
        if not self._sample:
            return []
        frame = local_rows_df(
            self.spark,
            [(p, *t) for p, t in self._sample],
            T.StructType([T.StructField("__prio__", T.LongType())] + self.schema.fields),
        )
        return sorted(self._prio_rows(rewrite(frame)), key=lambda t: t[0])

    def update(
        self,
        batch: DataFrame | list,
        pre_image: DataFrame | list | None = None,
        rewrite: Callable[[DataFrame], DataFrame] | None = None,
    ) -> None:
        """Fold one statement's rows in with ONE signed count (buffered
        rows +1, ``pre_image`` −1, ``batch`` +1); each is a frame or a
        list of driver rows (see ``_fold``): the one fold entry point of
        INSERT … SELECT, UPDATE and DELETE.

        * INSERT … SELECT: ``update(batch)``; the batch's rows are sample
          candidates (one bounded top-k job).
        * UPDATE: ``update(post, pre_image=touched, rewrite=f)``, where
          ``f`` applies the statement's assignments to a frame (see
          ``_rewritten_sample``).  Sample rows are rewritten IN PLACE and
          keep their priority (a touched row draws no new one): the
          sample stays the same k rows of the table, now holding their
          post-image values.
        * DELETE: ``update([], pre_image=deleted, rewrite=keep)``: the
          deleted rows count −1, the reference CountingHLL's decrement
          path (counting_hyperloglog.rs:76-180 via heap.rs:296-311), with
          no rescan of the surviving table.  A value deleted while
          duplicates remain keeps its register alive (its counter stays
          positive), the property max-register HLLs cannot provide.
          ``keep``, the statement's own filter of surviving rows, drops
          the deleted rows from the sample, NULL-bearing ones included.

        Given the touched rows as driver lists, UPDATE and DELETE run no
        job."""
        if rewrite is not None:
            sample = self._rewritten_sample(rewrite)
            self._fold([(pre_image, -1), (batch, 1)])
            self._sample = sample
            return
        n = self._fold([(batch, 1)])
        if n > 0:
            if isinstance(batch, list):
                batch = local_rows_df(self.spark, batch, self.schema)
            self._merge_candidates(batch, n)

    def dumps(self) -> bytes:
        """Serialize the full stats state (counter matrices, sample,
        buffered rows) — the twin of the reference persisting its sketch
        blobs into catalog VarBinary columns (catalog/mod.rs:574-577).
        Each counter matrix is stored as its nonzero counters (flat
        indices and values), so the blob grows with the distinct values
        seen, up to a few hundred KB per column, whatever the table's
        size."""
        import pickle

        import numpy as np

        sketches = {}
        for c, sk in self._sketches.items():
            # a column's matrix is mostly zeros: keep the nonzero counters
            idx = np.flatnonzero(sk._counts)
            sketches[c] = (sk.m, idx.astype(np.int32).tobytes(), sk._counts.flat[idx].tobytes())
        return pickle.dumps(
            {
                "rowcount": self.rowcount,
                "seq": self._seq,
                "sample_size": self.sample_size,
                "sketches": sketches,
                "sample": self._sample,
                "pending": self._pending,
                "unsampled": self._unsampled,
            }
        )

    @classmethod
    def loads(cls, spark: SparkSession, schema, data: bytes) -> "OnlineTableStats":
        """Restore from ``dumps`` output — reopening a durable database
        recovers fresh statistics with NO table rescan."""
        import pickle

        import numpy as np

        st = pickle.loads(data)
        self = cls(spark, schema, sample_size=st["sample_size"])
        self.rowcount = st["rowcount"]
        self._seq = st["seq"]
        self._sample = st["sample"]
        self._pending = st["pending"]
        self._unsampled = st["unsampled"]
        for c, (m, idx, vals) in st["sketches"].items():
            sk = CountingHLL(m)
            sk._counts.flat[np.frombuffer(idx, dtype=np.int32)] = np.frombuffer(vals, dtype=np.int64)
            self._sketches[c] = sk
        return self

    def delete_batch(
        self, deleted: DataFrame | list, rewrite: Callable[[DataFrame], DataFrame]
    ) -> None:
        """``update([], pre_image=deleted, rewrite=rewrite)``.  No engine
        path calls it: it stays because ``perfbench/run.py`` wraps this
        name in its traced runs."""
        self.update([], pre_image=deleted, rewrite=rewrite)

    def rebuild(self, df: DataFrame | list) -> None:
        """Full re-derivation from the table's rows (create / reopen /
        MERGE); ``rebuild([])`` empties the statistics with no job."""
        self.rowcount = 0
        self._sketches = {}
        self._sample = []
        self._pending = []
        self._unsampled = []
        self.update(df)

    def ndv(self, col: str) -> int:
        """Distinct-count estimate from the counting sketch — driver-local
        arithmetic once buffered rows are folded."""
        self._flush()
        sk = self._sketches.get(col)
        return sk.estimate() if sk is not None else 0

    def sample_df(self) -> DataFrame:
        self._merge_unsampled()
        return local_rows_df(self.spark, [t for _, t in self._sample], self.schema)

    def estimate_cardinality(self, predicate: Column | str) -> int:
        """Reference estimate + floor rule (bottomup.rs:121-161) over the
        maintained sample — fresh after every INSERT, no ANALYZE step.
        The matches are the rows of the filtered sample ``LocalRelation``,
        which Catalyst folds: no job (a ``count()`` would plan an
        aggregate, two jobs under AQE).  A subquery predicate runs as it
        does anywhere."""
        self._merge_unsampled()
        total = len(self._sample)
        if total == 0:
            return max(self.rowcount, 1)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        matching = len(self.sample_df().filter(pred).select(F.lit(1)).collect())
        est = matching / total * self.rowcount
        floor = self.rowcount / (2 * self.sample_size)
        return max(int(est), int(floor), 1)


# ---------------------------------------------------------------------------
# Count-min sketch: bounded-shuffle frequency estimation
# ---------------------------------------------------------------------------

_CMS_D = 3  # hash rows
_CMS_W = 8192  # buckets per row


def _cms_bucket(col: Column, i: int, w: int) -> Column:
    """Portable bucket hash: first 4 hex chars of md5(value || '#i')
    mod w — byte-identical in DuckDB via the positional hex parse
    (operators.corpus_ext._duck_hex4), the established cross-engine
    hashing pattern (xxhash64 is not DuckDB-expressible)."""
    h = F.md5(F.concat(col.cast("string"), F.lit(f"#{i}")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % w


def count_min_sketch(
    df: DataFrame, col: str, w: int = _CMS_W, d: int = _CMS_D
) -> DataFrame:
    """Count-min sketch over a column as a (i, b, cnt) relation — the
    FREQUENCY member of the reference's counting-sketch family (its
    CountingHLL counts distincts, statistics/counting_hyperloglog.rs;
    this bounds per-item counts), built the distributed way: each value
    explodes into d (row, bucket) coordinates, and the aggregation's
    map-side partial combine means the shuffle carries at most d·w rows
    REGARDLESS of input size — the property that makes per-source /
    per-day frequency profiles affordable at 100 TB.  Sketches merge by
    summing cnt on (i, b), so per-shard sketches roll up without
    touching raw data."""
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(F.col(col), i, w).alias("b")
                    )
                    for i in range(d)
                ]
            )
        ).alias("p")
    ).select("p.i", "p.b")
    return pos.groupBy("i", "b").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame, items: DataFrame, col: str, w: int = _CMS_W, d: int = _CMS_D
) -> DataFrame:
    """(col, cms_est) for every row of `items`: the count-min upper
    bound — min over the d probed buckets.  Guarantees est >= true
    count (never an undercount; overcount only from bucket collisions,
    expected ~ n_rows/w per hash row).  Pure join algebra: d probe rows
    per item LEFT-joined to the sketch on (i, b) — an absent sketch row
    means that bucket counted nothing, so it contributes 0 to the min
    and an item the sketch never saw reports cms_est = 0 instead of
    silently vanishing from the output."""
    probes = items.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(F.col(col), i, w).alias("b")
                    )
                    for i in range(d)
                ]
            )
        ).alias("p"),
    ).select(col, "p.i", "p.b")
    return (
        probes.join(sketch, ["i", "b"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
