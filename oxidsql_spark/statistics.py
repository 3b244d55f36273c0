"""Statistics capabilities — the reference's 'crown jewels' (SURVEY §4)
mapped to Spark-native equivalents.

Reference machinery → Spark twin:
* online cardinality counter + Counting-HLL ndv sketches per column
  (access/heap.rs:245-292, statistics/counting_hyperloglog.rs)
  → ``analyze_table`` (ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS —
  Catalyst's CBO consumes rowCount/ndv the way DPccp was meant to
  consume the reference's sketches) and ``ndv_sketch`` for the
  query-level HLL (approx_count_distinct — same sketch family);
* 1024-row reservoir sample per table, predicates executed against the
  sample for cardinality estimation (planner/bottomup.rs:111-168,
  SAMPLE_SIZE catalog/mod.rs:37)
  → ``TableSample``: a seeded ``df.sample`` materialized once (cheap at
  any scale — the sample is tiny and reusable), with
  ``estimate_selectivity`` reproducing the estimate = matching/total,
  floored at base/(2·SAMPLE_SIZE) and 1 (bottomup.rs:159-161).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import local_rows_df

SAMPLE_SIZE = 1024  # the reference's SAMPLE_SIZE (catalog/mod.rs:37)
SAMPLE_SEED = 42


class TableSample:
    """Persisted-in-memory seeded sample of a table — the Spark twin of
    the reference's reservoir-sample shadow table (heap.rs:258-289).

    At 100 TB the sample is built with one pass (df.sample pushes the
    bernoulli filter into the scan) and cached; every subsequent
    estimate is driver-local arithmetic over ≤ ~SAMPLE_SIZE rows."""

    def __init__(self, df: DataFrame, sample_size: int = SAMPLE_SIZE, seed: int = SAMPLE_SEED):
        self.base_count = df.count()
        if self.base_count == 0:
            fraction = 0.0
        else:
            # oversample slightly then cap — df.sample is approximate
            fraction = min(1.0, (sample_size * 1.2) / self.base_count)
        self.sample = df.sample(fraction=fraction, seed=seed).limit(sample_size).cache()
        self.sample_count = self.sample.count()

    def close(self) -> None:
        """Release the cached sample blocks.  The sample is bounded
        (≤ ~SAMPLE_SIZE rows), but a session that profiles many tables
        should still return the storage — same lifecycle discipline as
        cachescope (a TableSample owns its cache, so it exposes its own
        release instead of the scope ledger)."""
        self.sample.unpersist(blocking=True)

    def __enter__(self) -> "TableSample":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def estimate_selectivity(self, predicate: Column | str) -> float:
        """matching/total over the sample (bottomup.rs:121-161)."""
        if self.sample_count == 0:
            return 1.0
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        matching = self.sample.filter(pred).count()
        return matching / self.sample_count

    def estimate_cardinality(self, predicate: Column | str) -> int:
        """estimate = sel × base, floored at base/(2·SAMPLE_SIZE) and 1 —
        exactly the reference's floor rule (bottomup.rs:159-161)."""
        est = self.estimate_selectivity(predicate) * self.base_count
        floor = self.base_count / (2 * SAMPLE_SIZE)
        return max(int(est), int(floor), 1)

    def conjunct_counts(self, predicates: list) -> tuple[int, list[int]]:
        """ONE pass over the sample accumulating the full-match count and
        per-conjunct partial-match counts — the same accumulation the
        reference's sample scan performs into ``partial_matching_counts``
        (bottomup.rs:133-156). A NULL predicate result counts as no match
        (sum skips NULLs), matching SQL WHERE semantics."""
        preds = [F.expr(p) if isinstance(p, str) else p for p in predicates]
        full = preds[0]
        for p in preds[1:]:
            full = full & p
        row = self.sample.agg(
            F.sum(full.cast("long")).alias("__full__"),
            *[F.sum(p.cast("long")).alias(f"__p{i}__") for i, p in enumerate(preds)],
        ).first()
        return (
            int(row["__full__"] or 0),
            [int(row[f"__p{i}__"] or 0) for i in range(len(preds))],
        )

    def estimate_conjunct_selectivity(
        self, predicates: list, zero_match_ndv: list[int | None] | None = None
    ) -> float:
        """The reference's full estimation ladder (statistics/mod.rs:24-31,
        the fallback its TODO at bottomup.rs:133 plans to build on the
        partial counts):

        1. any sample row matches the WHOLE conjunction → matching/total;
        2. none does → combine per-conjunct partial-match fractions with
           exponentially decaying weights (most-selective at full weight,
           then sqrt of the next, etc. — the Moerkotte-style backoff the
           essay cites), which always lands at or below the most
           selective single conjunct;
        3. a conjunct with ZERO partial matches contributes 1/ndv when
           its column ndv is known (equi-predicate rule), else the
           1/sample_count resolution bound."""
        if self.sample_count == 0:
            return 1.0
        full, partial = self.conjunct_counts(predicates)
        if full > 0:
            return full / self.sample_count
        sels = []
        for i, c in enumerate(partial):
            if c > 0:
                sels.append(c / self.sample_count)
            elif zero_match_ndv and i < len(zero_match_ndv) and zero_match_ndv[i]:
                sels.append(1.0 / zero_match_ndv[i])
            else:
                sels.append(1.0 / self.sample_count)
        sels.sort()
        sel = 1.0
        for i, s in enumerate(sels):
            sel *= s ** (0.5**i)
        return min(sel, 1.0)

    def estimate_conjunct_cardinality(
        self, predicates: list, zero_match_ndv: list[int | None] | None = None
    ) -> int:
        est = self.estimate_conjunct_selectivity(predicates, zero_match_ndv) * self.base_count
        floor = self.base_count / (2 * SAMPLE_SIZE)
        return max(int(est), int(floor), 1)


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
    ``column_bucket_rho_counts``): at most m×max_rho groups survive
    map-side combine, so folding any batch — or a 100 TB table — ships
    only ~thousands of count rows to the driver.
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


def column_bucket_rho_counts(
    batch: DataFrame, cols: list[str], m: int = 64
) -> dict[str, list[tuple[int, int, int]]]:
    """One exact mini-aggregation producing CountingHLL input for every
    column at once: stack the columns, hash, split into (bucket, rho),
    count. NULLs are skipped per column (distinct-count semantics).
    The synthetic ``__rows__`` column counts batch rows in the same job.
    Shuffle volume ≤ (ncols+1)×m×max_rho rows after partial agg."""
    from itertools import chain

    bits = m.bit_length() - 1
    stacked = batch.select(
        F.stack(
            F.lit(len(cols) + 1),
            *chain(*[(F.lit(c), F.col(c).cast("string")) for c in cols]),
            F.lit("__rows__"),
            F.lit("x"),
        ).alias("c", "v")
    ).filter(F.col("v").isNotNull())
    h = F.xxhash64("v")
    w = F.expr(f"shiftrightunsigned(xxhash64(v), {bits})")
    max_rho = 64 - bits + 1
    rho = F.when(w == 0, F.lit(max_rho)).otherwise(
        F.lit(64 - bits + 1) - F.length(F.expr(f"bin(shiftrightunsigned(xxhash64(v), {bits}))"))
    )
    counted = (
        stacked.groupBy(
            F.col("c"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .count()
        .collect()
    )
    out: dict[str, list[tuple[int, int, int]]] = {c: [] for c in cols}
    out["__rows__"] = []
    for r in counted:
        out[r["c"]].append((int(r["bucket"]), int(r["rho"]), int(r["count"])))
    return out


class OnlineTableStats:
    """Online statistics maintenance — the twin of the reference's
    per-insert stats path (access/heap.rs:245-292): every ingested batch
    advances a cardinality counter, per-column ndv sketches, and a
    uniform sample, WITHOUT rescanning the table. Like the reference's
    (statistics accumulate in memory, flushed only at checkpoints —
    statistics/mod.rs:13-16), this state lives with the session; rebuild
    from the table to recover.

    Spark-native mapping:

    * cardinality counter → a running count fed by each batch;
    * CountingHLL per column (counting_hyperloglog.rs:76-180) →
      ``CountingHLL`` above: Spark aggregates exact (bucket, rho)
      counts per batch (``column_bucket_rho_counts``), the driver keeps
      the counter matrix. Inserts ADD counts, deletes SUBTRACT them —
      the reference sketch's defining delete capability — so neither
      path rescans the table. m=1024 buckets (same structure as the
      reference's m=64; we are not byte-budgeted, and 1024 buckets puts
      the rsd at ~3%, exact-ish in the linear-counting range);
    * 1024-row reservoir (heap.rs:258-289) → bottom-k sample: rows carry
      a hash priority, the k smallest survive; merging a batch is
      union-and-keep-k-smallest. Statistically a uniform sample like a
      reservoir, but mergeable across batches and executors — the form
      that still works when ingest itself is distributed."""

    NDV_M = 1024  # CountingHLL buckets (reference uses 64; see above)

    def __init__(self, spark: SparkSession, schema, sample_size: int = SAMPLE_SIZE):
        self.spark = spark
        self.schema = schema
        self.sample_size = sample_size
        self.rowcount = 0
        self._sketches: dict[str, CountingHLL] = {}
        self._sample: list[tuple[int, tuple]] = []  # (priority, row values)
        self._seq = 0  # rows ever ingested; salts duplicate-row priorities
        self._pending: list[tuple] = []  # driver-known rows not yet folded

    def add_rows(self, rows: list[tuple]) -> None:
        """Driver-known tiny batches (INSERT … VALUES): buffer and fold
        lazily. The reference's per-insert maintenance is an in-memory
        nanosecond update (heap.rs:245-292); the Spark-faithful cost
        model is therefore ZERO jobs on the insert path, one amortized
        job at the next stats read — not three jobs per row."""
        self._pending.extend(rows)
        self.rowcount += len(rows)

    def _flush(self) -> None:
        if self._pending:
            rows, self._pending = self._pending, []
            self.rowcount -= len(rows)  # update() re-counts them
            self.update(local_rows_df(self.spark, rows, self.schema))

    def _fold_counts(self, batch: DataFrame, sign: int) -> int:
        """Shared insert/delete sketch maintenance: one exact counting
        job over the batch, then driver-local matrix arithmetic."""
        cols = [f.name for f in self.schema.fields]
        counts = column_bucket_rho_counts(batch, cols, m=self.NDV_M)
        for c in cols:
            if c not in self._sketches:
                self._sketches[c] = CountingHLL(self.NDV_M)
            self._sketches[c].add_counts(counts[c], sign=sign)
        return sum(cnt for _, _, cnt in counts["__rows__"])

    def update(self, batch: DataFrame) -> None:
        """Fold one inserted batch in: one exact counting job over the
        batch (rowcount + per-column (bucket, rho) counts in a single
        aggregation), one bounded top-k job for the sample."""
        cols = [f.name for f in self.schema.fields]
        n = self._fold_counts(batch, sign=1)
        if n == 0:
            return
        prio = F.xxhash64(
            *[F.col(c).cast("string") for c in cols],
            F.lit(self._seq) + F.monotonically_increasing_id(),
        )
        cand = batch.withColumn("__prio__", prio)
        if n > self.sample_size:
            # a batch that fits the sample is taken whole (the merge below
            # sorts): over a relation of known size <= k, Catalyst drops
            # the limit and the bare ORDER BY runs as a range-partitioned
            # global sort — three jobs instead of one top-k job
            cand = cand.orderBy("__prio__").limit(self.sample_size)
        rows = [(r["__prio__"], tuple(r[c] for c in cols)) for r in cand.collect()]
        self._sample = sorted(self._sample + rows, key=lambda t: t[0])[: self.sample_size]
        self._seq += n
        self.rowcount += n

    def dumps(self) -> bytes:
        """Serialize the full stats state (counter matrices, sample,
        pending rows) — the twin of the reference persisting its sketch
        blobs into catalog VarBinary columns (catalog/mod.rs:574-577).
        A few hundred KB per table regardless of table size."""
        import pickle

        return pickle.dumps(
            {
                "rowcount": self.rowcount,
                "seq": self._seq,
                "sample_size": self.sample_size,
                "sketches": {
                    c: (sk.m, sk._counts.tobytes()) for c, sk in self._sketches.items()
                },
                "sample": self._sample,
                "pending": self._pending,
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
        self._sample = [tuple(x) if not isinstance(x, tuple) else x for x in st["sample"]]
        self._pending = st["pending"]
        for c, (m, raw) in st["sketches"].items():
            sk = CountingHLL(m)
            sk._counts = np.frombuffer(raw, dtype=np.int64).reshape(
                (m, sk.max_rho + 1)
            ).copy()
            self._sketches[c] = sk
        return self

    def delete_batch(self, deleted: DataFrame) -> None:
        """Fold a DELETE in by SUBTRACTING its (bucket, rho) counts —
        the reference CountingHLL's decrement path
        (counting_hyperloglog.rs:76-180 via heap.rs:296-311): no rescan
        of the surviving table. A value deleted while duplicates remain
        keeps its register alive (its counter stays positive) — exactly
        the property max-register HLLs cannot provide. The sample drops
        deleted rows by a NULL-SAFE anti-join (one job over the
        ≤1024-row sample): plain column equality would never match rows
        carrying a NULL, so deleted NULL-bearing rows would linger in
        the sample and skew selectivity estimates."""
        from functools import reduce

        self._flush()
        n = self._fold_counts(deleted, sign=-1)
        if n == 0:
            return
        self.rowcount = max(0, self.rowcount - n)
        if self._sample:
            cols = [f.name for f in self.schema.fields]
            sample_df = local_rows_df(
                self.spark,
                [(p, *t) for p, t in self._sample],
                T.StructType([T.StructField("__prio__", T.LongType())] + self.schema.fields),
            )
            cond = reduce(
                lambda a, b: a & b,
                [sample_df[c].eqNullSafe(deleted[c]) for c in cols],
            )
            kept = sample_df.join(deleted, cond, "left_anti").collect()
            self._sample = sorted(
                ((r["__prio__"], tuple(r[c] for c in cols)) for r in kept),
                key=lambda t: t[0],
            )

    def rebuild(self, df: DataFrame) -> None:
        """Full re-derivation from the table (recovery / UPDATE path)."""
        self.rowcount = 0
        self._sketches = {}
        self._sample = []
        self._pending = []
        self.update(df)

    def ndv(self, col: str) -> int:
        """Distinct-count estimate from the counting sketch — driver-local
        arithmetic, zero Spark jobs."""
        self._flush()
        sk = self._sketches.get(col)
        return sk.estimate() if sk is not None else 0

    def sample_df(self) -> DataFrame:
        self._flush()
        return local_rows_df(self.spark, [t for _, t in self._sample], self.schema)

    def estimate_cardinality(self, predicate: Column | str) -> int:
        """Reference estimate + floor rule (bottomup.rs:121-161) over the
        maintained sample — fresh after every INSERT, no ANALYZE step."""
        self._flush()
        total = len(self._sample)
        if total == 0:
            return max(self.rowcount, 1)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        matching = self.sample_df().filter(pred).count()
        est = matching / total * self.rowcount
        floor = self.rowcount / (2 * self.sample_size)
        return max(int(est), int(floor), 1)


def ndv_sketch(df: DataFrame, *cols: str, rsd: float = 0.05) -> dict[str, int]:
    """Per-column approximate distinct counts via HyperLogLog++ — the
    query-level twin of the reference's CountingHLL (its test bound is
    ±20% at 200k distinct; HLL++ at rsd=0.05 is tighter)."""
    row = df.agg(
        *[F.approx_count_distinct(c, rsd).alias(c) for c in cols]
    ).collect()[0]
    return {c: row[c] for c in cols}


def exact_ndv(df: DataFrame, *cols: str) -> dict[str, int]:
    row = df.agg(*[F.countDistinct(c).alias(c) for c in cols]).collect()[0]
    return {c: row[c] for c in cols}


def analyze_table(spark: SparkSession, name: str, columns: list[str] | None = None) -> None:
    """ANALYZE TABLE — refresh the catalog statistics CBO join-reorder
    consumes; the batch twin of the reference's online stats maintenance
    (re-run after each ingest batch, SURVEY §7 risk register)."""
    cols = f" FOR COLUMNS {', '.join(columns)}" if columns else ""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{cols}")


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
