"""Extended relational operators: pivot, grouping sets, statistical
aggregates, percentiles, argmax, list/string aggregation, as-of joins,
sampling, math functions, and a pandas-UDF group transform.

All statistical aggregates are computed from DECIMAL-exact component
sums (Σx, Σx², Σxy) so results are independent of accumulation order —
the same discipline as the money aggregates, required for cross-engine
hashing and for bit-stable results under cluster re-partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import dbl, money, table


@register(
    "pivot_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one output column per order status. Explicit value list —
    at scale an implicit pivot would need an extra distinct pass."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_all,
           count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE)
             AS fulfilled_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate FILTER clauses (SQL:2003): several differently-
    filtered aggregates in ONE grouped pass — the shape that replaces N
    separate filtered scans at 100 TB. Routed through spark.sql to
    exercise the full SQL surface; each FILTER rides the same partial
    aggregation, so it costs predicates, not passes."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_all,
               count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE)
                 AS fulfilled_total
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round((sxx - sx*sx/n) / n, 4) AS var_pop_qty,
           round(sqrt((sxx - sx*sx/n) / n), 4) AS stddev_pop_qty,
           round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS corr_qty_price
    FROM s
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation from decimal-exact moment sums.

    Spark's var_pop/corr accumulate doubles in partition order — fine
    numerically, but not bit-reproducible across partitionings. Building
    them from exact Σx/Σx²/Σxy keeps distributed results deterministic
    (and lets the oracle match exactly)."""
    li = table(spark, sf_dir, "lineitem")
    q, p = money("l_quantity"), money("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(q)).alias("sx"),
        dbl(F.sum(q * q)).alias("sxx"),
        dbl(F.sum(p)).alias("sy"),
        dbl(F.sum(p * p)).alias("syy"),
        dbl(F.sum(q * p)).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_q = (sxx - sx * sx / n) / n
    return s.select(
        "l_returnflag",
        "n",
        F.round(var_q, 4).alias("var_pop_qty"),
        F.round(F.sqrt(var_q), 4).alias("stddev_pop_qty"),
        F.round((sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6).alias(
            "corr_qty_price"
        ),
    )


@register(
    "percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (interpolated) + min/max. Spark's percentile is
    an exact sort-based aggregate; approx_percentile is the sketch path
    for the 100 TB case (see approx_quantiles, rows-only)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


_AQ_ACCURACY = 10000  # GK sketch: rank error <= n / accuracy
_AQ_RSD = 0.02  # HLL++ relative standard deviation


@register(
    "approx_quantiles",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_rows,
           true AS p50_rank_ok, true AS ndv_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile + approx_count_distinct — the mergeable-sketch
    paths that scale where exact per-group sorts do not — surfaced as a
    self-verifying row per group: the approx p50's exact rank must land
    within the GK sketch's guaranteed rank-error bound (n/accuracy), and
    the HLL ndv within 3·rsd of the exact count. Both sketches are
    deterministic for a fixed dataset, so the oracle pins the checks TRUE
    and independently recomputes the group counts."""
    o = table(spark, sf_dir, "orders")
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(_AQ_ACCURACY)).alias("p50a"),
        F.approx_count_distinct("o_custkey", _AQ_RSD).alias("ndv_a"),
    )
    checked = (
        o.join(F.broadcast(approx), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("p50a"), 1).otherwise(0)).alias("rank_le"),
            F.any_value("ndv_a").alias("ndv_a"),
            F.countDistinct("o_custkey").alias("ndv_exact"),
        )
    )
    rank_bound = F.col("n_rows") / _AQ_ACCURACY + 2
    ndv_bound = 3 * _AQ_RSD * F.col("ndv_exact")
    return checked.select(
        "o_orderpriority",
        "n_rows",
        (F.abs(F.col("rank_le") - 0.5 * F.col("n_rows")) <= rank_bound).alias("p50_rank_ok"),
        (F.abs(F.col("ndv_a") - F.col("ndv_exact")) <= ndv_bound).alias("ndv_ok"),
    )


@register(
    "hll_partial_union",
    oracle="""
    SELECT count(DISTINCT c_nationkey) AS n_groups,
           count(DISTINCT c_custkey) AS exact_ndv,
           true AS union_ok
    FROM customer
    """,
)
def hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the Spark twin of the
    reference's Counting-HyperLogLog, whose defining property is that
    per-segment sketches merge into an exact-union estimate
    (counting_hyperloglog.rs:76-180). Per-nation DataSketches HLLs are
    built in one grouped pass, union_agg'd into a global sketch, and the
    merged estimate is self-verified against the exact distinct count
    (within 5%; default lgConfigK=12 gives ~1.6% rsd). At 100 TB the
    per-group sketches are a few KB each — the merge is a driver-light
    reduce, never a re-scan."""
    c = table(spark, sf_dir, "customer")
    per = c.groupBy("c_nationkey").agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    merged = per.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = c.agg(F.count_distinct("c_custkey").alias("exact_ndv"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_groups",
        "exact_ndv",
        (
            F.abs(F.col("est") - F.col("exact_ndv")) / F.col("exact_ndv") <= 0.05
        ).alias("union_ok"),
    )


@register(
    "argmax_customer",
    oracle="""
    SELECT c_nationkey,
           max_by(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000 + c_custkey) AS top_customer,
           max(c_acctbal) AS top_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def argmax_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX via max_by with a deterministic composite ranking key
    (balance cents ⊕ custkey) so ties can't produce engine-dependent
    winners."""
    c = table(spark, sf_dir, "customer")
    rank_key = (money("c_acctbal") * 100).cast("bigint") * 10000000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", rank_key).alias("top_customer"),
        F.max("c_acctbal").alias("top_acctbal"),
    )


@register(
    "list_agg",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(c_custkey)), ',') AS custkeys,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + string aggregation, sorted for determinism (collect_list
    order is partition-dependent — never expose it unsorted). Both array
    results are serialized to CSV strings so every column is a scalar
    the correctness harness can sort/hash (raw list cells are not)."""
    c = table(spark, sf_dir, "customer")
    custkeys = F.array_join(
        F.transform(
            F.array_sort(F.collect_list("c_custkey")), lambda x: x.cast("string")
        ),
        ",",
    )
    return c.groupBy("c_nationkey").agg(
        custkeys.alias("custkeys"),
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
    )


@register(
    "asof_last_click",
    oracle="""
    SELECT p.event_id,
           CAST(max(c.ts) AS VARCHAR) AS last_click_ts
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase, the latest click of the same user
    at-or-before it.

    Implemented the scale-correct way: NOT as an inequality join (which
    explodes quadratically per user) but as a union + ordered window with
    last(ignorenulls) — one shuffle on user_id, linear state. The oracle
    states the same semantics as a naive range join."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        e.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("last_click_ts").cast("string").alias("last_click_ts"))
    )


@register(
    "events_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, CAST(ts AS VARCHAR) AS first_ts
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def events_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on a fact stream (dropDuplicates with an explicit
    deterministic order — dropDuplicates alone keeps an arbitrary row)."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").cast("string").alias("first_ts"),
        )
    )


@register(
    "sample_systematic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key mod k) — the reproducible,
    engine-portable sampling primitive; seeded bernoulli sampling is the
    rows-only twin below."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "sample_bernoulli",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < 500
    """,
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash bernoulli sample: keep rows where md5(key) mod 10000
    falls under p·10000. Unlike RNG-per-partition df.sample (whose output
    depends on partition layout and engine), a content-addressed sample is
    reproducible across cluster sizes, repartitions, and engines — the
    form a production corpus pipeline pins its eval/holdout splits with.
    The facade's planner sample (statistics.OnlineTableStats) is a
    bottom-k over content hashes too, kept up by every statement."""
    o = table(spark, sf_dir, "orders")
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long")
    return o.filter(h % 10000 < 500).select("o_orderkey", "o_totalprice")


@register(
    "math_funcs",
    oracle="""
    SELECT p_partkey,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           CAST(p_size * p_size AS BIGINT) AS size_sq,
           abs(p_size - 25) AS size_dev,
           greatest(p_size, 10) AS size_floor10,
           least(p_size, 40) AS size_cap40
    FROM part
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (sqrt/ln IEEE-deterministic, rounded against
    libm ULP drift; integer arithmetic exact)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        (F.col("p_size").cast("bigint") * F.col("p_size")).alias("size_sq"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.greatest("p_size", F.lit(10)).alias("size_floor10"),
        F.least("p_size", F.lit(40)).alias("size_cap40"),
    )


@register(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           lower(c_name) AS name_lower,
           replace(c_name, ' ', '_') AS name_snake,
           left(c_name, 5) AS name_prefix,
           reverse(c_name) AS name_rev,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           CASE WHEN contains(c_name, 'er') THEN 1 ELSE 0 END AS has_er
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions beyond the basics."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.replace(F.col("c_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.substring("c_name", 1, 5).alias("name_prefix"),
        F.reverse("c_name").alias("name_rev"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.when(F.col("c_name").contains("er"), 1).otherwise(0).alias("has_er"),
    )


@register(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           dayofweek(CAST(o_orderdate AS DATE)) AS dow,
           quarter(o_orderdate) AS qtr
    FROM orders
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: diffs, interval add, month boundaries, calendar
    fields. (DuckDB dayofweek is 0-based Sunday; Spark's is 1-based —
    normalized here to DuckDB's convention.)"""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.cast("string").alias("order_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.date_add(d, 30).cast("string").alias("due_date"),
        F.last_day(d).cast("string").alias("month_end"),
        (F.dayofweek(d) - 1).alias("dow"),
        F.quarter(d).alias("qtr"),
    )


@register(
    "histogram_totalprice",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000.0, 1) AS bucket_lo
    FROM orders GROUP BY bucket
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via arithmetic bucketing — one partial-agg
    shuffle carrying only (bucket, count)."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("bigint")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(bucket * 50000.0, 1).alias("bucket_lo"),
    )


@register(
    "correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           (SELECT max(o.o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE c.c_acctbal > 9000.0
    """,
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    outer join + aggregate (no per-row re-execution, unlike a naive
    interpreter)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               (SELECT max(o.o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM customer c
        WHERE c.c_acctbal > 9000.0
        """
    )


@register(
    "stats_table_profile",
    oracle="""
    SELECT 'orders' AS tbl, count(*) AS n_rows,
           count(DISTINCT o_custkey) AS ndv_cust,
           count(DISTINCT o_orderpriority) AS ndv_prio,
           CAST(min(o_orderdate) AS VARCHAR) AS min_date,
           CAST(max(o_orderdate) AS VARCHAR) AS max_date
    FROM orders
    """,
)
def stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling — the query-level face of the statistics layer
    (rowcount + ndv + min/max; what the reference maintains online,
    heap.rs:245-292, and statistics.OnlineTableStats per facade table)."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("ndv_cust"),
        F.countDistinct("o_orderpriority").alias("ndv_prio"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
    )


@register(
    "agg_salted",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 aggregates
    (key, salt) — spreading a hot key over 16 reducers — stage 2 merges
    the 16 partials per key. Semantically identical to a direct groupBy
    (the oracle), which is the point: salting is a physical rewrite.
    l_returnflag (3 distinct values over 600k rows) is exactly the
    pathological key shape this exists for. Decimal sums keep the
    two-stage result bit-equal to the one-stage plan."""
    li = table(spark, sf_dir, "lineitem")
    salted = (
        li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum(money("l_quantity")).alias("psum"))
    )
    return salted.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"), dbl(F.sum("psum")).alias("sum_qty")
    )


@register(
    "range_join_bands",
    oracle="""
    SELECT b.band, count(*) AS n_parts,
           CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM part p
    JOIN (VALUES ('budget', 0.0, 930.0), ('mid', 930.0, 970.0), ('premium', 970.0, 10000.0))
         AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: facts against interval bands. The band table
    is tiny → broadcast nested loop, which is the right physical plan at
    any scale (bands stay small; the fact side streams through)."""
    p = table(spark, sf_dir, "part")
    from ..functions import local_rows_df

    bands = local_rows_df(
        spark,
        [("budget", 0.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 10000.0)],
        "band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dbl(F.sum(money("p_retailprice"))).alias("total_price"),
        )
    )


@register(
    "window_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions (rank/dense_rank/percent_rank/ntile)."""
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
           count(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with explicit full frame (last_value over
    the default frame is a classic correctness trap — pinned here)."""
    w_ord = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w_ord).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("n_orders"),
    )


@register(
    "predicate_ops",
    oracle="""
    SELECT p_partkey, p_type, p_size FROM part
    WHERE (p_type LIKE '%AND%' OR p_type LIKE 'SMALL%')
      AND p_size BETWEEN 5 AND 40
      AND p_brand NOT IN ('Brand#1', 'Brand#2', 'Brand#3')
    """,
)
def predicate_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / BETWEEN / IN-list predicates with OR — beyond the
    reference's AND-only surface (its analyzer rejects OR,
    analyzer/mod.rs:183)."""
    p = table(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_type").like("%AND%") | F.col("p_type").like("SMALL%"))
        & F.col("p_size").between(5, 40)
        & ~F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    ).select("p_partkey", "p_type", "p_size")


@register(
    "null_handling",
    oracle="""
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_coalesced,
           CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END AS was_building,
           ifnull(nullif(c_nationkey, 0), -1) AS nation_or_neg
    FROM customer
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-producing/consuming scalar ops (nullif/coalesce/ifnull) under
    standard three-valued logic — the documented divergence from the
    reference's NULL=NULL→true quirk (volcano_style.rs:76-84)."""
    c = table(spark, sf_dir, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_null.alias("seg_or_null"),
        F.coalesce(seg_null, F.lit("DEFAULT")).alias("seg_coalesced"),
        F.when(seg_null.isNull(), 1).otherwise(0).alias("was_building"),
        F.ifnull(F.nullif(F.col("c_nationkey"), F.lit(0)), F.lit(-1)).alias("nation_or_neg"),
    )


@register(
    "unpivot_part",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    """,
)
def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide → long. Spark's unpivot is a zero-shuffle
    per-row expansion (the oracle spells it as UNION ALL)."""
    p = table(spark, sf_dir, "part").withColumn("p_size_d", F.col("p_size").cast("double"))
    return (
        p.select("p_partkey", F.col("p_retailprice"), F.col("p_size_d"))
        .unpivot("p_partkey", ["p_retailprice", "p_size_d"], "metric", "val")
        .withColumn(
            "metric",
            F.when(F.col("metric") == "p_size_d", "p_size").otherwise(F.col("metric")),
        )
    )


@register(
    "vector_slice_stats",
    oracle="""
    SELECT vec_id,
           round(CAST(embedding[1] AS DOUBLE), 6) AS dim0,
           len(embedding) AS dim,
           round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head_sum,
           round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
    FROM embeddings
    """,
)
def vector_slice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column manipulation: element access, slicing, higher-order
    reductions over vectors — all JVM-side (no Python)."""
    e = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head = F.slice(v, 1, 8)
    return e.select(
        "vec_id",
        F.round(F.element_at(v, 1), 6).alias("dim0"),
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(head, F.lit(0.0), lambda a, x: a + x), 6).alias("head_sum"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(x))), 6).alias("max_abs"),
    )


@register(
    "events_rollup_2level",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS hour_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def events_rollup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute-level partials
    re-aggregated to hours. At 100 TB the minute table is the persisted
    continuous aggregate; hourly/daily views re-aggregate the (tiny)
    partials instead of the raw stream. The oracle aggregates raw→hour
    directly — equality of the two plans is exactly the invariant that
    makes rollup reuse sound (decimal sums are associative-exact)."""
    e = table(spark, sf_dir, "events")
    minutely = e.groupBy(F.date_trunc("minute", "ts").alias("minute_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).alias("sum_value"),
    )
    return (
        minutely.groupBy(F.date_trunc("hour", "minute_start").cast("string").alias("hour_start"))
        .agg(
            F.sum("n_events").alias("n_events"),
            dbl(F.sum("sum_value")).alias("total_value"),
        )
    )


_ZSCORE_SCHEMA = "c_nationkey int, c_custkey bigint, zscore double"


@register(
    "udf_group_zscore",
    oracle="""
    WITH s AS (
      SELECT c_nationkey, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM customer GROUP BY c_nationkey)
    SELECT c.c_nationkey, c.c_custkey,
           round((c.c_acctbal - s.sx/s.n) / sqrt((s.sxx - s.sx*s.sx/s.n) / s.n), 4) AS zscore
    FROM customer c JOIN s ON c.c_nationkey = s.c_nationkey
    """,
)
def udf_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped transform: per-nation z-score of account
    balance.

    Python IS the point here (the UDF/UDAF extension surface the
    reference lacks entirely); the moments are computed with exact
    decimal-style arithmetic inside pandas (float64 over cents) so the
    oracle matches. Arrow-batched; one shuffle on the group key."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["c_acctbal"] * 100).round().astype("int64")
        n = len(pdf)
        sx = float(cents.sum()) / 100.0
        sxx = float((cents * cents).sum()) / 10000.0
        mean = sx / n
        var = (sxx - sx * sx / n) / n
        z = ((pdf["c_acctbal"] - mean) / (var**0.5)).round(4)
        return pd.DataFrame(
            {"c_nationkey": pdf["c_nationkey"], "c_custkey": pdf["c_custkey"], "zscore": z}
        )

    return (
        table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .groupBy("c_nationkey")
        .applyInPandas(zscore, schema=_ZSCORE_SCHEMA)
    )


@register(
    "vector_quantize",
    oracle="""
    SELECT vec_id,
           array_to_string(
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 127) AS INTEGER)),
               ',') AS q8
    FROM embeddings
    """,
)
def vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8-style quantization of the embedding column (the
    storage-shrink step before ANN indexing at corpus scale). Pure
    higher-order transform — JVM-side, no shuffle, no Python. Values go
    float32 -> double (exact) before scaling so both engines round the
    same double; the int array is serialized to a CSV string so the
    result column is a scalar the correctness harness can sort/hash."""
    e = table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127).cast("int").cast("string"),
    )
    return e.select("vec_id", F.array_join(q8, ",").alias("q8"))


@register(
    "sort_paginate",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order. offset+limit push into
    one TakeOrdered of the first 150 rows — still no global sort; deep
    pagination at scale should switch to keyset (WHERE > last_seen)."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(100)
        .limit(50)
    )


@register(
    "null_safe_join",
    oracle="""
    SELECT a.k AS k, count(*) AS n_pairs
    FROM (SELECT nullif(source, 'src0') AS k FROM documents) a
    JOIN (SELECT nullif(source, 'src1') AS k FROM documents) b
      ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    ORDER BY k NULLS FIRST
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics the reference hard-codes for ALL
    comparisons (volcano_style.rs:76-84 treats NULL cmp NULL as true).
    Standard SQL would drop those rows; here the quirk is an explicit,
    opt-in operator instead of a global behavior. NULL keys all hash to
    one partition — real pipelines should pre-split them (they only
    match each other), like any other skew key."""
    d = table(spark, sf_dir, "documents")
    a = d.select(F.nullif("source", F.lit("src0")).alias("ka"))
    b = d.select(F.nullif("source", F.lit("src1")).alias("kb"))
    return (
        a.join(b, a.ka.eqNullSafe(b.kb))
        .groupBy(F.col("ka").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("k").asc_nulls_first())
    )


@register(
    "join_salted",
    oracle="""
    SELECT f.label, count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem l
    JOIN (VALUES ('A', 'accepted'), ('N', 'new'), ('R', 'returned'))
         AS f(l_returnflag, label)
      ON l.l_returnflag = f.l_returnflag
    GROUP BY f.label
    ORDER BY f.label
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join for skewed keys: the fact side salts its key
    over 8 buckets; the dimension side replicates once per salt (explode
    of a sequence), so one hot key spreads across 8 reducers instead of
    one. Semantically identical to the plain join (the oracle) — salting
    is a physical rewrite, the same discipline as agg_salted. Used when
    the dim is too large to broadcast; AQE's skew-join split is the
    runtime alternative, this is the explicit form."""
    n_salt = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt))
    )
    from ..functions import local_rows_df

    dim = local_rows_df(
        spark,
        [("A", "accepted"), ("N", "new"), ("R", "returned")],
        "flag string, label string",
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<bigint>")))
    return (
        li.join(dim, (li.l_returnflag == dim.flag) & (li.salt == dim.salt))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dbl(F.sum(money("l_extendedprice"))).alias("total_price"),
        )
        .orderBy("label")
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
                      RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_30d
    FROM lineitem
    WHERE l_suppkey < 20
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based, not row-based): per-supplier
    trailing-30-day revenue. Spark's rangeBetween needs a numeric
    ordering, so the timestamp orders as epoch seconds with a
    30-day-in-seconds frame — identical semantics to the oracle's
    INTERVAL frame (ties included, exact decimal sum). One shuffle on
    the partition key; the frame is evaluated streaming per partition."""
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(F.unix_timestamp("l_shipdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") < 20)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            dbl(F.sum(money("l_extendedprice")).over(w)).alias("trailing_30d"),
        )
    )


@register(
    "recursive_month_series",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1996-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1996-12-01'
    )
    SELECT CAST(months.m AS VARCHAR) AS month_start,
           count(o.o_orderkey) AS n_orders
    FROM months
    LEFT JOIN orders o
      ON o.o_orderdate >= months.m AND o.o_orderdate < months.m + INTERVAL 1 MONTH
    GROUP BY months.m
    ORDER BY months.m
    """,
)
def recursive_month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate a month spine by
    recursion, then left-join order counts so empty months survive.
    The recursion is a 12-step driver-side expansion — the heavy side
    (orders) stays a single distributed aggregation."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("rcte_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1996-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1996-12-01'
        )
        SELECT CAST(months.m AS STRING) AS month_start,
               count(o.o_orderkey) AS n_orders
        FROM months
        LEFT JOIN rcte_orders o
          ON o.o_orderdate >= months.m AND o.o_orderdate < months.m + INTERVAL 1 MONTH
        GROUP BY months.m
        ORDER BY months.m
        """
    )


@register(
    "udaf_acctbal_sumsq",
    oracle="""
    SELECT c_nationkey,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                    * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sumsq_cents
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def udaf_acctbal_sumsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE function (pandas GROUPED_AGG — the UDAF
    slot next to the GROUPED_MAP udf_group_zscore): per-nation sum of
    squared balances in integer cents. Integer arithmetic end-to-end so
    the custom aggregate is exactly reproducible at any parallelism —
    the discipline any 100 TB UDAF needs (float partials would merge
    order-dependently). Arrow-batched; partial aggregation applies.

    The double->cents rounding happens JVM-side (Spark ``round`` =
    HALF_UP = DuckDB ``round``, both half-away-from-zero); pandas'
    ``Series.round`` is half-to-even and silently disagrees on exact
    .5 ties, so the UDAF only ever sees exact int64 cents."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def sumsq(cents: pd.Series) -> int:
        return int((cents * cents).sum())

    cents_col = F.round(F.col("c_acctbal") * 100).cast("bigint")
    return (
        table(spark, sf_dir, "customer")
        .withColumn("cents", cents_col)
        .groupBy("c_nationkey")
        .agg(sumsq("cents").alias("sumsq_cents"))
        .orderBy("c_nationkey")
    )


@register(
    "orders_rfm",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey)
    SELECT o_custkey, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM base
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) — the
    classic per-entity scoring rollup. One grouped pass builds the three
    metrics; each quintile is a two-phase ``distwindow.global_ntile``
    (range-partitioned exact row number + driver-side bucket arithmetic)
    instead of an unpartitioned ``ntile`` window, so no single task ever
    sees all customers. Custkey tie-breaks keep the assignment
    engine-independent; the global max date joins as a broadcast 1-row
    aggregate, not a collected literal."""
    from .distwindow import global_ntile

    o = table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dbl(F.sum(money("o_totalprice"))).alias("monetary"),
    )
    gmax = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    base = base.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff(F.col("gmax"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    scored = global_ntile(base, 5, ["recency_days", "o_custkey"], "r_score")
    scored = global_ntile(scored, 5, [F.col("frequency").desc(), F.col("o_custkey")], "f_score")
    scored = global_ntile(scored, 5, [F.col("monetary").desc(), F.col("o_custkey")], "m_score")
    return scored.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@register(
    "customer_pareto",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT sum(revenue) AS total FROM rev)
    SELECT o_custkey,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey)
                      AS DOUBLE) / CAST(tot.total AS DOUBLE), 6) AS cum_share,
           CAST(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey)
                <= tot.total * 0.8 AS BOOLEAN) AS in_top80
    FROM rev CROSS JOIN tot
    """,
)
def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: cumulative revenue share per customer in
    descending order, flagging the set that makes up the first 80% of
    revenue. The running sum is a two-phase ``distwindow.global_cumsum``
    (range-partitioned per-partition cumsum + broadcast prefix offsets)
    rather than an unpartitioned window, so no single task sees the full
    customer rollup. The cumsum and the 80% test stay in exact decimal
    (doubles only at output), so the flag can't flip on partial-agg
    merge order; the grand total falls out of the prefix pass for free
    and enters the plan as exact decimal literals."""
    from decimal import Decimal

    from .distwindow import global_cumsum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum(money("o_totalprice")).alias("revenue"))
    cum_df, total = global_cumsum(
        rev, "revenue", [F.col("revenue").desc(), F.col("o_custkey")], "_cum"
    )
    cum = F.col("_cum")
    cut80 = F.lit(total) * F.lit(Decimal("0.8"))  # decimal*decimal: exact
    return cum_df.select(
        "o_custkey",
        dbl(F.col("revenue")).alias("revenue"),
        F.round(cum.cast("double") / F.lit(float(total)), 6).alias("cum_share"),
        (cum <= cut80).alias("in_top80"),
    )


@register(
    "orders_monthly_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY 1)
    SELECT month,
           CAST(revenue AS DOUBLE) AS revenue,
           round((CAST(revenue AS DOUBLE) - CAST(lag(revenue) OVER (ORDER BY month) AS DOUBLE))
                 / CAST(lag(revenue) OVER (ORDER BY month) AS DOUBLE) * 100, 4) AS growth_pct
    FROM m
    """,
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: decimal-exact monthly rollup,
    then lag over the tiny time series. The subtraction happens on
    exactly-equal decimals cast to double (one IEEE op each side), so
    the percentage is engine-identical; first month's growth is NULL.
    The window runs over ≤ dozens of rows — the fact shuffle is only
    the month rollup."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .cast("string")
        .alias("month")
    ).agg(F.sum(money("o_totalprice")).alias("revenue"))
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w).cast("double")
    return m.select(
        "month",
        dbl(F.col("revenue")).alias("revenue"),
        F.round((F.col("revenue").cast("double") - prev) / prev * 100, 4).alias(
            "growth_pct"
        ),
    )


@register(
    "events_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    pairs AS (SELECT prev, cur, count(*) AS n FROM seq
              WHERE prev IS NOT NULL GROUP BY prev, cur)
    SELECT prev, cur, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev), 4) AS p_transition
    FROM pairs
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov view of user
    journeys): consecutive-event pairs per user via a tie-broken lag,
    counted and normalized to transition probabilities. One shuffle on
    user_id for the sequencing; the matrix itself is |types|² rows, so
    the normalizing window runs over a constant-size aggregate."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.lag("event_type").over(w).alias("prev"), F.col("event_type").alias("cur")
    ).filter(F.col("prev").isNotNull())
    pairs = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    share = F.col("n").cast("double") / F.sum("n").over(W.partitionBy("prev"))
    return pairs.select("prev", "cur", "n", F.round(share, 4).alias("p_transition"))


@register(
    "orders_price_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders)
    SELECT bucket,
           bucket * 25000 AS lo,
           (bucket + 1) * 25000 AS hi,
           count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM orders), 6) AS share
    FROM b GROUP BY bucket
    """,
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram (25k buckets): the profiling query
    behind every numeric-column dashboard and the optimizer's histogram
    statistics. Bucketing is a pure projection (no pre-pass for min/max
    since the domain floor is 0); one partial-aggregated shuffle keyed
    by ~dozens of buckets; the denominator joins as a broadcast 1-row
    aggregate rather than a collected literal."""
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bucket")
    )
    tot = o.agg(F.count(F.lit(1)).alias("tot"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (F.col("bucket") * 25000).alias("lo"),
            ((F.col("bucket") + 1) * 25000).alias("hi"),
            "n",
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
        )
    )


@register(
    "orders_backlog_daily",
    oracle="""
    WITH lastr AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS rd
      FROM lineitem GROUP BY l_orderkey),
    deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
      UNION ALL
      SELECT rd, -1 FROM lastr),
    daily AS (SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d)
    SELECT CAST(d AS VARCHAR) AS day, net,
           CAST(sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — the interval-overlap-counting pattern
    (how many orders are in flight each day) done the O(n) way: each
    order contributes +1 at its order date and -1 at its last ship
    date; the backlog is the running sum of the per-day net.  The naive
    formulation is a day×order interval join (quadratic); the delta
    trick turns it into two aggregations plus one running total.

    The running total runs through distwindow.global_cumsum (two-phase,
    range-partitioned) — no Exchange SinglePartition even though the
    date domain is modest, so the same plan holds when the key is
    (day, region) × years of history."""
    from .distwindow import global_cumsum

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    opens = o.select(F.to_date("o_orderdate").alias("d"), F.lit(1).alias("delta"))
    closes = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("d"))
        .select("d", F.lit(-1).alias("delta"))
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("d")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    out, _ = global_cumsum(daily, "net", ["d"], "open_orders")
    return out.select(
        F.col("d").cast("string").alias("day"),
        "net",
        F.col("open_orders").cast("long").alias("open_orders"),
    )


@register(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS rn FROM rev),
    agg AS (
      SELECT count(*) AS n,
             sum(r) AS tot,
             sum(r * rn) AS weighted
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS DOUBLE) AS total_rev,
           round(CAST(2 * weighted AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6) AS gini
    FROM agg
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: the Gini coefficient of per-customer
    revenue (0 = perfectly even, →1 = one whale), the one-number
    companion to `customer_pareto`'s curve.

    G = 2·Σ(rank·rev) / (n·Σrev) − (n+1)/n over revenue-ascending ranks.
    The global rank comes from distwindow.global_row_number (two-phase,
    range-partitioned — no single-partition window even though this is
    the textbook 'sort everything once' statistic), and rank·revenue
    products are exact DECIMAL·INT sums, so the one float division at
    the end sees identical operands in both engines."""
    from .distwindow import global_row_number

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum(money("o_totalprice")).alias("r"))
    ranked, n = global_row_number(rev, ["r", "o_custkey"], "rn")
    agg = ranked.agg(
        F.sum("r").alias("tot"),
        F.sum(F.col("r") * F.col("rn")).alias("weighted"),
    )
    nd = float(n)
    return agg.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.col("tot").cast("double").alias("total_rev"),
        F.round(
            (F.lit(2) * F.col("weighted")).cast("double")
            / (F.lit(nd) * F.col("tot").cast("double"))
            - F.lit((nd + 1.0) / nd),
            6,
        ).alias("gini"),
    )


_ATTR_SCALE = 1_000_000  # one conversion = 1e6 micro-credits


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH p AS (SELECT event_id AS pid, user_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS cid, user_id, CAST(ts AS TIMESTAMP) AS c_ts
          FROM events WHERE event_type = 'click'),
    touch AS (
      SELECT p.pid, c.cid
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.c_ts <= p.p_ts
        AND c.c_ts > p.p_ts - INTERVAL 7 DAY),
    nt AS (SELECT pid, count(*) AS n FROM touch GROUP BY pid)
    SELECT t.cid AS click_event_id,
           count(*) AS n_conversions,
           CAST(sum({_ATTR_SCALE} // nt.n) AS BIGINT) AS credit_micro
    FROM touch t JOIN nt USING (pid)
    GROUP BY t.cid
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's credit splits
    equally (integer micro-units, truncating division — both engines
    truncate) across ALL the user's clicks in the 7-day lookback;
    per click, the total credit and the number of conversions it
    touched.  The marketing-analytics face the as-of join (last-touch)
    cannot express — credit lands on EVERY touch, not just the latest.

    Implemented the scale-correct way: NOT the quadratic-per-user
    inequality join the oracle states, but a time-BUCKET equi-join (the
    range_join_bands discipline applied on the time axis): purchases
    explode to their own and the preceding 7-day bucket, clicks carry
    one bucket, the join runs on (user_id, bucket) — complete by
    construction since a lookback window spans at most two buckets —
    and the exact range filter prunes the at-most-2x candidates.  One
    equi-shuffle on (user, bucket); per-key fan-out is bounded by a
    user's weekly activity, never their lifetime history."""
    e = table(spark, sf_dir, "events")
    # TZ-FREE bucketing: datediff on the NTZ date is a pure wall-clock
    # function.  unix_timestamp(cast(ts as timestamp)) would interpret
    # the NTZ wall-clock in the SESSION timezone — across a DST
    # transition that shifts a 7-day epoch-bucket boundary by an hour,
    # so a boundary touch could land 2 buckets away and be missed by
    # the {b, b-1} probe.  Date buckets keep the pigeonhole exact:
    # c >= p - 7d implies c_date in [p_date - 7, p_date], which spans
    # at most two 7-day date buckets.
    bucket = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        / F.lit(7)
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("p_ts"),
        bucket.alias("b"),
    )
    pb = p.select(
        "pid",
        "user_id",
        "p_ts",
        F.explode(F.array(F.col("b"), F.col("b") - 1)).alias("bucket"),
    )
    cb = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.col("ts").alias("c_ts"),
        bucket.alias("bucket"),
    )
    touch = (
        pb.join(cb, ["user_id", "bucket"])
        .filter(
            (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.expr("p_ts - INTERVAL 7 DAY"))
        )
        .select("pid", "cid")
    )
    nt = touch.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    return (
        touch.join(nt, "pid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.expr(f"{_ATTR_SCALE} div n")).alias("credit_micro"),
        )
        .select(
            F.col("cid").alias("click_event_id"), "n_conversions", "credit_micro"
        )
    )
