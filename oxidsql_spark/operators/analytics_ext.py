"""Round-4 analytics extensions: market-basket pair affinity, exact
cross-column correlation matrix, order→ship latency distribution, and
ranking-distribution window functions.

Reference scope note: OxidSQL's physical algebra has no aggregation or
window operators at all (src/execution/plan.rs:29-68; GROUP BY is a
TODO, README.md:51) — these are north-star extensions, built on the
same decimal-exact-moment discipline as `relational_ext.stats_moments`
so distributed results are bit-stable across partitionings and hash-
match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import dbl, dec2, scratch_dir, table


@register(
    "basket_pair_affinity",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: the top co-purchased part pairs.

    Spark-first plan: ONE shuffle. Instead of the oracle's self-join
    (which shuffles the item list twice and re-joins it), group items
    per order into a sorted array and generate the C(k,2) pairs with
    codegen higher-order functions. Per-order item count is bounded
    (TPC-H: <= 7 lines/order), so the explode fan-out is O(k²) with
    tiny k — at 100 TB the pair stream is ~20× lineitem, all map-side;
    the only shuffles are the orderkey grouping and the tiny pair agg.
    A pathological mega-basket would need a per-order item cap; TPC-H
    order shapes don't."""
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = items.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda x, i: F.transform(
                        F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                        lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                    ),
                )
            )
        ).alias("pair")
    ).select("pair.part_a", "pair.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "lineitem_corr_matrix",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sq,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS se,
             CAST(sum(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) AS sd,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS see,
             CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqe,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sed
      FROM lineitem
    )
    SELECT x, y, round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS corr
    FROM (
      SELECT 'l_quantity' AS x, 'l_extendedprice' AS y, n, sq AS sx, se AS sy, sqq AS sxx, see AS syy, sqe AS sxy FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_discount', n, sq, sd, sqq, sdd, sqd FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', n, se, sd, see, sdd, sed FROM m
    )
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns, from decimal-exact moment sums in ONE grouped pass.

    Spark's built-in `corr` accumulates doubles in partition order and
    is not bit-reproducible across partitionings; exact Σx/Σx²/Σxy are
    associative decimals, so the same plan at 1000 executors hashes the
    same. One scan produces all 9 sums (map-side partials, single-row
    shuffle); the 3×3 matrix is unpivoted driver-free from that row."""
    li = table(spark, sf_dir, "lineitem")
    # dec2, not money: quantity is a count, not a money amount — it's
    # included here because TPC-H quantities are small integers, exactly
    # representable at 2 decimals, so the same exact-moment trick applies.
    q, e, d = dec2("l_quantity"), dec2("l_extendedprice"), dec2("l_discount")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        dbl(F.sum(q)).alias("sq"),
        dbl(F.sum(e)).alias("se"),
        dbl(F.sum(d)).alias("sd"),
        dbl(F.sum(q * q)).alias("sqq"),
        dbl(F.sum(e * e)).alias("see"),
        dbl(F.sum(d * d)).alias("sdd"),
        dbl(F.sum(q * e)).alias("sqe"),
        dbl(F.sum(q * d)).alias("sqd"),
        dbl(F.sum(e * d)).alias("sed"),
    )
    pairs = m.select(
        F.expr(
            "stack(3, "
            "'l_quantity', 'l_extendedprice', sq, se, sqq, see, sqe, "
            "'l_quantity', 'l_discount', sq, sd, sqq, sdd, sqd, "
            "'l_extendedprice', 'l_discount', se, sd, see, sdd, sed"
            ") AS (x, y, sx, sy, sxx, syy, sxy)"
        ),
        "n",
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    return pairs.select(
        "x",
        "y",
        F.round((sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6).alias(
            "corr"
        ),
    )


@register(
    "ship_latency",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           min(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS min_days,
           max(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS max_days,
           round(quantile_cont(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.5), 4) AS p50_days,
           round(quantile_cont(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.9), 4) AS p90_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution per priority class — the
    operational-SLA query shape (join two fact tables, aggregate a
    derived duration).

    Scale: the orderkey equi-join is the one unavoidable fact-fact
    shuffle (AQE handles skew); only the 3 needed columns of each side
    are read (pruned ReadSchema). Exact percentiles sort per tiny group
    post-aggregation at test scale; the 100 TB dashboard path is
    approx_percentile over the same latency column."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # bigint, matching the oracle's date_diff type exactly — the repo
    # convention is explicit width alignment, not reliance on the
    # harness's lenient integer-width comparison.
    lat = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_orderpriority", lat.alias("days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("days").alias("min_days"),
            F.max("days").alias("max_days"),
            F.round(F.percentile("days", F.lit(0.5)), 4).alias("p50_days"),
            F.round(F.percentile("days", F.lit(0.9)), 4).alias("p90_days"),
        )
    )


@register(
    "window_dist_funcs",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist()   OVER w, 6) AS cd,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
)
def window_dist_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-distribution window functions: percent_rank / cume_dist
    (tie-aware, so ordering by the value alone is deterministic) plus a
    partitioned ntile with a key tie-break (ntile assigns peers
    arbitrarily without one).

    Scale: both specs share the c_mktsegment partition key, so Catalyst
    plans ONE exchange and evaluates the frames streaming per
    partition; nothing here is a global window (contrast
    distwindow.global_ntile, used when there is no partition key)."""
    wv = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    wk = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(wv), 6).alias("pr"),
        F.round(F.cume_dist().over(wv), 6).alias("cd"),
        F.ntile(4).over(wk).alias("quartile"),
    )


@register(
    "orders_matview_refresh",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / count(*) AS DOUBLE) AS avg_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def orders_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate view
    (``matview.AggView``) end-to-end: materialize the orders aggregate
    from the pre-1996 slice, then fold the 1996+ slice in as two
    append-only REFRESHES (each touching only delta + group-state rows,
    never the base) and read the final view.  The oracle aggregates the
    WHOLE table in one shot, so a hash match proves create→refresh→
    refresh ≡ full recompute, bit-exact — the invariant that lets a
    100 TB deployment serve this aggregate without ever rescanning the
    base (the reference recomputes every query from heap scans;
    volcano_style.rs has no materialization layer)."""
    import shutil

    from ..matview import AggView

    o = table(spark, sf_dir, "orders")
    path = scratch_dir("matview", sf_dir)

    shutil.rmtree(path, ignore_errors=True)
    view = AggView(
        spark,
        path,
        keys=["o_orderstatus", "o_orderpriority"],
        measures={"price": dec2("o_totalprice"), "key": F.col("o_orderkey")},
    )
    view.create(o.filter(F.col("o_orderdate") < "1996-01-01"))
    view.refresh(
        o.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
    )
    view.refresh(o.filter(F.col("o_orderdate") >= "1997-01-01"))
    v = view.read()
    return (
        v.select(
            "o_orderstatus",
            "o_orderpriority",
            "cnt",
            dbl(F.col("sum_price")).alias("sum_price"),
            F.col("min_key").alias("min_key"),
            F.col("max_key").alias("max_key"),
            (dbl(F.col("sum_price")) / F.col("cnt")).cast("double").alias("avg_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "events_type_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    ORDER BY type_a, type_b
    """,
)
def events_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users did BOTH — the segment-intersection report behind audience
    sizing and cannibalization analysis.

    Scale shape: ONE distinct shuffle on (user_id, event_type) builds
    the membership relation; the self-join runs co-partitioned on
    user_id (the distinct already partitioned it — no second exchange
    of the big side), fans out only per-user type pairs (≤ T² per user,
    T = #types, a constant), and the pair count partial-aggregates.
    The HLL route (one sketch per type, intersection by
    inclusion-exclusion) replaces the join when T is large; with the
    fixed 5-type domain the exact join IS the cheap plan."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("type_a", "type_b")
    )


@register(
    "events_conversion_lag",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
      SELECT e.user_id,
             CAST(date_diff('second', fv.first_view, min(e.ts)) AS BIGINT)
               AS lag_s
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY e.user_id, fv.first_view)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(sum(lag_s) AS BIGINT) AS total_lag_s,
           min(lag_s) AS min_lag_s,
           max(lag_s) AS max_lag_s,
           round(CAST(sum(lag_s) AS DOUBLE) / count(*), 4) AS avg_lag_s
    FROM conv
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency: per user, the seconds from
    their FIRST view to their first purchase at-or-after it, aggregated
    to count / total / min / max / mean — the funnel-velocity companion
    to events_funnel (which counts who converts; this measures how
    fast).

    Scale shape: one filtered aggregate derives first-view per user
    (pushdown on event_type); purchases join it co-partitioned on
    user_id and reduce to one row per converting user before the final
    scalar aggregate.  All lag arithmetic is integer seconds, so the
    sums are order-independent; only the final mean divides (same
    operand order both engines)."""
    ev = table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
        .select(
            (
                F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
            ).alias("lag_s")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.sum("lag_s").alias("total_lag_s"),
        F.min("lag_s").alias("min_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
        F.round(F.sum("lag_s").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_lag_s"
        ),
    )


@register(
    "events_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    base AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    pts AS (
      SELECT event_type,
             CAST(date_diff('day', b.d0, d) AS BIGINT) AS x,
             CAST(y AS BIGINT) AS y
      FROM daily, base b),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY event_type)
    SELECT event_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM m ORDER BY event_type
    """,
)
def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares trend: per event type, the OLS slope and
    intercept of daily event counts against the day index — the
    "is this signal growing" primitive behind volume monitoring and
    anomaly-free drift detection.

    Scale shape: the daily rollup is the only data-sized aggregation
    (map-side combined on (type, day)); the regression inputs are the
    five classic sufficient statistics (n, Σx, Σy, Σxy, Σx²) — ALL
    integer, so partial-agg merge order cannot perturb them — and
    slope/intercept are two final double divisions with identical
    operand order in both engines (rounded at 6 dp).  Day indexes are
    anchored to the global min day (one broadcast row)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    base = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    pts = daily.crossJoin(F.broadcast(base)).select(
        "event_type",
        F.datediff("d", "d0").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
    ).orderBy("event_type")


@register(
    "events_ohlc",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(value AS DECIMAL(18,2)) AS v, ts, event_id,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts, event_id) AS rno,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rnc
      FROM events)
    SELECT CAST(hour AS VARCHAR) AS hour_start, event_type,
           CAST(max(CASE WHEN rno = 1 THEN v END) AS DOUBLE) AS open_v,
           CAST(max(v) AS DOUBLE) AS high_v,
           CAST(min(v) AS DOUBLE) AS low_v,
           CAST(max(CASE WHEN rnc = 1 THEN v END) AS DOUBLE) AS close_v,
           count(*) AS n_events,
           CAST(sum(v) AS DOUBLE) AS volume
    FROM b GROUP BY hour, event_type
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close/volume per (hour, event type) — the standard
    time-series downsampling every metrics store runs.  Open and close
    are the FIRST/LAST values under the total (ts, event_id) order, so
    simultaneous events resolve identically in both engines; values ride
    the DECIMAL(18,2) money discipline so the volume sum is partial-agg-
    order-proof.

    Scale shape: two row_number windows + one aggregate, all partitioned
    by (hour, event_type) — the natural bucketing key, thousands of
    partitions at any realistic retention, never a global window."""
    from ..sources import money

    e = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        money("value").alias("v"),
        "ts",
        "event_id",
    )
    wo = W.partitionBy("hour", "event_type").orderBy("ts", "event_id")
    wc = W.partitionBy("hour", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b = e.withColumn("rno", F.row_number().over(wo)).withColumn(
        "rnc", F.row_number().over(wc)
    )
    return b.groupBy("hour", "event_type").agg(
        dbl(F.max(F.when(F.col("rno") == 1, F.col("v")))).alias("open_v"),
        dbl(F.max("v")).alias("high_v"),
        dbl(F.min("v")).alias("low_v"),
        dbl(F.max(F.when(F.col("rnc") == 1, F.col("v")))).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
        dbl(F.sum("v")).alias("volume"),
    ).select(
        F.col("hour").cast("string").alias("hour_start"),
        "event_type",
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n_events",
        "volume",
    )
