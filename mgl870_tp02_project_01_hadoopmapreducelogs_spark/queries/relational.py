"""Relational operators (SURVEY §2.2, §2.5-§2.8) on the synthetic
star schema — projections/filters, aggregations, sorts/top-k, joins,
window buckets, plus TPC-H-shaped headline queries.

Float discipline for oracle hash-matching: SUMs of doubles are either
integer-ized (``floor(x*100)`` sums, exact in both engines) or rounded
to 2 decimals in BOTH engines; correlations rounded to 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register

# --- P2/P3: projection & drop -----------------------------------------------


@register(
    "p2_p3_projection_drop",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_linenumber <= 3
    """,
    doc="P2+P3: column projection/drop pushed into the parquet scan "
    "(ReadSchema pruning; reference does pandas drop, "
    "process_logs_v9.py:256,263).",
)
def p2_p3_projection_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_tax"
    )
    return wide.drop("l_tax").filter(F.col("l_linenumber") <= 3)


# --- P4: filter on aggregate (HAVING) ----------------------------------------


@register(
    "p4_failure_event_filter",
    """
    SELECT event_type, count(*) AS total
    FROM events WHERE event_type = 'error'
    GROUP BY event_type HAVING count(*) > 0
    """,
    doc="P4: events with ≥1 occurrence — 'failure events' "
    "(process_logs_v10.py:168-172; stat_calculation.py:2-3).",
)
def p4_failure_event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("total"))
        .filter(F.col("total") > 0)
    )


# --- P5: row selection by key predicate --------------------------------------


@register(
    "p5_row_selection_by_key",
    """
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'purchase' AND user_id % 10 != 3
    """,
    doc="P5: equality/inequality key predicates "
    "(process_logs_v10.py:249-250; v9:255-256).",
)
def p5_row_selection_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 10 != 3)
    ).select("event_id", "user_id", "value")


# --- A1/A2: totals ------------------------------------------------------------


@register(
    "a1_a2_event_totals",
    """
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY event_type
    """,
    doc="A1+A2: per-event frequency and column-wise totals "
    "(process_logs_v10.py:152,168) — hash aggregate with map-side "
    "partials; integer-exact sum.",
)
def a1_a2_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100)).alias("total_cents"),
    )


# --- A3: null-on-error numeric coercion ---------------------------------------


@register(
    "a3_try_cast_coercion",
    """
    SELECT CAST(SUM(TRY_CAST(s AS BIGINT)) AS BIGINT) AS total,
           count(*) - count(TRY_CAST(s AS BIGINT)) AS n_bad
    FROM (
        SELECT CASE WHEN event_id % 3 = 0 THEN props
               ELSE CAST(user_id AS VARCHAR) END AS s
        FROM events
    )
    """,
    doc="A3: pd.to_numeric(errors='coerce') ≡ try_cast → NULL on "
    "non-numeric (process_logs_v10.py:169).",
)
def a3_try_cast_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 3 == 0, F.col("props")).otherwise(
        F.col("user_id").cast("string")
    )
    cast = s.try_cast("bigint")
    return ev.select(cast.alias("c")).agg(
        F.sum("c").alias("total"),
        (F.count(F.lit(1)) - F.count("c")).alias("n_bad"),
    )


# --- A4/A5 + W1: windowed feature aggregation ---------------------------------


@register(
    "w1_a4_a5_windowed_features",
    """
    SELECT window_id,
           CAST(SUM(CAST(FLOOR(value*1000) AS BIGINT)) AS BIGINT) AS sum_value,
           MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
    FROM (
        SELECT value, event_type,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) / 5) AS BIGINT)
                 AS window_id
        FROM events
    )
    GROUP BY window_id
    """,
    doc="W1+A4+A5: tumbling row-bucket windows (arange(len)//5), per-"
    "window feature SUM and label MAX "
    "(process_logs_v10.py:262-265).",
)
def w1_a4_a5_windowed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import add_row_buckets

    ev = load(spark, sf_dir, "events")
    bucketed = add_row_buckets(ev, ["event_id"]).select(
        "window_id",
        F.floor(F.col("value") * 1000).alias("v"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    return bucketed.groupBy("window_id").agg(
        F.sum("v").alias("sum_value"), F.max("is_err").alias("label")
    )


# --- A6: class histogram -------------------------------------------------------


@register(
    "a6_class_histogram",
    """
    SELECT CASE WHEN value > 49.63 THEN 1 ELSE 0 END AS label, count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="A6: np.bincount(y) class balance (process_logs_v10.py:334-335).",
)
def a6_class_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.when(F.col("value") > 49.63, 1).otherwise(0).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A7: pivot / one-hot occurrence matrix -------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "a7_occurrence_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    doc="A7/D6: line×event one-hot matrix via pivot at the edge "
    "(process_logs.py:68-83); long/sparse form is the primary "
    "representation at scale.",
)
def a7_occurrence_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", values=EVENT_TYPES)
        .count()
        .na.fill(0)
    )
    for t in EVENT_TYPES:
        out = out.withColumn(t, F.col(t).cast("long"))
    return out


# --- A8: distinct + sort --------------------------------------------------------


@register(
    "a8_distinct_sort",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    doc="A8: dictionary build — distinct ids sorted (process_logs.py:75-76).",
)
def a8_distinct_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select("event_type").distinct().orderBy(
        "event_type"
    )


# --- A9: Pearson correlation -----------------------------------------------------


@register(
    "a9_pearson_correlation",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(corr(l_discount, l_tax), 4) AS corr_disc_tax
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="A9: Pearson correlation matrix entries (X.corr().abs(), "
    "process_logs_v10.py:254) as grouped corr aggregates.",
)
def a9_pearson_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_disc_tax"),
    )


# --- A10: correlation-threshold pruning -------------------------------------------


@register(
    "a10_correlation_pruning",
    """
    WITH feats AS (
        SELECT l_quantity AS x1,
               l_quantity * 2 + l_tax AS x2,
               l_discount AS x3
        FROM lineitem
    ), c AS (
        SELECT corr(x1, x2) AS c12, corr(x1, x3) AS c13, corr(x2, x3) AS c23
        FROM feats
    )
    SELECT 'x2' AS dropped FROM c WHERE abs(c12) > 0.7
    UNION ALL
    SELECT 'x3' FROM c WHERE abs(c13) > 0.7 OR abs(c23) > 0.7
    """,
    doc="A10/M9: drop features |corr|>threshold with an earlier column "
    "(np.triu scan, process_logs_v10.py:253-257). x2 is constructed "
    "collinear with x1 so exactly x2 drops.",
)
def a10_correlation_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import stats

    li = load(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_quantity").alias("x1"),
        (F.col("l_quantity") * 2 + F.col("l_tax")).alias("x2"),
        F.col("l_discount").alias("x3"),
    )
    dropped = stats.correlated_columns(feats, ["x1", "x2", "x3"], threshold=0.7)
    return spark.createDataFrame([(c,) for c in dropped], "dropped string")


# --- A11: descriptive stats --------------------------------------------------------


@register(
    "a11_describe",
    """
    SELECT count(l_quantity) AS n,
           ROUND(avg(l_quantity), 4) AS mean_qty,
           ROUND(min(l_quantity), 4) AS min_qty,
           ROUND(max(l_quantity), 4) AS max_qty
    FROM lineitem
    """,
    doc="A11: df.describe()/info() summary (process_logs_v10.py:229-231).",
)
def a11_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.min("l_quantity"), 4).alias("min_qty"),
        F.round(F.max("l_quantity"), 4).alias("max_qty"),
    )


# --- K1/K2: top-k by magnitude -------------------------------------------------------


@register(
    "k1_k2_topk_by_magnitude",
    """
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    ORDER BY abs(s_acctbal) DESC, s_suppkey LIMIT 10
    """,
    doc="K1+K2: abs-descending sort + top-k → TakeOrderedAndProject "
    "(nlargest(10), process_logs_v10.py:306-307,393-394).",
)
def k1_k2_topk_by_magnitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    return (
        s.orderBy(F.abs(F.col("s_acctbal")).desc(), F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .limit(10)
    )


# --- K3/K4: ascending sort + bounded preview ------------------------------------------


@register(
    "k3_k4_sorted_preview",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5
    """,
    doc="K3+K4: ascending key sort + head() preview (process_logs.py:75; "
    "process_logs_v10.py:230).",
)
def k3_k4_sorted_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .limit(5)
    )


# --- Joins (§2.7) -----------------------------------------------------------------------


@register(
    "join_broadcast_dims",
    """
    SELECT r.r_name AS region, count(*) AS n_customers,
           CAST(SUM(CAST(FLOOR(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS total_bal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="§2.7: dict-lookup ≡ broadcast hash join of facts against small "
    "dims (event_to_index, process_logs.py:76-82); explicit "
    "broadcast() hints keep the join shuffle-free at any fact size.",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.floor(F.col("c_acctbal") * 100)).alias("total_bal_cents"),
        )
    )


@register(
    "join_window_alignment",
    """
    WITH b AS (
        SELECT value, event_type,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) / 5) AS BIGINT)
                 AS window_id
        FROM events
    ),
    x AS (
        SELECT window_id,
               CAST(SUM(CAST(FLOOR(value*1000) AS BIGINT)) AS BIGINT) AS sum_value
        FROM b GROUP BY window_id
    ),
    y AS (
        SELECT window_id,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
        FROM b GROUP BY window_id
    )
    SELECT x.window_id, x.sum_value, y.label
    FROM x JOIN y ON x.window_id = y.window_id
    """,
    doc="§2.7: explicit inner equi-join on window_id replacing pandas "
    "implicit index alignment of X and y "
    "(process_logs_v10.py:264-265).",
)
def join_window_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import add_row_buckets

    ev = load(spark, sf_dir, "events")
    b = add_row_buckets(ev, ["event_id"]).select(
        "window_id",
        F.floor(F.col("value") * 1000).alias("v"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    x = b.groupBy("window_id").agg(F.sum("v").alias("sum_value"))
    y = b.groupBy("window_id").agg(F.max("is_err").alias("label"))
    return x.join(y, "window_id", "inner").select("window_id", "sum_value", "label")


@register(
    "join_left_semi",
    """
    SELECT p_partkey, p_name FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                  AND l.l_quantity > 45)
    """,
    doc="Left-semi join (EXISTS) — engine surface beyond the reference's "
    "implicit lookups.",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
    """,
    doc="Left-anti join (NOT EXISTS) — customers with no early-1995 orders.",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- set ops ------------------------------------------------------------------------------


@register(
    "setop_union_distinct",
    """
    SELECT k FROM (
        SELECT DISTINCT l_suppkey AS k FROM lineitem WHERE l_quantity > 49
        UNION
        SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_acctbal < 0
    )
    """,
    doc="Set ops: UNION DISTINCT of key sets.",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 49)
        .select(F.col("l_suppkey").alias("k"))
    )
    b = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("k"))
    )
    return a.union(b).distinct()


# --- time windows ----------------------------------------------------------------------------


@register(
    "time_tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_start,
           count(*) AS n,
           CAST(SUM(CAST(FLOOR(value*1000) AS BIGINT)) AS BIGINT) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Time-based tumbling windows over the parsed timestamp — the "
    "scale-correct replacement for W1 row buckets (SURVEY §2.8).",
)
def time_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000)).alias("sum_value"),
    )


# --- TPC-H-shaped headline queries ------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: the canonical scan→filter→"
    "hash-agg plan (map-side partials, no join).",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: selective dim filter → "
    "fact joins → agg → top-k.",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_region_volume",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped local-supplier volume: multi-way fact/dim joins "
    "with a same-nation join predicate.",
)
def tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # join ORDER is the optimization here: reduce nation by the region
    # filter FIRST (25 -> 5 rows) and push it onto customer before the
    # fact joins, so the orders probe and the big lineitem⋈orders
    # shuffle carry only the selected region's ~20% of rows — Catalyst
    # cannot infer this reorder itself (it would need to know the
    # region filter is selective through two joins). The reduced
    # customer deliberately carries NO broadcast hint: it is an
    # O(scale-factor) relation (forcing it would be an unbounded
    # broadcast — the anti-pattern this repo's scale doctrine forbids),
    # and AQE's runtime statistics pick the join strategy correctly
    # once the reduction has happened. Measured at the 100x corpus:
    # 28.4s baseline -> 19.7s cold; the remaining bound is the
    # unfiltered lineitem side of the orderkey shuffle.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    region_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    c_in_region = c.join(
        F.broadcast(region_nations), c.c_nationkey == F.col("n_nationkey")
    )
    return (
        c_in_region.join(o, F.col("c_custkey") == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped forecasting-revenue: pure filter + global agg — "
    "every predicate pushes to the parquet scan (PushedFilters), no "
    "shuffle at all beyond the single-row final agg.",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q14_promo_share",
    """
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14-shaped promotion share: fact filter + broadcast dim "
    "join + conditional aggregation in one pass.",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct")
        )
    )


# --- grouped top-k (beyond-reference distributed idiom) -----------------------------------------


@register(
    "topk_per_group",
    """
    SELECT user_id, event_id, rnk FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rnk
        FROM events
    ) WHERE rnk <= 3
    """,
    doc="Top-k per group via ranking window — one shuffle on the group "
    "key; the scalable form of the reference's nlargest.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select("user_id", "event_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (adapted to the synthetic schema: 'late' = "
    "shipped >60 days after order date): EXISTS compiles to a left-"
    "semi hash join on the order key before the priority aggregate — "
    "no row explosion from multi-line orders.",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == late.l_orderkey) & (
        late.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")
    )
    return (
        o.join(late, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: revenue lost to returned items per customer, "
    "top 20. Fact-fact joins shuffle on their keys (AQE skew-split); "
    "the final top-k is TakeOrderedAndProject, never a global sort.",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q18_large_volume",
    """
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    SELECT o.o_orderkey, ROUND(o.o_totalprice, 2) AS total_price,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM orders o
    JOIN big b ON o.o_orderkey = b.l_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    doc="TPC-H Q18 shape (large-volume orders): HAVING subquery becomes "
    "an aggregate + semi-join-shaped inner join back to the facts — "
    "both shuffles share the order-key partitioning, so AQE reuses "
    "the exchange layout.",
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(li.alias("l"), F.col("l.l_orderkey") == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l.l_quantity"), 2).alias("sum_qty"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
    )


@register(
    "tpch_q19_disjunctive_filter",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 20)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive predicates across "
    "both join sides. Catalyst splits the OR into per-side pushable "
    "conjuncts (l_quantity >= 20 reaches the lineitem scan, brand/size "
    "disjunction reaches the part scan) before the join evaluates the "
    "full predicate.",
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    pred = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 30)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 20)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(pred).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= DATE '1996-01-01'
          AND l.l_shipdate < DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (nation-pair trade volume by year): two broadcast "
    "joins against the same dim (nation) under different roles, a "
    "disjunctive cross-side predicate, and a grouped rollup by derived "
    "year. The nation filter prunes BEFORE the fact joins via the "
    "broadcast hash join's build side.",
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0.0 AS DOUBLE) END) AS DOUBLE)
                 / SUM(volume), 4) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (market share of one supplier nation inside a "
    "region/part-type segment, by order year): conditional aggregation "
    "over a 7-table join. All dims broadcast; the only shuffles are the "
    "two fact-fact joins on their natural keys.",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    target = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(target) / F.sum(vol), 4).alias("mkt_share"))
    )


@register(
    "tpch_q13_order_count_dist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): left outer "
    "join with a join-side predicate, then a re-aggregation of the "
    "aggregate. First agg shuffles on c_custkey (already the join key, "
    "so AQE can reuse the exchange); the second shuffles on the tiny "
    "c_count domain.",
)
def tpch_q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape (top supplier by quarterly revenue): aggregate, "
    "then select the max via an unpartitioned analytic. The window runs "
    "over the supplier-sized aggregate (bounded), never over lineitem; "
    "revenue is rounded BEFORE the max-equality so the float compare is "
    "exact in both engines.",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    w = Window.partitionBy()
    top = rev.withColumn("mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    return (
        s.join(F.broadcast(top), s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / CAST(7.0 AS DOUBLE), 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey, CAST(0.2 AS DOUBLE) * AVG(l_quantity) AS qty_thresh
        FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < t.qty_thresh
    """,
    doc="TPC-H Q17 shape (small-quantity order revenue): the correlated "
    "scalar subquery is decorrelated into a per-part AVG aggregate "
    "joined back on partkey — one extra shuffle on l_partkey instead "
    "of a per-row subquery. l_quantity sums exactly in doubles, so the "
    "0.2*AVG threshold is bit-identical in both engines.",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresh, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly")
        )
    )


# --- TPC-H completion block: the 8 remaining query shapes, adapted ----------
# The synthetic schema has no partsupp table and no shipmode/commitdate/
# receiptdate columns, so q2/q9/q11/q16/q20 derive the part<->supplier
# relationship from lineitem and q12/q21 use date arithmetic / returnflag
# as the lateness marker. The defining OPERATOR SHAPE of each query —
# correlated min subquery, scalar-subquery HAVING, semi/anti-join chain,
# decorrelated EXISTS — is preserved exactly.


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_name, n.n_name, p.p_partkey, p.p_name, c.unit_cost
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND p.p_type = 'PROMO' AND r.r_name = 'ASIA'
      AND c.unit_cost = (
        SELECT MIN(c2.unit_cost) FROM cost c2
        JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'ASIA')
    """,
    doc="TPC-H Q2 shape (min-cost supplier per part): the correlated "
    "MIN subquery is decorrelated into a per-part MIN aggregate joined "
    "back on partkey — the plan Catalyst would produce from the "
    "correlated form, written explicitly. The part<->supplier relation "
    "and unit cost come from lineitem (no partsupp in this schema). "
    "MIN over doubles is order-independent, so no rounding is needed "
    "for the equality. Region/nation dims broadcast; the only shuffles "
    "are the two aggregates on (partkey[, suppkey]).",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # suppliers in the target region (broadcast chain: region -> nation)
    s_asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    # push the (selective) part filter BELOW the cost aggregate: cost is
    # keyed by l_partkey, so a partkey semi-join commutes with the
    # groupBy — the agg then reads only the selected parts' lines
    # instead of all of lineitem, and both consumers of `cost` (the
    # per-part best and the final probe) share the one small exchange
    li_sel = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    cost = li_sel.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    asia_cost = cost.join(
        F.broadcast(s_asia), cost.l_suppkey == F.col("s_suppkey")
    )
    best = asia_cost.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        asia_cost.join(
            best,
            (asia_cost.l_partkey == best.b_partkey)
            & (asia_cost.unit_cost == best.best_cost),
        )
        .join(F.broadcast(p), asia_cost.l_partkey == p.p_partkey)
        .select("s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 2) AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
    """,
    doc="TPC-H Q9 shape (product-type profit by nation and year): "
    "five-way join with a LIKE filter on the part dim and a derived "
    "grouping key. Supply cost is proxied as 0.1*p_retailprice (no "
    "partsupp). part/supplier/nation broadcast; orders<->lineitem is "
    "the only big join, shuffled on orderkey.",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


@register(
    "tpch_q11_important_stock",
    """
    WITH pv AS (
        SELECT l.l_partkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS value_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_0'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, ROUND(value_cents / 100.0, 2) AS part_value
    FROM pv
    WHERE 1000 * value_cents > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM pv)
    """,
    doc="TPC-H Q11 shape (important stock): per-part value filtered "
    "against a global-total scalar subquery (HAVING > fraction of "
    "SUM over the whole aggregate). Values are integer-ized to cents "
    "BEFORE summing so both the per-part and global sums are exact "
    "integer arithmetic — the threshold comparison (0.1% of total) is "
    "deterministic in both engines, no float-order sensitivity. The "
    "scalar total is a one-row broadcast cross join, not a window.",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
    )
    total = pv.agg(F.sum("value_cents").alias("total_cents"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.lit(1000) * F.col("value_cents") > F.col("total_cents"))
        .select(
            "l_partkey",
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
    )


@register(
    "tpch_q12_late_shipments",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape (late shipments by mode): fact-fact equi-join "
    "with a cross-table date predicate (shipped >90 days after order "
    "— no commitdate/receiptdate in this schema) and conditional "
    "aggregation by priority class, grouped by returnflag standing in "
    "for shipmode. The date predicate can't be pushed below the join "
    "(references both sides) but the scan still prunes columns.",
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape (supplier count by part attributes): "
    "NOT IN excluded-supplier subquery (left anti join against the "
    "tiny bad-supplier set, broadcast), dim filter with negated and "
    "IN-list predicates, then COUNT(DISTINCT) grouped by three part "
    "attributes. The distinct-aggregate expands to a two-phase "
    "shuffle (dedup on group+suppkey, then count) — bounded by "
    "|parts|x|suppliers|, not lineitem.",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q20_excess_suppliers",
    """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l.l_shipdate >= DATE '1997-01-01'
          AND l.l_shipdate < DATE '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 50)
    """,
    doc="TPC-H Q20 shape (suppliers with excess stock of target "
    "parts): nested IN subqueries decorrelated into a semi-join "
    "chain — part-name semi-join prunes lineitem, a grouped HAVING "
    "on (suppkey, partkey) finds heavy shippers, and the supplier "
    "table is semi-joined against the surviving suppkeys. Quantities "
    "are integer-valued doubles, so SUM is exact and the >50 "
    "threshold is deterministic.",
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    small = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "tpch_q21_waiting_suppliers",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n.n_name = 'NATION_3'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "EXISTS / NOT EXISTS pair over the same fact table becomes a "
    "left-semi plus left-anti self-join on orderkey with a suppkey "
    "inequality — the sole-blame pattern (another supplier "
    "participated, no other supplier also failed). Returnflag 'R' "
    "stands in for the late-delivery predicate (no receipt/commit "
    "dates in this schema). Both self-join sides prune to two "
    "columns before shuffling on orderkey.",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    cand = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi"),
            F.col("l1.l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22_sales_opportunity",
    """
    SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT')
    GROUP BY CAST(c.c_nationkey % 10 AS BIGINT)
    """,
    doc="TPC-H Q22 shape (global sales opportunity): scalar AVG "
    "subquery as the balance threshold (broadcast one-row cross "
    "join), anti join against orders (customers with no urgent "
    "orders — every customer has SOME order in this data), grouped "
    "by a derived country code. The threshold compare is on raw "
    "doubles: AVG differs between engines only in the last ulp and "
    "acctbals are 2-decimal values, so no boundary ties in practice.",
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("long").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- data-layout clustering: Z-order vs linear vs unsorted pruning ------------

#: z-points per z-cell: cell = z >> Z_CELL_SHIFT — 16x16 (x,y) blocks
Z_CELL_SHIFT = 8
#: pseudo-random cell grid for the unsorted baseline layout
U_CELLS = 1024
#: target rows per packed file (cell-aligned, see operators/layout.py)
ZQ_RPF = 256
#: super-cell width for the two-level distributed prefix sum
ZQ_SUP_SHIFT = 6
#: the fixed box query all three layouts are probed with: ~3 months of
#: shipdate x the small-quantity band (the TPC-H Q17 flavor) — the y
#: domain (l_quantity, 1..50) is scale-INVARIANT, so the geometry of
#: the demo does not drift as the corpus grows
ZQ_XLO, ZQ_XHI, ZQ_YLO, ZQ_YHI = 790, 881, 1, 10

#: x (shipdate day since 1995-01-01, clamped to 16 bits) per engine —
#: same value, two dialects
_ZX_SPARK = (
    "least(greatest(datediff(cast(l_shipdate as date), "
    "date'1995-01-01'), 0), 65535)"
)
_ZX_DUCK = (
    "least(greatest(datediff('day', DATE '1995-01-01', "
    "CAST(l_shipdate AS DATE)), 0), 65535)"
)
#: y: quantity is an integral-valued double in TPC-H data
_ZY = "cast(l_quantity as int)"

from ..operators.layout import morton_sql as _morton_sql  # noqa: E402


@register(
    "layout_zorder_pruning",
    rf"""
    WITH base AS (
        SELECT l_orderkey, {_ZX_DUCK} AS x, {_ZY} AS y FROM lineitem
    ),
    zc AS (
        SELECT l_orderkey, x, y, ({_morton_sql('x', 'y')}) AS z
        FROM base
    ),
    pts AS (
        SELECT 'zorder' AS layout, z >> {Z_CELL_SHIFT} AS cell, x, y
        FROM zc
        UNION ALL
        SELECT 'linear', x, x, y FROM zc
        UNION ALL
        SELECT 'unsorted', l_orderkey % {U_CELLS}, x, y FROM zc
    ),
    hist AS (
        SELECT layout, cell, count(*) AS cnt
        FROM pts GROUP BY layout, cell
    ),
    filemap AS (
        SELECT layout, cell,
               CAST(COALESCE(SUM(cnt) OVER (
                        PARTITION BY layout ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)
                    // {ZQ_RPF} AS BIGINT) AS file
        FROM hist
    ),
    per_file AS (
        SELECT p.layout, f.file, count(*) AS n,
               min(x) AS min_x, max(x) AS max_x,
               min(y) AS min_y, max(y) AS max_y,
               sum(CASE WHEN x BETWEEN {ZQ_XLO} AND {ZQ_XHI}
                         AND y BETWEEN {ZQ_YLO} AND {ZQ_YHI}
                        THEN 1 ELSE 0 END) AS m
        FROM pts p JOIN filemap f
          ON p.layout = f.layout AND p.cell = f.cell
        GROUP BY p.layout, f.file
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN NOT (max_x < {ZQ_XLO} OR min_x > {ZQ_XHI}
                                OR max_y < {ZQ_YLO} OR min_y > {ZQ_YHI})
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN NOT (max_x < {ZQ_XLO} OR min_x > {ZQ_XHI}
                                OR max_y < {ZQ_YLO} OR min_y > {ZQ_YHI})
                         THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(m) AS BIGINT) AS rows_matching
    FROM per_file GROUP BY layout
    """,
    doc="Data-LAYOUT clustering audit (the Delta/Iceberg OPTIMIZE "
    "ZORDER effect, computed rather than asserted): pack lineitem "
    "into ~equal-size files under three layouts — Morton/Z-order on "
    "(shipdate day, quantity), a linear shipdate sort, and an "
    "unsorted hash baseline — then, from per-file min/max column "
    "stats (what parquet footers carry), count how many files and "
    "rows a fixed 2-D box query (a quarter of shipdate x the "
    "small-quantity band, the TPC-H Q17 flavor) must scan under "
    "each. File packing is the honest OPTIMIZE semantics: cells of "
    "the layout's sort order are cut into files of a target row "
    "count by `operators/layout.pack_cells_into_files`, a TWO-LEVEL "
    "distributed prefix sum (running sum within (layout, super-cell) "
    "in parallel + a super-cell offset over the grid-bounded totals "
    "table) — no unbounded single-partition window anywhere, and "
    "every layout gets the same file-size budget, so the comparison "
    "is granularity-fair at every scale. rows_matching is "
    "layout-invariant (same predicate), pinning that stats pruning "
    "never loses a matching row; pytest pins the strict ordering "
    "zorder < linear < unsorted on rows_scanned at sf0.01 (the "
    "Morton curve gives every file a tight bounding box in BOTH "
    "dimensions; the linear sort is blind to quantity). The y "
    "dimension (quantity, 1..50) is scale-invariant so the demo's "
    "geometry holds from sf0.001 through the 100x corpus. "
    "All-integer output, no rounding — hash-exact. The 32-term "
    "Morton expression is whole-stage codegen, generated by "
    "`operators/layout.morton_sql` and interpolated into BOTH the "
    "Spark plan and this oracle from the one generator (BIGINT-"
    "widened: the top term is a << 31, which wraps negative in "
    "32-bit arithmetic); x and y are materialized as columns first "
    "(never re-evaluated inside the expansion). Spark shape: two "
    "passes over the pruned scan (the histogram build, then the "
    "per-file stats aggregate — the packer checkpoints the "
    "grid-bounded histogram so its two consumers never re-run the "
    "corpus subtree), each with one explode into the three "
    "(layout, cell) assignments; the two bounded prefix-sum "
    "windows; a broadcast of the grid-bounded (cell -> file) map "
    "back onto the rows; one (layout, file) aggregate; one 3-row "
    "rollup — no unbounded sort, no single-partition exchange. At 100 TB the "
    "write side is repartitionByRange(z) + sortWithinPartitions(z) "
    "at ingest (the sources/bucketing.py motion); this entry is the "
    "read-side evidence that the layout pays. Reference has no "
    "analogue (single-machine pandas never prunes I/O).",
)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import pack_cells_into_files

    base = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(_ZX_SPARK).alias("x"),
        F.expr(_ZY).alias("y"),
    )
    zc = base.select(
        "l_orderkey",
        "x",
        "y",
        F.expr(_morton_sql("x", "y")).cast("long").alias("z"),
    )
    in_box = (
        F.col("x").between(ZQ_XLO, ZQ_XHI)
        & F.col("y").between(ZQ_YLO, ZQ_YHI)
    ).cast("long")
    pts = zc.select(
        "x",
        "y",
        in_box.alias("m"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright("z", Z_CELL_SHIFT)
                    .cast("long")
                    .alias("cell"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.col("x").cast("long").alias("cell"),
                ),
                F.struct(
                    F.lit("unsorted").alias("layout"),
                    (F.col("l_orderkey") % U_CELLS)
                    .cast("long")
                    .alias("cell"),
                ),
            )
        ).alias("lc"),
    ).select("x", "y", "m", "lc.layout", "lc.cell")
    hist = pts.groupBy("layout", "cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    filemap = pack_cells_into_files(hist, ZQ_RPF, ZQ_SUP_SHIFT)
    per_file = (
        pts.join(F.broadcast(filemap), ["layout", "cell"])
        .groupBy("layout", "file")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.sum("m").alias("m"),
        )
    )
    scanned = ~(
        (F.col("max_x") < ZQ_XLO)
        | (F.col("min_x") > ZQ_XHI)
        | (F.col("max_y") < ZQ_YLO)
        | (F.col("min_y") > ZQ_YHI)
    )
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.when(scanned, 1).otherwise(0))
        .cast("long")
        .alias("files_scanned"),
        F.sum(F.when(scanned, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("m").cast("long").alias("rows_matching"),
    )
