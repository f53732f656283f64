"""Relational operator extensions: null-safe equality, array set algebra,
higher-order array functions, Q16-shaped exclusion join, EXISTS/NOT EXISTS,
and regexp_extract_all.

The reference has none of these (its relational surface is server.js:79,131,
231-248); they round out the engine's scalar/join family for the scaled
pipeline. All pure built-in DataFrame API — array outputs are rendered
with array_join so the oracle hash-compare sees plain strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table

# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = """
WITH a AS (
  SELECT nullif(o_orderstatus, 'O') AS st, o_orderkey FROM orders
), b AS (
  SELECT st AS st_b, count(*) AS group_n FROM a GROUP BY st
)
SELECT coalesce(s.st, '<null>') AS status, b.group_n, count(*) AS n_sample
FROM (SELECT * FROM a WHERE o_orderkey < 1000) s
JOIN b ON s.st IS NOT DISTINCT FROM b.st_b
GROUP BY 1, 2
"""


@register("null_safe_join_status", _NULLSAFE_ORACLE)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (eqNullSafe, SQL `<=>`): NULL keys match each
    other instead of vanishing — required when a dedup/group key is
    nullable. A plain equi-join would drop the NULL group silently."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st"), "o_orderkey"
    )
    b = a.groupBy(F.col("st").alias("st_b")).agg(F.count("*").alias("group_n"))
    sample = a.filter(F.col("o_orderkey") < 1000)
    return (
        sample.join(F.broadcast(b), sample.st.eqNullSafe(b.st_b), "inner")
        .groupBy(F.coalesce("st", F.lit("<null>")).alias("status"), "group_n")
        .agg(F.count("*").alias("n_sample"))
    )


# ---------------------------------------------------------------------------
# Array set algebra (intersect / except / union / contains)
# ---------------------------------------------------------------------------

_ARRAY_SET_ORACLE = """
WITH sts AS (
  SELECT o_orderpriority,
         list_sort(list_distinct(list(o_orderstatus))) AS statuses
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(len(statuses) AS BIGINT) AS n_statuses,
       array_to_string(list_sort(list_intersect(statuses, ['F', 'O'])), ',') AS inter_fo,
       array_to_string(list_sort(list_filter(statuses, x -> x <> 'F')), ',') AS minus_f,
       array_to_string(list_sort(list_distinct(list_concat(statuses, ['X']))), ',') AS union_x,
       list_contains(statuses, 'P') AS has_p
FROM sts
"""


@register("array_set_functions", _ARRAY_SET_ORACLE)
def q_array_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over collect_set results: intersect/except/union/
    contains, with every array re-sorted before rendering so both engines
    serialize identically."""
    o = load_table(spark, sf_dir, "orders")
    sts = o.groupBy("o_orderpriority").agg(
        F.sort_array(F.collect_set("o_orderstatus")).alias("statuses")
    )
    fo = F.array(F.lit("F"), F.lit("O"))
    return sts.select(
        "o_orderpriority",
        F.size("statuses").cast("long").alias("n_statuses"),
        F.array_join(
            F.sort_array(F.array_intersect("statuses", fo)), ","
        ).alias("inter_fo"),
        F.array_join(
            F.sort_array(F.array_except("statuses", F.array(F.lit("F")))), ","
        ).alias("minus_f"),
        F.array_join(
            F.sort_array(F.array_union("statuses", F.array(F.lit("X")))), ","
        ).alias("union_x"),
        F.array_contains("statuses", "P").alias("has_p"),
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (transform / filter / aggregate)
# ---------------------------------------------------------------------------

_HOF_ORACLE = """
WITH per_bucket AS (
  SELECT o_custkey % 100 AS cust_bucket,
         list_sort(list(CAST(round(o_totalprice * 100) AS BIGINT))) AS cents
  FROM orders GROUP BY o_custkey % 100
)
SELECT cust_bucket,
       CAST(len(cents) AS BIGINT) AS n_orders,
       CAST(len(list_filter(cents, x -> x > 15000000)) AS BIGINT) AS n_big,
       CAST(list_sum(list_filter(cents, x -> x > 15000000)) AS BIGINT) AS sum_big_cents,
       list_max(cents) AS max_cents,
       list_transform(cents, x -> x * 2)[1] AS min_doubled
FROM per_bucket
"""


@register("higher_order_array_funcs", _HOF_ORACLE)
def q_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate) over
    integer-cent arrays — money is cast to BIGINT cents before any array
    math so the fold is exact regardless of summation order."""
    o = load_table(spark, sf_dir, "orders")
    cents_col = F.round(F.col("o_totalprice") * 100).cast("long")
    per_bucket = o.groupBy((F.col("o_custkey") % 100).alias("cust_bucket")).agg(
        F.sort_array(F.collect_list(cents_col)).alias("cents")
    )
    big = F.filter("cents", lambda x: x > F.lit(15_000_000))
    return per_bucket.select(
        "cust_bucket",
        F.size("cents").cast("long").alias("n_orders"),
        F.size(big).cast("long").alias("n_big"),
        F.aggregate(big, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "sum_big_cents"
        ),
        F.array_max("cents").alias("max_cents"),
        F.element_at(F.transform("cents", lambda x: x * 2), 1).alias("min_doubled"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: exclusion anti-join + grouped count-distinct
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 7, 10)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 0)
GROUP BY p.p_brand, p.p_size
"""


@register("q16_supplier_relationship", _Q16_ORACLE)
def q_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped query: dimension-filtered fact join, a NOT IN
    exclusion list (anti-join — the tiny excluded-supplier side broadcasts),
    then grouped count-distinct. At 100 TB the part filter prunes before
    the shuffle and the anti-join never materializes the full supplier
    table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7, 10)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(excluded, "l_suppkey", "left_anti")
        # part SCALES with the data (the brand/size filter is a constant
        # fraction) — join strategy left to file stats: broadcast at small
        # SF, graduating to a shuffle join at 100 TB
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# EXISTS / NOT EXISTS (semi + anti join composition)
# ---------------------------------------------------------------------------

_EXISTS_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 4) AS acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


@register("exists_not_exists_customers", _EXISTS_ORACLE)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS as a semi-join/anti-join pipeline: customers with
    at least one finished order and no open orders. Both probes shuffle on
    the same key, so AQE reuses the customer-side exchange."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    open_ = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.join(finished, "c_custkey", "left_semi")
        .join(open_, "c_custkey", "left_anti")
        .select("c_custkey", "c_mktsegment", F.round("c_acctbal", 4).alias("acctbal"))
    )


# ---------------------------------------------------------------------------
# UNPIVOT (wide measures -> long rows)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT l_returnflag, measure, round(sum(val), 4) AS total
FROM (
  SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
)
GROUP BY l_returnflag, measure
"""


@register("unpivot_lineitem_measures", _UNPIVOT_ORACLE)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): three measure columns become (measure, val) rows —
    the inverse of `pivot_event_counts`. Spark's unpivot reads the table
    ONCE and explodes in-task; the oracle's UNION ALL formulation shows the
    3x-scan shape unpivot avoids."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            "l_returnflag",
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .withColumn("measure", F.expr("substring(measure, 3)"))
        .groupBy("l_returnflag", "measure")
        .agg(F.round(F.sum("val"), 4).alias("total"))
    )


# ---------------------------------------------------------------------------
# Date-spine gap filling
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH spine AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-02-04',
                                INTERVAL 1 DAY))::DATE AS day
), purchases AS (
  SELECT ts::DATE AS day, count(*) AS n, round(sum(value), 6) AS sum_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(p.n, 0) AS n,
       round(coalesce(p.sum_value, 0.0), 6) AS sum_value
FROM spine s LEFT JOIN purchases p ON s.day = p.day
"""


@register("daily_gapfill_event_counts", _GAPFILL_ORACLE)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily purchase counts: a generated date spine (sequence +
    explode — no source table needed) left-joins the aggregate so zero-event
    days appear explicitly. The spine is a handful of rows — broadcast side
    of nothing; the aggregate shuffles once. Spine deliberately extends past
    the data's last day to prove the zero-fill."""
    e = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-02-04").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return spine.join(purchases, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.coalesce("sum_value", F.lit(0.0)), 6).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# CDC-style latest-row dedup (snapshot compaction)
# ---------------------------------------------------------------------------

_LATEST_ORACLE = """
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("latest_event_per_user", _LATEST_ORACLE)
def q_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key dedup (the CDC/upsert compaction shape: reduce an
    event log to its current snapshot). row_number over (key ORDER BY ts
    DESC) with an id tie-break; one shuffle on the key. At scale this is
    the standard merge-on-read compaction query."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure filter + scalar aggregate (pushdown showcase)
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_ORACLE)
def q_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped query: conjunctive filters + one scalar aggregate.
    Every predicate reaches the parquet scan (PushedFilters) and only 4
    columns are read — the canonical scan-efficiency probe; no shuffle at
    all except the final partial-agg merge."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.02, 0.04))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: join + two-way conditional aggregation
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate < o.o_orderdate + INTERVAL 20 DAY
GROUP BY l.l_linestatus
"""


@register("q12_shipping_priority_split", _Q12_ORACLE)
def q_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped query: fact join with a non-equi residual (shipped
    within 20 days of ordering) and conditional-sum pivoting of priorities
    into high/low counts — the CASE-WHEN aggregation idiom."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = o.join(li, o.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 20 DAYS")
    )
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS over a date window, counted per priority
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
"""


@register("q4_order_priority_checking", _Q4_ORACLE)
def q_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped query: orders in a two-week window having at least
    one line item shipped after the order date, counted per priority. The
    EXISTS is a semi-join with a NON-equi component (l_shipdate >
    o_orderdate) riding on the orderkey equi-join — still a hash semi-join,
    date filter pushed to the orders scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-06-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue top-N
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_item_revenue", _Q10_ORACLE)
def q_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped query: lost revenue from returned items, top 20
    customers. Fact-side filter (returnflag) prunes before the joins;
    nation broadcasts; the final top-20 is TakeOrderedAndProject (no global
    sort). Revenue rounded before ordering, custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional-revenue ratio over a fact/dim join
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type LIKE 'STANDARD%'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
       count(*) AS n_rows
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue_pct", _Q14_ORACLE)
def q_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped query: share of revenue from one part type over a
    month — conditional-sum ratio in a single aggregate over a dim join
    (the date filter prunes the fact scan first). part SCALES with the
    data, so its join strategy is left to file stats — broadcast at small
    SF, shuffle join at 100 TB; a forced hint could not graduate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("STANDARD"), rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_pct"),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders via HAVING subquery
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 4) AS o_totalprice,
       round(sum(l.l_quantity), 4) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
"""


@register("q18_large_volume_orders", _Q18_ORACLE)
def q_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped query: orders whose total quantity exceeds a
    threshold (HAVING subquery -> semi-join), re-joined to customer and
    lineitem for the detail rollup. The `big` id set is a POST-AGGREGATE
    frame whose size is data-dependent (grows with the corpus), so it is
    NOT force-broadcast — AQE converts the semi-join to broadcast at
    runtime when the observed size is small, and keeps a shuffle join
    when it is not; both lineitem aggregations shuffle on the same key so
    AQE reuses the exchange."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    o_big = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        o_big.join(li, o_big.o_orderkey == li.l_orderkey)
        .join(c, o_big.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Range join (equi key + interval predicate)
# ---------------------------------------------------------------------------

_RANGE_JOIN_ORACLE = """
SELECT o.o_orderkey,
       count(e.event_id) AS n_events_3d,
       round(coalesce(sum(e.value), 0.0), 6) AS sum_value
FROM orders o
LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 3 DAY
WHERE o.o_orderkey < 2000
GROUP BY o.o_orderkey
"""


@register("range_join_orders_events", _RANGE_JOIN_ORACLE)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: activity within 3 days after each order by the same
    user. The equi component (user_id = custkey) carries the shuffle /
    hash-join; the interval predicate is evaluated as a post-join filter
    inside the same stage — the plan stays a hash join, never a cartesian.
    Left join keeps zero-activity orders (count(col) null semantics)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    e = load_table(spark, sf_dir, "events")
    cond = (
        (e.user_id == o.o_custkey)
        & (e.ts >= o.o_orderdate)
        & (e.ts < F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"))
    )
    return (
        o.join(e, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("event_id").alias("n_events_3d"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 6).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (sketch-based; rows-only like the HLL sketch)
# ---------------------------------------------------------------------------


_APPROX_PCT_ORACLE = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM orders GROUP BY o_orderpriority
"""


@register("approx_percentiles_order_value", _APPROX_PCT_ORACLE)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable sketch): single-pass grouped
    quantiles — the 100 TB path where the exact sort-based percentile
    (`percentiles_order_value`) is too expensive. The sketch output is a
    real data element with bounded RANK error (1/accuracy = 1e-4), not a
    hashable exact value — so the oracle checks the exact interpolated
    percentiles plus the materialized rank-error claim: each approx value
    must lie inside the exact [p-0.02, p+0.02] interpolation bracket."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.approx_percentile(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), 10_000
        ).alias("pcts"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("e50"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("e95"),
        F.percentile("o_totalprice", F.lit(0.48)).alias("lo50"),
        F.percentile("o_totalprice", F.lit(0.52)).alias("hi50"),
        F.percentile("o_totalprice", F.lit(0.93)).alias("lo95"),
        F.percentile("o_totalprice", F.lit(0.97)).alias("hi95"),
    )
    return agg.select(
        "o_orderpriority",
        F.round("e50", 4).alias("p50_exact"),
        F.round("e95", 4).alias("p95_exact"),
        F.element_at("pcts", 1).between(F.col("lo50"), F.col("hi50")).alias("p50_ok"),
        F.element_at("pcts", 2).between(F.col("lo95"), F.col("hi95")).alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap-based)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
         AS duration_s
FROM numbered GROUP BY user_id, sess_id
"""


@register("sessionize_events_batch", _SESSIONIZE_ORACLE)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) as a
    pure window pipeline: new-session flag from lag, session id as the
    running flag sum, then per-session aggregates. ONE shuffle on user_id
    serves both windows and the final aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# regexp_extract_all over document text
# ---------------------------------------------------------------------------

_REGEXP_ORACLE = """
WITH m AS (
  SELECT doc_id, lang, regexp_extract_all(text, '[a-z]{5,}') AS long_words
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(long_words) AS BIGINT) AS n_long,
       CAST(len(list_distinct(long_words)) AS BIGINT) AS n_long_distinct,
       coalesce(long_words[1], '') AS first_long
FROM m
"""


@register("regexp_extract_all_docs", _REGEXP_ORACLE)
def q_regexp_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: pull every >=5-letter word per document and
    report total/distinct counts plus the first match. The regex class
    [a-z]{5,} means the Java and RE2 dialects agree exactly."""
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "lang",
        F.regexp_extract_all("text", F.lit("([a-z]{5,})")).alias("long_words"),
    )
    return m.select(
        "doc_id",
        "lang",
        F.size("long_words").cast("long").alias("n_long"),
        F.size(F.array_distinct("long_words")).cast("long").alias("n_long_distinct"),
        F.coalesce(F.element_at("long_words", 1), F.lit("")).alias("first_long"),
    )
