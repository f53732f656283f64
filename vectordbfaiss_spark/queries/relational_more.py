"""Late-round relational coverage: the click/purchase interval join,
median/mode aggregates, nth_value/cume_dist windows, and bitwise
aggregates.

The reference has none of these (its only aggregate is COUNT(*) at
server.js:67,149); they complete the aggregate/window family for the scaled
engine. Every query keeps outputs bounded and deterministically ordered so
the DuckDB hash-compare is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table

# ---------------------------------------------------------------------------
# Interval join: clicks with same-user purchases in a trailing window
# ---------------------------------------------------------------------------

_INTERVAL_JOIN_ORACLE = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id AS p_user_id, ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id,
       count(*) AS n_pairs,
       round(sum(p.purchase_value), 4) AS total_value
FROM c JOIN p
  ON c.user_id = p.p_user_id
 AND p.purchase_ts <= c.click_ts
 AND p.purchase_ts >= c.click_ts - INTERVAL 60 MINUTE
GROUP BY c.user_id
"""


@register("interval_join_click_purchase", _INTERVAL_JOIN_ORACLE)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases in the hour BEFORE each click (inclusive)
    by the same user.

    Scale plan: equi on user_id + a time-range residual -> one shuffle on
    user_id, range evaluated in codegen after the hash probe.
    """
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 6).alias("purchase_value"),
    )
    cond = (
        (c.user_id == p.p_user_id)
        & (p.purchase_ts <= c.click_ts)
        & (p.purchase_ts >= c.click_ts - F.expr("INTERVAL 60 MINUTES"))
    )
    return c.join(p, cond).groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("purchase_value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Median + deterministic mode per group
# ---------------------------------------------------------------------------

_MEDIAN_MODE_ORACLE = """
WITH status_counts AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
  FROM orders GROUP BY 1, 2
), modes AS (
  SELECT o_orderpriority, o_orderstatus AS mode_status
  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY cnt DESC, o_orderstatus) AS rn
        FROM status_counts)
  WHERE rn = 1
)
SELECT m.o_orderpriority,
       round(median(o.o_totalprice), 4) AS median_price,
       any_value(m.mode_status) AS mode_status,
       count(*) AS n_orders
FROM orders o JOIN modes m USING (o_orderpriority)
GROUP BY 1
"""


@register("median_mode_orders", _MEDIAN_MODE_ORACLE)
def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median order price and modal order status per priority.

    Mode is computed as count-rank-filter with an explicit (count DESC,
    value ASC) tie-break on BOTH engines — built-in mode() functions
    break ties engine-specifically, so they can never hash-match. Median
    uses each engine's exact interpolating median over doubles.

    Scale plan: the mode path is two map-side-combinable aggregates plus a
    per-priority window over a tiny intermediate (|priorities| x |statuses|
    rows). Exact median DOES need a sort of each group — at 100 TB swap
    `median` for `approx_percentile(col, 0.5, accuracy)`; the
    approx_percentiles_order_value entry demonstrates that path.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.asc("o_orderstatus")
    )
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("mode_status"))
    )
    return (
        o.join(F.broadcast(modes), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.median("o_totalprice"), 4).alias("median_price"),
            F.any_value("mode_status").alias("mode_status"),
            F.count("*").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# nth_value / first_value / last_value / cume_dist windows
# ---------------------------------------------------------------------------

_NTH_WINDOW_ORACLE = """
SELECT user_id, event_id,
       first_value(event_type) OVER w_full AS first_type,
       last_value(event_type) OVER w_full AS last_type,
       nth_value(event_type, 2) OVER w_full AS second_type,
       round(cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
         AS cd
FROM events
WHERE user_id < 20
WINDOW w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_nth_value_events", _NTH_WINDOW_ORACLE)
def q_nth_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over an explicit full-partition frame plus
    cume_dist — the navigation-function family.

    The full frame is spelled out because the ANSI default frame stops at
    CURRENT ROW, which silently turns last_value into "this row's value" on
    both engines. (event_id added to ORDER BY: cume_dist over a
    non-unique ordering is tie-sensitive.)

    Scale plan: one shuffle on user_id; all four functions share the same
    window spec so Spark evaluates them in a single WindowExec pass.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    order = [F.asc("ts"), F.asc("event_id")]
    w_full = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    w_ord = W.partitionBy("user_id").orderBy(*order)
    return e.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w_full).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.nth_value("event_type", 2).over(w_full).alias("second_type"),
        F.round(F.cume_dist().over(w_ord), 6).alias("cd"),
    )


# ---------------------------------------------------------------------------
# SCD2-style validity intervals (CDC history table shape)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'), '9999-12-31')
         AS valid_to,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM events
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("scd2_event_intervals", _SCD2_ORACLE)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from an event log: each
    row's validity runs until the user's next event; the latest row is
    flagged current with an open-ended sentinel date.

    This is the write-side complement of `latest_event_per_key` (the
    snapshot read): together they give CDC history + current-state views
    of the same stream.

    Scale plan: one shuffle on user_id, one window pass computing both
    lead() columns; timestamps leave as formatted strings per the oracle
    convention (no tz/epoch drift).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = F.lead("ts").over(w)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(F.date_format(nxt, fmt), F.lit("9999-12-31")).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Bitwise aggregates
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT l_returnflag,
       bit_and(l_partkey) AS pk_and,
       bit_or(l_partkey) AS pk_or,
       bit_xor(l_partkey) AS pk_xor,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("bitwise_agg_lineitem", _BITWISE_ORACLE)
def q_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and / bit_or / bit_xor aggregates — order-insensitive and fully
    map-side combinable (each is associative+commutative), so at 100 TB
    they reduce to one tiny partial-agg exchange, same as sum().
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_partkey").alias("pk_and"),
        F.bit_or("l_partkey").alias("pk_or"),
        F.bit_xor("l_partkey").alias("pk_xor"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Built-in session_window aggregation (the F.session_window form of
# sessionize_events_batch's manual window pipeline)
# ---------------------------------------------------------------------------

_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       count(*) AS n_events,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
         AS duration_s
FROM numbered GROUP BY user_id, sess_id
"""


@register("session_window_builtin", _SESSION_WINDOW_ORACLE)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via the BUILT-IN F.session_window aggregate —
    the groupBy form of the manual lag/flag/running-sum pipeline
    (`sessionize_events_batch`), and the same operator Structured
    Streaming runs stateful.

    Boundary semantics: session_window merges rows only when windows
    STRICTLY overlap, i.e. a gap of exactly the 30-min timeout starts a
    new session — so the oracle's manual pipeline flags `gap >= timeout`
    (the `>`-flavored manual twin is its own query).

    Scale plan: one shuffle on user_id; session merge happens inside the
    aggregate — no window-function sort pass over the full event stream.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            "user_id",
            F.date_format("min_ts", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            "n_events",
            (
                (F.unix_micros(F.col("max_ts")) - F.unix_micros(F.col("min_ts")))
                / F.lit(1_000_000)
            )
            .cast("long")
            .alias("duration_s"),
        )
    )


# ---------------------------------------------------------------------------
# Top-N per time bucket (trending items)
# ---------------------------------------------------------------------------

_TRENDING_ORACLE = """
WITH bucketed AS (
  SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT day, event_type, n, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY day
                                   ORDER BY n DESC, event_type) AS rnk
      FROM bucketed)
WHERE rnk <= 2
"""


@register("trending_types_daily_top2", _TRENDING_ORACLE)
def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per day — the "trending items per window"
    composition: event-time bucketing (F.window) feeding a rank window
    over the bucket. Ties break on the item so both engines agree.

    Scale plan: the count aggregate shrinks data to |days|x|types| rows
    BEFORE the rank window, so the expensive operator sees a tiny input;
    at 100 TB the same two-stage shape holds (never rank the raw stream).
    In streaming this becomes the classic "aggregate, then rank in
    foreachBatch" pattern (rank windows aren't incremental)."""
    e = load_table(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
    )
    w = W.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    # rank filter before the cast so WindowGroupLimit prunes each day's
    # group to 2 rows map-side before the shuffle (the cast-inside-the-
    # window form defeated the rule; see queries/ranking.py bm25)
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "day", "event_type", "n",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# MapType surface: parse -> concat -> explode -> aggregate
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
WITH entries AS (
  SELECT 'k' AS key, CAST(json_extract(props, '$.k') AS DOUBLE) AS val
  FROM events
  UNION ALL
  SELECT event_type AS key, value AS val FROM events
)
SELECT key, count(*) AS n, round(sum(val), 4) AS sum_val
FROM entries GROUP BY key
"""


@register("map_functions_events", _MAP_ORACLE)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType end-to-end: from_json into map<string,long>, value retype
    with transform_values, map_concat with a constructed create_map, then
    explode(map) and aggregate per key. The oracle models the same
    semantics as a UNION of entry rows (exploding a concatenated map IS
    the union of its entries).

    Scale plan: maps stay inside the row until the single explode; the
    aggregate shuffles on the (tiny) key domain. No UDF — the whole map
    pipeline is built-in expressions in codegen.
    """
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "map<string,bigint>")
    m1 = F.transform_values(parsed, lambda _, v: v.cast("double"))
    m2 = F.create_map(F.col("event_type"), F.col("value"))
    both = e.select(F.explode(F.map_concat(m1, m2)).alias("key", "val"))
    return both.groupBy("key").agg(
        F.count("*").alias("n"),
        F.round(F.sum("val"), 4).alias("sum_val"),
    )


# ---------------------------------------------------------------------------
# Exact DECIMAL aggregation (zero float error over the whole fact table)
# ---------------------------------------------------------------------------

_DECIMAL_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,2))
           * CAST('0.01' AS DECIMAL(8,2)) AS price_dec
  FROM lineitem
)
SELECT l_returnflag,
       CAST(CAST(sum(price_dec) AS DECIMAL(30,2)) AS VARCHAR) AS total_exact,
       count(*) AS n_rows
FROM c GROUP BY l_returnflag
"""


@register("decimal_exact_revenue", _DECIMAL_ORACLE)
def q_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money aggregation in exact DECIMAL: integer cents -> DECIMAL(18,2)
    -> scale-preserving multiply -> exact sum -> normalized DECIMAL(30,2)
    string. Zero floating-point error across the whole fact table — the
    engine surface the double-based queries deliberately round around
    (registry conventions), demonstrated here natively. Rendered as a
    string so the hash-compare sees the exact digits, not a float.

    Scale plan: decimal sums are map-side combinable like any sum; the
    only cost is the wider (128-bit) accumulator.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    price_dec = cents.cast("decimal(18,2)") * F.lit("0.01").cast("decimal(8,2)")
    return (
        li.select("l_returnflag", price_dec.alias("price_dec"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("price_dec").cast("decimal(30,2)").cast("string").alias(
                "total_exact"
            ),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching (blocked levenshtein)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
SELECT c_custkey, c_name,
       CAST(levenshtein(c_name, 'Customer#000000042') AS BIGINT) AS dist
FROM customer
WHERE length(c_name) = length('Customer#000000042')
  AND levenshtein(c_name, 'Customer#000000042') <= 2
"""


@register("fuzzy_name_match", _FUZZY_ORACLE)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity match: names within edit distance 2 of a probe,
    blocked on exact length first — the block-then-verify shape every
    scalable fuzzy join uses (the expensive O(len^2) levenshtein runs only
    inside the block).

    Scale plan: the length block is a pushable scan predicate; for a
    fuzzy JOIN (probe set instead of one probe) the same pattern becomes
    block-key equi-join -> per-pair verify, exactly like the dedup
    family's shingle blocking.
    """
    c = load_table(spark, sf_dir, "customer")
    probe = F.lit("Customer#000000042")
    return (
        c.filter(F.length("c_name") == F.length(probe))
        .select(
            "c_custkey",
            "c_name",
            F.levenshtein("c_name", probe).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


# ---------------------------------------------------------------------------
# Null-preserving explode (explode_outer)
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_ORACLE = r"""
WITH m AS (
  SELECT doc_id, lang, regexp_extract_all(text, '[a-z]{8,}') AS long_words
  FROM documents
), exploded AS (
  SELECT m.doc_id, m.lang, u.tok
  FROM m, UNNEST(long_words) AS u(tok)
  WHERE len(long_words) > 0
  UNION ALL
  SELECT doc_id, lang, NULL AS tok FROM m WHERE len(long_words) = 0
)
SELECT lang,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_without,
       count(DISTINCT tok) AS n_distinct_words
FROM exploded GROUP BY lang
"""


@register("explode_outer_long_words", _EXPLODE_OUTER_ORACLE)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: documents with NO >=8-letter words survive the
    explode as a single null row instead of vanishing — the semantics that
    make per-document accounting (every doc counted exactly once-or-more)
    correct after an explode. A plain explode here would silently drop
    word-free documents from the per-language stats. The oracle models the
    outer explode as UNNEST ∪ empty-list rows.
    """
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "lang",
        F.regexp_extract_all("text", F.lit("([a-z]{8,})")).alias("long_words"),
    )
    ex = m.select("doc_id", "lang", F.explode_outer("long_words").alias("tok"))
    return ex.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_without"),
        F.countDistinct("tok").alias("n_distinct_words"),
    )


_ZSCORE_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
), stats AS (
  SELECT event_type, day, n,
         avg(n) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(n) OVER (PARTITION BY event_type) AS sd
  FROM daily
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       round((n - mu) / NULLIF(sd, 0.0), 6) AS z,
       CAST(CASE WHEN abs(round((n - mu) / NULLIF(sd, 0.0), 6)) >= 2.0
            THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM stats
"""


@register("zscore_outlier_events", _ZSCORE_ORACLE)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per-event-type daily counts scored by
    z-score against that type's own mean/stddev, outliers = |z| >= 2 (on
    the ROUNDED z so the flag is engine-deterministic). Two hash
    aggregates; the stats window partitions by event_type, so state per
    partition is days-per-type — bounded regardless of event volume."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    wt = W.partitionBy("event_type")
    z = F.round(
        (F.col("n") - F.avg("n").over(wt))
        / F.nullif(F.stddev_samp("n").over(wt), F.lit(0.0)),
        6,
    )
    return daily.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        z.alias("z"),
        F.when(F.abs(z) >= 2.0, 1).otherwise(0).cast("long").alias("is_outlier"),
    )


_INCR_ORACLE = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS sum_value,
       round(sum(value) / count(*), 6) AS avg_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""


@register("incremental_daily_agg", _INCR_ORACLE)
def q_incremental_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/incremental.py):
    the input is split into three arbitrary chunks, each reduced to
    algebraic partial state (n/sum/min/max per type x day), and the states
    are merged in a deliberately shuffled order — the oracle is the
    from-scratch aggregate, so the MATCH proves merge associativity end to
    end. avg is derived only at finalize; the merge shuffles view-key rows
    (types x days), not events."""
    from vectordbfaiss_spark.operators.incremental import (
        finalize,
        merge_states,
        partial_daily_state,
    )

    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    chunks = [
        partial_daily_state(e.filter(F.col("ts").cast("long") % 3 == i))
        for i in range(3)
    ]
    merged = merge_states(merge_states(chunks[2], chunks[0]), chunks[1])
    return finalize(merged)


_HIST_ORACLE = """
WITH stats AS (
  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
), bucketed AS (
  SELECT CAST(least(floor((o_totalprice - s.mn) / ((s.mx - s.mn) / 20.0)), 19.0) AS BIGINT) AS bucket,
         s.mn, s.mx
  FROM orders CROSS JOIN stats s
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(mn) + bucket * ((min(mx) - min(mn)) / 20.0), 6) AS lo,
       round(min(mn) + (bucket + 1) * ((min(mx) - min(mn)) / 20.0), 6) AS hi
FROM bucketed
GROUP BY bucket
"""


@register("histogram_order_values", _HIST_ORACLE)
def q_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of order values — the distribution
    profile a curation pipeline computes before choosing filters. One
    scalar min/max aggregate broadcast back over the scan, then a single
    hash aggregate on the bucket id: two passes, no sort, no window.
    Bucket arithmetic is +-*/ and floor (IEEE-exact), so the bucket
    assignment is engine-deterministic without rounding tricks."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / 20.0
    bucketed = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("mn")) / width), F.lit(19.0)
        )
        .cast("long")
        .alias("bucket"),
        "mn",
        "mx",
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.min("mn") + F.col("bucket") * ((F.min("mx") - F.min("mn")) / 20.0), 6
        ).alias("lo"),
        F.round(
            F.min("mn") + (F.col("bucket") + 1) * ((F.min("mx") - F.min("mn")) / 20.0),
            6,
        ).alias("hi"),
    )


def _profile_oracle() -> str:
    num = ["o_orderkey", "o_custkey", "o_totalprice"]
    txt = ["o_orderstatus", "o_orderpriority", "o_orderdate_s"]
    base = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderpriority,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s
FROM orders
"""
    blocks = []
    for c in num + txt:
        is_num = c in num
        blocks.append(
            f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {f'round(CAST(min({c}) AS DOUBLE), 6)' if is_num else 'CAST(NULL AS DOUBLE)'} AS min_num,
       {f'round(CAST(max({c}) AS DOUBLE), 6)' if is_num else 'CAST(NULL AS DOUBLE)'} AS max_num,
       {'CAST(NULL AS VARCHAR)' if is_num else f'min({c})'} AS min_str,
       {'CAST(NULL AS VARCHAR)' if is_num else f'max({c})'} AS max_str
FROM t"""
        )
    return f"WITH t AS ({base})\n" + "\nUNION ALL\n".join(blocks)


@register("profile_orders_table", _profile_oracle())
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders (operators/profile.py): nulls, exact
    distincts, min/max as a union of NARROW single-column aggregates —
    each scans only its own parquet column, vs the multi-distinct
    single-agg plan whose Expand multiplies full-width rows into the
    shuffle (measured ~2.5x slower; see operator docstring). The
    pre-filter decision report a curation pipeline runs first.
    Timestamps profile as formatted strings (lexicographic ==
    chronological for a fixed format); numerics stay numeric so no
    engine-specific float-to-string formatting leaks into results."""
    from vectordbfaiss_spark.operators.profile import profile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
    )
    return profile(
        o,
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderpriority", "o_orderdate_s"],
    )


_VARIANT_ORACLE = """
SELECT event_id AS eid, user_id AS uid, event_type AS etype,
       round(value, 6) AS val
FROM events
"""


@register("variant_json_extract_events", _VARIANT_ORACLE)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType surface: serialize each event to JSON, parse to
    VARIANT (binary-encoded semi-structured value — one parse, typed
    sub-field access after), then extract nested/array paths back out.
    The contract is roundtrip identity, so the oracle reads the original
    columns — any drift in the JSON encode, variant parse, or typed
    variant_get shows up as a mismatch. At scale variant beats repeated
    get_json_object (which re-parses the string per extraction)."""
    e = load_table(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.col("event_type"),
            F.col("value"),
            F.struct(F.col("user_id").alias("u")).alias("meta"),
            F.array(F.col("event_id")).alias("ids"),
        )
    )
    v = e.select(F.parse_json(j).alias("v"))
    return v.select(
        F.variant_get("v", "$.ids[0]", "long").alias("eid"),
        F.variant_get("v", "$.meta.u", "long").alias("uid"),
        F.variant_get("v", "$.event_type", "string").alias("etype"),
        F.round(F.variant_get("v", "$.value", "double"), 6).alias("val"),
    )


_SALTED_ORACLE = """
SELECT event_type,
       round(sum(value), 4) AS sum_value,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events
GROUP BY event_type
"""


@register("skew_salted_event_totals", _SALTED_ORACLE)
def q_salted_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators/skew.py) on a genuinely
    skewed keyspace — events has only 5 event_type groups, so a naive
    groupBy lands ALL rows on 5 reducers no matter how many executors
    exist. Stage 1 aggregates on (key, salt) spreading each hot key over
    16 partitions; stage 2 folds the 5x16 partials. The oracle is the
    plain GROUP BY: salting must be invisible in results. This is the
    hash-agg fallback for the single-hot-group case AQE skew handling
    doesn't cover (AQE splits skewed JOIN partitions, not agg groups)."""
    from vectordbfaiss_spark.operators.skew import salted_sum

    e = load_table(spark, sf_dir, "events")
    out = salted_sum(
        e.select("event_type", "value"), key="event_type", value="value"
    )
    return out.select(
        "event_type",
        F.round("sum_value", 4).alias("sum_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


_EWMA_A = 0.3

# EWMA via the numerically-explicit closed form: ewma_i = a * (1-a)^i *
# cumsum_j<=i[ (1-a)^(-j) * x_j ], normalized by the weight sum so the
# first rows aren't biased low. Identical expression order on both
# engines; series are days-per-type (~30), so the (1-a)^(-j) terms stay
# well inside double range.
_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
), idx AS (
  SELECT event_type, day, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
  FROM daily
), acc AS (
  SELECT event_type, day, n, i,
         sum(power(1.0 - {_EWMA_A}, -i) * n)
           OVER (PARTITION BY event_type ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         sum(power(1.0 - {_EWMA_A}, -i))
           OVER (PARTITION BY event_type ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
  FROM idx
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       round(s / w, 6) AS ewma
FROM acc
"""


@register("ewma_daily_counts", _EWMA_ORACLE)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event volumes
    (alpha=0.3) — trend smoothing for the anomaly family. EWMA's
    recursion is rewritten as a weighted cumulative sum (two sums in ONE
    window pass), so the 'iterative' smoother is a plain window
    aggregate: one shuffle on event_type, state O(1) per row. The
    normalized form (divide by the running weight sum) matches pandas
    ewm(adjust=True) semantics."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    wi = W.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("i", F.row_number().over(wi) - 1)
    frame = (
        W.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    decay = F.pow(F.lit(1.0 - _EWMA_A), -F.col("i"))
    acc = idx.select(
        "event_type",
        "day",
        "n",
        F.sum(decay * F.col("n")).over(frame).alias("s"),
        F.sum(decay).over(frame).alias("w"),
    )
    return acc.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("s") / F.col("w"), 6).alias("ewma"),
    )


_BOOL_AGG_ORACLE = """
SELECT o_orderpriority,
       bool_and(o_totalprice > 100)  AS all_over_100,
       bool_or(o_orderstatus = 'F')  AS any_finished,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open
FROM orders
GROUP BY o_orderpriority
"""


@register("bool_aggregates_orders", _BOOL_AGG_ORACLE)
def q_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: every/any (bool_and/bool_or) plus the
    null-skipping conditional count — the predicates-over-groups
    vocabulary data-quality checks are written in. All map-side
    combinable single-bit accumulators."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 100).alias("all_over_100"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).cast("long").alias("n_open"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (pipeline data-quality gate)
# ---------------------------------------------------------------------------

_FK_AUDIT_ORACLE = """
SELECT 'orders.o_custkey -> customer' AS fk,
       count(*) AS n_rows,
       count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_orderkey -> orders', count(*),
       count(*) FILTER (WHERE oo.o_orderkey IS NULL)
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) oo ON l.l_orderkey = oo.o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey -> part', count(*),
       count(*) FILTER (WHERE p.p_partkey IS NULL)
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'embeddings.vec_id -> documents', count(*),
       count(*) FILTER (WHERE d.doc_id IS NULL)
FROM embeddings e LEFT JOIN (SELECT DISTINCT doc_id FROM documents) d ON e.vec_id = d.doc_id
"""


@register("fk_integrity_audit", _FK_AUDIT_ORACLE)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: per foreign key,
    total rows and orphans (fact rows whose dimension key is missing) — the
    standard pre-training/pre-join data-quality gate. Plan: each check is a
    broadcast-dim left-anti-style count folded into one left join + filtered
    count; the four audits union into one small result. At 100 TB each
    audit is one fact scan with a broadcast (or shuffled-hash for big dims)
    join — no orphan rows are ever collected, only counted."""

    def audit(fact, fkey, dim, dkey, label):
        d = dim.select(F.col(dkey).alias("_dk")).distinct()
        joined = fact.select(F.col(fkey).alias("_fk")).join(
            d, F.col("_fk") == F.col("_dk"), "left"
        )
        return joined.agg(
            F.lit(label).alias("fk"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("_dk").isNull(), 1)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    return (
        audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey -> customer")
        .unionAll(audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey -> orders"))
        .unionAll(audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey -> part"))
        .unionAll(audit(e, "vec_id", d, "doc_id", "embeddings.vec_id -> documents"))
    )
