"""Core relational operator catalog on the benchmark corpus
(region/nation/customer/supplier/part/orders/lineitem/events).

One named query per SURVEY §2 operator family not already exercised by
the domain level pipeline, each hash-checked against a DuckDB oracle.
Aggregates that sum doubles go through DECIMAL so the result is
independent of partition/accumulation order (double sums are not
associative; decimal sums are exact)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.tables import load_table
from .registry import register

_TSF = "yyyy-MM-dd HH:mm:ss"
_TSF_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "s01_scan_pushdown",
    """
SELECT l_orderkey, l_linenumber, l_quantity,
       round(l_extendedprice * (1e0 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_returnflag = 'R'""",
    doc="S1/P1-P4: projected, predicated parquet scan — filters and column "
    "pruning reach the scan node (PushedFilters/ReadSchema), analog of the "
    "reference's WHERE time>.. AND site_no=.. InfluxQL scans "
    "(/root/reference/pipeline/cosmoz_process_levels.py:49-54).",
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1998-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-06-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )


@register(
    "a01_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE)
           AS sum_disc_price,
       round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    doc="A6/A-family: grouped aggregation (TPC-H Q1 shape) with partial "
    "(map-side) aggregation; DECIMAL-routed sums make the result "
    "accumulation-order independent at any parallelism.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_dec).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias(
                "sum_base_price"
            ),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(22,6)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(qty_dec).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "j01_dim_join_rollup",
    """
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name""",
    doc="J1: dimension equi-joins resolved as broadcast hash joins (the "
    "reference's per-site find_one calibration lookup, "
    "/root/reference/pipeline/cosmoz_process_levels.py:105,181) + rollup.",
)
def q_dim_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "j02_fact_fact_join",
    """
SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus,
       round(l.l_extendedprice * (1e0 - l.l_discount), 4) AS net_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND l.l_shipdate > o.o_orderdate""",
    doc="J2: composite fact-fact equi-join (sort-merge / shuffled hash under "
    "AQE) with a cross-table residual predicate — analog of the SQL spec's "
    "Level2⋈Level1 on (SiteNo, Timestamp), "
    "/root/reference/pipeline/level2->level3.sql:82-84.",
)
def q_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where((F.col("o_orderpriority") == "1-URGENT") & (F.col("l_shipdate") > F.col("o_orderdate")))
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4).alias(
                "net_price"
            ),
        )
    )


@register(
    "w04_topk_per_group",
    """
SELECT * FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
    FROM orders) t
WHERE rk <= 3""",
    doc="W4/O1/O2: top-k per group via ranked window (the reference's "
    "TOP 1 ORDER BY correlated picks, "
    "/root/reference/pipeline/level1->level2.sql:116-120).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@register(
    "o01_global_topk",
    """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    doc="O1: global ordered limit (TakeOrderedAndProject — no full sort at "
    "scale), analog of ORDER BY time DESC LIMIT 1 "
    "(/root/reference/nmdb/influx_db.py:175).",
)
def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "w01_lag_delta",
    """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
           AS delta
FROM events""",
    doc="W1: per-key consecutive delta via lag() — DIFFERENCE(count) in "
    "/root/reference/pipeline/raw->level1.sql:91-93.",
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


@register(
    "w02_last_valid_preceding",
    """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_valid_value
FROM events""",
    doc="W2: last value from the most recent *valid* preceding row — the "
    "NMDB ±20%%-vs-previous-valid check's lookup "
    "(/root/reference/nmdb/influx_db.py:255-298).",
)
def q_last_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") != "error", F.col("value")), ignorenulls=True
        )
        .over(w)
        .alias("prev_valid_value"),
    )


@register(
    "w03_centered_time_avg",
    """
SELECT event_id, user_id,
       round(CASE WHEN len(vals) > 0 THEN list_aggregate(vals, 'sum') / len(vals) END, 6)
           AS centered_avg
FROM (
    SELECT event_id, user_id,
           list(value) OVER (PARTITION BY user_id ORDER BY ts
                             RANGE BETWEEN INTERVAL 3 HOUR PRECEDING
                                       AND INTERVAL 3 HOUR FOLLOWING) AS vals
    FROM events) t""",
    doc="W3/A1: centered ±3 h event-time range-frame mean (the level-4 "
    "moving average shape, /root/reference/pipeline/cosmoz_process_levels.py"
    ":65-77); list+fold keeps both engines' summation order identical.",
)
def q_centered_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    micros = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3 * 3600 * 1_000_000, 3 * 3600 * 1_000_000)
    )
    vals = F.collect_list("value").over(w)
    total = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.when(F.size(vals) > 0, total / F.size(vals)), 6
        ).alias("centered_avg"),
    )


@register(
    "j05_asof_backward_join",
    """
SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type IN ('view', 'click')) e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON e.user_id = p.user_id AND e.ts >= p.ts""",
    doc="J5: backward as-of join — latest 'have' row at-or-before each probe "
    "(/root/reference/pipeline/cosmoz_process_levels.py:263-267; "
    "level1->level2.sql:116-117) as a single-shuffle union+window plan.",
)
def q_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type").isin("view", "click"))
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        probes,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        values=["value"],
        sides={"_last_purchase": ("backward", False)},
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TSF_US).alias("ts"),
        F.col("value_last_purchase").alias("last_purchase_value"),
    )


@register(
    "j06_asof_forward_join",
    """
SELECT e.event_id, e.user_id, p.value AS next_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'signup') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON e.user_id = p.user_id AND e.ts <= p.ts""",
    doc="J6: forward as-of fallback — earliest 'have' row at-or-after each "
    "probe (/root/reference/pipeline/cosmoz_process_levels.py:271-274; "
    "level1->level2.sql:119-120).",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "signup")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        probes,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        values=["value"],
        sides={"_next_purchase": ("forward", False)},
    )
    return out.select(
        "event_id", "user_id", F.col("value_next_purchase").alias("next_purchase_value")
    )


@register(
    "j07_windowed_dedup",
    """
SELECT event_id, user_id, event_type, value
FROM (
    SELECT e.*, lag(ts) OVER (PARTITION BY user_id, event_type, value
                              ORDER BY ts, event_id) AS prev_same
    FROM events e) t
WHERE prev_same IS NULL OR prev_same < ts - INTERVAL 10 MINUTE""",
    doc="J7-J9/ST6: windowed exact-dedup — drop rows whose identical payload "
    "re-occurred within a 10-min lookback, via payload-partitioned lag "
    "(zero-join form of the reference's 29-min dedup, "
    "/root/reference/pipeline/cosmoz_process_levels.py:375-390).",
)
def q_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "value").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_same", F.lag("ts").over(w))
        .where(
            F.col("prev_same").isNull()
            | (F.col("prev_same") < F.col("ts") - F.expr("INTERVAL 10 MINUTE"))
        )
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "t01_except_all_diff",
    """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem WHERE l_quantity <= 10
EXCEPT ALL
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem WHERE l_quantity <= 5""",
    doc="T1: multiset table diff (exceptAll) — the golden parallel-table "
    "comparison core (/root/reference/pipeline/cosmoz_process_levels.py"
    ":456-481).",
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"]
    return li.where(F.col("l_quantity") <= 10).select(*cols).exceptAll(
        li.where(F.col("l_quantity") <= 5).select(*cols)
    )


@register(
    "a04_minmax_time_per_key",
    """
SELECT event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
       strftime(date_trunc('hour', min(ts)), '%Y-%m-%d %H:%M:%S') AS first_hour,
       COUNT(*) AS n
FROM events GROUP BY event_type""",
    doc="A4/A5: min/max event-time per key + hour truncation — resume-cursor "
    "queries (/root/reference/nmdb/influx_db.py:164-252).",
)
def q_minmax_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.date_format(F.min("ts"), _TSF_US).alias("first_ts"),
        F.date_format(F.max("ts"), _TSF_US).alias("last_ts"),
        F.date_format(F.date_trunc("hour", F.min("ts")), _TSF).alias("first_hour"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "f13_time_kit",
    """
SELECT event_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_str,
       CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
       epoch_ms(ts) AS epoch_millis,
       strftime(ts + INTERVAL 3 HOUR + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S.%f')
           AS shifted
FROM events""",
    doc="F13-F18: the timestamp kit — hour/day truncation "
    "(/root/reference/pipeline/cosmoz_process_levels.py:200-204), "
    "DATEPART-style extraction (level1->level2.sql:105,113), epoch millis "
    "(/root/reference/nmdb/entrypoint.py:78-99), interval shifts (:62-63).",
)
def q_time_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format(F.date_trunc("hour", "ts"), _TSF).alias("hour_start"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_str"),
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.expr("unix_millis(CAST(ts AS TIMESTAMP))").alias("epoch_millis"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 3 HOUR") + F.expr("INTERVAL 1 SECOND"), _TSF_US
        ).alias("shifted"),
    )


@register(
    "f19_string_kit",
    """
SELECT doc_id,
       string_split(trim(text), ' ')[1] AS first_token,
       upper(source) AS source_uc,
       lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_code,
       length(regexp_replace(text, '[aeiou]', '', 'g')) AS consonant_len,
       substring(text, 1, 12) AS prefix12
FROM documents""",
    doc="F19-F21: string kit — split/trim "
    "(/root/reference/nmdb/data_getter.py:121,196-198), pad-aware repair "
    "(/root/reference/pipeline/csv_mongodb_converter.py:149-153), "
    "zero-padded formatting (:113,121).",
)
def q_string_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), " ").getItem(0).alias("first_token"),
        F.upper("source").alias("source_uc"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_code"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast("long").alias("consonant_len"),
        F.substring("text", 1, 12).alias("prefix12"),
    )


@register(
    "p05_zero_sentinel_casts",
    """
SELECT event_id,
       coalesce(nullif(value, 0e0), -1e0) AS value_or_default,
       TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k_prop,
       CASE WHEN value <> 0 THEN round(1e2 / value, 6) END AS guarded_ratio
FROM events""",
    doc="P5/F9/F10/F22: zero-as-missing sentinel handling, guarded division, "
    "cast-with-fallback (/root/reference/pipeline/cosmoz_process_levels.py"
    ":194-199,280-296; csv_influx_converter.py:76-80).",
)
def q_zero_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("value", F.lit(0.0)), F.lit(-1.0)).alias("value_or_default"),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_prop"),
        F.when(F.col("value") != 0, F.round(F.lit(100.0) / F.col("value"), 6)).alias(
            "guarded_ratio"
        ),
    )


@register(
    "t03_tolerance_diff",
    """
WITH u AS (SELECT l_orderkey, l_linenumber, max(l_extendedprice) AS price
            FROM lineitem GROUP BY 1, 2),
a AS (SELECT l_orderkey, l_linenumber, price AS price_a FROM u),
b AS (SELECT l_orderkey, l_linenumber,
             price * (1e0 + CASE WHEN l_orderkey % 97 = 0 THEN 1e-3 ELSE 1e-9 END)
                 AS price_b
      FROM u)
SELECT a.l_orderkey, a.l_linenumber,
       round(abs(a.price_a - b.price_b), 6) AS abs_diff
FROM a JOIN b ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
WHERE NOT (abs(a.price_a - b.price_b) <= 1e-5
           OR abs(a.price_a - b.price_b)
              <= 1e-6 * abs(b.price_b))""",
    doc="T1 tolerance table-diff: the reference's golden parallel-table "
    "comparison with abs-OR-relative float thresholds "
    "(/root/reference/pipeline/cosmoz_process_levels.py:483-620) as a "
    "distributed keyed join + tolerance predicate; rows failing BOTH "
    "tolerances are the reported mismatches. Inputs: lineitem vs a "
    "deterministically perturbed copy (1e-9 within tolerance, 1e-3 not).",
)
def q_tolerance_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tolerance import tolerance_diff

    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the corpus — reduce
    # to one row per key so the diff is keyed, like the golden tests
    u = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.max("l_extendedprice").alias("price")
    )
    a = u.select("l_orderkey", "l_linenumber", F.col("price").alias("price_a"))
    b = u.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("price")
            * (
                F.lit(1.0)
                + F.when(F.col("l_orderkey") % 97 == 0, F.lit(1e-3)).otherwise(F.lit(1e-9))
            )
        ).alias("price_b"),
    )
    return tolerance_diff(
        a,
        b,
        keys=["l_orderkey", "l_linenumber"],
        pairs=[("price_a", "price_b")],
        abs_tol=1e-5,
        rel_tol=1e-6,
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round("abs_diff_price_a", 6).alias("abs_diff"),
    )
