"""Relational closure, batch 1 (SURVEY.md §2B B7-B12): TPC-H Q1/Q3/Q5, windows, rollup, set ops, JSON.

Mechanical split of the former single-file queries.py (round 9) — the
section bodies are verbatim; only relative-import depth changed.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Relational closure (SURVEY.md §2B B7-B12) on the TPC-H-ish tables
# ---------------------------------------------------------------------------

_DEC = "decimal(18,6)"

def _dec_to_double(s: F.Column) -> F.Column:
    """Deterministic decimal -> double: truncated integer part and signed
    fraction converted separately (each a single correctly-rounded step in
    any engine) and recombined in IEEE arithmetic.  Mirrors the oracle-SQL
    split form — see the module doc's aggregation bullet for why a direct
    cast diverges past 2^53 integer units."""
    return (s - (s % 1)).cast("bigint").cast("double") + (s % 1).cast(
        "double"
    )

def _dsum(c: F.Column) -> F.Column:
    """Exact order-independent sum of a double expression (see module doc)."""
    return _dec_to_double(F.sum(c.cast(_DEC)))

@query(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) - (sum(CAST(l_quantity AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS sum_qty,
  (CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) - (sum(CAST(l_extendedprice AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS sum_base_price,
  (CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) - (sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS sum_disc_price,
  (CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) - (sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS sum_charge,
  (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) - (sum(CAST(l_quantity AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) % 1 AS DOUBLE)) / count(*) AS avg_qty,
  (CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) - (sum(CAST(l_extendedprice AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) % 1 AS DOUBLE)) / count(*) AS avg_price,
  (CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) - (sum(CAST(l_discount AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_discount AS DECIMAL(18,6))) % 1 AS DOUBLE)) / count(*) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter -> 8-agg hash aggregate.  Partial
    (map-side) aggregation + 2-col group key; the scan prunes to 7 columns.

    ``spread``: the fixture lineitem is ONE single-row-group parquet file,
    so the scan — and with it the per-row DECIMAL(18,6) multiply chain and
    the five distinct decimal partial sums, Q1's dominant cost — runs on
    one core (guide §2.5 "input skew: one huge unsplittable file...
    repartition immediately after the read").  Results are bit-identical
    by construction: the sums are exact decimals (order-independent), so
    no partitioning can change them.  Measured at sf0.1: 1.5-1.8 s ->
    0.9-1.4 s (alternating A/B, 4 reps).  No-op on many-file corpora
    whose partitions already reach the core count.  The same move measurably LOSES on q18 / the
    events windows (their subtrees feed keyed exchanges anyway), so it is
    applied only here."""
    l = spread(
        load_table(spark, sf_dir, "lineitem").filter(
            F.expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (_dsum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

@query(
    "tpch_q3_shipping_priority",
    """
SELECT l.l_orderkey,
  (CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) - (sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS revenue,
  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (customer broadcast) -> agg -> top-10.
    ``orderBy().limit()`` compiles to TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP '1995-03-15 00:00:00'")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP '1995-03-15 00:00:00'")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )

@query(
    "tpch_q5_local_supplier_volume",
    """
SELECT n.n_name,
  (CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) - (sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; dims (region/nation/supplier/customer)
    broadcast, fact tables shuffle on the join keys only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1994-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"
        )
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )

@query(
    "window_top_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders)
WHERE rn <= 3 ORDER BY o_custkey, rn
""",
)
def window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (SURVEY.md §2B B9)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("int"))
        .orderBy("o_custkey", "rn")
    )

@query(
    "window_running_total",
    """
SELECT event_id, user_id,
  CAST(sum(CAST(value AS DECIMAL(18,6)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS seq
FROM events
ORDER BY user_id, seq
""",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-user running sum (decimal-exact) + sequence."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast(_DEC))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("running_value"),
            F.row_number().over(w).cast("int").alias("seq"),
        )
        .orderBy("user_id", "seq")
    )

@query(
    "agg_rollup_lineitem",
    """
SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS BIGINT) AS n,
  (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) - (sum(CAST(l_quantity AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregates (SURVEY.md §2B B7): ROLLUP grouping sets."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )

@query(
    "set_ops_except",
    """
SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
EXCEPT
SELECT o_custkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-02'
ORDER BY o_custkey
""",
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (SURVEY.md §2B B10): customers ordering in 1995-01 but
    not 1995-02.  Spark plans this as a left-anti join after distinct."""
    o = load_table(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyy-MM")
    jan = o.filter(ym == "1995-01").select("o_custkey")
    feb = o.filter(ym == "1995-02").select("o_custkey")
    return jan.subtract(feb).orderBy("o_custkey")  # EXCEPT (distinct)

@query(
    "window_rank_gallery",
    """
SELECT o_orderkey,
  o_orderstatus,
  CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cum_dist,
  CAST(dense_rank() OVER w AS INTEGER) AS drank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
)
def window_rank_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking-window family (SURVEY.md §2B B9): ntile,
    percent_rank, cume_dist, dense_rank — all under one fully-deterministic
    ordering (price with orderkey tiebreak), so both engines assign
    identical ranks.  percent_rank/cume_dist are single divisions of exact
    integers — engine-independent doubles."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.dense_rank().over(w).cast("int").alias("drank"),
    ).orderBy("o_orderkey")

@query(
    "set_ops_except_all",
    """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
EXCEPT ALL
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
ORDER BY l_partkey
""",
)
def set_ops_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set difference (SURVEY.md §2B B10): each part keeps
    its EXCESS multiplicity of 1996-Q1 shipments over 1997-Q1 — duplicates
    matter, unlike the distinct EXCEPT.  Spark plans ``exceptAll`` as a
    count-per-key aggregate + generate, not a join per occurrence."""
    l = load_table(spark, sf_dir, "lineitem")
    q1_96 = l.filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'"
        )
    ).select("l_partkey")
    q1_97 = l.filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'"
        )
    ).select("l_partkey")
    return q1_96.exceptAll(q1_97).orderBy("l_partkey")

@query(
    "scalar_function_gallery",
    """
SELECT o_orderkey,
  upper(substr(o_orderpriority, 1, 8)) AS pri,
  strftime(o_orderdate, '%Y-%m') AS ym,
  round(o_totalprice * 0.07, 2) AS tax7,
  CASE WHEN o_totalprice > 200000 THEN 'big'
       WHEN o_totalprice > 100000 THEN 'mid'
       ELSE 'small' END AS bucket,
  abs(o_totalprice - 150000.0) AS dist150k,
  length(o_orderstatus) AS st_len
FROM orders ORDER BY o_orderkey
""",
)
def scalar_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar library sample (SURVEY.md §2B B12); every
    function is a native codegen'd expression."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.round(F.col("o_totalprice") * 0.07, 2).alias("tax7"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.abs(F.col("o_totalprice") - 150000.0).alias("dist150k"),
        F.length("o_orderstatus").cast("long").alias("st_len"),
    ).orderBy("o_orderkey")

@query(
    "json_extract_events",
    """
SELECT event_id, json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
FROM events ORDER BY event_id
""",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (SURVEY.md §2B B12; reference parses/emits JSON
    rows via Gson, SSEOpenAIController.java:189-192)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id", k.alias("k_str"), k.cast("long").alias("k_num")
    ).orderBy("event_id")

@query(
    "json_struct_rollup",
    """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
  CAST(count(*) AS BIGINT) AS n,
  (CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) - (sum(CAST(value AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(value AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS total_value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
)
def json_struct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read aggregation (SURVEY.md §2A row 28 generalized):
    ``from_json`` with an explicit schema — not per-field path extraction —
    then grouped aggregation over the parsed struct field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select(k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).cast("int").alias("k_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("k_bucket")
    )

@query(
    "events_tumbling_agg",
    """
SELECT CAST((epoch_us(ts) // 600000000) * 600 AS BIGINT) AS bucket_s,
  event_type,
  CAST(count(*) AS BIGINT) AS n,
  (CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) - (sum(CAST(value AS DECIMAL(18,6))) % 1) AS BIGINT) AS DOUBLE) + CAST(sum(CAST(value AS DECIMAL(18,6))) % 1 AS DOUBLE)) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window aggregation — batch twin of the streaming
    windowed agg (SURVEY.md §2B B13); bucket emitted as epoch seconds so the
    result is timezone-proof.  The streaming variant (F.window + watermark)
    is exercised in tests/test_streaming.py over the same fixture."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros("ts") - (F.unix_micros("ts") % 600000000)) / 1000000
    return (
        ev.groupBy(
            bucket.cast("long").alias("bucket_s"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("bucket_s", "event_type")
    )
