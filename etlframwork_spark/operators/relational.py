"""Relational operator queries (SURVEY.md §2.2-2.8) with DuckDB oracles.

Each query exercises one operator class from the SURVEY §2 inventory on
the driver testdata; the paired SQL is the DuckDB oracle the driver runs
side-by-side. Aliases match exactly on both sides (driver hashes by
sorted column name). Determinism rules: see operators/registry.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.io import load_table
from .registry import query


def _dsum(col, alias: str):
    """Order-independent double sum: exact decimal accumulation."""
    return F.sum(col.cast("decimal(30,8)")).cast("double").alias(alias)


def _DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,8))) AS DOUBLE)"


# --------------------------------------------------------------------- A1/P2
@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_DSUM('l_quantity')} AS sum_qty,
           {_DSUM('l_extendedprice')} AS sum_base_price,
           {_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_DSUM('l_quantity')} / COUNT(*) AS avg_qty,
           {_DSUM('l_extendedprice')} / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style hash aggregate; filter pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(30,8)")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast("decimal(30,8)")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ----------------------------------------------------------------------- J2/O2
@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey AS orderkey,
           {_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """3-way equi join + agg + top-k; unique (revenue, orderkey) ordering."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-03-15 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1996-03-15 00:00:00'")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"), F.col("o_orderdate"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# -------------------------------------------------------------------- J2/J3/A1
@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           {_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """5-way star join; tiny dims (nation/region) broadcast explicitly."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ------------------------------------------------------------------------- J3
@query(
    "broadcast_enrich_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS total_acctbal
    FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def broadcast_enrich_nation(spark, sf_dir):
    """Broadcast-hash-join enrichment of a fact with two small dims."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_customers"), _dsum(F.col("c_acctbal"), "total_acctbal"))
    )


# ---------------------------------------------------------------------- P1/P2
@query(
    "filter_project_pushdown",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_quantity AS qty, l_extendedprice AS price
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'R' AND l_discount > 0.05
    """,
)
def filter_project_pushdown(spark, sf_dir):
    """Conjunctive predicates + column pruning; both reach the parquet scan
    (verified by tests/test_plans.py via PushedFilters/ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R") & (F.col("l_discount") > 0.05)
    ).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )


# ------------------------------------------------------------------------- J5
@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def semi_join_active_customers(spark, sf_dir):
    """Left-semi join: existence filter without duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


# ------------------------------------------------------------------------- J6
@query(
    "anti_join_idle_customers",
    oracle="""
    SELECT c_custkey AS custkey, c_mktsegment AS segment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def anti_join_idle_customers(spark, sf_dir):
    """Left-anti join: customers with no URGENT order (MERGE's
    insert-on-miss leg; predicate keeps the result non-trivial at every
    driver scale factor)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


# ---------------------------------------------------------------------- J4/P3
@query(
    "left_join_null_backfill",
    oracle="""
    SELECT c.c_custkey AS custkey,
           COALESCE(x.n_orders, 0) AS n_orders,
           COALESCE(x.spend, 0.0) AS spend
    FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    ) x ON c.c_custkey = x.o_custkey
    """,
)
def left_join_null_backfill(spark, sf_dir):
    """Left-outer join + coalesce back-fill (schema-evolution alignment P3)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum(F.col("o_totalprice"), "spend"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
    )


# ------------------------------------------------------------------- J7/A2/W1
@query(
    "lww_dedup_events",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, value AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def lww_dedup_events(spark, sf_dir):
    """Last-writer-wins dedup — the MERGE's A2/J7 kernel on the generic
    events table: latest row per (user_id, event_type) by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


# ------------------------------------------------------------------------- A3
@query(
    "distinct_counts",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_counts(spark, sf_dir):
    """Exact count-distinct per group (the approx/HLL variant is exercised
    accuracy-pinned vs this exact twin in tests/test_queries.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


# ------------------------------------------------------------------------- A4
@query(
    "rollup_order_metrics",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS grp,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_metrics(spark, sf_dir):
    """Rollup in one pass: (status, priority), (status), () — the metrics
    rollup shape from SURVEY §2.4 A4. spread=True: the 3x Expand + partial
    aggregate run map-side and the 25 MB orders parquet otherwise plans
    7 scan tasks (guide §2.6); the 8 MB floor keeps the extra exchange
    off small-sf inputs where it measured as a net loss."""
    o = load_table(spark, sf_dir, "orders", spread=True, spread_min_bytes=8 << 20)
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "total"),
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast("long").alias("grp"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "grp",
            "n_orders",
            "total",
        )
    )


# ---------------------------------------------------------------------- W1/W2
@query(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY rn <= 3
    """,
)
def window_rank_orders(spark, sf_dir):
    """Ranking windows with a unique (totalprice, orderkey) order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


# ------------------------------------------------------------------------- W3
@query(
    "window_lag_event_gaps",
    oracle="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    """,
)
def window_lag_event_gaps(spark, sf_dir):
    """lag/lead analytics: inter-event gaps per user (stream-QA shape W3)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        (us - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


# ------------------------------------------------------------------------- W4
@query(
    "window_running_spend",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_spend(spark, sf_dir):
    """Frame-spec running aggregate; decimal accumulation keeps the running
    sums bit-identical across engines at every prefix."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).over(w).cast("double").alias("running_spend"),
    )


# ------------------------------------------------------------------------- O2
@query(
    "topk_hot_users",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 10
    """,
)
def topk_hot_users(spark, sf_dir):
    """Top-k hot keys (the skew-detection primitive P4/O2 of the MERGE);
    Spark plans TakeOrderedAndProject — no global sort."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum(F.col("value"), "total_value"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------- U1-U3
@query(
    "set_ops_nations",
    oracle="""
    WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         supp_nations AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM cust_nations INTERSECT SELECT nationkey FROM supp_nations)
    UNION ALL
    SELECT 'customer_only' AS tag, nationkey FROM (SELECT nationkey FROM cust_nations EXCEPT SELECT nationkey FROM supp_nations)
    UNION ALL
    SELECT 'all' AS tag, nationkey FROM (SELECT nationkey FROM cust_nations UNION SELECT nationkey FROM supp_nations)
    """,
)
def set_ops_nations(spark, sf_dir):
    """Union / intersect / except over distinct key sets (U1-U3)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("tag"), "nationkey")
    conly = c.exceptAll(s).select(F.lit("customer_only").alias("tag"), "nationkey")
    alln = c.union(s).distinct().select(F.lit("all").alias("tag"), "nationkey")
    return both.unionByName(conly).unionByName(alln)


# ------------------------------------------------------------------------- F2
@query(
    "string_funcs_parts",
    oracle="""
    SELECT p_partkey AS partkey,
           UPPER(p_brand) AS brand_upper,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_type, 1, 7) AS type_prefix,
           CONCAT(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size,
           COALESCE(REGEXP_EXTRACT(p_name, '([a-z]+)$', 1), '') AS last_word,
           CASE WHEN CONTAINS(p_type, 'ECONOMY') THEN 1 ELSE 0 END AS is_economy
    FROM part
    """,
)
def string_funcs_parts(spark, sf_dir):
    """Scalar string functions (F2): upper/length/substr/concat/regexp."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("partkey"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 7).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias("brand_size"),
        F.regexp_extract(F.col("p_name"), r"([a-z]+)$", 1).alias("last_word"),
        F.when(F.col("p_type").contains("ECONOMY"), 1).otherwise(0).alias("is_economy"),
    )


# ------------------------------------------------------------------------- F3
@query(
    "date_trunc_monthly_revenue",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
)
def date_trunc_monthly_revenue(spark, sf_dir):
    """Time bucketing (F3): monthly revenue series; months emitted as
    strings so tz representation can never skew the compare."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum(F.col("o_totalprice"), "revenue"))
    )


# ------------------------------------------------------------------------- F5
@query(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark, sf_dir):
    """JSON field extraction from the events.props payload (F5).
    spread=True: the JSON parse is the cost and the 16 MB events parquet
    otherwise plans 4 scan tasks (guide §2.6/§6); same 8 MB floor
    rationale as rollup_order_metrics."""
    ev = load_table(spark, sf_dir, "events", spread=True, spread_min_bytes=8 << 20)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


# ------------------------------------------------------------------------- F7
@query(
    "case_when_acctbal_buckets",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bucket,
           c_mktsegment AS segment,
           COUNT(*) AS n
    FROM customer GROUP BY 1, 2
    """,
)
def case_when_acctbal_buckets(spark, sf_dir):
    """Conditional dispatch (F7) — the vectorized op-code pattern of the
    MERGE expressed on generic data."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return c.groupBy(bucket.alias("bucket"), F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------- P4/F4
def salted_key_distribution(spark, sf_dir):
    """Deterministic key-hash salting (P4): distribution of events over
    32 salted shards. (The MERGE needs no salt: its LWW resolve
    pre-reduces a hot key map-side, pinned in tests/test_plans.py and
    tests/test_property.py.) xxhash64 has no DuckDB twin so this could only ever be a rows-only
    driver row; demoted from the 50-query driver window in round 5 (the
    oracle-paired emb_neardup_pairs takes the slot — strictly stronger
    evidence). Correctness (determinism, full coverage, bounded shard
    spread) is asserted in tests/test_queries.py::test_salted_key_
    distribution_properties."""
    ev = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("user_id", "event_type"), F.lit(32)).alias("shard")
    return ev.groupBy(salt).agg(F.count(F.lit(1)).alias("n")).orderBy("shard")


# -------------------------------------------------------------------- F4 math
@query(
    "math_funcs_lineitem",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_price,
           MOD(l_orderkey, 7) AS key_mod,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
)
def math_funcs_lineitem(spark, sf_dir):
    """Arithmetic / round / mod / floor (F4). Rounding happens in EXACT
    decimal arithmetic: Spark's round(double) rounds the shortest decimal
    representation while DuckDB rounds the true binary value, so doubles
    are cast to decimal (exact for 2dp source data) before multiply+round."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    net = F.round(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")),
        2,
    ).cast("double")
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        net.alias("net_price"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("key_mod"),
        F.floor(F.col("l_quantity") / 10).alias("qty_decile"),
    )


# ------------------------------------------------------------------------- A4
@query(
    "cube_part_stats",
    oracle="""
    SELECT COALESCE(p_brand, '<all>') AS brand,
           COALESCE(CAST(p_size // 10 AS VARCHAR), '<all>') AS size_decile,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(30,8))) AS DOUBLE) AS total_price
    FROM part
    GROUP BY CUBE (p_brand, p_size // 10)
    """,
)
def cube_part_stats(spark, sf_dir):
    """CUBE: all grouping combinations in one pass (A4 full lattice)."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "size_decile_i", F.floor(F.col("p_size") / 10)
    )
    return (
        p.cube("p_brand", "size_decile_i")
        .agg(F.count(F.lit(1)).alias("n_parts"), _dsum(F.col("p_retailprice"), "total_price"))
        .select(
            F.coalesce(F.col("p_brand"), F.lit("<all>")).alias("brand"),
            F.coalesce(F.col("size_decile_i").cast("string"), F.lit("<all>")).alias("size_decile"),
            "n_parts",
            "total_price",
        )
    )


# ----------------------------------------------------------------- A4 via SQL
@query(
    "grouping_sets_supplier",
    oracle="""
    SELECT COALESCE(CAST(s_nationkey AS VARCHAR), '<all>') AS nation,
           COALESCE(SUBSTRING(s_name, 1, 8), '<all>') AS name_prefix,
           COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal
    FROM supplier
    GROUP BY GROUPING SETS ((s_nationkey), (SUBSTRING(s_name, 1, 8)), ())
    """,
)
def grouping_sets_supplier(spark, sf_dir):
    """Explicit GROUPING SETS through the SQL front-end (the engine's
    spark.sql surface; SURVEY §2.4 A4)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_gs")
    return spark.sql(
        """
        SELECT COALESCE(CAST(s_nationkey AS STRING), '<all>') AS nation,
               COALESCE(SUBSTRING(s_name, 1, 8), '<all>') AS name_prefix,
               COUNT(*) AS n,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal
        FROM supplier_gs
        GROUP BY GROUPING SETS ((s_nationkey), (SUBSTRING(s_name, 1, 8)), ())
        """
    )


# ------------------------------------------------------------------------- F6
@query(
    "array_ops_embeddings",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(round(CAST(embedding[1] AS DOUBLE) * 1000, 0) AS BIGINT) AS first_q,
           CAST(list_sum(list_transform(embedding, x -> abs(CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)))) AS BIGINT) AS l1_q,
           label
    FROM embeddings
    """,
)
def array_ops_embeddings(spark, sf_dir):
    """Array functions over the embedding column (F6): size, element_at,
    transform+aggregate — integer-quantized so reductions are exact."""
    e = load_table(spark, sf_dir, "embeddings")
    q = "transform(embedding, x -> abs(CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)))"
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000, 0) AS BIGINT)").alias("first_q"),
        F.expr(f"aggregate({q}, 0L, (acc, v) -> acc + v)").alias("l1_q"),
        "label",
    )
