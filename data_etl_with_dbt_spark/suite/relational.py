"""Extended relational surface (SURVEY.md §7 phase E / §2.3-§2.9): joins of
every type, aggregations incl. rollup and distinct, set ops, sorts/top-k,
CTE + subquery composition, and scalar-function galleries — TPC-H-style
queries over the driver's star schema, each with a DuckDB oracle.

Plan-shape notes (verified via .explain, see BENCH_NOTES.md):
* dimension joins broadcast (region/nation/customer/supplier are dims);
  fact-fact joins shuffle on keys with AQE handling skew,
* aggregations are partial+final (map-side combine) automatically,
* every LIMIT sits under a total order.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from data_etl_with_dbt_spark.materialize import materialize, spread_small

from data_etl_with_dbt_spark.suite.registry import (
    big,
    davg,
    dec6,
    dsum,
    load,
    query,
)

# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape (pricing summary).
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
        l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        CAST(CAST(AVG(l_quantity) AS DECIMAL(38,6)) AS DOUBLE) AS avg_qty,
        CAST(CAST(AVG(l_extendedprice) AS DECIMAL(38,6)) AS DOUBLE) AS avg_price,
        CAST(CAST(AVG(l_discount) AS DECIMAL(38,6)) AS DOUBLE) AS avg_disc,
        CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1: single-pass grouped aggregation with derived measures",
    bench=True,
)
def q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # spread_small (r11): the single-row-group fixture put the ENTIRE
    # partial aggregation — four exact-decimal sums over 600k rows — on
    # one task (measured 1.66 s serialized vs 0.91 s spread). Conditional
    # on splits < cores, so a real-scale lineitem scan (thousands of
    # splits) keeps the canonical scan -> partial -> one-exchange shape.
    filtered = spread_small(
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
    )
    return (
        filtered
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            big(F.count(F.lit(1))).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-join + agg + total-order top-k: TPC-H Q3 shape.
# ---------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
        l_orderkey,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    description="TPC-H Q3: 3-way join (broadcast dim), grouped revenue, total-order top-k",
    bench=True,
)
def q3_shipping_priority(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Star join across the whole schema: TPC-H Q5 shape.
# ---------------------------------------------------------------------------

@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
        n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    description="TPC-H Q5: 6-way star join with broadcast dims, grouped revenue per nation",
    bench=True,
)
def q5_local_supplier_volume(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Outer join + null-safe aggregation.
# ---------------------------------------------------------------------------

@query(
    "join_left_outer_summary",
    oracle="""
    SELECT
        c_custkey, c_name,
        CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_spent
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
    description="Left outer join keeping order-less customers, null-safe totals",
)
def join_left_outer_summary(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            big(F.count("o_orderkey")).alias("n_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# ---------------------------------------------------------------------------

@query(
    "join_semi_anti",
    oracle="""
    SELECT 'semi' AS op, c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    UNION ALL
    SELECT 'anti' AS op, c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    description="Left-semi (EXISTS) and left-anti (NOT EXISTS) in one relation",
)
def join_semi_anti(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    finished = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    all_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    semi = (
        cust.join(finished, "c_custkey", "left_semi")
        .select(F.lit("semi").alias("op"), "c_custkey")
    )
    anti = (
        cust.join(all_orders, "c_custkey", "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey")
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------

@query(
    "set_operations",
    oracle="""
    WITH cust_n AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         supp_n AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'union' AS op, nk FROM (SELECT nk FROM cust_n UNION SELECT nk FROM supp_n)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (SELECT nk FROM cust_n INTERSECT SELECT nk FROM supp_n)
    UNION ALL
    SELECT 'except' AS op, nk FROM (SELECT nk FROM cust_n EXCEPT SELECT nk FROM supp_n)
    """,
    description="UNION / INTERSECT / EXCEPT over nation-key sets (SURVEY §2.7)",
)
def set_operations(spark, sf_dir):
    cust_n = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    supp_n = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    return (
        cust_n.union(supp_n).distinct().select(F.lit("union").alias("op"), "nk")
        .unionByName(cust_n.intersect(supp_n).select(F.lit("intersect").alias("op"), "nk"))
        .unionByName(cust_n.subtract(supp_n).select(F.lit("except").alias("op"), "nk"))
    )


# ---------------------------------------------------------------------------
# ROLLUP + distinct aggregation.
# ---------------------------------------------------------------------------

@query(
    "agg_rollup",
    oracle="""
    SELECT
        o_orderstatus, o_orderpriority,
        CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    description="Hierarchical ROLLUP totals (grouping-sets family)",
)
def agg_rollup(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            big(F.count(F.lit(1))).alias("n"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT
        l_returnflag,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Multiple COUNT(DISTINCT) in one aggregation (expand + partial agg)",
)
def agg_distinct(spark, sf_dir):
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            big(F.countDistinct("l_suppkey")).alias("n_suppliers"),
            big(F.countDistinct("l_partkey")).alias("n_parts"),
            big(F.count(F.lit(1))).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# CTE + scalar subquery; IN subquery.
# ---------------------------------------------------------------------------

@query(
    "cte_above_average_customers",
    oracle="""
    WITH cust_rev AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey
    )
    SELECT custkey, rev, n FROM cust_rev
    WHERE CAST(rev AS DOUBLE) >
          -- dec6-quantized threshold: an order-dependent double AVG differs
          -- in the last ulps across engines; the fixture margin is >178
          (SELECT CAST(CAST(AVG(CAST(rev AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE) FROM cust_rev)
    """,
    description="CTE reuse + scalar aggregate subquery (above-average filter)",
)
def cte_above_average_customers(spark, sf_dir):
    cust_rev = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            dsum(F.col("o_totalprice")).alias("rev"),
            big(F.count(F.lit(1))).alias("n"),
        )
        # scalar-subquery consumer below: checkpoint so the orders agg runs
        # once (no cross-consumer CSE — measured on q11/q21)
    ).transform(materialize)
    # dec6 grid: the raw AVG of doubles is accumulation-order-dependent
    # across engines; the nearest rev sits >178 away, so quantizing the
    # threshold is provably output-preserving on the fixtures
    avg_rev = cust_rev.agg(dec6(F.avg(F.col("rev").cast("double"))).alias("__avg"))
    return (
        cust_rev.crossJoin(F.broadcast(avg_rev))
        .where(F.col("rev").cast("double") > F.col("__avg"))
        .select("custkey", "rev", "n")
    )


@query(
    "subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
    description="IN-subquery (compiles to a broadcast semi join)",
)
def subquery_in(spark, sf_dir):
    neg = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return (
        load(spark, sf_dir, "orders")
        .join(neg, "o_custkey", "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Global sort + top-k.
# ---------------------------------------------------------------------------

@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority,
           o_totalprice AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    description="Global top-k under a total order (TakeOrderedAndProject, no full sort)",
)
def topk_orders(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "o_orderpriority",
            F.col("o_totalprice").alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# Recursive CTE (§2.8 — Spark 4 adds WITH RECURSIVE): a clamped running
# accumulator, the textbook recursion-ONLY computation (a leaky-bucket
# balance clamp(acc + x - drain, 0, cap) cannot be expressed with window
# functions — the double clamp makes the fold non-associative; the fixture
# exercises all three regimes: 67 users drain to 0, 18 saturate at the
# cap, 65 end in between at sf0.01). Cross-engine determinism comes free:
# recursion forces BOTH engines to evaluate the exact same chain of IEEE
# adds in the exact same order, so raw doubles hash-match without decimal
# quantization. Depth is capped at 20 events/user: Spark executes one
# iteration per recursion level (~0.5 s/level of scheduling at this size),
# so depth, not data width, is the cost — the windowed/associative
# operators remain the scale path wherever the semantics allow.
# ---------------------------------------------------------------------------

_RECURSIVE_BALANCE_SQL = """
WITH RECURSIVE ev AS (
    SELECT * FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn <= 20
), acc(user_id, rn, balance) AS (
    SELECT user_id, rn, least(greatest(value - 60.0, 0.0), 100.0) FROM ev WHERE rn = 1
    UNION ALL
    SELECT ev.user_id, ev.rn,
           least(greatest(acc.balance + ev.value - 60.0, 0.0), 100.0)
    FROM acc JOIN ev ON ev.user_id = acc.user_id AND ev.rn = acc.rn + 1
)
SELECT a.user_id, CAST(a.rn AS BIGINT) AS n_events, a.balance AS final_balance
FROM acc a JOIN (SELECT user_id, max(rn) AS mx FROM acc GROUP BY user_id) m
  ON a.user_id = m.user_id AND a.rn = m.mx
"""


@query(
    "recursive_capped_balance",
    oracle=_RECURSIVE_BALANCE_SQL,
    description=(
        "WITH RECURSIVE leaky-bucket balance clamp(acc + value - 60, 0, "
        "100) per user (non-associative fold — windows cannot express it; "
        "identical SQL runs on both engines, recursion fixes the float-add "
        "order)"
    ),
)
def recursive_capped_balance(spark, sf_dir):
    # depth is rn <= 20 -> 21 scheduled levels, under Spark's default
    # cteRecursionLevelLimit of 100: no session-conf override needed (a
    # query function must not leak config changes into the shared session)
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_RECURSIVE_BALANCE_SQL)


# ---------------------------------------------------------------------------
# Scalar-function galleries (SURVEY §2.9 families).
# ---------------------------------------------------------------------------

@query(
    "scalar_string_gallery",
    oracle="""
    SELECT
        p_partkey,
        upper(p_name) AS up_name,
        lower(p_brand) AS low_brand,
        substring(p_name, 1, 8) AS name8,
        CAST(length(p_name) AS BIGINT) AS name_len,
        replace(p_type, ' ', '_') AS type_us,
        concat(p_brand, ':', p_type) AS brand_type,
        trim(concat('  ', p_brand, '  ')) AS trimmed,
        CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        p_name LIKE '%part%' AS has_part,
        CASE WHEN p_size > 25 THEN 'large' WHEN p_size > 10 THEN 'medium' ELSE 'small' END AS size_band,
        coalesce(nullif(p_size, 0), -1) AS size_nz,
        greatest(p_size, 10) AS size_hi,
        least(p_size, 10) AS size_lo,
        CAST(CAST(p_retailprice AS DECIMAL(38,6)) AS DOUBLE) AS price_dec
    FROM part
    """,
    description="String/conditional scalar family: case-folding, substring, replace, concat, trim, position, LIKE, CASE, coalesce/nullif, greatest/least",
)
def scalar_string_gallery(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("low_brand"),
        F.substring("p_name", 1, 8).alias("name8"),
        big(F.length("p_name")).alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
        big(F.instr("p_name", "a")).alias("first_a"),
        F.col("p_name").like("%part%").alias("has_part"),
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_band"),
        F.coalesce(F.nullif(F.col("p_size"), F.lit(0)), F.lit(-1)).alias("size_nz"),
        F.greatest(F.col("p_size"), F.lit(10)).alias("size_hi"),
        F.least(F.col("p_size"), F.lit(10)).alias("size_lo"),
        dec6(F.col("p_retailprice")).alias("price_dec"),
    )


@query(
    "scalar_array_gallery",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           array_to_string(list_sort(list_distinct(t)), ' ') AS distinct_sorted,
           array_to_string(list_slice(t, 1, 3), ' ') AS first3,
           array_to_string(list_reverse(list_slice(t, greatest(len(t) - 1, 1), len(t))), ' ')
               AS last2_rev,
           list_contains(t, 'the') AS has_the,
           CAST(coalesce(list_position(t, 'spark'), 0) AS BIGINT) AS spark_pos,
           CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT)
               AS total_chars,
           list_aggregate(t, 'max') AS tok_max,
           list_aggregate(t, 'min') AS tok_min,
           array_to_string(list_sort(list_distinct(list_concat(t, ['zzz']))), ' ')
               AS union_z,
           coalesce(array_to_string(list_sort(list_intersect(t, ['the', 'a', 'spark'])), ' '), '')
               AS isect,
           array_to_string(list_transform(list_slice(t, 1, 3),
                                          x -> CAST(len(x) AS VARCHAR)), ',') AS lens3
    FROM toks
    """,
    description=(
        "Array/higher-order scalar family over token arrays: sort/distinct/"
        "slice/reverse/contains/position/aggregate-fold/max/min/union/"
        "intersect/transform — emitted as strings and scalars (the driver "
        "hash can't take list columns)"
    ),
)
def scalar_array_gallery(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    base = d.select("doc_id", t.alias("t"))
    tc = F.col("t")
    return base.select(
        "doc_id",
        big(F.size(tc)).alias("n_tokens"),
        F.array_join(F.array_sort(F.array_distinct(tc)), " ").alias("distinct_sorted"),
        F.array_join(F.slice(tc, 1, 3), " ").alias("first3"),
        F.array_join(
            F.reverse(F.slice(tc, F.greatest(F.size(tc) - 1, F.lit(1)), 2)), " "
        ).alias("last2_rev"),
        F.array_contains(tc, "the").alias("has_the"),
        big(F.array_position(tc, "spark")).alias("spark_pos"),
        big(
            F.aggregate(tc, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        ).alias("total_chars"),
        F.array_max(tc).alias("tok_max"),
        F.array_min(tc).alias("tok_min"),
        F.array_join(
            F.array_sort(F.array_union(tc, F.array(F.lit("zzz")))), " "
        ).alias("union_z"),
        F.array_join(
            F.array_sort(
                F.array_intersect(tc, F.array(F.lit("the"), F.lit("a"), F.lit("spark")))
            ),
            " ",
        ).alias("isect"),
        F.array_join(
            F.transform(F.slice(tc, 1, 3), lambda x: F.length(x).cast("string")), ","
        ).alias("lens3"),
    )


@query(
    "scalar_bitwise_gallery",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey & 255 AS BIGINT) AS low_byte,
           CAST(p_partkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(p_partkey, 21845) AS BIGINT) AS xored,
           CAST(1 << (p_size % 16) AS BIGINT) AS size_bit,
           CAST(bit_count(CAST(p_partkey AS BIGINT)) AS INT) AS popcount,
           hex(p_partkey) AS hex_key,
           to_base64(encode(p_name)) AS name_b64
    FROM part
    """,
    description=(
        "Bitwise + binary-codec scalar family: and/or/xor/shift/popcount "
        "on keys, hex and base64 renderings — integer/byte-exact "
        "cross-engine"
    ),
)
def scalar_bitwise_gallery(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "CAST(p_partkey & 255 AS BIGINT) AS low_byte",
        "CAST(p_partkey | 4096 AS BIGINT) AS with_flag",
        "CAST(p_partkey ^ 21845 AS BIGINT) AS xored",
        "CAST(shiftleft(1, p_size % 16) AS BIGINT) AS size_bit",
        "bit_count(CAST(p_partkey AS BIGINT)) AS popcount",
        "hex(p_partkey) AS hex_key",
        "base64(encode(p_name, 'utf-8')) AS name_b64",
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT CAST(p_size % 5 AS BIGINT) AS size_band,
           CAST(bit_and(p_partkey) AS BIGINT) AS key_and,
           CAST(bit_or(p_partkey) AS BIGINT) AS key_or,
           CAST(bit_xor(p_partkey) AS BIGINT) AS key_xor,
           CAST(count(*) AS BIGINT) AS n
    FROM part GROUP BY 1
    """,
    description=(
        "Bitwise aggregate family: bit_and/bit_or/bit_xor per group "
        "(integer-exact, commutative partials)"
    ),
)
def agg_bitwise(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.groupBy(
        (F.col("p_size") % 5).cast("bigint").alias("size_band")
    ).agg(
        F.bit_and("p_partkey").cast("bigint").alias("key_and"),
        F.bit_or("p_partkey").cast("bigint").alias("key_or"),
        F.bit_xor("p_partkey").cast("bigint").alias("key_xor"),
        big(F.count(F.lit(1))).alias("n"),
    )


@query(
    "scalar_collation_gallery",
    oracle="""
    SELECT p_partkey,
           contains(lower(p_type), 'econ') AS has_econ_ci,
           lower(p_type) = 'economy' AS is_economy_ci,
           lower(p_brand) < 'brand#30' AS brand_lt_ci,
           starts_with(lower(p_name), 'small') AS small_name_ci
    FROM part
    """,
    description=(
        "String collations (Spark 4): UTF8_LCASE comparisons/contains/"
        "startswith evaluated through COLLATED expressions — the oracle "
        "computes the same truths via lower() since DuckDB's collation "
        "surface differs (fixture has real case diversity: types upper, "
        "names lower, brands mixed)"
    ),
)
def scalar_collation_gallery(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "contains(p_type COLLATE UTF8_LCASE, 'ECON') AS has_econ_ci",
        "(p_type COLLATE UTF8_LCASE) = 'Economy' AS is_economy_ci",
        "(p_brand COLLATE UTF8_LCASE) < 'BRAND#30' AS brand_lt_ci",
        "startswith(p_name COLLATE UTF8_LCASE, 'SMALL') AS small_name_ci",
    )


@query(
    "scalar_map_gallery",
    oracle="""
    SELECT
        p_partkey,
        'brand type' AS keys_sorted,
        p_brand AS brand_val,
        CASE WHEN lower(p_brand) < lower(p_type)
             THEN lower(p_brand) || '|' || lower(p_type)
             ELSE lower(p_type) || '|' || lower(p_brand) END AS lower_vals,
        p_brand AS brand_only,
        CAST(3 AS INT) AS n_after_concat,
        'brand=' || p_brand || ',type=' || p_type AS entries,
        '2' AS parsed_b
    FROM part
    """,
    description=(
        "Map scalar family: map_keys/map_values/element_at/"
        "transform_values/map_filter/map_concat/map_entries/str_to_map — "
        "the Spark side computes through real MapType expressions; the "
        "oracle derives the same scalars directly (DuckDB MAP extraction "
        "semantics differ, values don't)"
    ),
)
def scalar_map_gallery(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    lowered = F.transform_values(m, lambda k, v: F.lower(v))
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(F.map_keys(m)), " ").alias("keys_sorted"),
        F.element_at(m, F.lit("brand")).alias("brand_val"),
        F.array_join(F.array_sort(F.map_values(lowered)), "|").alias("lower_vals"),
        F.array_join(
            F.map_values(F.map_filter(m, lambda k, v: k == F.lit("brand"))), ","
        ).alias("brand_only"),
        F.size(
            F.map_concat(m, F.create_map(F.lit("sz"), F.col("p_size").cast("string")))
        ).alias("n_after_concat"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries(m)),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            ",",
        ).alias("entries"),
        F.element_at(F.str_to_map(F.lit("a:1,b:2"), F.lit(","), F.lit(":")), F.lit("b")).alias("parsed_b"),
    )


@query(
    "scalar_date_gallery",
    oracle="""
    SELECT
        o_orderkey,
        CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
        CAST(extract(month FROM o_orderdate) AS BIGINT) AS mo,
        CAST(extract(day FROM o_orderdate) AS BIGINT) AS dy,
        CAST(extract(dow FROM o_orderdate) + 1 AS BIGINT) AS dow_sun1,
        date_trunc('month', o_orderdate) AS month_start,
        CAST(o_orderdate AS DATE) AS od,
        last_day(CAST(o_orderdate AS DATE)) AS month_end,
        o_orderdate + INTERVAL 30 DAY AS plus_30d,
        CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
    FROM orders
    """,
    description="Date/time scalar family: extract, trunc, last_day, interval arithmetic, datediff",
)
def scalar_date_gallery(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        big(F.year("o_orderdate")).alias("yr"),
        big(F.month("o_orderdate")).alias("mo"),
        big(F.dayofmonth("o_orderdate")).alias("dy"),
        big(F.dayofweek("o_orderdate")).alias("dow_sun1"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("plus_30d"),
        big(
            F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        ).alias("days_to_y2k"),
    )


@query(
    "scalar_try_gallery",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(p_name AS INTEGER) AS name_as_int,
           TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS size_roundtrip,
           p_retailprice / nullif(p_size % 7, 0) AS price_per_band,
           TRY_CAST(substr(p_brand, 7) AS BIGINT) AS brand_num
    FROM part
    """,
    description=(
        "try_* / NULL-on-failure scalar family (the ANSI-mode-safe path: "
        "the engine pins ANSI off for PG-compat casts, try_cast/"
        "try_divide are how ANSI-on pipelines get the same NULLing "
        "semantics; DuckDB spells try_divide as /nullif)"
    ),
)
def scalar_try_gallery(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "try_cast(p_name AS INT) AS name_as_int",
        "try_cast(CAST(p_size AS STRING) AS INT) AS size_roundtrip",
        "try_divide(p_retailprice, nullif(p_size % 7, 0)) AS price_per_band",
        "try_cast(substr(p_brand, 7) AS BIGINT) AS brand_num",
    )


_SUBQUERY_GALLERY_SQL = """
SELECT c.c_custkey,
       c.c_acctbal,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@query(
    "subquery_exists_gallery",
    oracle=_SUBQUERY_GALLERY_SQL,
    description=(
        "Correlated subquery gallery: EXISTS (semi join), NOT EXISTS "
        "(anti join), and a correlated scalar COUNT — Catalyst decorrelates "
        "all three into joins, completing the §2.8 subquery surface"
    ),
)
def subquery_exists_gallery(spark, sf_dir):
    # SQL-text form on purpose: the point of this entry is Spark's
    # DECORRELATION — EXISTS/NOT EXISTS become semi/anti joins, the
    # correlated scalar count becomes an aggregate + left join — which the
    # DataFrame API can only spell post-decorrelated.
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUBQUERY_GALLERY_SQL)
