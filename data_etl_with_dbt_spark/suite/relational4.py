"""Reshaping + range-join + exact-quantile surface.

* unpivot (wide->long melt) — `DataFrame.unpivot` compiles to a Spark
  Expand node (each input row fans out to one row per measure, no shuffle);
  the oracle spells it as UNION ALL, which is what Expand computes.
* banded range join — equi key (user_id) + time-band predicate. The equi
  key keeps the join a hash/sort-merge join with the band as a post-filter
  residual: at 100 TB this shuffles only on user_id and never goes
  quadratic. A pure inequality join (no equi key) would be a broadcast
  nested loop — deliberately avoided.
* exact percentiles — Spark `percentile` and DuckDB `quantile_cont` both
  use linear interpolation at rank p*(n-1); the interpolation arithmetic
  is quantized on the DECIMAL(38,6) grid to absorb sub-1e-9 engine noise
  (registry rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from data_etl_with_dbt_spark.materialize import materialize

from data_etl_with_dbt_spark.suite.registry import big, dec6, dsum, load, query

# ---------------------------------------------------------------------------
# Unpivot / melt.
# ---------------------------------------------------------------------------

@query(
    "unpivot_lineitem_measures",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM long
    GROUP BY l_returnflag, measure
    """,
    description="Wide-to-long unpivot (Expand node, shuffle-free fan-out) then grouped totals per measure",
)
def unpivot_lineitem_measures(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "l_quantity", "quantity")
        .when(F.col("measure") == "l_extendedprice", "extendedprice")
        .when(F.col("measure") == "l_discount", "discount")
        .otherwise("tax"),
    )
    return long.groupBy("l_returnflag", "measure").agg(
        dsum(F.col("value")).alias("total"),
        big(F.count(F.lit(1))).alias("n"),
    )


# ---------------------------------------------------------------------------
# Banded range join: clicks within 5 minutes before each error, per user.
# ---------------------------------------------------------------------------

@query(
    "range_join_clicks_before_error",
    oracle="""
    SELECT
        e.event_id AS error_id,
        CAST(count(c.event_id) AS BIGINT) AS n_clicks,
        CAST(coalesce(SUM(CAST(c.value AS DECIMAL(18,6))), 0) AS DOUBLE) AS click_value
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id
     AND c.event_type = 'click'
     AND c.ts >= e.ts - INTERVAL 5 MINUTE
     AND c.ts < e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    description="Banded range join: equi key (user_id) + 5-minute band as residual — never a nested loop",
)
def range_join_clicks_before_error(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    band = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTE"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    return (
        errors.join(clicks, band, "left")
        .groupBy("error_id")
        .agg(
            big(F.count("click_id")).alias("n_clicks"),
            F.coalesce(dsum(F.col("c_value")), F.lit(0.0)).alias("click_value"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles (interpolating), grouped.
# ---------------------------------------------------------------------------

@query(
    "agg_exact_percentiles",
    oracle="""
    SELECT
        l_returnflag,
        CAST(CAST(quantile_cont(l_extendedprice, 0.25) AS DECIMAL(38,6)) AS DOUBLE) AS p25,
        CAST(CAST(quantile_cont(l_extendedprice, 0.50) AS DECIMAL(38,6)) AS DOUBLE) AS p50,
        CAST(CAST(quantile_cont(l_extendedprice, 0.90) AS DECIMAL(38,6)) AS DOUBLE) AS p90,
        CAST(CAST(quantile_disc(l_extendedprice, 0.50) AS DECIMAL(38,6)) AS DOUBLE) AS p50_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Exact interpolating + discrete percentiles per group (sort-based agg; approx sketch is the 100 TB path)",
)
def agg_exact_percentiles(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    # One array-argument percentile = ONE per-group value accumulation for
    # all three interpolating quantiles (three scalar calls would each build
    # their own counts map over the same 600k values — measured ~2x slower).
    # percentile_disc is a distinct aggregate function, so it accumulates
    # separately either way.
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.50D, 0.90D))"
            ).alias("__ps"),
            F.expr(
                "percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("__p50d"),
        )
        .select(
            "l_returnflag",
            dec6(F.col("__ps")[0]).alias("p25"),
            dec6(F.col("__ps")[1]).alias("p50"),
            dec6(F.col("__ps")[2]).alias("p90"),
            dec6(F.col("__p50d")).alias("p50_disc"),
        )
    )


# ---------------------------------------------------------------------------
# CDC application: a deterministic change batch (deletes for odd keys < 100,
# zero-price updates for even keys < 100) applied to the orders snapshot.
# ---------------------------------------------------------------------------

@query(
    "cdc_apply_orders",
    oracle="""
    WITH ou AS (SELECT DISTINCT * FROM orders),
    latest AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 1 THEN 'delete' ELSE 'update' END AS op,
               o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice ELSE 0.0 END
                   AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM ou WHERE o_orderkey < 100
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM ou WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM latest WHERE op <> 'delete'
    """,
    description=(
        "CDC batch application to the orders snapshot (latest-op-per-key, "
        "delete/update net effect; one anti-join + union, snapshot touched "
        "once)"
    ),
)
def cdc_apply_orders(spark, sf_dir):
    from data_etl_with_dbt_spark.operators.relational import apply_cdc

    # apply_cdc's snapshot contract is one row per key: pre-dedup so a
    # duplicated fixture degrades to the contract instead of diverging
    orders = load(spark, sf_dir, "orders").distinct()
    sub = orders.where(F.col("o_orderkey") < 100)
    changes = (
        sub.withColumn("seq", F.lit(1))
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 2 == 1, "delete").otherwise("update"),
        )
        .withColumn(
            "o_totalprice",
            F.when(F.col("op") == "update", F.lit(0.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    return apply_cdc(orders, changes, key="o_orderkey", seq_col="seq")


# ---------------------------------------------------------------------------
# Correlated LATERAL join (top-N-per-group as the SQL standard spells it).
# Catalyst decorrelates the per-customer ORDER BY ... LIMIT 2 subquery into
# WindowGroupLimit (partial before the exchange, final after) + one
# broadcast join — no nested loop, no per-row subquery execution; the plan
# is asserted in tests/test_plan_shapes.py. DuckDB spells the same join
# with the comma-LATERAL form.
# ---------------------------------------------------------------------------

@query(
    "lateral_top_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    """,
    description=(
        "Correlated LATERAL subquery join: each customer's top-2 orders by "
        "price (total order), decorrelated by Catalyst to WindowGroupLimit "
        "+ broadcast join"
    ),
)
def lateral_top_orders(spark, sf_dir):
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        """
    )


# ---------------------------------------------------------------------------
# URL scalar gallery: synthesize a well-formed URL per document, then take it
# apart with Spark's parse_url (a JVM codegen expression, the Spark-first
# spelling) — scheme, host, path, a named query parameter, the registrable
# domain label, and the numeric last path segment. The DuckDB oracle parses
# the same URLs with anchored regexes; on well-formed input the two
# decompositions agree byte-for-byte, which is the point of the gallery:
# URL normalization for crawl-corpus dedup/quota keys is pure per-row
# string work — scan-parallel, shuffle-free at any scale.
# ---------------------------------------------------------------------------

@query(
    "scalar_url_gallery",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
                   || '?lang=' || lang || '&ref=corpus' AS url
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           url,
           regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS q_lang,
           split_part(regexp_extract(url, '^[a-z]+://([^/]+)', 1), '.', 1) AS domain_label,
           CAST(split_part(regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1), '/', 3) AS BIGINT) AS path_id
    FROM u
    ORDER BY doc_id
    """,
    description=(
        "URL scalar gallery: build per-doc URLs, decompose with parse_url "
        "(scheme/host/path/query-param) + domain label + numeric path id — "
        "the normalization toolkit for crawl-corpus URL keys"
    ),
)
def scalar_url_gallery(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    u = docs.select(
        big(F.col("doc_id")).alias("doc_id"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
            F.lit("&ref=corpus"),
        ).alias("url"),
    )
    host = F.expr("parse_url(url, 'HOST')")
    path = F.expr("parse_url(url, 'PATH')")
    return u.select(
        "doc_id",
        "url",
        F.expr("parse_url(url, 'PROTOCOL')").alias("scheme"),
        host.alias("host"),
        path.alias("path"),
        F.expr("parse_url(url, 'QUERY', 'lang')").alias("q_lang"),
        F.substring_index(host, ".", 1).alias("domain_label"),
        F.substring_index(path, "/", -1).cast("bigint").alias("path_id"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — the multi-dimensional data-layout
# operator behind lakehouse OPTIMIZE ... ZORDER BY. Rank both columns onto
# a 16-bit grid, interleave the bits into one key, and range-partitioning
# on that key gives every output file a small bounding box in BOTH
# dimensions, so parquet min/max skipping prunes files for selective
# filters on either column (operators/layout.py has the layout writer +
# skipping-quality metric; tests prove the off-axis pruning win). The key
# itself is pure per-row integer bit math — unrolled shift/mask/add, fully
# inside whole-stage codegen, oracle-checked bit-for-bit here.
# ---------------------------------------------------------------------------

def _zorder_oracle() -> str:
    from data_etl_with_dbt_spark.operators.layout import interleave_sql

    return f"""
    WITH stats AS (
        SELECT CAST(min(user_id) AS DOUBLE) AS amin, CAST(max(user_id) AS DOUBLE) AS amax,
               CAST(min(value) AS DOUBLE) AS bmin, CAST(max(value) AS DOUBLE) AS bmax
        FROM events
    ),
    r AS (
        SELECT event_id,
               least(greatest(CAST(floor((CAST(user_id AS DOUBLE) - amin) / (amax - amin) * 65535.0) AS BIGINT), 0), 65535) AS ra,
               least(greatest(CAST(floor((CAST(value AS DOUBLE) - bmin) / (bmax - bmin) * 65535.0) AS BIGINT), 0), 65535) AS rb
        FROM events CROSS JOIN stats
    ),
    z AS (SELECT event_id, {interleave_sql('ra', 'rb', 16)} AS zkey FROM r)
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(zkey AS BIGINT) AS zkey,
           CAST(zkey // 67108864 AS BIGINT) AS zbucket
    FROM z
    """


@query(
    "zorder_cluster_events",
    oracle=_zorder_oracle(),
    description=(
        "Z-order (Morton) clustering key over (user_id, value): 16-bit rank "
        "codes bit-interleaved into the layout key lakehouse OPTIMIZE "
        "ZORDER uses, plus the 64-way file bucket assignment"
    ),
)
def zorder_cluster_events(spark, sf_dir):
    from data_etl_with_dbt_spark.operators.layout import zorder_key

    ev = load(spark, sf_dir, "events")
    keyed = zorder_key(ev, "user_id", "value", bits=16)
    return keyed.select(
        big(F.col("event_id")).alias("event_id"),
        big(F.col("zkey")).alias("zkey"),
        big(F.expr("zkey DIV 67108864")).alias("zbucket"),
    )


# ---------------------------------------------------------------------------
# Conditional / NULL-semantics gallery: coalesce, nullif, nvl2-shaped CASE,
# null-skipping greatest/least (both engines skip NULLs), and SQL
# three-valued logic (NULL OR TRUE = TRUE, NULL AND FALSE = FALSE, NULL
# comparisons stay NULL) — the branch-free conditional toolkit, all
# whole-stage-codegen per-row expressions.
# ---------------------------------------------------------------------------

@query(
    "scalar_conditional_gallery",
    oracle="""
    SELECT event_id,
           coalesce(nullif(event_type, 'view'), 'was_view') AS c_coalesce,
           CAST(nullif(user_id % 10, 0) AS BIGINT) AS c_nullif,
           CASE WHEN nullif(user_id % 10, 0) IS NOT NULL THEN 'present' ELSE 'absent' END AS c_nvl2,
           greatest(value, 50.0) AS c_greatest,
           least(value, 50.0) AS c_least,
           (nullif(value, value) > 0.0 OR value > 50.0) AS c_3vl_or,
           (nullif(value, value) > 0.0 AND value > 50.0) AS c_3vl_and,
           CASE WHEN value > 50.0 THEN 'hi' ELSE 'lo' END AS c_if,
           CASE WHEN user_id % 7 = 0 THEN NULL ELSE event_type END AS c_masked
    FROM events
    ORDER BY event_id
    """,
    description=(
        "Conditional/NULL gallery: coalesce, nullif, nvl2 shape, "
        "null-skipping greatest/least, three-valued AND/OR — branch-free "
        "conditionals, codegen end to end"
    ),
)
def scalar_conditional_gallery(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    masked_id = F.nullif(F.col("user_id") % 10, F.lit(0))
    null_probe = F.nullif(F.col("value"), F.col("value")) > F.lit(0.0)
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("view")), F.lit("was_view")).alias(
            "c_coalesce"
        ),
        big(masked_id).alias("c_nullif"),
        F.when(masked_id.isNotNull(), "present").otherwise("absent").alias("c_nvl2"),
        F.greatest(F.col("value"), F.lit(50.0)).alias("c_greatest"),
        F.least(F.col("value"), F.lit(50.0)).alias("c_least"),
        (null_probe | (F.col("value") > 50.0)).alias("c_3vl_or"),
        (null_probe & (F.col("value") > 50.0)).alias("c_3vl_and"),
        F.when(F.col("value") > 50.0, "hi").otherwise("lo").alias("c_if"),
        F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("c_masked"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Boolean aggregate family: count_if / bool_and / bool_or (SQL:2023's
# standardized ANY/EVERY) per group — predicate rollups without CASE
# scaffolding, all map-side combined.
# ---------------------------------------------------------------------------

@query(
    "agg_boolean",
    oracle="""
    SELECT event_type,
           CAST(count_if(value > 50.0) AS BIGINT) AS n_high,
           bool_and(value > 0.0) AS all_positive,
           bool_or(value > 95.0) AS any_extreme,
           bool_and(user_id IS NOT NULL) AS all_attributed
    FROM events
    GROUP BY event_type
    """,
    description=(
        "Boolean aggregates per event type: count_if / bool_and / bool_or "
        "(ANY/EVERY) — predicate rollups without CASE scaffolding"
    ),
)
def agg_boolean(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        big(F.count_if(F.col("value") > 50.0)).alias("n_high"),
        F.bool_and(F.col("value") > 0.0).alias("all_positive"),
        F.bool_or(F.col("value") > 95.0).alias("any_extreme"),
        F.bool_and(F.col("user_id").isNotNull()).alias("all_attributed"),
    )


# ---------------------------------------------------------------------------
# Sampled quantiles: the mergeable estimation path NEXT TO the exact sort
# above. percentile_approx's sketch is engine-private (rows-only at best);
# a deterministic md5-rate sample is reproducible in BOTH engines, so the
# estimates themselves hash-match. threshold = int(0.2 * 2^60) — computed
# once in Python and hardcoded in the oracle so the double rounding of
# 0.2 * 2^60 can't diverge from SQL-side arithmetic.
# ---------------------------------------------------------------------------

@query(
    "sampled_quantiles_orders",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority, o_totalprice,
               CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
                         AS BIGINT) < 230584300921369408
                    THEN o_totalprice END AS sv
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(sv) AS BIGINT) AS sample_n,
           CAST(CAST(quantile_disc(o_totalprice, 0.50) AS DECIMAL(38,6)) AS DOUBLE) AS p50,
           CAST(CAST(quantile_disc(sv, 0.50) AS DECIMAL(38,6)) AS DOUBLE) AS p50_sampled,
           CAST(CAST(quantile_disc(o_totalprice, 0.90) AS DECIMAL(38,6)) AS DOUBLE) AS p90,
           CAST(CAST(quantile_disc(sv, 0.90) AS DECIMAL(38,6)) AS DOUBLE) AS p90_sampled
    FROM m
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description=(
        "Per-priority discrete quantiles from a deterministic 20% md5 "
        "sample beside the exact values — the mergeable hash-sample "
        "quantile sketch (operators/sketch.sampled_quantiles), "
        "oracle-exact because the sample membership and percentile_disc "
        "picks are both deterministic"
    ),
)
def sampled_quantiles_orders(spark, sf_dir):
    from data_etl_with_dbt_spark.operators.sketch import sampled_quantiles

    o = load(spark, sf_dir, "orders")
    return sampled_quantiles(
        o,
        key_col="o_orderkey",
        value_col="o_totalprice",
        probs=[0.5, 0.9],
        rate=0.2,
        group_cols=["o_orderpriority"],
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# CDC over the wire format: Debezium envelopes constructed from orders
# (deterministic change slices), parsed back with an explicit schema, and
# applied through apply_cdc. The oracle computes the NET state directly —
# the envelope/parse round trip is the Spark side's work; the hash match
# proves the parsed ops reproduce it exactly.
# ---------------------------------------------------------------------------

@query(
    "cdc_debezium_apply_orders",
    oracle="""
    WITH a AS (
        SELECT DISTINCT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
        FROM orders
    ),
    kept AS (
        SELECT k,
               CASE WHEN k % 97 = 0 THEN CAST(0 AS DOUBLE) ELSE p END AS p,
               s
        FROM a WHERE k % 89 <> 0
    ),
    ins AS (SELECT k + 10000000 AS k, p, s FROM a WHERE k % 83 = 0)
    SELECT k AS o_orderkey, p AS o_totalprice, s AS o_orderstatus
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins) t
    ORDER BY o_orderkey
    """,
    description=(
        "Debezium CDC end to end: envelopes (c/u/d with before/after "
        "payloads) built from deterministic order slices, parsed via "
        "explicit-schema from_json, applied with apply_cdc — the oracle "
        "recomputes the net state directly, so the hash match proves the "
        "wire-format round trip"
    ),
)
def cdc_debezium_apply_orders(spark, sf_dir):
    from data_etl_with_dbt_spark.operators.relational import (
        apply_cdc,
        parse_debezium,
    )

    k = F.col("o_orderkey")
    # pre-dedup the projected snapshot (apply_cdc key contract, dup2-safe);
    # checkpointed ONCE for its five consumers (updates/deletes/inserts
    # envelopes + apply_cdc's snapshot side) — no cross-consumer CSE (r11)
    snap = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .distinct()
        .transform(materialize)
    )
    row_struct = F.struct("o_orderkey", "o_totalprice", "o_orderstatus")
    null_row = F.lit(None).cast(
        "struct<o_orderkey: bigint, o_totalprice: double, o_orderstatus: string>"
    )

    def env(before, after, op):
        return F.to_json(
            F.struct(
                F.struct(
                    before.alias("before"),
                    after.alias("after"),
                    F.lit(op).alias("op"),
                    F.lit(1000).cast("bigint").alias("ts_ms"),
                ).alias("payload")
            )
        )

    updates = snap.where((k % 97 == 0) & (k % 89 != 0)).select(
        env(
            row_struct,
            F.struct(
                k.alias("o_orderkey"),
                F.lit(0.0).alias("o_totalprice"),
                F.col("o_orderstatus"),
            ),
            "u",
        ).alias("value")
    )
    deletes = snap.where(k % 89 == 0).select(
        env(row_struct, null_row, "d").alias("value")
    )
    inserts = snap.where(k % 83 == 0).select(
        env(
            null_row,
            F.struct(
                (k + 10000000).alias("o_orderkey"),
                F.col("o_totalprice"),
                F.col("o_orderstatus"),
            ),
            "c",
        ).alias("value")
    )
    envelopes = updates.unionByName(deletes).unionByName(inserts)
    parsed = parse_debezium(
        envelopes,
        "value",
        "o_orderkey: bigint, o_totalprice: double, o_orderstatus: string",
    )
    return apply_cdc(snap, parsed, "o_orderkey", "seq").orderBy("o_orderkey")


@query(
    "cdc_strict_seq_replication",
    oracle="""
    WITH base AS (
        SELECT DISTINCT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
        FROM orders
    ),
    ins AS (SELECT * FROM base WHERE k % 7 < 3),
    upd AS (
        SELECT k,
               CASE WHEN k % 7 = 0 THEN CAST(0 AS DOUBLE) ELSE p END AS p,
               s
        FROM ins
    )
    SELECT k AS o_orderkey, CAST(p AS DOUBLE) AS o_totalprice,
           s AS o_orderstatus
    FROM upd WHERE k % 5 <> 0
    ORDER BY o_orderkey
    """,
    description=(
        "Streaming CDC replication under the strict LSN contract "
        "(streaming/intake.cdc_replication_sink, strict_seq=True), driven "
        "batch-equivalently: three Debezium envelope micro-batches "
        "(inserts, updates, deletes — per-record strictly-increasing "
        "ts_ms) replicate into a snapshot, with an at-least-once REPLAY "
        "of the first batch injected mid-stream that the sequence "
        "watermark must drop as a no-op; the oracle recomputes the net "
        "state directly, so the hash match proves parse + apply + "
        "replay-guard end to end"
    ),
)
def cdc_strict_seq_replication(spark, sf_dir):
    """foreachBatch sinks are plain (DataFrame, batch_id) callables — the
    batch-equivalence property the streaming tests pin means driving one
    with static frames exercises the exact code path a readStream feeds
    (the driver protocol can't run a continuous query)."""
    import tempfile

    from data_etl_with_dbt_spark.sources import versioned as V
    from data_etl_with_dbt_spark.streaming.intake import cdc_replication_sink

    k = F.col("o_orderkey")
    # ONE orders scan + distinct shared by the four sink() invocations
    # (inserts twice — original + replay — updates, deletes): each sink
    # call is its own batch job, so without the checkpoint every batch
    # re-ran the scan AND the distinct exchange (r11; no cross-job reuse
    # of an unmaterialized plan)
    base = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .distinct()
        .transform(materialize)
    )
    row_struct = F.struct("o_orderkey", "o_totalprice", "o_orderstatus")
    null_row = F.lit(None).cast(
        "struct<o_orderkey: bigint, o_totalprice: double, o_orderstatus: string>"
    )

    def env(before, after, op, seq):
        return F.to_json(
            F.struct(
                F.struct(
                    before.alias("before"),
                    after.alias("after"),
                    F.lit(op).alias("op"),
                    seq.cast("bigint").alias("ts_ms"),
                ).alias("payload")
            )
        ).alias("value")

    # per-record strictly-increasing sequences: batch1 = k, batch2 = 1e7+k,
    # batch3 = 2e7+k (orderkeys stay far below 1e7 at these scale factors)
    inserts = base.where(k % 7 < 3).select(env(null_row, row_struct, "c", k))
    updates = base.where(k % 7 == 0).select(
        env(
            row_struct,
            F.struct(
                k.alias("o_orderkey"),
                F.lit(0.0).alias("o_totalprice"),
                F.col("o_orderstatus"),
            ),
            "u",
            k + 10_000_000,
        )
    )
    deletes = base.where((k % 7 < 3) & (k % 5 == 0)).select(
        env(row_struct, null_row, "d", k + 20_000_000)
    )

    snap = tempfile.mkdtemp(prefix="cdc_strict_seq_") + "/snapshot"
    sink = cdc_replication_sink(
        snap,
        "o_orderkey: bigint, o_totalprice: double, o_orderstatus: string",
        "o_orderkey",
        strict_seq=True,
    )
    sink(inserts, 0)
    sink(updates, 1)
    sink(inserts, 0)  # at-least-once replay of an applied batch: must no-op
    sink(deletes, 2)
    return V.read_version(spark, snap).orderBy("o_orderkey")
