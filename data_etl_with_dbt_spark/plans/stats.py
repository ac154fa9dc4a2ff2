"""Catalog statistics + cost-based-optimizer surface: ANALYZE TABLE,
stats introspection, and the optimized plan's root statistics.

Why it matters at 100 TB: without table/column stats Catalyst estimates
join sizes from file bytes alone — good enough for scan-side broadcast
decisions, blind for join-output cardinality (a filtered dimension that
WOULD fit broadcast after its predicate is costed at full size). ANALYZE
feeds the CBO (``spark.sql.cbo.enabled``) real rowCounts, distinct counts,
and null counts, which drive join reordering (``spark.sql.cbo.joinReorder
.enabled``) and better broadcast decisions. The planner knobs stay off by
default in Spark; ``enable_cbo`` flips the set this module is built for.

Stats are a catalog-table feature: ``spark.read.parquet(path)`` plans never
see them — which is itself the operational lesson (register the table).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.statistics.histogram.enabled": "true",
}


def enable_cbo(spark: SparkSession) -> None:
    """Turn on the cost-based optimizer set (idempotent). Run ANALYZE on
    the participating tables first or the CBO has nothing to cost with."""
    for k, v in _CBO_CONFS.items():
        spark.conf.set(k, v)


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> None:
    """``ANALYZE TABLE`` — table-level (rowCount + sizeInBytes) and, when
    ``columns`` is given, per-column NDV/null/min/max (+ equi-height
    histograms when enabled). One scan per invocation; at 100 TB schedule
    it with the table's compaction window, not per query."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def table_stats(spark: SparkSession, table: str) -> dict:
    """Catalog statistics for a table: {'size_bytes': int, 'row_count':
    int | None}. Values come from DESCRIBE EXTENDED's Statistics line
    (``X bytes, Y rows``)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    for r in rows:
        if r.col_name == "Statistics":
            m = re.match(r"(\d+) bytes(?:, (\d+) rows)?", r.data_type or "")
            if m:
                return {
                    "size_bytes": int(m.group(1)),
                    "row_count": int(m.group(2)) if m.group(2) else None,
                }
    return {"size_bytes": None, "row_count": None}


def column_stats(spark: SparkSession, table: str, column: str) -> dict:
    """Per-column catalog stats (after ``analyze_table(..., columns=...)``):
    distinct_count / null_count / min / max as strings, None where the
    catalog has nothing."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table} {column}").collect()
    info = {r.info_name: r.info_value for r in rows}
    pick = lambda k: (None if info.get(k) in (None, "NULL") else info.get(k))
    return {
        "distinct_count": pick("distinct_count"),
        "null_count": pick("num_nulls"),
        "min": pick("min"),
        "max": pick("max"),
    }


def cost_of(df: DataFrame) -> dict:
    """The optimized plan's root statistics: {'size_bytes': int | None,
    'row_count': int | None} — the numbers ``EXPLAIN COST`` prints at the
    root. ``size_bytes`` is the engine's one size estimate
    (``materialize._estimated_bytes``; None = unknown). Row counts appear
    only when the plan's leaves carry ANALYZE stats (or the plan is a
    LocalRelation) — a None row_count on a catalog table is the signal
    that ANALYZE hasn't run."""
    from data_etl_with_dbt_spark.materialize import _estimated_bytes

    # Catalyst caches stats on the plan node: this is the same Statistics
    # object the estimate reads
    try:
        rows = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        row_count = int(str(rows.get())) if rows.isDefined() else None
    except Exception:
        row_count = None
    return {"size_bytes": _estimated_bytes(df), "row_count": row_count}
