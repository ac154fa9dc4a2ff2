"""Data-layout optimization: multi-dimensional (Z-order) clustering and
footer-driven file skipping — the layout half of table maintenance
("OPTIMIZE ... ZORDER BY" in lakehouse engines) that keeps 100 TB of
parquet scannable.

Why it matters at scale: parquet data skipping works off per-file column
min/max. A table range-partitioned on ONE column skips perfectly on that
column and not at all on any other. Interleaving the bits of two columns'
rank codes into one Morton key and range-partitioning on THAT gives every
file a small bounding box in ALL interleaved dimensions, so selective
filters on any of them prune files. The key is pure per-row integer
bit-math (shift/mask/or — whole-stage codegen), and the layout write is
one range repartition: the same shuffle a single-column sort would cost.

Small-file compaction is not here: it lives on the versioned table
(:func:`sources.versioned.compact`), whose atomic manifest commit is what
makes a rewrite safe under concurrent readers.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def rank_code(col: Column, vmin: Column, vmax: Column, bits: int = 16) -> Column:
    """Scale a numeric column onto the ``[0, 2^bits)`` integer grid via
    min/max linear ranking: ``floor((v - vmin) / (vmax - vmin) * (2^bits - 1))``,
    clamped. Explicit ``floor`` (never a bare double→int cast — engines
    disagree on rounding) and plain IEEE arithmetic, so the code is
    deterministic and cross-engine reproducible."""
    top = F.lit((1 << bits) - 1)
    scaled = F.floor(
        (col.cast("double") - vmin) / (vmax - vmin) * top.cast("double")
    )
    return F.least(F.greatest(scaled, F.lit(0)), top.cast("long"))


def interleave_bits(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton/Z-order key of two ``bits``-wide integer codes: bit i of ``a``
    lands at position 2i, bit i of ``b`` at 2i+1. Unrolled shift/mask/or —
    a single codegen'd integer expression, no UDF, no loop at runtime."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def interleave_sql(a: str, b: str, bits: int = 16) -> str:
    """The DuckDB/ANSI spelling of :func:`interleave_bits` (unrolled), for
    oracle SQL generation."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_key(
    df: DataFrame, col_a: str, col_b: str, bits: int = 16, key_name: str = "zkey"
) -> DataFrame:
    """Add a Z-order key over two numeric columns. One min/max aggregation
    (a 1-row broadcast frame — metadata, not data) then pure per-row
    integer math."""
    stats = df.agg(
        F.min(col_a).cast("double").alias("__amin"),
        F.max(col_a).cast("double").alias("__amax"),
        F.min(col_b).cast("double").alias("__bmin"),
        F.max(col_b).cast("double").alias("__bmax"),
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    ra = rank_code(F.col(col_a), F.col("__amin"), F.col("__amax"), bits)
    rb = rank_code(F.col(col_b), F.col("__bmin"), F.col("__bmax"), bits)
    return with_stats.withColumn(key_name, interleave_bits(ra, rb, bits)).drop(
        "__amin", "__amax", "__bmin", "__bmax"
    )


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    num_files: int = 32,
    bits: int = 16,
) -> DataFrame:
    """Range-partition on the Z-key and sort within partitions — the write
    layout: each output file covers a contiguous Z-range, i.e. a small
    bounding box in BOTH dimensions, which is what parquet min/max skipping
    prunes on. ``df.write`` after this produces the clustered table."""
    keyed = zorder_key(df, col_a, col_b, bits)
    return keyed.repartitionByRange(num_files, "zkey").sortWithinPartitions("zkey")


def skipping_stats(
    df: DataFrame, col_a: str, col_b: str, bucket_col: str
) -> DataFrame:
    """Per-bucket bounding boxes + normalized box area — the data-skipping
    quality metric: the smaller the mean area, the more files a 2-D
    selective filter prunes. Used by tests to prove Z-order beats a
    single-column layout on the off-axis dimension."""
    spans = df.groupBy(bucket_col).agg(
        F.min(col_a).cast("double").alias("a_lo"),
        F.max(col_a).cast("double").alias("a_hi"),
        F.min(col_b).cast("double").alias("b_lo"),
        F.max(col_b).cast("double").alias("b_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ga = df.agg(
        (F.max(col_a).cast("double") - F.min(col_a).cast("double")).alias("a_span"),
        (F.max(col_b).cast("double") - F.min(col_b).cast("double")).alias("b_span"),
    )
    a_frac = (F.col("a_hi") - F.col("a_lo")) / F.col("a_span")
    b_frac = (F.col("b_hi") - F.col("b_lo")) / F.col("b_span")
    return spans.crossJoin(F.broadcast(ga)).select(
        bucket_col,
        "n_rows",
        a_frac.alias("a_frac"),
        b_frac.alias("b_frac"),
        (a_frac * b_frac).alias("box_area"),
    )


def stats_index(path: str, columns: list[str]) -> list[dict]:
    """File-level min/max index from parquet FOOTERS (no data pages read):
    one entry per file with per-column bounds and row count — the same
    statistics a lakehouse keeps in its manifest/metadata layer. Driver
    cost is one footer read per file; at real scale this index is itself a
    table maintained at commit time, but its CONTENT is exactly this."""
    import pyarrow.parquet as pq

    entries = []
    for f in sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    ):
        md = pq.read_metadata(f)
        schema = md.schema.to_arrow_schema()
        entry = {"file": f, "n_rows": md.num_rows}
        for c in columns:
            idx = schema.get_field_index(c)
            stats = [
                md.row_group(g).column(idx).statistics
                for g in range(md.num_row_groups)
            ]
            # an all-null column chunk (or stats-disabled writer) has no
            # statistics object: record open bounds — pruned_read keeps
            # such files conservatively instead of crashing
            if not stats or any(s is None or not s.has_min_max for s in stats):
                entry[f"{c}_min"] = None
                entry[f"{c}_max"] = None
            else:
                entry[f"{c}_min"] = min(s.min for s in stats)
                entry[f"{c}_max"] = max(s.max for s in stats)
        entries.append(entry)
    return entries


def pruned_read(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
) -> tuple[DataFrame, dict]:
    """Range-filtered read that PRUNES non-overlapping files before the
    scan ever starts: resolve the footer index, keep only files whose
    ``[min, max]`` intersects ``[lo, hi]``, scan exactly those, and apply
    the row-level filter on top (file bounds admit false positives, never
    false negatives). Returns ``(df, {files_read, files_total})``.

    This is what a Z-ordered layout buys at 100 TB: the same filter that
    reads every file of a mono-sorted table reads a handful here — the
    skipping the engine's own parquet reader does per row group, lifted to
    whole files so task SCHEDULING is saved too, not just IO."""
    idx = stats_index(path, [column])
    keep = [
        e["file"]
        for e in idx
        if e[f"{column}_min"] is None  # no bounds recorded: must read
        or (e[f"{column}_max"] >= lo and e[f"{column}_min"] <= hi)
    ]
    stats = {"files_read": len(keep), "files_total": len(idx)}
    if not keep:
        empty = spark.read.parquet(path).where(F.lit(False))
        return empty, stats
    df = spark.read.parquet(*keep).where(
        (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    )
    return df, stats
