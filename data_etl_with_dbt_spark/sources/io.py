"""Readers and writers (SURVEY.md §2.1 S1-S9).

The reference reads CSV with pandas (``ETL/ETL.py:25``) and round-trips
everything else through Postgres over JDBC. Spark-first: CSV/Parquet scans are
distributed and partitioned by file splits; JDBC stays available for real
warehouses but the engine's native storage is Parquet (columnar, vectorized
reader, predicate pushdown — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def driver_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame from a small driver-local row list, in ONE partition.

    ``spark.createDataFrame(list)`` parallelizes the list into
    ``defaultParallelism`` slices, and each slice costs one Python-worker
    round trip to evaluate. A single-task consumer — e.g. the drift
    monitor's one-row ledger append per batch — then
    pays those round trips SERIALLY: measured ~4 s per ONE-ROW marker
    write at local[32] (~125 ms x 32 slices), and the cost grows with
    the core count, which is exactly backwards. One slice makes it one
    round trip (0.25 s measured), and metadata relations are tiny by
    construction, so one partition is also the right output shape.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (reference S1, ``ETL/ETL.py:25``). Explicit schema preferred —
    ``inferSchema`` costs an extra full pass over the data, which at 100 TB is
    a full extra job; keep it for exploration only."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with nanosecond-timestamp normalization.

    Spark's reader rejects INT64 TIMESTAMP(NANOS) columns outright; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they surface as BIGINT
    nanoseconds. We sniff the footer with pyarrow and floor-divide those
    columns back to microsecond timestamps — the same truncation DuckDB and
    pyarrow apply, so cross-engine semantics agree."""
    df = spark.read.parquet(path)
    ns_cols = _nanos_timestamp_columns(path)
    for c in ns_cols:
        if c in df.columns:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Naive micro/milli timestamps surface as TIMESTAMP_NTZ when the session
    # wasn't built by get_spark (inferTimestampNTZ default-on in Spark 4);
    # normalize to session-local TIMESTAMP — identical wall-clock under the
    # engine's pinned UTC timezone, and what timestamp arithmetic expects.
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names stored as timestamp[ns] in the parquet footer."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan (one object per line — the splittable layout; pass
    ``multiline=True`` only for whole-file documents, which makes each FILE
    the split unit). Explicit schema preferred for the same reason as CSV:
    inference is an extra full pass, and JSON inference additionally widens
    to the least common type across 100 TB of drifting records."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar with predicate pushdown + vectorized reader, the
    same scan properties as Parquet for engines standardized on ORC."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str, wholetext: bool = False) -> DataFrame:
    """Plain-text source: one ``value`` string row per line — or per FILE
    with ``wholetext`` (raw-document intake before any parsing). Line mode
    splits large files across tasks; wholetext is one row per file, so
    partition count follows file count."""
    return spark.read.text(path, wholetext=wholetext)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML source (built into Spark 4): one row per repeated ``row_tag``
    element, attributes surfaced as ``_attr`` columns. Without an explicit
    schema the reader runs an inference scan over the input first — always
    pass ``schema`` at scale to keep it single-pass."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """``binaryFile`` source: ``(path, modificationTime, length, content)``
    with whole-file bytes per row — the raw media-intake scan (pair with
    ``operators.multimodal.media_from_binary_files``). Files never split, so
    parallelism follows file count; pushable filters on path/length/
    modificationTime prune without reading content."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Path-based (external) write in any built-in format — the companion to
    :func:`write_table` for data exchanged with other engines rather than
    owned by this catalog. ``partition_by`` gives directory pruning to any
    downstream reader."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.save(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    order_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Export a training corpus as ``num_shards`` globally-ordered shard
    files: range-repartition on the sort key (shard i's keys all precede
    shard i+1's — Spark samples the key distribution to pick balanced range
    bounds), then sort within each shard. Downstream data loaders get
    deterministic, resumable shard order without any single-node sort.

    This is the ONLY correct distributed spelling: ``orderBy().write``
    also range-partitions but leaves shard count to AQE, and
    ``repartition(n).sortWithinPartitions`` hash-partitions — per-shard
    order without global order."""
    (
        df.repartitionByRange(num_shards, *[F.col(c) for c in order_by])
        .sortWithinPartitions(*order_by)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """JDBC source (reference S5, ``Data-Insights/train.py:26-34``). For any
    non-trivial table pass ``partition_column`` + bounds so the read is
    parallel — a single-connection JDBC scan is the classic 100 TB mistake."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    truncate: bool = False,
    batch_size: int = 10_000,
    **options,
) -> None:
    """JDBC sink (reference S3/S4 over a database: ``ETL/ETL.py:52``'s
    chunked ``to_sql`` appends and the truncate-before-load pattern).

    Executors write their partitions concurrently over separate connections
    — the row-at-a-time single-connection INSERT loop the reference runs is
    replaced by ``batch_size``-row JDBC batches per partition. For
    truncate-and-reload semantics pass ``mode='overwrite', truncate=True``
    (TRUNCATE keeps the table's DDL/grants/indexes; plain overwrite
    drops and recreates from the DataFrame schema)."""
    writer = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batch_size)
    )
    if truncate:
        writer = writer.option("truncate", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Materialize to a managed Parquet table (reference S3/S4/S8: the
    truncate-then-append and CTAS patterns both collapse into
    ``mode='overwrite'``). ``partition_by`` → directory partition pruning;
    ``bucket_by`` → shuffle-free co-located joins on the bucket keys."""
    if mode == "overwrite":
        # An orphaned warehouse directory (table written by a previous
        # session, absent from this session's in-memory catalog) makes
        # saveAsTable fail with LOCATION_ALREADY_EXISTS — which would break
        # the truncate-and-reload idempotency this writer promises. Clear it.
        _drop_orphaned_location(df.sparkSession, name)
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(name)


def _drop_orphaned_location(spark: SparkSession, name: str) -> None:
    """Delete a managed-table directory that exists on disk but has no
    catalog entry in this session (only then — a cataloged table is left for
    the writer's own overwrite handling)."""
    if spark.catalog.tableExists(name):
        return
    try:
        jvm = spark._jvm
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        path = jvm.org.apache.hadoop.fs.Path(warehouse, name.lower())
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
    except Exception:
        pass  # best effort; saveAsTable surfaces the real error if any


def load_testdata(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish parquet fixtures and register temp views."""
    out = {}
    for t in tables or TESTDATA_TABLES:
        df = read_parquet(spark, f"{sf_dir}/{t}.parquet")
        df.createOrReplaceTempView(t)
        out[t] = df
    return out


def read_parquet_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    quarantine_report: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Parquet scan that survives corrupt files in the directory — the
    nightly-crawl reality at 100 TB: one truncated upload must not kill the
    whole job. Returns ``(df, corrupt_paths)``.

    Mechanics: corrupt FILES are detected up front by footer-sniffing every
    file with pyarrow (metadata-only reads — bytes read ∝ file count, not
    data size) so the report is explicit; the scan itself then reads only
    the good files. This beats `spark.sql.files.ignoreCorruptFiles`, which
    skips corrupt files SILENTLY mid-scan — at scale you want the
    quarantine list in the run report, not a row count that quietly shrank.
    Footer sniffing happens on the driver: at millions of files, move the
    same pyarrow check into a ``mapPartitions`` over the file list; the
    per-file logic is unchanged.

    An explicit ``schema`` keeps scans schema-stable even when the FIRST
    file is the corrupt one (schema inference would fail before any data
    read)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    if _os.path.isdir(path):
        candidates = sorted(
            _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        ) or sorted(
            p for p in _glob.glob(_os.path.join(path, "**", "*"), recursive=True)
            if _os.path.isfile(p) and not _os.path.basename(p).startswith(("_", "."))
        )
    else:
        candidates = sorted(_glob.glob(path))
    good, corrupt = [], []
    for p in candidates:
        try:
            _pq.read_schema(p)
            good.append(p)
        except Exception:
            corrupt.append(p)
    if not good:
        empty = spark.createDataFrame([], schema or T.StructType([]))
        return empty, corrupt
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*good)
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df, corrupt
