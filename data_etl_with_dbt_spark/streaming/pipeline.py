"""Structured Streaming pipelines (SURVEY.md §2.10 / §7 phase E).

The reference has no streaming — its closest analogue is chunked batch ingest
(``ETL/ETL.py:48-54``). These pipelines are the streaming form of the
engine's batch operators, sharing semantics with the batch-equivalent suite
queries in ``suite/windows.py`` (tumbling / sliding / session windows) and
the reference's window dedup (streaming form: watermark-scoped
``dropDuplicatesWithinWatermark`` — the unbounded-state answer to
``core_texi``'s full-table dedup, SURVEY.md §7 hard-part #5).

State-scale posture: every aggregation carries a watermark so state is
bounded and evictable; dedup state is watermark-scoped; the custom stateful
operator uses ``applyInPandasWithState`` with explicit timeouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """File-source stream over an events directory. New files are discovered
    per micro-batch — the streaming form of S1/S2 ingestion."""
    return spark.readStream.format(fmt).schema(EVENT_SCHEMA).load(path)


def tumbling_window_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute tumbling counts/sums per event_type with late-data handling.
    Batch-equivalent: suite query ``tumbling_window_events``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_window_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "n", "total_value")
    )


def session_window_stream(events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Session windows per user (dynamic-length state, closed by watermark).
    Batch-equivalent: suite query ``session_window_events``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming form of the reference's surrogate-key dedup (W2): md5 key
    over business columns, exactly-one-row-per-key *within the watermark
    horizon*. Unbounded key state is the classic streaming-dedup trap —
    ``dropDuplicatesWithinWatermark`` evicts state past the horizon."""
    from data_etl_with_dbt_spark.models.events import event_surrogate_key

    keyed = events.withColumn("unique_id", event_surrogate_key())
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["unique_id"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total, emitted per micro-batch. The state
    dict is one row per user — the Arrow-batched Python path, used only
    because running totals across batches aren't expressible with built-in
    streaming aggregations in append mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def enrich_stream_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    payload: list[str] | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to each
    streaming event — the streaming form of the batch star join (q3/q5's
    dimension side).

    Semantics worth knowing (measured on 4.1, asserted in tests): the
    static side re-EXECUTES per micro-batch, but a path-backed parquet
    dimension pins its FILE LISTING at plan time — files appended between
    batches are NOT picked up (batch N+1 still joins the old snapshot).
    Slowly-changing dimensions therefore need either a re-read inside
    ``foreachBatch`` (the pattern ``streaming.intake`` uses for its
    signature index) or a table format with transactional file discovery.
    The static side is stateless (no watermark needed; state never grows),
    and with ``broadcast`` the stream never shuffles for the join — the
    same posture as the batch plan. Left join keeps events whose key
    hasn't reached the dimension yet (nulls, to be patched by a later
    batch or a reconciliation pass).
    """
    right = dim.select(on, *payload) if payload is not None else dim
    if broadcast:
        right = F.broadcast(right)
    return events.join(right, on=on, how="left")


def error_click_attribution_stream(
    events: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: attribute each error to click events by the same
    user within the preceding ``max_lag`` window — the streaming form of
    the batch as-of/attribution join.

    Both sides carry watermarks and the join condition bounds event time on
    both ends, so the state store can evict rows once the watermark passes —
    the required shape for an unbounded stream-stream join (an unbounded
    condition would grow state forever).

    ``how="left_outer"`` additionally emits each UNMATCHED error with a
    null click, but only once the error's join window has fully matured
    past the watermark (Spark cannot know no click is coming until then).
    Two operational consequences, both pinned in tests: output mode must
    be append, and null rows land in the first batch that RUNS with the
    advanced watermark — a finite stream needs trailing input (or a
    sentinel) after the watermark advance, or trailing unmatched errors
    stay pending forever. The global watermark is the MIN of both sides
    (spark.sql.streaming.multipleWatermarkPolicy), so BOTH streams must
    advance for maturation.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return errors.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") < F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr(f"INTERVAL {max_lag}")),
        how,
    ).select("error_id", "user_id", "error_ts", "click_id", "click_ts")


def core_transform_sink(state_path: str):
    """``foreachBatch`` sink: the streaming form of the flagship
    ``core_transform_events`` (reference ``core_texi.sql`` as an INCREMENTAL
    materialization — new event files arrive, the transformed table stays
    current).

    Semantics — identical to the batch query at every point in time: the
    sink maintains, per md5 surrogate key, the PROJECTED row with the
    maximum ``(event_ts, event_id)`` seen across all batches (newest-wins
    upsert). Per batch that is: project (shared expressions,
    ``models/events.py``) → per-batch keep-newest → argmax-merge with the
    persisted state → overwrite. The merge is associative and commutative,
    so arrival order across micro-batches cannot change the result — a
    strictly stronger guarantee than watermark-scoped keep-first dedup
    (``dropDuplicatesWithinWatermark`` would keep the FIRST arrival per
    key, which diverges from the batch query's newest-wins whenever an
    older event arrives late; that is why this path does not use it).

    State posture: like ``additive_rollup_sink``, state lives in the TABLE,
    not in stream state — no watermark bound on key cardinality, restarts
    are free, and the table is queryable mid-stream via
    :func:`read_core_transform`. The state is a :mod:`sources.versioned`
    snapshot: each batch merges into the pinned latest version and commits
    one atomic overwrite carrying the replay mark (see
    ``streaming/intake.py``). The per-batch rewrite cost is the state
    table size (distinct keys), never the stream history; at warehouse
    scale back it with a transactional table format whose MERGE touches
    only changed key partitions.

    The state table stores stage-1 PROJECTED rows, not finalized ones:
    the batch query dedups BEFORE the positivity filter, so a key whose
    newest record fails the filter must suppress older passing records —
    only the pre-filter state preserves that. ``read_core_transform``
    applies the shared finalize stage on read.
    """
    from ..models.events import dedup_newest, project_events
    from ..sources import versioned as V
    from .intake import _state_meta

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(state_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        merged = dedup_newest(project_events(batch))
        if version:
            existing = V.read_version(spark, state_path, version)
            merged = dedup_newest(merged.unionByName(existing))
        V.commit(
            merged, state_path, mode="overwrite", expected_base=version,
            meta=new_meta,
        )

    return process


def read_core_transform(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable flagship result at the stream's current state: shared
    finalize stage (epoch math, CASE derivation, positivity filter) over
    the newest-per-key projected state."""
    from ..models.events import finalize_events
    from ..sources import versioned as V

    return finalize_events(V.read_version(spark, state_path))
