"""Relational operators Spark lacks as single primitives.

The reference has no joins at all (SURVEY.md §2.3) — this module exists for
the extended surface: as-of joins for time-series enrichment and skew
mitigation (salting), expressed the scale-friendly way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from data_etl_with_dbt_spark.materialize import materialize


def by_name(*names: str) -> list[Column]:
    """Columns selecting ``names`` verbatim: backtick-quoted, so a name
    holding a dot or a space is one top-level column, never a struct
    path — the spelling every pass-through projection of a caller's
    columns needs."""
    return [F.col("`" + n.replace("`", "``") + "`") for n in names]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    strict: bool = True,
    suffix: str = "_right",
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the payload of the matching
    right row with the same ``on`` key, where the match is the latest right
    row at-or-before (``direction='backward'``, the default), the earliest
    at-or-after (``'forward'``), or whichever of the two is closer in time
    (``'nearest'``, ties to backward) — the full pandas ``merge_asof``
    direction surface. ``strict`` excludes equal-timestamp matches
    (ignored for ``'nearest'``, which matches pandas in allowing exact
    hits). ``tolerance`` (an INTERVAL string like ``'10 minutes'``)
    additionally requires the match to lie within that distance.

    Implementation is the union-and-carry pattern, NOT a range join: tag
    both inputs, sort within each key by time, and carry the adjacent
    right payload with ``last(..., ignorenulls=True)`` over the preceding
    frame (backward) / ``first(...)`` over the following frame (forward).
    One shuffle on the key, no pair explosion — at 100 TB a naive
    inequality join explodes to |left|x|right| per key while this stays
    O(|left| + |right|) rows. 'nearest' runs BOTH carries over the same
    partitioning — windows keyed on the same partitioning add no second
    exchange — then picks per row by gap.

    Equal-timestamp semantics: the ``__side`` sort marker places the right
    row inside or outside the frame so ``strict`` is exact, not a filter.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    if direction == "nearest":
        strict = False  # pandas merge_asof: nearest allows exact matches
    lcols = left.columns
    # left's sort position vs right at equal time, per direction (see
    # equal-timestamp note): chosen so the frame itself encodes `strict`
    if direction == "forward":
        marker = 1 if strict else 0
    else:
        marker = 0 if strict else 1

    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(marker).alias("__side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}") for c in right_payload],
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(1 - marker).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"__p_{c}") for c in right_payload],
    )

    union = l_tagged.unionByName(r_tagged)
    out_names = [f"{c}{suffix}" if c in lcols else c for c in right_payload]
    is_right = F.col("__side") == 1 - marker

    w_back = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )

    # Carry the matched right row as ONE struct, not per-column
    # ignorenulls carries: a legit NULL payload value in the true match
    # must come through as NULL, never be skipped over in favor of an
    # older/later row's value (which may even sit outside `tolerance`).
    # The struct is non-null exactly on right rows, so the carry is tied
    # to the matched ROW's identity; its fields keep their NULLs.
    match_struct = F.when(
        is_right,
        F.struct(
            F.col("__t").alias("__asof_mt"),
            *[F.col(f"__p_{c}").alias(f"__p_{c}") for c in right_payload],
        ),
    )

    def _extract(m, alias_to):
        return [
            m[f"__p_{c}"].alias(o)
            for c, o in zip(right_payload, alias_to)
        ]

    if direction == "backward":
        m = F.last(match_struct, ignorenulls=True).over(w_back)
        carried = union.select(
            "*", m["__asof_mt"].alias("__match_t"), *_extract(m, out_names)
        )
    elif direction == "forward":
        m = F.first(match_struct, ignorenulls=True).over(w_fwd)
        carried = union.select(
            "*", m["__asof_mt"].alias("__match_t"), *_extract(m, out_names)
        )
    else:  # nearest: both carries, one shuffle, per-row pick by gap
        mb = F.last(match_struct, ignorenulls=True).over(w_back)
        mf = F.first(match_struct, ignorenulls=True).over(w_fwd)
        both = union.select(
            "*",
            mb["__asof_mt"].alias("__bt"),
            mf["__asof_mt"].alias("__ft"),
            *_extract(mb, [f"__b_{c}" for c in right_payload]),
            *_extract(mf, [f"__f_{c}" for c in right_payload]),
        )
        t_type = left.schema[left_time].dataType.typeName()
        if t_type.startswith("timestamp"):
            def _ticks(c):
                return F.unix_micros(F.col(c))
        else:  # numeric epoch keys: pandas merge_asof allows them too
            def _ticks(c):
                return F.col(c)
        back_gap = _ticks("__t") - _ticks("__bt")
        fwd_gap = _ticks("__ft") - _ticks("__t")
        choose_back = F.col("__ft").isNull() | (
            F.col("__bt").isNotNull() & (back_gap <= fwd_gap)
        )
        carried = both.select(
            "*",
            F.when(choose_back, F.col("__bt")).otherwise(F.col("__ft")).alias("__match_t"),
            *[
                F.when(choose_back, F.col(f"__b_{c}"))
                .otherwise(F.col(f"__f_{c}"))
                .alias(o)
                for c, o in zip(right_payload, out_names)
            ],
        )

    out = carried.where(F.col("__side") == marker)
    if tolerance is not None:
        lag = F.expr(f"INTERVAL {tolerance}")
        if direction == "backward":
            in_window = F.col("__match_t") >= F.col("__t") - lag
        elif direction == "forward":
            in_window = F.col("__match_t") <= F.col("__t") + lag
        else:
            in_window = (F.col("__match_t") >= F.col("__t") - lag) & (
                F.col("__match_t") <= F.col("__t") + lag
            )
        out = out.select(
            *lcols,
            "__match_t",
            *[F.when(in_window, F.col(c)).otherwise(F.lit(None)).alias(c) for c in out_names],
        )
    return out.select(*lcols, *out_names)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_source: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage aggregation for skewed grouping keys.

    A hot key concentrates its rows in one reducer; salting spreads them over
    ``salt_buckets`` partial groups, then merges. Only algebraic aggregates
    compose (sum→sum, count→sum, min→min, max→max), which ``aggs`` encodes as
    ``{out_col: (agg_fn, in_col)}``.

    The salt is deterministic (hash of ``salt_source`` or all columns), so
    the operator stays replayable — ``F.rand()`` salts break retry/speculative
    execution semantics.

    AQE's skew-join handling covers *joins*; aggregation skew still needs
    this pattern when a single group exceeds one task's memory.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for name, (fn, _c) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"{name}: '{fn}' is not algebraic; salting cannot merge it")

    salt_col = F.pmod(F.xxhash64(*(salt_source or df.columns)), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt_col)
        .groupBy(*keys, "__salt")
        .agg(*[first_fn[fn](c).alias(name) for name, (fn, c) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[fn](name).alias(name) for name, (fn, _c) in aggs.items()]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) left side with a
    deterministic bucket and explode the (smaller) right side across all
    buckets, so one hot key's rows land on ``salt_buckets`` reducers instead
    of one. Prefer AQE's automatic skew handling; use this when a single key
    is so hot that even split shuffle blocks overwhelm a task.

    Only left-preserving modes are valid: the right side is replicated
    across all salt buckets, so under ``right``/``full`` outer joins an
    unmatched right row would surface once per bucket. Those modes raise."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — right side is replicated "
            f"per salt bucket, so only left-preserving modes are exact: {sorted(allowed)}"
        )
    salted_left = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*left.columns), F.lit(salt_buckets)).cast("int")
    )
    replicated_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_left.join(replicated_right, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def per_key_cap(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str = "quota_rank",
    two_phase: bool = False,
) -> DataFrame:
    """Per-key quota cap: keep the top ``n`` rows of every key group under
    ``order_by`` (which must be a TOTAL order within a key — add a unique
    tie-break column). The web-corpus curation primitive: "at most N pages
    per domain", the C4/RefinedWeb-style guard against a handful of mega
    sites dominating a training mix.

    Plan shape: one shuffle on ``key_cols`` and a per-key sort feeding
    ``row_number`` — rows never sort globally. ``WindowGroupLimit`` pushes
    the ``<= n`` limit into the sort (Spark 3.5+), so each task keeps a
    bounded heap instead of materializing whole groups.

    ``two_phase`` handles the mega-key case (window functions bypass AQE
    skew splitting, so one huge domain lands on one reducer): phase 1 caps
    per (input-partition-id, key) — the partition id acts as a deterministic
    salt, so this exchange hashes on a skew-free composite and every reducer
    holds at most ``n`` rows per (salt, key). Exact, because any row in a
    key's global top ``n`` is necessarily in its salted group's top ``n``.
    Phase 2 then shuffles at most ``n x num_partitions`` rows per key — a
    billion-page domain sends thousands of rows, not a billion. Costs one
    extra full-data (but skew-free) exchange; worth it only under real skew.
    """
    if two_phase:
        pre = Window.partitionBy(F.spark_partition_id(), *key_cols).orderBy(*order_by)
        df = (
            df.withColumn("__pre", F.row_number().over(pre))
            .where(F.col("__pre") <= F.lit(n))
            .drop("__pre")
        )
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= F.lit(n))
    )


def fuzzy_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    shuffle_parallelism: int | None = None,
) -> DataFrame:
    """Record-linkage pair generation: within each blocking key, all row
    pairs whose ``text_col`` values are within ``max_dist`` edit operations
    (Levenshtein). The blocking key is what makes this scale — the quadratic
    candidate space is per-block, so a 100 TB table with well-chosen blocks
    (brand, zip prefix, soundex, LSH bucket) never materializes a global
    cross product; the join is a plain equi-join on the block with the
    distance as a residual filter, all JVM-side.

    The distance is the THRESHOLD form ``levenshtein(a, b, max_dist)``: a
    banded O(len·max_dist) DP with early exit instead of the full O(len²)
    table, returning -1 past the bound (measured 2.2x at sf0.1; exact
    distances for surviving pairs are unchanged). ``shuffle_parallelism``
    repartitions the pair-building side first — same knob as MinHash, for
    single-row-group inputs that would otherwise probe a broadcast join in
    ONE task (measured: the sf0.1 part fixture is one row group; 32-way
    repartition takes the warm query 3.3 s → 0.6 s on 32 cores).
    """
    if shuffle_parallelism:
        df = df.repartition(shuffle_parallelism)
    a = df.select(
        F.col(block_col),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    )
    b = df.select(
        F.col(block_col),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    # Note: a |len(a)-len(b)| <= max_dist prefilter (necessary condition)
    # was measured at sf0.1 and LOST ~30% — these candidate strings are
    # short and length-uniform, so the extra per-pair compare outweighs the
    # few skipped DPs. Worth re-adding for long, length-diverse text.
    return (
        a.join(b, on=block_col)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("text_a", "text_b", max_dist))
        .where(F.col("dist") >= 0)
    )


def apply_cdc(
    existing: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture batch (ops 'insert'/'update'/'delete',
    ordered per key by ``seq_col``) to a snapshot: the warehouse-side half
    of log replication. Exactly one surviving row per changed key — the one
    with the highest sequence — decides the outcome; earlier ops in the same
    batch are superseded (a key inserted then deleted nets to absent).

    Plan: per-key latest-change selection is one window over the change
    batch (changes are deltas — tiny next to the snapshot), then the
    snapshot is touched ONCE with an anti-join + union. The snapshot never
    shuffles on anything but the key, and at 100 TB with a transactional
    format the same logic is a MERGE; this is the plain-Parquet shape.

    Ties on ``seq_col`` (logs that stamp coarse sequence numbers) are broken
    deterministically — by ``op_col``, then a hash of the whole change row —
    so the surviving change is stable across runs and partitionings instead
    of silently flipping an upsert vs a delete.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        F.xxhash64(*changes.columns).desc(),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = latest.where(F.col(op_col) != "delete").drop(op_col, seq_col)
    untouched = existing.join(
        latest.select(key), on=key, how="left_anti"
    )
    return untouched.unionByName(survivors)


def global_row_index(
    df: DataFrame,
    order_by: Sequence[str],
    index_col: str = "idx",
    num_buckets: int = 32,
) -> DataFrame:
    """Contiguous global row numbers 0..n-1 in ``order_by`` order WITHOUT a
    single-partition sort — the scale answer to ``row_number() OVER (ORDER BY
    ...)``, whose plan (Exchange SinglePartition -> one-task Sort) is the
    classic 100 TB driver-shaped bottleneck. Training pipelines need this
    for example ids, shard-stable sample ordering, and resumable offsets.

    Plan: (1) sample ``num_buckets - 1`` cut points of the leading (numeric)
    sort column with ``approxQuantile`` — the same sampling a range
    partitioner does, a driver collect of B-1 doubles, never data; (2) map
    each row to a bucket by cut-point comparison (pure expression — bucket
    choice depends only on the KEY, so ties can't straddle buckets and the
    output is independent of the sampled cuts); (3) count rows per bucket
    (map-side-combined agg over B rows) and broadcast cumulative offsets
    back; (4) ``row_number`` within each bucket + offset. One full shuffle
    of the data (the per-bucket window), fully parallel, deterministic given
    a total order — pass tie-breaking columns; the window orders by ALL of
    ``order_by``.

    Buckets inherit the key distribution: heavily-skewed leading keys
    concentrate in one bucket (same caveat as any range partitioning);
    quantile cuts keep balanced keys balanced.
    """
    lead = order_by[0]
    probs = [i / num_buckets for i in range(1, num_buckets)]
    cuts = sorted(set(df.stat.approxQuantile(lead, probs, 0.001)))
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(F.col(lead) > F.lit(c), 1).otherwise(0)
    # the per-bucket counts AND the final window both consume bucketed;
    # Catalyst won't CSE a shared subtree across two consumers, so without
    # a lineage cut the full input plan runs twice per action
    bucketed = df.withColumn("__bucket", bucket).transform(materialize)

    counts = bucketed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset")
    )

    w = Window.partitionBy("__bucket").orderBy(*[F.col(c) for c in order_by])
    return (
        bucketed.join(F.broadcast(offsets), on="__bucket")
        .withColumn(index_col, F.col("__offset") + F.row_number().over(w) - 1)
        .drop("__bucket", "__offset")
    )


def skew_stats(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 10,
    parallelism: int | None = None,
) -> DataFrame:
    """Key-skew diagnosis before a join/aggregation: the top-k heaviest keys
    with their share of total rows and a suggested salt-bucket count per key
    — the measurement step that decides between a plain shuffle,
    ``salted_join``/``salted_agg``, or AQE skew splitting.

    ``suggested_salt`` = ceil(key_share × parallelism): enough buckets that
    the heaviest key's largest salted slice is ~one average partition (1 for
    keys that don't dominate a partition — no salting needed).

    Plan: one map-side-combined count aggregation + TakeOrderedAndProject
    over the key-count relation, then the scalar total broadcast back —
    never a global sort, never a collect. At 100 TB this costs one pass over
    the key columns only (project-pruned scan).
    """
    if parallelism is None:
        parallelism = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    # top-k and the scalar total both consume counts: checkpoint so the
    # key agg runs once (no cross-consumer CSE)
    counts = counts.transform(materialize)
    total = counts.agg(F.sum("key_rows").alias("__total"))
    top = counts.orderBy(F.col("key_rows").desc(), *key_cols).limit(top_k)
    share = F.col("key_rows").cast("double") / F.col("__total").cast("double")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            F.col("key_rows").cast("bigint").alias("key_rows"),
            share.alias("key_share"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(share * F.lit(parallelism)).cast("bigint"),
            ).alias("suggested_salt"),
        )
    )


def additive_merge(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Rollup-merge kernel: sum ``sum_cols`` per ``keys`` across the
    existing snapshot and a delta; non-measure attributes resolve by
    deterministic max. One union + one map-side-combined groupBy — the
    fact table behind the snapshot is never rescanned. Shared by the DAG's
    'additive' incremental strategy and the streaming rollup sink."""
    cols = existing.columns
    passthrough = [c for c in cols if c not in keys and c not in sum_cols]
    return (
        existing.unionByName(delta.select(*cols))
        .groupBy(*keys)
        .agg(
            *[F.sum(c).alias(c) for c in sum_cols],
            *[F.max(c).alias(c) for c in passthrough],
        )
        .select(*cols)
    )


def auto_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    top_k: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """Self-tuning skew join: measure the left side's key skew
    (:func:`skew_stats` — one map-side-combined count over the join key)
    and pick the salt from the measurement — max suggested_salt across the
    heavy hitters. No skew (every suggestion = 1) → a plain join, zero
    overhead beyond the key-count pass; skew → :func:`salted_join` sized so
    the hottest key's largest salted slice is ~one average partition.

    The measurement collects ``top_k`` rows (a few hundred bytes); the
    decision is driver-side but the data path stays fully distributed. At
    100 TB the key-count pass reads ONE column and combines before the
    shuffle — cheap insurance compared to a stalled hot-key reducer; skip
    it and call salted_join directly when the skew is already known.
    """
    stats = skew_stats(left.select(on), [on], top_k=top_k, parallelism=parallelism)
    salt = max((r["suggested_salt"] for r in stats.collect()), default=1)
    if salt <= 1:
        return left.join(right, on=on, how=how)
    return salted_join(left, right, on=on, salt_buckets=int(salt), how=how)


def resolve_entities(
    df: DataFrame,
    block_col: str,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    max_iter: int = 20,
    shuffle_parallelism: int | None = None,
) -> DataFrame:
    """End-to-end entity resolution (the MDM/record-linkage pipeline), a
    composition of three operators this engine already proves separately:

      1. **blocking + scoring** — :func:`fuzzy_pairs`: equi-join on the
         block key with Levenshtein as a residual (never a global cross
         product; candidate space ∝ block sizes);
      2. **clustering** — connected components over the match graph
         (``dedup.dedup_clusters``: iterative min-label propagation,
         lineage-checkpointed per round);
      3. **canonicalization** — each entity labeled with its cluster id
         (min member id), a canonical flag, and the cluster size.

    Returns the input rows + ``(cluster_id, is_canonical, cluster_size)``.
    Transitivity is the point of step 2: A≈B and B≈C land in one entity
    even when ``dist(A, C) > max_dist`` — pair output alone cannot say
    that. Scale shape: one block shuffle, O(diameter) label rounds over
    the pair graph, one size aggregation."""
    from data_etl_with_dbt_spark.operators.dedup import dedup_clusters

    pairs = fuzzy_pairs(
        df, block_col, id_col, text_col, max_dist=max_dist,
        shuffle_parallelism=shuffle_parallelism,
    )
    clusters = dedup_clusters(
        df, id_col, pairs.select("id_a", "id_b"), max_iter=max_iter
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        df.join(clusters, id_col)
        .join(sizes, "cluster_id")
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def parse_debezium(
    df: DataFrame,
    value_col: str,
    row_schema: str,
    seq_col: str = "seq",
) -> DataFrame:
    """Parse Debezium-shaped CDC envelopes (the de-facto log-replication
    wire format: ``{"payload": {"before": ..., "after": ..., "op":
    "c|r|u|d", "ts_ms": N}}``) into :func:`apply_cdc`'s input relation.

    * op mapping: c (create) and r (snapshot read) → 'insert', u →
      'update', d → 'delete'
    * row payload: ``after`` for upserts, ``before`` for deletes (Debezium
      leaves ``after`` null on delete — the key must come from somewhere)
    * ``seq``: the envelope's ``ts_ms`` (swap in source.lsn/pos upstream
      for logs that stamp finer sequence numbers)

    One ``from_json`` parse per row against an explicit schema (never
    schema inference — a malformed envelope yields nulls, not a new
    schema), pure JVM projection after. Output: row columns + ``op`` +
    ``seq`` — exactly ``apply_cdc(snapshot, parsed, key, "seq")``'s shape.
    """
    env_schema = (
        f"struct<payload: struct<before: struct<{row_schema}>, "
        f"after: struct<{row_schema}>, op: string, ts_ms: bigint>>"
    )
    p = F.from_json(F.col(value_col), env_schema).getField("payload")
    row = F.when(p.getField("op") == "d", p.getField("before")).otherwise(
        p.getField("after")
    )
    op = (
        F.when(p.getField("op").isin("c", "r"), F.lit("insert"))
        .when(p.getField("op") == "u", F.lit("update"))
        .when(p.getField("op") == "d", F.lit("delete"))
    )
    return df.select(
        row.alias("__row"), op.alias("op"), p.getField("ts_ms").alias(seq_col)
    ).select("__row.*", "op", seq_col)


def advise_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    broadcast_rows: int = 1_000_000,
    skew_share: float = 0.2,
    parallelism: int | None = None,
) -> dict:
    """Measurement-driven join planning — the decision procedure the
    engine's join toolkit implies, made explicit: count both sides, probe
    the bigger side's key skew (:func:`skew_stats`), and recommend

    * ``broadcast_right`` / ``broadcast_left`` — a side fits under
      ``broadcast_rows`` (the row-count proxy for the byte threshold; at
      100 TB wire this to table stats instead of counts)
    * ``salted`` — no side broadcasts AND the heaviest key holds more than
      ``skew_share`` of the big side (→ :func:`salted_join` /
      :func:`auto_salted_join` with the suggested bucket count)
    * ``shuffle`` — the plain hash join is already the right plan

    Returns ``{"strategy", "reasons": [...], "left_rows", "right_rows",
    "top_key_share", "suggested_salt"}``. Cost: two counts + one top-k
    key aggregation — all driver-decision reads, run them BEFORE
    committing a 100 TB shuffle, not after it dies. AQE's runtime skew
    handling covers sort-merge joins it can split; salting covers the
    cases it can't (aggregations, broadcast-ineligible skew)."""
    ln, rn = left.count(), right.count()
    reasons = []
    big, big_n = (left, ln) if ln >= rn else (right, rn)
    if rn <= broadcast_rows and rn <= ln:
        return {
            "strategy": "broadcast_right",
            "reasons": [f"right side {rn} rows <= {broadcast_rows}"],
            "left_rows": ln, "right_rows": rn,
            "top_key_share": None, "suggested_salt": 1,
        }
    if ln <= broadcast_rows:
        return {
            "strategy": "broadcast_left",
            "reasons": [f"left side {ln} rows <= {broadcast_rows}"],
            "left_rows": ln, "right_rows": rn,
            "top_key_share": None, "suggested_salt": 1,
        }
    stats = skew_stats(big, key_cols, top_k=1, parallelism=parallelism).collect()
    share = float(stats[0]["key_share"]) if stats else 0.0
    salt = int(stats[0]["suggested_salt"]) if stats else 1
    reasons.append(f"no side under {broadcast_rows} rows")
    if share > skew_share:
        reasons.append(
            f"heaviest key holds {share:.0%} of the {big_n}-row side"
        )
        return {
            "strategy": "salted", "reasons": reasons,
            "left_rows": ln, "right_rows": rn,
            "top_key_share": share, "suggested_salt": max(salt, 2),
        }
    reasons.append(f"top key share {share:.0%} <= {skew_share:.0%}")
    return {
        "strategy": "shuffle", "reasons": reasons,
        "left_rows": ln, "right_rows": rn,
        "top_key_share": share, "suggested_salt": 1,
    }


def basket_pair_counts(
    df: DataFrame,
    order_col: str,
    item_col: str,
    min_support: int = 1,
    max_basket_items: int | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Co-occurrence pair counts for market-basket analysis: distinct
    (order, item) pairs self-join on the order key with ``item_a < item_b``,
    then count per pair, keeping pairs co-purchased in at least
    ``min_support`` orders. Returns (pa, pb, n_both).

    Scale posture: the join is EQUI-keyed on the order, so work is
    sum(basket_size^2) over orders — bounded by basket width, never
    item-global. That bound has a pathology: a single mega-basket (a
    wholesale order with 10^5 line items, a bot cart) alone contributes
    10^10 pairs and lands on ONE reducer. ``max_basket_items`` is the guard:
    baskets are capped to their first N items (ascending ``item_col`` via
    :func:`per_key_cap` — deterministic, one extra window over the same
    order-key partitioning) BEFORE pairing, making per-order work <= N^2.
    Capping undercounts pairs touching dropped items of oversized baskets
    only — standard a-priori practice, since a 10^5-item basket carries ~no
    affinity signal per pair anyway. Leave ``None`` (exact) when the data
    model bounds basket width; set it (e.g. 500) for open-ended carts at
    warehouse scale.

    ``pre_deduped=True`` skips the internal distinct — pass it when the
    caller already holds the distinct (order, item) frame (ideally
    lineage-cut), so shared consumers don't rescan the source (Catalyst
    gives no cross-consumer CSE).
    """
    basket = df.select(order_col, item_col)
    if not pre_deduped:
        basket = basket.distinct()
    if max_basket_items is not None:
        basket = per_key_cap(
            basket,
            [order_col],
            [F.col(item_col).asc()],
            max_basket_items,
        ).drop("quota_rank")
    a = basket.select(F.col(order_col).alias("__k"), F.col(item_col).alias("pa"))
    b = basket.select(F.col(order_col).alias("__k2"), F.col(item_col).alias("pb"))
    return (
        a.join(b, (F.col("__k") == F.col("__k2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
