"""Streaming corpus intake with cross-batch near-duplicate suppression.

The continuous-ingestion shape for a 100 TB training corpus: documents
arrive as a stream, each micro-batch is deduped against a PERSISTED MinHash
signature index — never against the raw corpus, whose text is never re-read
or re-shingled — survivors are appended to the corpus sink, and the
survivors' signatures are appended to the index. Per retained document the
index holds ``num_hashes`` longs (~256 bytes at k=32), roughly 1e-4 of
corpus bytes, and the per-batch cost is O(|batch| + band collisions),
independent of corpus text size.

Built on :func:`~data_etl_with_dbt_spark.operators.dedup.incremental_minhash_dedup`
(see that docstring for the verdict semantics) via ``foreachBatch`` — the
dedup decision needs a batch-vs-index join against a mutable store, which
is exactly the micro-batch escape hatch ``foreachBatch`` exists for; the
windowed/stateful operators in :mod:`.pipeline` stay pure ``writeStream``.

One state store: every sink's cross-batch state (indexes, rollups,
snapshots, Bloom words) is a :mod:`sources.versioned` table, and the
markers that describe it — signature recipes, Bloom coverage, the CDC
sequence watermark, the last committed batch — ride in the ``meta`` of
the manifest they describe, so state and marker land in ONE atomic
commit. Sinks read the pinned latest snapshot, so a task-retry recompute
can never see the batch's own commit (the read-then-write lineage trap is
structurally absent and needs no checkpoint guard).

Exactly-once: ``foreachBatch`` is at-least-once under retries. Each state
commit records ``meta["batches"][queryId] = batch_id`` (the stream's
``sql.streaming.queryId``, stable across restarts from one checkpoint),
and a sink that sees an already-committed ``batch_id`` writes nothing —
state is applied exactly once. The state commit is each batch's LAST
write, so outputs (corpus, ledgers, reports — plain parquet appends) are
at-least-once only in the window between their append and the state
commit: a crash there replays the batch against the unchanged state and
re-appends identical rows, dedupable downstream on the id. Called outside
a stream (no query id), a sink applies every call.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import materialize
from ..operators.dedup import incremental_minhash_dedup
from ..operators.relational import by_name
from ..sources import versioned as V
from ..sources.io import driver_rows_df


def _state_meta(spark, meta: dict, batch_id: int) -> dict | None:
    """The replay guard every state commit shares: the ``meta`` base the
    batch's commit records (``{"batches": {queryId: batch_id, ...}}``), or
    ``None`` when this stream already committed ``batch_id`` — a replay
    that must write nothing. Outside a stream there is no query id and
    every call applies."""
    qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    batches = dict(meta.get("batches", {}))
    if qid is not None:
        if batch_id <= batches.get(qid, -1):
            return None
        batches[qid] = batch_id
    return {"batches": batches}


def _snapshot(spark, path: str, version: int, schema) -> DataFrame:
    """The pinned snapshot at ``version``, or an empty ``schema`` frame
    before the first commit."""
    if version:
        return V.read_version(spark, path, version)
    return spark.createDataFrame([], schema)


def _check_recipe(path: str, version: int, meta: dict, recipe: dict) -> None:
    """An index is only meaningful under the exact recipe that built it:
    raise when the latest manifest records a different one, or when a
    non-empty index records none (a foreign or pre-recipe append — its
    hashes cannot be trusted to compare)."""
    got = meta.get("recipe")
    if version and got != recipe:
        raise ValueError(
            f"index at {path} was built with recipe {got} but this sink "
            f"is configured with {recipe} — hashes are incomparable across "
            "recipes; rebuild the index or match the config"
        )


def _bloom_words(
    spark,
    bloom_path: str,
    index: DataFrame,
    index_version: int,
    index_meta: dict,
    bloom_keys: Callable[[DataFrame], DataFrame],
    expected_keys: int,
    fpp: float,
):
    """The Bloom sidecar shared by the minhash and substring sinks:
    returns ``(words, m, k, add)`` — the folded word table to probe, its
    sizing, and ``add(df)``, which commits the words covering ``df``'s
    keys. ``bloom_keys`` maps index-shaped rows to a one-column key
    relation — the only thing the two sinks do differently.

    The sizing ``(num_bits, num_hashes)`` lives in the sidecar's own
    manifest meta (a mismatch raises — bit positions are incomparable
    across sizings). Coverage is the index manifest's ``meta["bloom"]``:
    a bloom-enabled sink commits bloom words BEFORE the index commit that
    sets the flag, so a flagged index is covered (a crash between the two
    leaves the bloom a superset — false positives only). A non-empty
    index whose latest manifest lacks the flag (a bloom-off sink, a
    foreign append) or whose sidecar is gone is backfilled from the full
    snapshot before probing — duplicate bits are harmless, bit_or is
    idempotent."""
    from ..operators.sketch import bloom_build, bloom_parameters

    m, k = bloom_parameters(expected_keys, fpp)
    sizing = {"num_bits": m, "num_hashes": k}
    bloom_v, bloom_meta = V.latest(bloom_path)
    if bloom_v and bloom_meta != sizing:
        raise ValueError(
            f"bloom sidecar at {bloom_path} was sized {bloom_meta} but "
            f"this sink's (bloom_expected_keys, bloom_fpp) resolves to "
            f"{sizing} — bit positions are incomparable across sizings; "
            "delete the sidecar to re-bootstrap or match the config"
        )

    def add(df: DataFrame) -> int:
        keys = bloom_keys(df)
        return V.commit(
            bloom_build(keys, keys.columns[0], m, k),
            bloom_path, mode="append", meta=sizing,
        )

    if index_version and not (index_meta.get("bloom") and bloom_v):
        bloom_v = add(index)
    if bloom_v:
        words = (
            V.read_version(spark, bloom_path, bloom_v)
            .groupBy("word_index")
            .agg(F.bit_or("bits").alias("bits"))
        )
    else:
        words = spark.createDataFrame([], "word_index long, bits long")
    return words, m, k, add


def _filter_replayed(
    changes: DataFrame, wm, boundary: set, strict_seq: bool = False
):
    """Drop already-applied change records, sound for NON-strict sequences.

    Debezium ``ts_ms`` is millisecond wall-clock — monotone but NOT
    strictly increasing, so two distinct changes can share a sequence and
    straddle a micro-batch boundary. A plain ``seq > wm`` guard would drop
    the later batch's genuinely-new boundary rows as "already applied" —
    silent data loss. Instead the guard keeps ``seq > wm`` OR
    ``seq == wm AND content-hash not in the applied boundary set``: replays
    deliver byte-identical envelopes (same log records), so a hash match at
    the boundary sequence means an applied record, while a new change that
    merely shares the timestamp hashes differently and passes. The boundary
    set is records at ONE timestamp (stored in the snapshot's manifest
    meta; bounded by per-ms change throughput).

    Residual ambiguity, documented not hidden: if two DIFFERENT changes to
    the same key share a sequence across batches, apply order falls to
    ``apply_cdc``'s deterministic tie-break, not log order — a strictly
    increasing LSN as ``seq`` removes the ambiguity entirely.

    ``strict_seq=True`` asserts that contract instead of tolerating ties
    (for deployments whose ``seq`` IS a real LSN): a batch containing two
    DISTINCT change records at one sequence, or a record at the applied
    WATERMARK sequence whose content differs from the applied record,
    raises ``ValueError`` instead of tie-breaking. Detection is bounded by
    the stored state — one watermark plus its boundary hash set — so LSN
    reuse STRICTLY BELOW the watermark is indistinguishable from an
    at-least-once replay and is dropped as one (detecting it would require
    retaining every applied record's hash forever). Byte-identical
    re-deliveries still dedupe silently.

    Returns the changes with a ``__h`` content-hash column.
    """
    changes = changes.withColumn("__h", F.xxhash64(*changes.columns))
    if strict_seq:
        # the checks below plus the caller's post-filter materialization
        # would each re-run the batch parse (parse_debezium + xxhash64);
        # materialize once so they read computed rows instead
        changes = materialize(changes, eager=True)
        # ONE batch-sized agg covers both contract checks (round-6: was
        # two driver jobs per batch): sequences carried by >1 distinct
        # record, and new content at the applied watermark sequence.
        clash_cond = (
            (F.col("seq") == F.lit(wm))
            & ~F.col("__h").isin(*[int(h) for h in boundary])
            if (wm is not None and boundary)
            else F.lit(False)
        )
        bad = (
            changes.groupBy("seq")
            .agg(
                F.count_distinct("__h").alias("n"),
                F.max(clash_cond.cast("int")).alias("clash"),
            )
            .where((F.col("n") > 1) | (F.col("clash") == 1))
            .orderBy("seq")
            .limit(5)
            .collect()
        )
        # duplicate-sequence wins the error message when both kinds are
        # among the first 5 offending sequences
        dup = [r for r in bad if r["n"] > 1]
        if dup:
            raise ValueError(
                "strict_seq: multiple distinct change records share "
                f"sequence(s) {[r['seq'] for r in dup]} — the sequence "
                "column is not a strictly-increasing LSN"
            )
        if any(r["clash"] == 1 for r in bad):
            raise ValueError(
                f"strict_seq: a NEW change record arrived at the already-"
                f"applied sequence {wm} — LSN reuse violates the "
                "strictly-increasing contract"
            )
    if wm is not None:
        keep = F.col("seq") > F.lit(wm)
        if boundary and not strict_seq:
            keep = keep | (
                (F.col("seq") == F.lit(wm))
                & ~F.col("__h").isin(*[int(h) for h in boundary])
            )
        changes = changes.where(keep)
    return changes


def minhash_intake_sink(
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.7,
    dup_ledger_path: str | None = None,
    shuffle_parallelism: int | None = None,
    signature_impl: str = "jvm",
    quality_model=None,
    quality_threshold: float = 0.5,
    reject_ledger_path: str | None = None,
    bloom_expected_keys: int | None = None,
    bloom_fpp: float = 0.01,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function: per micro-batch, dedup against the
    signature index at ``index_path``, append surviving documents (full
    rows) to ``corpus_path``, append their signatures to the index, and
    optionally append flagged duplicates' attributions
    ``(id, dup_of, est_jaccard, dup_source, batch_id)`` to
    ``dup_ledger_path`` for audit.

    Usage::

        sink = minhash_intake_sink(index, corpus, "doc_id", "text")
        docs_stream.writeStream.foreachBatch(sink) \\
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()

    Ordering: documents in earlier batches always outrank later arrivals
    (index hits win), and within a batch smaller ids win — arrival-order
    keep-first, the streaming analogue of the reference's window dedup
    (``core_texi.sql:57-62``).

    ``quality_model`` (a fitted ``ml.quality`` PipelineModel) gates each
    batch BEFORE dedup — streaming model inference, one JVM transform per
    micro-batch (:func:`ml.quality.quality_scorer`, its JVM pipeline built
    once per sink); junk never gets shingled, never pollutes the signature
    index, and optionally lands in ``reject_ledger_path`` with its score.
    The gate filters the scored rows in place, so a verdict belongs to
    its row even when ids repeat.

    Per batch the sink runs the writes it must make (reject ledger,
    corpus, dup ledger, index; Bloom words when fronted) plus the verdict
    plan's exchanges. Each shared relation (the scored batch, the
    signatures, the verdicts) is a lazy local checkpoint, computed once by
    its first consumer's job rather than by a job of its own. The verdicts
    carry the batch's own columns, so the corpus append is
    ``survivors.select(*batch.columns)`` — no join back to the batch, no
    second source scan.

    Signature-compatibility guard: the persisted index is only meaningful
    under the EXACT signature recipe that built it — ``signature_impl``
    (jvm xxhash64 vs arrow crc32 families produce incomparable values),
    ``num_hashes``, and ``shingle``. Every index commit records the recipe
    in its manifest meta and every batch checks it against the latest
    manifest (:func:`_check_recipe`), so a sink configured differently —
    or an index rebuilt mid-stream under another recipe — fails loudly
    instead of silently finding zero cross-batch duplicates and polluting
    the store with incomparable signatures (round-5 review).

    State discipline: the index is a :mod:`sources.versioned` append
    table read at its pinned latest snapshot, and its commit is the
    batch's LAST write (after the corpus and both ledgers), carrying the
    recipe, the replay mark and the Bloom coverage flag in one manifest.

    ``bloom_expected_keys`` (projected distinct LSH band-bucket
    cardinality ≈ corpus docs x bands) turns on the 100 TB candidate-
    probe path, the substring sink's sidecar pattern applied to the
    banded join: a versioned Bloom word table at
    ``<index_path>__bloom`` covers the band keys of every signature
    ever appended, each batch's band keys probe the broadcast bitmap,
    and the banded index is pruned to the "maybe" keys before the
    candidate shuffle. Coverage and sizing follow :func:`_bloom_words`:
    bloom words commit BEFORE the index (crash ⇒ superset ⇒ false
    positives only — never a missed duplicate), an index manifest
    without the bloom flag is backfilled before probing, and a sizing
    mismatch raises.
    """
    from ..operators.dedup import band_bloom_keys

    recipe = {
        "signature_impl": signature_impl,
        "num_hashes": int(num_hashes),
        "shingle": int(shingle),
    }
    bloom_path = index_path.rstrip("/") + "__bloom"
    score = None
    if quality_model is not None:
        from ..ml.quality import quality_scorer

        score = quality_scorer(quality_model, text_col)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(index_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        _check_recipe(index_path, version, meta, recipe)
        columns = batch.columns
        docs = batch
        if score is not None:
            # score once, in place: the ledger and the gate both read the
            # materialized scores (lazily: the first write computes them),
            # and the gate is a filter on the rows themselves (no join
            # back by id)
            scored = materialize(score(batch))
            if reject_ledger_path is not None:
                scored.where(
                    F.col("quality_prob") < quality_threshold
                ).select(
                    F.col(id_col),
                    F.col("quality_prob"),
                    F.lit(batch_id).alias("batch_id"),
                ).write.mode("append").parquet(reject_ledger_path)
            docs = scored.where(F.col("quality_prob") >= quality_threshold)
        index_schema = T.StructType(
            [
                T.StructField("doc_id", batch.schema[id_col].dataType),
                T.StructField("signature", T.ArrayType(T.LongType())),
            ]
        )
        index = _snapshot(spark, index_path, version, index_schema)
        if id_col != "doc_id":
            index = index.withColumnRenamed("doc_id", id_col)
        bloom_kwargs = {}
        if bloom_expected_keys is not None:
            words, m, k, add_bloom = _bloom_words(
                spark, bloom_path, index, version, meta,
                lambda sigs: band_bloom_keys(sigs, id_col, num_hashes, bands),
                bloom_expected_keys, bloom_fpp,
            )
            bloom_kwargs = dict(
                index_bloom=words, bloom_bits=m, bloom_hashes=k
            )
        verdicts = incremental_minhash_dedup(
            docs,
            index,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle=shingle,
            threshold=threshold,
            shuffle_parallelism=shuffle_parallelism,
            signature_impl=signature_impl,
            **bloom_kwargs,
        )
        # four consumers below (corpus, dup ledger, bloom, index) and no
        # cross-consumer CSE — compute the verdicts once, inside the
        # corpus write's job; they carry the batch's own columns, so the
        # corpus is a projection of them
        verdicts = materialize(verdicts)

        survivors = verdicts.where(F.col("dup_of").isNull())
        survivors.select(*by_name(*columns)).write.mode("append").parquet(
            corpus_path
        )
        if dup_ledger_path is not None:
            verdicts.where(F.col("dup_of").isNotNull()).select(
                F.col(id_col),
                F.col("dup_of"),
                F.col("est_jaccard"),
                F.col("dup_source"),
                F.lit(batch_id).alias("batch_id"),
            ).write.mode("append").parquet(dup_ledger_path)
        if bloom_expected_keys is not None:
            add_bloom(survivors)  # before the index: superset on a crash
            new_meta["bloom"] = True
        V.commit(
            survivors.select(F.col(id_col).alias("doc_id"), F.col("signature")),
            index_path, mode="append", expected_base=version,
            meta={**new_meta, "recipe": recipe},
        )

    return process


def additive_rollup_sink(
    rollup_path: str,
    keys: list[str],
    sum_cols: list[str],
    pre_aggregate=None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining an additive rollup table: each
    micro-batch pre-aggregates (map-side, batch-sized) and merges into the
    persisted snapshot via :func:`operators.relational.additive_merge` —
    streaming metric maintenance where state lives in the TABLE, not in
    stream state (no watermark bound on key cardinality, restarts are free,
    and the table is queryable mid-stream).

    ``pre_aggregate`` maps a raw batch to delta rows ``keys + sum_cols``;
    default groups the batch by ``keys`` summing ``sum_cols``. The rewrite
    cost per batch is the rollup size (keys), never the stream history.
    The table is a :mod:`sources.versioned` snapshot: each batch merges
    into the pinned latest version and commits the result as one atomic
    overwrite carrying the replay mark, so a replayed batch is not added
    twice. Read it with ``versioned.read_version``.
    """
    from ..operators.relational import additive_merge

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(rollup_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        if pre_aggregate is not None:
            delta = pre_aggregate(batch)
        else:
            delta = batch.groupBy(*keys).agg(
                *[F.sum(c).alias(c) for c in sum_cols]
            )
        if version:
            existing = V.read_version(spark, rollup_path, version)
            merged = additive_merge(existing, delta, keys, sum_cols)
        else:
            merged = delta.select(*keys, *sum_cols)
        V.commit(
            merged, rollup_path, mode="overwrite", expected_base=version,
            meta=new_meta,
        )

    return process


def boilerplate_intake_sink(
    df_index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    span_tokens: int = 5,
    min_df: int = 3,
    max_boilerplate_frac: float = 0.5,
    report_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for cross-batch boilerplate suppression — the
    streaming form of :func:`~data_etl_with_dbt_spark.operators.dedup.
    ngram_df_prune`, composing with :func:`minhash_intake_sink` the way the
    batch corpus pipeline chains dedup stages.

    Per micro-batch: accumulate span document frequencies into the
    persisted ``(span, df)`` store at ``df_index_path`` (an additive
    vocab-keyed table, never a rescan of prior text), judge the batch
    against the UPDATED frequencies, drop documents that are mostly
    boilerplate (``boilerplate_frac > max_boilerplate_frac``), append
    survivors' full rows to ``corpus_path``, and optionally append the
    per-doc prune report (+ ``batch_id``) to ``report_path``.

    State discipline: the store is a :mod:`sources.versioned` snapshot
    read at its pinned latest version, so the verdicts' plan can never
    see this batch's rewrite; the updated store commits as one atomic
    overwrite AFTER the corpus and report appends, carrying the replay
    mark — a replayed batch does not count its spans twice.
    """
    from ..operators.dedup import incremental_ngram_df_prune

    index_schema = T.StructType(
        [
            T.StructField("span", T.StringType()),
            T.StructField("df", T.LongType()),
        ]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(df_index_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        existing = _snapshot(spark, df_index_path, version, index_schema)
        pruned, updated = incremental_ngram_df_prune(
            batch,
            existing,
            id_col,
            text_col,
            span_tokens=span_tokens,
            min_df=min_df,
        )
        # two consumers (the corpus filter and the report)
        pruned = materialize(pruned)

        keep = pruned.where(
            F.col("boilerplate_frac") <= max_boilerplate_frac
        ).select(id_col)
        batch.join(keep, on=id_col, how="left_semi").write.mode("append").parquet(
            corpus_path
        )
        if report_path is not None:
            pruned.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(report_path)
        V.commit(
            updated, df_index_path, mode="overwrite", expected_base=version,
            meta=new_meta,
        )

    return process


def hygiene_intake_sink(
    corpus_path: str,
    id_col: str,
    text_col: str,
    url_col: str | None = None,
    gate: Callable | None = None,
    canonicalize: bool = True,
    nfkc: bool = False,
    report_path: str | None = None,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    banned_line_words: tuple[str, ...] = ("javascript",),
    banned_doc_substrings: tuple[str, ...] = ("{", "lorem ipsum"),
    scripts: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink running the FUSED hygiene gate at intake —
    the point in a continuous pipeline where the published-recipe filters
    actually run (before any index-building dedup stage touches the
    text): optional NFKC (Arrow stage), canonicalize (JVM expression),
    then :func:`~data_etl_with_dbt_spark.operators.textan.
    hygiene_signals` in ONE scan of the batch; survivors are appended to
    ``corpus_path`` with the C4-cleaned body replacing ``text_col`` and
    every other input column preserved, and the full per-doc signal
    relation (+ ``batch_id``) optionally appends to ``report_path`` —
    the audit trail a curation team replays gate decisions from.

    ``gate`` is a callable ``DataFrame -> Column`` evaluated against the
    fused signal relation (so any combination of the C4 verdict, script
    counts, RedPajama signals, and URL-shape columns gates intake);
    default: ``F.col('doc_kept')`` — the C4 page rule.

    STATELESS by design — unlike the minhash/substring/boilerplate
    sinks there is no cross-batch index, so there is no read-then-append
    lineage trap and no replay corruption mode: an at-least-once
    re-delivery duplicates survivor rows at worst (dedupable downstream
    on ``id_col``), and N batches == one shot unconditionally, not just
    under ascending-id arrival. Per-batch cost is the fused relation's
    ONE scan of the batch plus one id-keyed (batch-sized, AQE-
    broadcastable) join reassembling survivors — and that join's left
    side is the RAW batch, not the normalized plan: ``mapInPandas``
    blocks column pruning, so joining against the NFKC'd lineage would
    re-run the Arrow Python stage a second time per batch (see
    :func:`hygiene_batch_relations`)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        hs, survivors = hygiene_batch_relations(
            batch,
            id_col,
            text_col,
            url_col=url_col,
            gate=gate,
            canonicalize=canonicalize,
            nfkc=nfkc,
            checkpoint_signals=report_path is not None,
            min_words_per_line=min_words_per_line,
            min_sentences=min_sentences,
            banned_line_words=banned_line_words,
            banned_doc_substrings=banned_doc_substrings,
            scripts=scripts,
        )
        survivors.write.mode("append").parquet(corpus_path)
        if report_path is not None:
            hs.drop("cleaned_text").withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(report_path)

    return process


def hygiene_batch_relations(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    url_col: str | None = None,
    gate: Callable | None = None,
    canonicalize: bool = True,
    nfkc: bool = False,
    checkpoint_signals: bool = False,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    banned_line_words: tuple[str, ...] = ("javascript",),
    banned_doc_substrings: tuple[str, ...] = ("{", "lorem ipsum"),
    scripts: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build one intake batch's ``(signals, survivors)`` relations —
    the per-batch plan :func:`hygiene_intake_sink` writes from, exposed
    so its shape can be plan-asserted outside a stream.

    The survivor reassembly joins the gated ``(id, cleaned_text)`` rows
    back against the RAW ``batch``'s non-text columns, NOT against the
    normalized ``work`` lineage: normalization touches only
    ``text_col`` (which the join side drops anyway), and ``work``'s
    lineage contains the ``nfkc_normalize`` ``mapInPandas`` stage,
    which Catalyst cannot prune columns through — joining against it
    would execute the Arrow Python normalization TWICE per batch (once
    for the signal relation, once for the survivor join's left side).
    Pinned by ``tests/test_streaming.py::
    test_hygiene_survivor_plan_runs_python_stage_once``.

    ``checkpoint_signals=True`` eagerly materializes the signal
    relation so two downstream actions (survivor append + report
    append) run the fused projection once."""
    from ..operators.textan import (
        canonicalize_text_expr,
        hygiene_signals,
        nfkc_normalize,
    )

    work = batch
    if nfkc:
        work = nfkc_normalize(work, id_col, text_col)
    if canonicalize:
        work = work.withColumn(
            text_col,
            canonicalize_text_expr(F.coalesce(F.col(text_col), F.lit(""))),
        )
    hs = hygiene_signals(
        work,
        id_col,
        text_col,
        url_col=url_col,
        min_words_per_line=min_words_per_line,
        min_sentences=min_sentences,
        banned_line_words=banned_line_words,
        banned_doc_substrings=banned_doc_substrings,
        scripts=scripts,
        emit_text=True,
    )
    if checkpoint_signals:
        hs = materialize(hs, eager=True)
    keep = F.col("doc_kept") if gate is None else gate(hs)
    kept = hs.where(keep).select(id_col, "cleaned_text")
    survivors = batch.drop(text_col).join(kept, on=id_col).withColumnRenamed(
        "cleaned_text", text_col
    )
    return hs, survivors


def substring_intake_sink(
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    unit: str = "token",
    regions_ledger_path: str | None = None,
    emit_text: bool = True,
    bloom_expected_keys: int | None = None,
    bloom_fpp: float = 0.01,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink running the FULL Lee-et-al. exact-substring
    dedup pipeline in continuous intake — the streaming composition of
    :func:`~data_etl_with_dbt_spark.operators.dedup.
    incremental_exact_substring_regions` (region extraction against the
    accumulated shingle-hash index) and :func:`~data_etl_with_dbt_spark.
    operators.dedup.remove_duplicate_regions` (the cut), the way
    :func:`minhash_intake_sink` streams the MinHash family.

    Per micro-batch: judge the batch's stride-1 shingles against the
    versioned hash index at ``index_path`` (earlier batches never
    re-read), CUT every duplicate region out of the batch's documents,
    append the cleaned documents ``(id, n_*, n_*_removed, cleaned_hash
    [, cleaned_text])`` to ``corpus_path``, optionally append the
    regions (+ ``batch_id``) to ``regions_ledger_path``, and commit the
    batch's first-seen hashes as one atomic version of the index.

    State discipline: the index is a :mod:`sources.versioned` table —
    the snapshot read pins a manifest's exact file list, so a task-retry
    recompute of the cut plan can NOT see the hashes this same batch
    appends (the read-then-append lineage trap is structurally absent;
    no checkpoint guard needed on the index path). Every index commit
    records the recipe (``span_tokens``, ``unit``) in its manifest meta,
    and :func:`_check_recipe` fails loudly when a sink with a different
    recipe points at an existing index — hashes are incomparable across
    recipes (the minhash_intake_sink convention).

    Equivalence contract (pinned in tests): with batches arriving in
    ascending ``id`` order, the unioned per-batch cut output EQUALS the
    one-shot ``exact_substring_regions`` + ``remove_duplicate_regions``
    over all batches together — regions for a doc are fully determined
    in the doc's own batch, so batch boundaries are invisible. Under any
    other arrival order, as-of-arrival semantics apply (earlier batches
    are never retroactively cut — inherent to incremental ingestion).

    Scale: per batch the work is the incremental operator's (constant-
    width hash rows ride the shuffles, never span text) + one id-keyed
    cut join; the index grows by first-seen shingle cardinality and the
    commit appends only new hashes. At 100 TB set
    ``bloom_expected_keys`` (projected corpus shingle cardinality): the
    sink then maintains a Bloom word-table sidecar
    (``<index_path>__bloom``, a :mod:`sources.versioned` table of
    ``(word_index, bits)`` rows bounded by m/64 per commit) covering
    every hash ever committed to the index, and each batch's distinct
    hashes probe the BROADCAST bitmap first so the accumulated index is
    pruned to the bloom's "maybe" candidates before the operator's join
    — the index is scanned, never shuffled. The write order makes the
    invariant one-directional: bloom words commit BEFORE index hashes,
    so a crash between the two leaves the bloom a superset of the index
    (false positives = wasted exact-join work, never a missed duplicate
    — zero false negatives by construction, pinned in tests). Coverage
    is the index manifest's ``bloom`` flag; when the latest manifest
    lacks it (the sink ran with the bloom disabled, or another writer
    appended), the next bloom-enabled batch backfills the word table
    from the full index snapshot before probing. A (num_bits,
    num_hashes) mismatch against the sidecar's own meta raises — bit
    positions are incomparable across sizings (see
    :func:`_bloom_words`). Run
    ``sources.versioned.compact`` on a schedule for both the index and
    the bloom sidecar (dedupe + single-version rewrite + vacuum;
    conflict-checked against concurrent batch appends, and transparent
    to the sink — pinned in tests/test_versioned.py).

    Replay: a batch whose index commit landed is skipped (the replay
    mark in the index meta). A batch re-delivered after a crash BETWEEN
    the corpus append and the index commit re-runs against the
    pre-batch index (the commit never landed), producing the same
    cleaned rows — duplicated in the corpus, dedupable downstream on
    ``id``. The write ORDER is deliberate: committing the index first
    would make the replay see the batch's own hashes and mis-cut its
    text as duplicate — corpus-first turns the failure into harmless
    duplication instead of corruption."""
    from ..operators.dedup import (
        _unit_axis,
        incremental_exact_substring_regions,
        remove_duplicate_regions,
    )

    _unit_axis(unit)  # validate: token | sentence | paragraph
    recipe = {"span_tokens": int(span_tokens), "unit": unit}
    index_schema = T.StructType([T.StructField("span_hash", T.LongType())])
    bloom_path = index_path.rstrip("/") + "__bloom"

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(index_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        _check_recipe(index_path, version, meta, recipe)
        index = _snapshot(spark, index_path, version, index_schema)
        if bloom_expected_keys is not None:
            words, m, k, add_bloom = _bloom_words(
                spark, bloom_path, index, version, meta,
                lambda hashes: hashes.select("span_hash"),
                bloom_expected_keys, bloom_fpp,
            )
            regions, new_hashes = incremental_exact_substring_regions(
                batch, index, id_col, text_col,
                span_tokens=span_tokens, unit=unit,
                index_bloom=words, bloom_bits=m, bloom_hashes=k,
                # the shingle relation now has a third consumer (the
                # bloom probe's candidate set) on top of regions and
                # new_hashes — materialize it once
                checkpoint=True,
            )
        else:
            regions, new_hashes = incremental_exact_substring_regions(
                batch, index, id_col, text_col,
                span_tokens=span_tokens, unit=unit, checkpoint=True,
            )
        # the batch's first-seen hashes feed two commits (bloom + index)
        # on top of the region consumers — pin them once
        new_hashes = materialize(new_hashes)
        # two consumers below (the cut join and the ledger append) and no
        # cross-consumer CSE — materialize the merged regions once
        regions = materialize(regions)
        cleaned = remove_duplicate_regions(
            batch, regions, id_col, text_col,
            emit_text=emit_text, unit=unit,
        )
        # corpus/ledger appends go to OTHER paths; the index read is
        # manifest-pinned, so ordering here is retry-safe throughout
        cleaned.write.mode("append").parquet(corpus_path)
        if regions_ledger_path is not None:
            regions.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(regions_ledger_path)
        if bloom_expected_keys is not None:
            # bloom BEFORE index: a crash between the two leaves the bloom
            # a superset of the index (false positives only) — committing
            # the index first could leave committed hashes the bloom never
            # covers, i.e. false negatives on the next batch
            add_bloom(new_hashes)
            new_meta["bloom"] = True
        V.commit(
            new_hashes.select("span_hash"), index_path, mode="append",
            expected_base=version, meta={**new_meta, "recipe": recipe},
        )

    return process


def chunk_intake_sink(
    index_path: str,
    corpus_path: str,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    stride: int = 384,
    emit_text: bool = True,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink running CHUNK-level exact dedup in continuous
    intake — the chunk-granularity member of the Lee-pipeline sink family
    (:func:`substring_intake_sink` cuts duplicate REGIONS out of
    documents; this one drops whole duplicate CHUNKS before they reach
    the embedding stage): each batch is chunked by
    :func:`~data_etl_with_dbt_spark.operators.textan.chunk_documents`
    (overlapping in-document windows), every chunk body is hashed, and a
    chunk survives only if its hash is neither in the versioned
    chunk-hash index (seen in an earlier batch) nor earlier within this
    batch (keep-first by ``(id, chunk_id)``). Survivors append to
    ``corpus_path`` with their placement columns (+ ``chunk_text`` when
    ``emit_text``); the batch's first-seen hashes commit as one atomic
    index version.

    State discipline is the substring sink's: the index is a
    :mod:`sources.versioned` table (snapshot reads pin a manifest — the
    read-then-append lineage trap is structurally absent), the recipe
    (``chunk_tokens``, ``stride``) rides in every index commit's meta and
    fails loudly on a mismatched sink, a committed batch replays as a
    no-op, and with batches arriving in ascending ``id``
    order the unioned survivor set EQUALS the one-shot global
    keep-first over all batches (chunks never span documents, so batch
    boundaries are invisible — pinned in tests). Replay caveat as ever:
    corpus-first write order turns an at-least-once re-delivery into
    harmless survivor duplication (dedupable on ``(id, chunk_id)``),
    never a mis-drop.

    Scale: chunking is a zero-shuffle projection; dedup exchanges carry
    ``(id, chunk_id, hash)`` — the HASH rides the shuffle, never chunk
    text (text rejoins by id-keyed join only for the survivor write);
    the index grows by first-seen chunk cardinality and supports
    ``sources.versioned.compact`` maintenance."""
    from pyspark.sql import Window

    from ..operators.textan import chunk_documents

    if stride < 1 or stride > chunk_tokens:
        raise ValueError(
            f"stride must be in [1, chunk_tokens]: stride={stride} "
            f"chunk_tokens={chunk_tokens}"
        )
    recipe = {"chunk_tokens": int(chunk_tokens), "stride": int(stride)}
    index_schema = T.StructType([T.StructField("chunk_hash", T.LongType())])

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(index_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        _check_recipe(index_path, version, meta, recipe)
        index = _snapshot(spark, index_path, version, index_schema)
        chunks = chunk_documents(
            batch, id_col, text_col,
            chunk_tokens=chunk_tokens, stride=stride, emit_text=True,
        )
        hashed = chunks.withColumn(
            "chunk_hash", F.xxhash64(F.col("chunk_text"))
        )
        if not emit_text:
            # the hash is computed; nothing downstream reads the text —
            # dropping it BEFORE the checkpoint keeps ~1.5x corpus bytes
            # (overlapping chunks) out of the materialization (r11)
            hashed = hashed.drop("chunk_text")
        w = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_id")
        idx = index.select(
            "chunk_hash", F.lit(True).alias("__seen")
        ).dropDuplicates(["chunk_hash"])
        marked = (
            hashed.withColumn("__rn", F.row_number().over(w))
            .join(idx, "chunk_hash", "left")
        )
        # the survivor write and the index commit are two consumers of
        # the chunk/window pass — materialize it once
        marked = materialize(marked)
        survivors = marked.where(
            (F.col("__rn") == 1) & F.col("__seen").isNull()
        ).drop("__rn", "__seen")
        survivors.write.mode("append").parquet(corpus_path)
        new_hashes = (
            marked.where((F.col("__rn") == 1) & F.col("__seen").isNull())
            .select("chunk_hash")
            .dropDuplicates(["chunk_hash"])
        )
        V.commit(
            new_hashes, index_path, mode="append", expected_base=version,
            meta={**new_meta, "recipe": recipe},
        )

    return process


def recrawl_seed_sink(
    seeds_path: str,
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining the recrawl SEED state — one row
    per URL with the MAX publisher-declared lastmod seen so far — across
    sitemap-delta micro-batches, on a :mod:`sources.versioned` table (the
    daily incremental loop of ``sources.robots.recrawl_schedule``, built
    like :func:`cdc_replication_sink`: state lives in the table, each
    batch merges only state ∪ delta, and PAST deltas are never re-read).

    Per batch: reduce the delta to per-URL max lastmod (map-side, batch-
    sized), anti-compare against the current snapshot, and merge ONLY the
    rows that change state — a brand-new URL, or a strictly newer lastmod
    (NULL lastmod never beats a declared one; a URL first seen with NULL
    keeps its row so never_fetched classification still fires). The merge
    is one atomic ``merge_commit``, so a reader (the scheduler computing
    ``recrawl_schedule(state, snapshot, now)``) sees whole batches or
    nothing, the read side pins a manifest (retry recomputes can't see
    later commits — the read-then-append lineage trap is structurally
    absent), and the version history is the sitemap-ingest audit trail.

    Equivalence contract (pinned in tests/test_streaming.py):
    ``recrawl_schedule`` over the state after N delta batches equals the
    one-shot schedule over all deltas unioned — max-lastmod is
    associative, so batch boundaries are invisible. At 100 TB the state
    is URL-cardinality (one row per known URL) and each batch costs
    O(state + delta): the copy-on-write merge_commit becomes a
    partition-scoped MERGE on a transactional table at warehouse scale."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(seeds_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        delta = (
            batch.select(
                F.col(loc_col).alias("url"),
                F.to_timestamp(F.col(lastmod_col)).alias("lastmod"),
            )
            .groupBy("url")
            .agg(F.max("lastmod").alias("lastmod"))
        )
        if version:
            cur = V.read_version(spark, seeds_path, version).select(
                "url",
                F.col("lastmod").alias("__old"),
                F.lit(True).alias("__has"),
            )
            joined = delta.join(cur, "url", "left")
            upserts = joined.where(
                F.col("__has").isNull()  # brand-new URL
                | (
                    F.col("lastmod").isNotNull()
                    & (
                        F.col("__old").isNull()
                        | (F.col("lastmod") > F.col("__old"))
                    )
                )
            ).select(
                "url",
                # greatest ignores NULLs: keeps the newer declared lastmod
                F.greatest("lastmod", "__old").alias("lastmod"),
            )
        else:
            upserts = delta
        if version and upserts.isEmpty():
            return  # nothing changed state: keep the version history clean
        V.merge_commit(upserts, seeds_path, key="url", meta=new_meta)

    return process


def versioned_sink(table_path: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink committing each micro-batch as one ATOMIC
    version of a :mod:`sources.versioned` table: a concurrent reader
    resolves whole batches or nothing — never the partial part-file state
    a plain ``mode('append')`` parquet sink exposes mid-write. Each commit
    carries the replay mark, so a re-delivered batch whose commit landed
    appends nothing (exactly-once with the stream's checkpoint), and the
    version history doubles as a per-batch audit trail with time travel."""

    def process(batch: DataFrame, batch_id: int) -> None:
        version, meta = V.latest(table_path)
        new_meta = _state_meta(batch.sparkSession, meta, batch_id)
        if new_meta is not None:
            V.commit(
                batch, table_path, mode="append", expected_base=version,
                meta=new_meta,
            )

    return process


def drift_monitor_sink(
    baseline: DataFrame,
    column: str,
    ledger_path: str,
    n_bins: int = 20,
    chi2_alarm: float = 40.0,
):
    """``foreachBatch`` drift monitor: freeze the BASELINE distribution of
    one column (bin grid from its min/max + per-bin proportions — computed
    once, bin-count-sized driver state), then score every micro-batch's
    chi-square goodness-of-fit against it and append one verdict row
    ``(batch_id, n_rows, chi_square, max_bin_dev, alarm)`` to a ledger
    table. The production-side twin of the batch two_sample_drift query:
    data never leaves the engine except the ≤ n_bins count rows per batch
    (the psi_drift convention), and the ledger is the queryable alarm
    history.

    ``chi2_alarm`` is the alarm threshold on the statistic (for reference,
    chi-square .999 quantile at 19 dof ≈ 43.8); batches smaller than the
    bin count score but never alarm (too little evidence). NULL values
    carry no distribution signal and are EXCLUDED from binning (floor of
    a NULL division would otherwise slip through greatest() into bin 0,
    spiking — or masking — the statistic); a constant-valued baseline
    degenerates to one bin with step=1, so any value drift lands in a
    different bin and still alarms."""
    row = baseline.where(F.col(column).isNotNull()).agg(
        F.min(column).alias("vmin"), F.max(column).alias("vmax")
    ).first()
    if row.vmin is None:
        raise ValueError(
            f"drift_monitor_sink: baseline has no non-NULL {column!r} rows"
        )
    vmin, vmax = float(row.vmin), float(row.vmax)
    step = (vmax - vmin) / float(n_bins) or 1.0  # constant baseline: 1 bin

    def bin_counts(df: DataFrame) -> dict[int, int]:
        binned = df.where(F.col(column).isNotNull()).select(
            F.least(
                F.greatest(
                    F.floor((F.col(column) - F.lit(vmin)) / F.lit(step)), F.lit(0)
                ),
                F.lit(n_bins - 1),
            ).alias("bin")
        )
        return {
            r.bin: r.n
            for r in binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    base = bin_counts(baseline)
    base_total = sum(base.values())
    base_prop = {b: c / base_total for b, c in base.items()}

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        got = bin_counts(batch)
        n = sum(got.values())
        chi2 = 0.0
        max_dev = 0.0
        for b in range(n_bins):
            p = base_prop.get(b, 0.0)
            e = n * p
            o = got.get(b, 0)
            if e > 0:
                chi2 += (o - e) * (o - e) / e
            elif o:
                chi2 = float("inf")  # mass where the baseline had none
            if n:
                max_dev = max(max_dev, abs(o / n - p))
        alarm = bool(n >= n_bins and chi2 > chi2_alarm)
        driver_rows_df(
            spark,
            [(int(batch_id), int(n), float(chi2), float(max_dev), alarm)],
            "batch_id long, n_rows long, chi_square double, max_bin_dev double, alarm boolean",
        ).write.mode("append").parquet(ledger_path)

    return process


def kmv_rollup_sink(
    sketch_path: str,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining per-group KMV/theta sketches
    across micro-batches — streaming DISTINCT-count (and set-intersection)
    monitoring with ≤ k rows per group persisted in the TABLE.

    KMV is a lattice merge (keep the k smallest hashes), not an additive
    one, so it gets its own sink rather than composing with
    :func:`additive_rollup_sink`: per batch, ``kmv_build`` reduces the
    batch to sketch rows and ``kmv_merge`` folds them into the snapshot.
    Like every lattice/linear sketch, N streamed batches produce EXACTLY
    the sketch of the concatenated input (asserted in tests) — restarts
    and re-deliveries of whole batches are idempotent for free, because
    merging a subset of already-present hashes changes nothing. The table
    is a :mod:`sources.versioned` snapshot, merged from its pinned latest
    version and committed as one atomic overwrite per batch."""
    from ..operators.sketch import kmv_build, kmv_merge

    groups = list(group_cols or [])

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(sketch_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        merged = kmv_build(batch, key_col, k=k, group_cols=groups)
        if version:
            existing = V.read_version(spark, sketch_path, version)
            merged = kmv_merge(existing, merged, k=k, group_cols=groups)
        V.commit(
            merged, sketch_path, mode="overwrite", expected_base=version,
            meta=new_meta,
        )

    return process


def hash_sample_sink(
    sample_path: str, key_col: str, rate: float
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink maintaining a deterministic corpus sample:
    each micro-batch's ``hash_sample`` rows APPEND to the sample table.
    Because membership is a pure function of the key (md5 threshold), the
    union of per-batch samples IS the sample of the union — so quantiles,
    means, and rates computed from the table at any moment equal the batch
    computation over everything ingested so far (asserted in tests), and
    re-delivered batches can only append rows that are exact duplicates
    (drop with a downstream distinct if the source can replay)."""
    from ..operators.sketch import hash_sample

    def process(batch: DataFrame, batch_id: int) -> None:
        hash_sample(batch, key_col, rate).write.mode("append").parquet(
            sample_path
        )

    return process


def cdc_replication_sink(
    snapshot_path: str,
    row_schema: str,
    key: str,
    value_col: str = "value",
    strict_seq: bool = False,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink replicating a Debezium CDC stream into a
    queryable snapshot table — the complete log-replication consumer:
    each micro-batch of raw envelopes is parsed
    (:func:`~data_etl_with_dbt_spark.operators.relational.parse_debezium`,
    explicit schema), net-applied
    (:func:`~data_etl_with_dbt_spark.operators.relational.apply_cdc` —
    per-key latest wins inside the batch, deletes drop, upserts replace),
    and the snapshot is atomically rewritten.

    Correctness properties the tests pin:

    * **prefix-consistency** — after N batches the table equals applying
      all N batches' changes at once (apply_cdc's per-key-latest is
      associative across batches when sequence numbers are monotone)
    * **replay-idempotence** — re-delivering ANY already-applied batch
      (at-least-once delivery, checkpoint rollback) is a no-op: a
      sequence WATERMARK + boundary content-hash set rides in the
      snapshot's manifest (:func:`_filter_replayed`), filtering applied records
      before the apply. Sound for monotone-but-non-strict sequences
      (Debezium ``ts_ms``): records below the watermark are applied by
      monotonicity; records AT it are applied iff their content hash is
      in the boundary set — so ties straddling a batch boundary neither
      drop new data nor replay old. Without the guard, replaying an old
      batch would resurrect keys a later batch deleted (caught by the
      test before the guard existed).

    ``strict_seq=True`` opts into the LSN contract instead: sequences must
    be strictly increasing across distinct records, and a violation that
    the stored watermark state can witness (two distinct changes at one
    sequence within a batch, or new content at the applied watermark
    sequence) raises rather than tie-breaking; reuse strictly below the
    watermark is indistinguishable from an at-least-once replay and drops
    as one — see :func:`_filter_replayed`.

    State: the replica is a :mod:`sources.versioned` table, and the
    sequence watermark and its boundary hash set live in the meta of the
    snapshot they describe — each batch reads the pinned latest version,
    applies, and commits replica + watermark as ONE atomic overwrite, so
    there is no window where one landed without the other. The version
    history time-travels (``read_version(path, v)`` shows the replica as
    of any batch), and a batch whose records were all applied commits
    nothing. At warehouse scale the rewrite becomes a partition-scoped
    MERGE into a transactional table."""
    from ..operators.relational import apply_cdc, parse_debezium

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        version, meta = V.latest(snapshot_path)
        new_meta = _state_meta(spark, meta, batch_id)
        if new_meta is None:
            return  # replay of a committed batch
        changes = parse_debezium(batch, value_col, row_schema).where(
            F.col(key).isNotNull()  # malformed envelopes parse to nulls
        )
        wm, boundary = meta.get("wm"), set(meta.get("boundary", []))
        guarded = _filter_replayed(changes, wm, boundary, strict_seq=strict_seq)
        guarded = materialize(guarded, eager=True)
        new_wm = guarded.agg(F.max("seq")).first()[0]
        if new_wm is None:
            return  # everything in the batch was already applied
        # the advanced watermark's boundary set; when the sequence did not
        # advance, the old set carries over and the new records join it
        hashes = {
            r["__h"]
            for r in guarded.where(F.col("seq") == F.lit(new_wm))
            .select("__h")
            .collect()
        }
        if new_wm == wm:
            hashes |= boundary
        changes = guarded.drop("__h")
        existing = _snapshot(
            spark, snapshot_path, version, changes.drop("op", "seq").schema
        )
        V.commit(
            apply_cdc(existing, changes, key, "seq"), snapshot_path,
            mode="overwrite", expected_base=version,
            meta={**new_meta, "wm": int(new_wm),
                  "boundary": sorted(int(h) for h in hashes)},
        )

    return process
