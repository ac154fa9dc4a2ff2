"""``stream_intake``: seeded micro-batch files of documents (clean text,
cross-batch duplicates, junk) drained with ``availableNow`` through
``foreachBatch(minhash_intake_sink + additive_rollup_sink)`` behind the
quality gate; the MinHash index grows across batches.

A fixed per-batch cost dominates here (sink jobs, checkpoints, marker
writes), which ``taxi_dag`` bypasses entirely. One op is one
micro-batch trigger, timed by Spark's own ``triggerExecution``; every
stream run gets a fresh index, corpus, ledgers and checkpoint.
"""

from __future__ import annotations

import os
import time
from statistics import median

from perfbench import datagen
from perfbench.common import dir_bytes
from perfbench.trace import streaming_listener

#: (micro-batches, documents per batch) per size; the untimed warm-up run
#: drains one batch of WARM_DOCS documents of its own (the cold cost of a
#: first stream run is per batch, not per document)
SHAPE = {"full": (3, 200), "tiny": (2, 50)}
WARM_DOCS = 40
#: timed stream runs per run
UNITS = 1
STREAM_TIMEOUT_S = 120


def setup(b) -> dict:
    from data_etl_with_dbt_spark import ml

    n_batches, per_batch = SHAPE[b.size]
    batches = datagen.stream_docs(b.seed, n_batches, per_batch)
    src = os.path.join(b.work, "input")
    datagen.write_stream_batches(src, batches)
    warm = datagen.stream_docs(b.seed + 1, 1, WARM_DOCS)
    warm_src = os.path.join(b.work, "warm_input")
    datagen.write_stream_batches(warm_src, warm)
    labeled = b.spark.createDataFrame(
        datagen.quality_training_docs(b.seed), "doc_id long, text string, label double")
    model = ml.train_quality_classifier(labeled, num_features=1 << 14, max_iter=5)
    progress: list[dict] = []
    streaming_listener(b.spark, progress)
    def shape(bs, path):
        rows = [r for rows in bs for r in rows]
        junk = sum(1 for _i, s, _t in rows if s == "crawl_junk")
        copies = len(rows) - junk - len({t for _i, s, t in rows if s != "crawl_junk"})
        return {"src": path, "docs": len(rows), "n_batches": len(bs),
                "input_bytes": dir_bytes(path),
                "expected": (len(rows) - junk - copies, junk, copies)}

    return {"model": model, "progress": progress, "run": 0,
            "timed": shape(batches, src), "warm": shape(warm, warm_src)}


def warm_up(b, st: dict) -> None:
    _stream_run(b, st, st["warm"])


def unit(b, st: dict) -> None:
    """One stream run from scratch over every micro-batch file."""
    _stream_run(b, st, st["timed"])


def _sinks(b, st, rdir):
    from pyspark.sql import functions as F

    from data_etl_with_dbt_spark.streaming.intake import additive_rollup_sink, minhash_intake_sink

    dedup = minhash_intake_sink(
        index_path=os.path.join(rdir, "index"), corpus_path=os.path.join(rdir, "corpus"),
        id_col="doc_id", text_col="text", threshold=0.5, quality_model=st["model"],
        reject_ledger_path=os.path.join(rdir, "rejects"),
        dup_ledger_path=os.path.join(rdir, "dups"))
    rollup = additive_rollup_sink(
        os.path.join(rdir, "rollup"), keys=["source"], sum_cols=["docs", "tokens"],
        pre_aggregate=lambda df: df.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", r"\s+"))).alias("tokens")))
    def process(batch, batch_id):
        if b.tracer is not None:
            b.tracer.op = f"batch-{st['run']}-{batch_id}"
            b.job_group(b.tracer.op, "micro-batch")
        with b.span("streaming.dedup_sink"):
            dedup(batch, batch_id)
        with b.span("streaming.rollup_sink"):
            rollup(batch, batch_id)

    return process


def _stream_run(b, st: dict, inp: dict) -> None:
    spark = b.spark
    st["run"] += 1
    rdir = os.path.join(b.work, f"run{st['run']}")
    process = _sinks(b, st, rdir)
    seen = len(st["progress"])
    with b.timed():
        q = (spark.readStream.schema("doc_id long, source string, text string")
             .option("maxFilesPerTrigger", 1).parquet(inp["src"])
             .writeStream.foreachBatch(process)
             .option("checkpointLocation", os.path.join(rdir, "ckpt"))
             .trigger(availableNow=True).start())
        finished = q.awaitTermination(STREAM_TIMEOUT_S)
    if not finished:
        q.stop()
    # progress events arrive asynchronously on the listener bus
    deadline = time.monotonic() + 30
    while finished and time.monotonic() < deadline and _batches(st, seen) < inp["n_batches"]:
        time.sleep(0.05)
    events = [e for e in st["progress"][seen:] if e["rows"] > 0]
    recs = [b.record("batch", e["ms"]["triggerExecution"] / 1000.0) for e in events]
    b.rows_done += inp["docs"]
    if not finished:
        why = f"stream did not drain within {STREAM_TIMEOUT_S} s"
    elif q.exception() is not None or len(events) != inp["n_batches"]:
        why = f"{len(events)} of {inp['n_batches']} batches ran: {q.exception()}"
    else:
        why = _check(b, inp, rdir)
    if why:
        for rec in recs or [b.record("batch", b.timed_s)]:
            b.fail(rec, why)
    b.write_amp.append(dir_bytes(rdir) / inp["input_bytes"])
    for key in ("triggerExecution", "addBatch", "queryPlanning", "walCommit"):
        b.layer_add(f"streaming.{key}", median([e["ms"].get(key, 0) / 1000.0 for e in events] or [0.0]))
    b.layer_add("streaming.index_bytes", dir_bytes(os.path.join(rdir, "index")))


def _batches(st, seen) -> int:
    return sum(1 for e in st["progress"][seen:] if e["rows"] > 0)


def _check(b, inp, rdir):
    """kept + rejected + suppressed == input, and each count equal to what
    the generator made: junk is rejected, repeated clean text suppressed."""
    b.checks += 1
    read = b.spark.read.parquet
    kept = read(os.path.join(rdir, "corpus")).count()
    rejected = read(os.path.join(rdir, "rejects")).count()
    suppressed = read(os.path.join(rdir, "dups")).select("doc_id").distinct().count()
    got = (kept, rejected, suppressed)
    b.layer_add("streaming.kept_ratio", kept / inp["docs"])
    if sum(got) != inp["docs"]:
        return f"kept+rejected+suppressed={got} != {inp['docs']} docs"
    if got != inp["expected"]:
        return f"(kept, rejected, suppressed)={got}, generated {inp['expected']}"
    return None


