"""Continuous corpus intake — the streaming face of the engine's north-star
workload. Documents arrive as micro-batches; each batch is:

    1. scored by the hashed-feature quality classifier (JVM transform) —
       junk is rejected to a scored ledger before any shingling
    2. deduped against the PERSISTED MinHash signature index (never against
       raw corpus text); survivors append to the corpus, their signatures
       to the index, duplicate attributions to an audit ledger
    3. tallied into an additive rollup table (per-source accepted counts /
       token totals) — state in the TABLE, not stream state

Run:  python examples/streaming_intake.py [workdir]

Everything here is the tested library surface (`ml.quality`,
`streaming.intake`); this script is the wiring. The index and the
rollup are versioned tables (read them with `versioned.read_version`);
at production scale the parquet outputs become transactional tables and
the source becomes
Kafka/files-on-object-store; the micro-batch logic is unchanged.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from data_etl_with_dbt_spark import get_spark, ml
from data_etl_with_dbt_spark.sources import versioned as V
from data_etl_with_dbt_spark.streaming.intake import (
    additive_rollup_sink,
    minhash_intake_sink,
)

#: 200-word clean vocabulary — large enough that independent docs are NOT
#: accidental near-duplicates (a tiny vocab makes every doc overlap).
GOOD = [f"word{i:03d}" for i in range(200)]
#: one junk vocabulary shared by training and stream — an unseen-token junk
#: set would leave only the classifier's intercept to fire
JUNK = ["".join(c) for c in zip(*[iter("zqxkvjwzqkvxjwqzkxvjwzqxkvjqwzkxvjzwqxkvjwzqxkjvwzqxkvjwzqwe" * 3)] * 6)][:20]


def synth_batches(workdir: str, n_batches: int = 3, per_batch: int = 40):
    """Micro-batch files: mostly clean docs (some cross-batch duplicates),
    a junk tail per batch."""
    rng = random.Random(42)
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    spark = get_spark("streaming_intake")
    doc_id = 0
    dup_pool: list[str] = []
    for b in range(n_batches):
        rows = []
        for i in range(per_batch):
            if i % 5 == 4:
                text = " ".join(rng.choice(JUNK) for _ in range(30))
                source = "crawl_junk"
            elif dup_pool and i % 7 == 6:
                text = rng.choice(dup_pool)  # cross-batch duplicate
                source = f"src{b}"
            else:
                text = " ".join(rng.choice(GOOD) for _ in range(30 + i % 7))
                dup_pool.append(text)
                source = f"src{b}"
            rows.append((doc_id, source, text))
            doc_id += 1
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{b}")
    now = time.time()
    for i in range(n_batches):
        for f in glob.glob(f"{src}/b{i}/*.parquet"):
            os.utime(f, (now + 10 * i, now + 10 * i))
    return spark, src


def main(workdir: str) -> None:
    spark, src = synth_batches(workdir)

    # weak-label bootstrap for the gate: junk shares the stream's junk vocab
    rng = random.Random(7)
    labeled = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(GOOD if i % 2 == 0 else JUNK) for _ in range(30)),
             float(1 - i % 2))
            for i in range(60)
        ],
        "doc_id long, text string, label double",
    )
    model = ml.train_quality_classifier(labeled, num_features=1 << 14, max_iter=20)

    corpus = os.path.join(workdir, "corpus")
    dedup_sink = minhash_intake_sink(
        index_path=os.path.join(workdir, "index"),
        corpus_path=corpus,
        id_col="doc_id",
        text_col="text",
        threshold=0.5,
        quality_model=model,
        reject_ledger_path=os.path.join(workdir, "rejects"),
        dup_ledger_path=os.path.join(workdir, "dups"),
    )
    rollup = additive_rollup_sink(
        os.path.join(workdir, "rollup"),
        keys=["source"],
        sum_cols=["docs", "tokens"],
        pre_aggregate=lambda b: b.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", r"\s+"))).alias("tokens"),
        ),
    )

    def process(batch, batch_id):
        dedup_sink(batch, batch_id)
        rollup(batch, batch_id)

    t0 = time.time()
    q = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise SystemExit(
            "stream did not drain within 300 s (contended host?) — the "
            "accounting below would read partial state"
        )
    wall = time.time() - t0

    n_in = spark.read.parquet(f"{src}/b*").count()
    n_corpus = spark.read.parquet(corpus).count()
    n_rej = spark.read.parquet(os.path.join(workdir, "rejects")).count()
    n_dup = (
        spark.read.parquet(os.path.join(workdir, "dups"))
        .select("doc_id").distinct().count()
    )
    print(f"\nstreamed {n_in} docs in {wall:.1f} s:")
    print(f"  kept in corpus     {n_corpus:>5}")
    print(f"  rejected (quality) {n_rej:>5}")
    print(f"  suppressed (dup)   {n_dup:>5}")
    assert n_corpus + n_rej + n_dup == n_in
    print("\nper-source intake rollup (additive table, queryable mid-stream):")
    rollup_state = V.read_version(spark, os.path.join(workdir, "rollup"))
    for r in rollup_state.orderBy("source").collect():
        print(f"  {r.source:<12} docs={r.docs:<4} tokens={r.tokens}")


if __name__ == "__main__":
    wd = sys.argv[1] if len(sys.argv) > 1 else "/tmp/streaming_intake"
    main(wd)
