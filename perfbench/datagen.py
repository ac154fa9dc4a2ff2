"""Seeded input generators of ``taxi_dag`` and ``stream_intake``.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, a different seed gives different values with the same
row counts, so timings are comparable across seeds while the data changes.
The program under test only ever sees the files these functions write.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAXI_HEADER = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
    "trip_distance", "pickup_longitude", "pickup_latitude", "RateCodeID",
    "store_and_fwd_flag", "dropoff_longitude", "dropoff_latitude", "payment_type",
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "improvement_surcharge", "total_amount",
]


def taxi_csv(path: str, seed: int, n_rows: int) -> dict[str, int]:
    """A taxi-shaped CSV (FIXTURES.md section 1) of exactly ``n_rows`` rows.

    ~97% are valid trips with distinct keys; the rest are the must-include
    adversarial rows, in fixed counts so the expected ``core_texi`` size is
    known without running the engine:

    * exact duplicates and tip-only variants of valid rows (collapse to one),
    * NULL pickup or dropoff timestamps, zero and negative durations,
      speeds above 300 mph (all dropped),
    * NULL ``dropoff_longitude`` on otherwise valid rows (kept: the
      surrogate key treats NULL parts as empty strings).

    Returns ``{"rows": n_rows, "expected_core": ...}``.
    """
    rng = np.random.default_rng(seed)
    k = max(n_rows // 200, 1)  # rows per adversarial class
    n_valid = n_rows - 7 * k
    t0 = 1_420_070_400  # 2015-01-01 00:00:00 UTC
    # distinct pickup seconds make every valid row's key unique
    pickup = t0 + rng.choice(31 * 86_400, n_valid, replace=False)
    dur = rng.integers(120, 3600, n_valid)
    dist = np.round(rng.uniform(0.3, 25.0, n_valid), 2)
    # cap speed well under 300 mph for valid rows
    dist = np.minimum(dist, np.floor(dur / 3600.0 * 250.0 * 100) / 100)
    dist = np.maximum(dist, 0.01)
    fare = np.round(2.5 + dist * 2.5 + rng.uniform(0, 5, n_valid), 2)
    cols = {
        "VendorID": rng.integers(1, 3, n_valid),
        "pickup": pickup,
        "dropoff": pickup + dur,
        "passenger_count": rng.integers(0, 10, n_valid),
        "trip_distance": dist,
        "pickup_longitude": np.round(-74.0 + rng.normal(0, 0.03, n_valid), 6),
        "pickup_latitude": np.round(40.7 + rng.normal(0, 0.03, n_valid), 6),
        "RateCodeID": rng.integers(1, 7, n_valid),
        "store_and_fwd_flag": np.where(rng.random(n_valid) < 0.02, "Y", "N"),
        "dropoff_longitude": np.round(-74.0 + rng.normal(0, 0.03, n_valid), 6).astype(object),
        "dropoff_latitude": np.round(40.7 + rng.normal(0, 0.03, n_valid), 6),
        "payment_type": rng.integers(1, 3, n_valid),
        "fare_amount": fare,
        "extra": np.where(rng.random(n_valid) < 0.3, 0.5, 0.0),
        "mta_tax": np.full(n_valid, 0.5),
        "tip_amount": np.round(rng.uniform(0, 5, n_valid), 2),
        "tolls_amount": np.where(rng.random(n_valid) < 0.05, 5.54, 0.0),
        "improvement_surcharge": np.full(n_valid, 0.3),
    }
    cols["total_amount"] = np.round(
        cols["fare_amount"] + cols["extra"] + cols["mta_tax"] + cols["tip_amount"]
        + cols["tolls_amount"] + cols["improvement_surcharge"], 2)
    cols["pickup"] = cols["pickup"].astype(object)
    cols["dropoff"] = cols["dropoff"].astype(object)
    # NULL dropoff_longitude on k valid rows: kept
    cols["dropoff_longitude"][rng.choice(n_valid, k, replace=False)] = None
    valid = [dict(zip(cols, vals)) for vals in zip(*cols.values())]

    donors = rng.choice(n_valid, 7 * k, replace=False)
    extra_rows = []
    for cls in range(7):
        for j in donors[cls * k:(cls + 1) * k]:
            r = dict(valid[j])
            if cls == 0:  # exact duplicate
                pass
            elif cls == 1:  # same key, different tip
                r["tip_amount"] = round(r["tip_amount"] + 1.0, 2)
            elif cls == 2:  # NULL pickup
                r["pickup"] = None
            elif cls == 3:  # NULL dropoff
                r["dropoff"] = None
            elif cls == 4:  # zero duration (distinct key via the fare)
                r["dropoff"] = r["pickup"]
            elif cls == 5:  # negative duration
                r["dropoff"] = r["pickup"] - 60
            else:  # 50 miles in 5 minutes
                r["dropoff"] = r["pickup"] + 300
                r["trip_distance"] = 50.0
            if cls >= 4:
                r["fare_amount"] = round(r["fare_amount"] + 1000.0, 2)
            extra_rows.append(r)
    all_rows = valid + extra_rows
    order = rng.permutation(len(all_rows))

    def fmt(v):
        if v is None:
            return ""
        return str(v)

    def ts(v):
        if v is None:
            return ""
        return dt.datetime.fromtimestamp(int(v), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(",".join(TAXI_HEADER) + "\n")
        for i in order:
            r = all_rows[i]
            fh.write(",".join([
                fmt(r["VendorID"]), ts(r["pickup"]), ts(r["dropoff"]),
                fmt(r["passenger_count"]), fmt(r["trip_distance"]),
                fmt(r["pickup_longitude"]), fmt(r["pickup_latitude"]),
                fmt(r["RateCodeID"]), r["store_and_fwd_flag"],
                fmt(r["dropoff_longitude"]), fmt(r["dropoff_latitude"]),
                fmt(r["payment_type"]), fmt(r["fare_amount"]), fmt(r["extra"]),
                fmt(r["mta_tax"]), fmt(r["tip_amount"]), fmt(r["tolls_amount"]),
                fmt(r["improvement_surcharge"]), fmt(r["total_amount"]),
            ]) + "\n")
    return {"rows": len(all_rows), "expected_core": n_valid}


# -- stream micro-batches ----------------------------------------------------

STREAM_GOOD = [f"word{i:03d}" for i in range(200)]
STREAM_JUNK = [f"zq{c}x{d}" for c in "kvjw" for d in "qzkxv"]


def stream_docs(seed: int, n_batches: int, per_batch: int) -> list[list[tuple]]:
    """Micro-batches of ``(doc_id, source, text)``: every fifth document is
    junk (the quality gate rejects it), every seventh repeats the text of an
    earlier clean document (a cross-batch duplicate the MinHash index
    suppresses), the rest are fresh clean text."""
    rng = np.random.default_rng(seed)
    batches, pool, doc_id = [], [], 0
    for b in range(n_batches):
        rows = []
        for i in range(per_batch):
            if i % 5 == 4:
                text = " ".join(STREAM_JUNK[j] for j in rng.integers(0, len(STREAM_JUNK), 30))
                source = "crawl_junk"
            elif pool and i % 7 == 6:
                text, source = pool[int(rng.integers(0, len(pool)))], f"src{b % 4}"
            else:
                k = 30 + int(rng.integers(0, 8))
                text = " ".join(STREAM_GOOD[j] for j in rng.integers(0, 200, k))
                pool.append(text)
                source = f"src{b % 4}"
            rows.append((doc_id, source, text))
            doc_id += 1
        batches.append(rows)
    return batches


def quality_training_docs(seed: int, n: int = 60) -> list[tuple]:
    """Weak labels for the intake quality gate: clean vs junk vocabulary."""
    rng = np.random.default_rng(seed + 7)
    out = []
    for i in range(n):
        vocab = STREAM_GOOD if i % 2 == 0 else STREAM_JUNK
        text = " ".join(vocab[j] for j in rng.integers(0, len(vocab), 30))
        out.append((i, text, float(1 - i % 2)))
    return out


def write_stream_batches(src_dir: str, batches: list[list[tuple]]) -> None:
    """One flat parquet file per micro-batch, mtimes ascending so the file
    source (``maxFilesPerTrigger=1``) replays them in order."""
    import pandas as pd

    os.makedirs(src_dir, exist_ok=True)
    base = 1_700_000_000
    for b, rows in enumerate(batches):
        path = os.path.join(src_dir, f"b{b:04d}.parquet")
        pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (base + 10 * b, base + 10 * b))
