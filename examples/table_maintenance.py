"""Table maintenance — the layout half of running this engine at 100 TB.

A streaming/incremental sink leaves two problems on disk: many small files
(listing + task-scheduling overhead) and no cross-column clustering (parquet
min/max skipping only prunes on whichever column the writer happened to
order by). This example runs the maintenance pass that fixes both:

    1. simulate a fragmented versioned events table (40 small files)
    2. COMPACT it to size-targeted files (one atomic overwrite commit)
    3. rewrite it Z-ORDERED on (user_id, value) and show, from the parquet
       FOOTERS, how many files a selective filter on each dimension can
       skip — before vs after

Run:  python examples/table_maintenance.py [workdir]

Everything here is the tested library surface (`sources.versioned`,
`operators.layout`); this script is the wiring. On a transactional
lakehouse table the same pass is OPTIMIZE (bin-packing) + ZORDER BY; the
engine-side mechanics are identical.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_etl_with_dbt_spark import get_spark
from data_etl_with_dbt_spark.operators.layout import (
    skipping_stats,
    zorder_key,
    zorder_layout,
)
from data_etl_with_dbt_spark.sources import versioned as V


def files_overlapping(path: str, col: str, lo: float, hi: float) -> tuple[int, int]:
    """(files a [lo, hi] filter on ``col`` must read, total files) — straight
    from footer min/max, the same statistics a scan planner prunes on."""
    hit = total = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.to_arrow_schema().get_field_index(col)
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        fmin, fmax = min(s.min for s in stats), max(s.max for s in stats)
        total += 1
        if fmax >= lo and fmin <= hi:
            hit += 1
    return hit, total


def main(workdir: str) -> None:
    spark = get_spark("table-maintenance", master="local[8]")
    os.makedirs(workdir, exist_ok=True)
    table = os.path.join(workdir, "events_table")

    # -- 1. a fragmented table: 40 small files in one version -----------
    from data_etl_with_dbt_spark.sources.io import read_parquet

    events = read_parquet(spark, "/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "value"
    )
    V.commit(events.repartition(40), table, mode="overwrite")
    before = V.read_version(spark, table)
    n_rows = before.count()

    # -- 2. compact ------------------------------------------------------
    # a snapshot read scans exactly its manifest's file list
    files_before = len(before.inputFiles())
    out = V.compact(spark, table, keep_versions=1)
    after = V.read_version(spark, table)
    assert after.count() == n_rows
    files_after = len(after.inputFiles())
    assert files_after < files_before
    print(
        f"compaction: {files_before} files -> {files_after} "
        f"(version {out['version']}, {out['files_deleted']} files vacuumed)"
    )

    # -- 3. z-order rewrite + skipping report ----------------------------
    ztable = os.path.join(workdir, "events_zorder")
    zorder_layout(events, "user_id", "value", num_files=16).write.mode(
        "overwrite"
    ).parquet(ztable)
    xtable = os.path.join(workdir, "events_xsort")
    events.repartitionByRange(16, "user_id").sortWithinPartitions("user_id").write.mode(
        "overwrite"
    ).parquet(xtable)

    lo, hi = 10.0, 20.0  # selective filter on value (off-axis for the x-sort)
    zh, zt = files_overlapping(ztable, "value", lo, hi)
    xh, xt = files_overlapping(xtable, "value", lo, hi)
    print(f"files to read for value in [{lo}, {hi}]:")
    print(f"  user_id-sorted layout: {xh}/{xt}")
    print(f"  z-ordered layout:      {zh}/{zt}")
    assert zh < xh, "z-order must prune the off-axis filter better"

    # per-bucket bounding boxes (the metric tests assert on)
    zb = zorder_key(events, "user_id", "value").withColumn(
        "bucket", F.expr(f"zkey DIV {(1 << 32) // 16}")
    )
    area = (
        skipping_stats(zb, "user_id", "value", "bucket")
        .agg(F.avg("box_area").alias("a"))
        .collect()[0]["a"]
    )
    print(f"mean z-bucket bounding-box area (fraction of domain): {area:.4f}")
    print("table maintenance complete")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/table_maintenance_demo")
