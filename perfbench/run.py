"""One benchmark run of the engine on one workload.

    python3 perfbench/run.py --workload taxi_dag --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
starts one Spark session at ``local[<nproc>]``, sets up and warms up the
workload (untimed), then drives it in a closed loop -- one client, the next
op only after the previous one returned -- for the workload's fixed number
of whole units (an ELT cycle or a stream run), and on until ``--seconds`` of
timed work have accumulated, so every run measures the same mix. Outputs
are checked outside the timed phase. The last stdout line is one JSON
object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` additionally
runs one more unit with spans and Spark counters on, reports the per-layer
metrics, and writes the spans to ``.perfbench/``. A run report
(op tail percentile, host steal, nproc, master) goes to stderr and
``.perfbench/``. Everything the run writes stays under ``.perfbench/`` in
the repository root, and the run's work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = {
    "taxi_dag": "perfbench.taxi",
    "stream_intake": "perfbench.stream",
}
#: runs whose host steal exceeds this share of the run's CPU capacity are
#: flagged in the report (never dropped): steal arrives in minutes-long
#: bursts on shared hosts and can swing identical runs by a quarter
STEAL_FLAG_SHARE = 0.05
#: the op tail reported. A run holds 3-10 ops, too few for any percentile
#: above the median to have ten samples beyond it, so the tail is fixed
#: here rather than derived from the sample count: a faster commit that
#: fits more ops into a run must not report a different percentile.
TAIL_PERCENTILE = 90
#: timed units per run at most, so a very fast host cannot make a run long
MAX_UNITS = 50


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Point every temp location of Python, the JVM and Spark into ``tmp``
    (must run before the JVM starts)."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def _drive(b, wl, seconds: float, units: int | None = None) -> int:
    """The closed loop: the workload's ``UNITS`` whole units and on until
    ``seconds`` of timed work, or exactly ``units`` units. Returns the
    number of units run."""
    n = 0
    while True:
        wl.unit(b, b.state)
        n += 1
        if units is not None:
            if n == units:
                return n
        elif n >= wl.UNITS and (b.timed_s >= seconds or n == MAX_UNITS):
            return n


def _end_to_end(b, setup_s: float, units: int, mem_mb: float) -> tuple[dict, dict]:
    from perfbench.common import hd_quantile, tail_percentile

    lat = [o["s"] for o in b.ops]
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (b.timed_s / units, "s"),
        "op_p50_s": (hd_quantile(lat, 0.5), "s"),
        "op_tail_s": (hd_quantile(lat, TAIL_PERCENTILE / 100), "s"),
        "rows_per_s": (b.rows_done / b.timed_s, "1/s"),
        "driver_mem_mb": (mem_mb, "MB"),
        "write_amp": (median(b.write_amp), "ratio"),
    }
    notes = {"op_tail_percentile": TAIL_PERCENTILE, "op_samples": len(lat),
             "ops_ten_beyond_percentile": tail_percentile(len(lat)),
             "ops": [(o["name"], o["s"], o["ok"]) for o in b.ops]}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, notes


def _per_layer(b, tr, counters, untraced_wall: float, session_s: float, steal_s: float) -> dict:
    groups = counters.collect_groups(b.groups)
    batch_jobs = [c["jobs"] for g, c in groups.items() if g.startswith("batch-")]

    def total(name):
        return float(sum(b.layer.get(name, [])))

    def med(name):
        xs = b.layer.get(name, [])
        return float(median(xs)) if xs else 0.0

    def per_batch(span):
        """median per-batch seconds of a sink span"""
        xs = [s["end"] - s["start"] for s in tr.spans if s["name"] == span]
        return float(median(xs)) if xs else 0.0

    m = {
        "session.start_s": (session_s, "s"),
        "operators.s": (tr.layer_seconds("operators"), "s"),
        "operators.calls": (tr.layer_calls("operators"), "count"),
        "materialize.s": (tr.layer_seconds("materialize"), "s"),
        "materialize.calls": (tr.layer_calls("materialize"), "count"),
        "sources.read_s": (tr.layer_seconds("sources.read"), "s"),
        "sources.read_calls": (tr.layer_calls("sources.read"), "count"),
        "sources.ingest_s": (tr.layer_seconds("sources.ingest"), "s"),
        "sources.write_s": (tr.layer_seconds("sources.write"), "s"),
        "sources.bytes_written": (total("sources.bytes_written"), "bytes"),
        "plans.dag_run_s": (tr.layer_seconds("plans.dag_run"), "s"),
        "plans.models_built": (total("plans.models_built"), "count"),
        "plans.dq_s": (tr.layer_seconds("plans.dq"), "s"),
        "plans.dq_tests": (total("plans.dq_tests"), "count"),
        "ml.train_s": (tr.layer_seconds("ml.train"), "s"),
        "ml.predict_s": (tr.layer_seconds("ml.predict"), "s"),
        "streaming.trigger_s": (med("streaming.triggerExecution"), "s"),
        "streaming.add_batch_s": (med("streaming.addBatch"), "s"),
        "streaming.query_planning_s": (med("streaming.queryPlanning"), "s"),
        "streaming.wal_commit_s": (med("streaming.walCommit"), "s"),
        "streaming.dedup_sink_s": (per_batch("streaming.dedup_sink"), "s"),
        "streaming.rollup_sink_s": (per_batch("streaming.rollup_sink"), "s"),
        "streaming.batch_jobs": (median(batch_jobs) if batch_jobs else 0.0, "count"),
        "streaming.kept_ratio": (med("streaming.kept_ratio"), "ratio"),
        "streaming.index_bytes": (med("streaming.index_bytes"), "bytes"),
        "spark.plan_s": (tr.layer_seconds("spark.plan"), "s"),
        "spark.exec_s": (counters.totals["exec_s"], "s"),
        "spark.jobs": (counters.totals["jobs"], "count"),
        "spark.tasks": (counters.totals["tasks"], "count"),
        "spark.shuffle_bytes": (counters.totals["shuffle_bytes"], "bytes"),
        "spark.python_rows": (counters.totals["python_rows"], "count"),
        "host.steal_cpu_s": (steal_s, "s"),
        "trace.overhead_s": (b.timed_s - untraced_wall, "s"),  # one unit each
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "data_etl_with_dbt_spark", "session.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)
    try:
        _isolate(tmp)
        return _run(args, work, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, tmp: str) -> int:
    from data_etl_with_dbt_spark.session import get_spark

    from perfbench.common import (Bench, driver_mem_mb, peak_rss_mb, reset_peak_rss,
                                  steal_jiffies)
    from perfbench.trace import SparkCounters, Tracer

    wl = importlib.import_module(WORKLOADS[args.workload])
    nproc = os.cpu_count() or 1
    master = f"local[{nproc}]"
    steal0, t_start = steal_jiffies(), time.perf_counter()

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=master, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        b = Bench(spark, work, args.seed, args.size)
        t0 = time.perf_counter()
        b.state = wl.setup(b)
        inputs_s = time.perf_counter() - t0
        getattr(wl, "warm_up", wl.unit)(b, b.state)
        setup_s = time.perf_counter() - t_start
        phases = {"session_s": session_s, "inputs_s": inputs_s,
                  "warm_up_s": setup_s - session_s - inputs_s}
        # a warm-up op that failed still counts as a failed op
        failed = attempted = sum(1 for o in b.ops if not o["ok"])
        gc.collect()
        reset_peak_rss()
        b.reset()
        units = _drive(b, wl, args.seconds)
        if hasattr(wl, "finish"):
            wl.finish(b, b.state)
        metrics, notes = _end_to_end(b, setup_s, units, driver_mem_mb(spark))
        attempted += len(b.ops)
        failed += sum(1 for o in b.ops if not o["ok"])
        if args.trace:
            untraced_wall = metrics["wall_s"]["value"]
            tr, counters = Tracer(), SparkCounters(spark)
            b.tracer = tr
            b.reset()
            tr.instrument_package()
            try:
                _drive(b, wl, 0.0, 1)
                if hasattr(wl, "finish"):
                    wl.finish(b, b.state)
            finally:
                tr.uninstrument()
            attempted += len(b.ops)
            failed += sum(1 for o in b.ops if not o["ok"])
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        peak_rss = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
        steal_s = (steal_jiffies() - steal0) / 100.0
        if args.trace:
            metrics = _per_layer(b, tr, counters, untraced_wall, session_s, steal_s)
            os.makedirs(OUT, exist_ok=True)
            tr.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        _stop(spark)
    elapsed = time.perf_counter() - t_start
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "master": master, "nproc": nproc, "steal_cpu_s": steal_s, "peak_rss_mb": peak_rss,
        "steal_flagged": steal_s > STEAL_FLAG_SHARE * nproc * elapsed,
        "error_rate": failed / max(attempted, 1), "checks": b.checks,
        "run_s": elapsed, "units": units,
        **phases, **notes,
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"report-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump({**report, "metrics": metrics}, fh, indent=1)
    print("perfbench " + json.dumps(report), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
