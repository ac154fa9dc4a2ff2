"""The materialization scale-seam (r12): localCheckpoint at fixture scale,
one atomic versioned-table commit beyond a configured size threshold —
and the conditional spread for post-shuffle relations."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from pyspark.sql import functions as F

from data_etl_with_dbt_spark import materialize as M
from data_etl_with_dbt_spark.materialize import (
    MAX_LOCAL_KEY,
    TABLE_DIR_KEY,
    _conf_bytes,
    _estimated_bytes,
    materialize,
    spread_small,
)


@pytest.fixture
def seam_conf(spark):
    """Restore the seam confs after a test that sets them."""
    yield spark
    for k in (MAX_LOCAL_KEY, TABLE_DIR_KEY):
        try:
            spark.conf.unset(k)
        except Exception:
            pass


def test_size_conf_parsing(seam_conf):
    spark = seam_conf
    for value, want in [
        ("134217728", 128 * 1024**2),
        ("128MB", 128 * 1024**2),
        ("1g", 1024**3),
        ("512b", 512),
        (" 4K ", 4096),
    ]:
        spark.conf.set(MAX_LOCAL_KEY, value)
        assert _conf_bytes(spark, MAX_LOCAL_KEY) == want, value
    # Spark's own parser refuses fractions (it refuses '1.5g' for
    # maxPartitionBytes at conf.set); the error names the key
    spark.conf.set(MAX_LOCAL_KEY, "1.5g")
    with pytest.raises(ValueError, match=re.escape(MAX_LOCAL_KEY)):
        materialize(spark.range(3))


def test_default_branch_is_local_checkpoint(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    m = materialize(df)
    # localCheckpoint replaces the plan with an RDD scan — same rows,
    # no parquet relation, nothing written anywhere
    assert "LogicalRDD" in m._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r.v for r in m.collect()) == sorted(
        r.v for r in df.collect()
    )


def test_threshold_routes_to_versioned_table(seam_conf, tmp_path):
    from data_etl_with_dbt_spark.sources import versioned as V

    spark = seam_conf
    spark.conf.set(MAX_LOCAL_KEY, "1")  # force the over-threshold branch
    spark.conf.set(TABLE_DIR_KEY, str(tmp_path / "mat"))
    df = spark.range(50).withColumn("v", F.col("id") % 7)
    assert _estimated_bytes(df) > 1
    m = materialize(df)
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" in plan.lower()  # snapshot read of the committed table
    assert sorted((r.id, r.v) for r in m.collect()) == sorted(
        (r.id, r.v) for r in df.collect()
    )
    tables = list((tmp_path / "mat").iterdir())
    assert len(tables) == 1
    assert V.list_versions(str(tables[0])) == [1]


def test_over_threshold_without_table_dir_stays_local(seam_conf):
    spark = seam_conf
    spark.conf.set(MAX_LOCAL_KEY, "1")
    df = spark.range(10)
    m = materialize(df)
    assert "LogicalRDD" in m._jdf.queryExecution().optimizedPlan().toString()


def test_spread_small_fires_only_below_threshold(spark, testdata):
    docs = testdata["documents"].select("doc_id", "text").distinct()
    # fixture-sized relation ≪ cores x maxPartitionBytes → spread fires
    s = spread_small(docs)
    assert s is not docs
    assert (
        "RoundRobinPartitioning"
        in s._jdf.queryExecution().sparkPlan().toString()
    )
    # simulate warehouse scale by shrinking the threshold → no-op
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert spread_small(docs) is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# -- unknown estimates: each caller fails in its safe direction ----------


class _Unplannable:
    """A frame whose JVM handle raises, so its stats cannot be read; every
    other attribute (writes, checkpoints, the session) is the real
    frame's."""

    def __init__(self, df):
        self._df = df

    def __getattr__(self, name):
        if name == "_jdf":
            raise RuntimeError("no JVM plan")
        return getattr(self._df, name)


@pytest.fixture(params=["sentinel", "stats_fail"])
def unknown_df(request, spark):
    """A relation whose size is unknown: a driver-row frame (Catalyst
    reports the ``spark.sql.defaultSizeInBytes`` sentinel for it) or a
    frame whose stats call fails."""
    from data_etl_with_dbt_spark.sources.io import driver_rows_df

    df = driver_rows_df(spark, [(1, "a"), (2, "b")], "id long, t string")
    if request.param == "sentinel":
        sentinel = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert int(str(stats.sizeInBytes())) == sentinel
        return df
    return _Unplannable(df)


def test_unknown_estimate_is_none(unknown_df):
    from data_etl_with_dbt_spark.plans.stats import cost_of

    assert _estimated_bytes(unknown_df) is None
    assert cost_of(unknown_df)["size_bytes"] is None


def test_spread_small_leaves_unknown_size_alone(unknown_df):
    assert spread_small(unknown_df) is unknown_df


def test_unknown_size_materializes_durably_when_table_dir_set(
    seam_conf, unknown_df, tmp_path
):
    from data_etl_with_dbt_spark.sources import versioned as V

    seam_conf.conf.set(TABLE_DIR_KEY, str(tmp_path / "mat"))
    m = materialize(unknown_df)
    assert "parquet" in m._jdf.queryExecution().optimizedPlan().toString().lower()
    assert sorted(tuple(r) for r in m.collect()) == [(1, "a"), (2, "b")]
    (table,) = (tmp_path / "mat").iterdir()
    assert V.list_versions(str(table)) == [1]


def test_unknown_size_without_table_dir_stays_local(seam_conf, unknown_df):
    m = materialize(unknown_df)
    assert "LogicalRDD" in m._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in m.collect()) == [(1, "a"), (2, "b")]


def test_fetch_plan_probes_when_size_unknown(spark, monkeypatch):
    """The robots screen may skip the skew probe only on a KNOWN small
    estimate; an unknown one runs it."""
    from data_etl_with_dbt_spark.operators import relational
    from data_etl_with_dbt_spark.sources.io import driver_rows_df
    from data_etl_with_dbt_spark.sources.robots import fetch_plan

    calls = []
    real = relational.skew_stats

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(relational, "skew_stats", spy)
    sched = driver_rows_df(
        spark,
        [(f"https://h{i % 3}.example.com/p{i}", 2, i) for i in range(30)],
        "url string, priority int, staleness_seconds bigint",
    )
    want = fetch_plan(sched, budget=10, per_host_quota=5, two_phase_quota=False)
    assert calls == []
    got = fetch_plan(sched, budget=10, per_host_quota=5)  # sentinel stats
    assert calls == [1]
    assert sorted(got.collect()) == sorted(want.collect())
    # a failed stats call on a frame whose real estimate is tiny
    tiny = spark.range(1).select(
        F.lit("https://a.example.com/").alias("url"),
        F.lit(2).alias("priority"),
        F.lit(0).cast("bigint").alias("staleness_seconds"),
    )
    monkeypatch.setattr(M, "_estimated_bytes", lambda df: None)
    fetch_plan(tiny, budget=10, per_host_quota=5)
    assert calls == [1, 1]


@pytest.mark.parametrize("eager", [True, False])
def test_checkpoint_keeps_parent_estimate(spark, testdata, eager):
    """A chained materialize sizes a checkpointed relation by its
    parent's estimate (the checkpoint's LogicalRDD carries the origin
    plan's stats), not by the unknown-size sentinel."""
    docs = testdata["documents"].select("doc_id", "text").distinct()
    parent = _estimated_bytes(docs)
    assert parent is not None
    assert _estimated_bytes(docs.localCheckpoint(eager=eager)) == parent


def test_one_size_estimator():
    """``.stats()...sizeInBytes`` is read in exactly one function of the
    package, and nothing parses plan text for sizes."""
    pkg = pathlib.Path(M.__file__).parent
    readers = []
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        assert "Statistics(sizeInBytes=" not in src, f
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            attrs = {
                n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)
            }
            if {"stats", "sizeInBytes"} <= attrs:
                readers.append(f"{f.relative_to(pkg)}:{node.name}")
    assert readers == ["materialize.py:_estimated_bytes"]
