"""Scale-machinery tests: salting equivalence + plan shape, bucketed joins
without exchanges, incremental materialization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_with_dbt_spark.operators.relational import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 0 — the classic hot-key distribution.
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed):
    plain = {
        r.k: (r.s, r.n, r.mn, r.mx)
        for r in skewed.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r.k: (r.s, r.n, r.mn, r.mx)
        for r in salted_agg(
            skewed,
            ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
            salt_buckets=8,
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert salted[k][0] == pytest.approx(plain[k][0])
        assert salted[k][2:] == plain[k][2:]


def test_salted_agg_rejects_non_algebraic(spark, skewed):
    with pytest.raises(ValueError, match="not algebraic"):
        salted_agg(skewed, ["k"], {"a": ("avg", "v")})


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame([(i, f"name{i}") for i in range(100)], "k long, name string")
    plain = skewed.join(dim, "k").groupBy("k").count().collect()
    salted = salted_join(skewed, dim, "k", salt_buckets=4).groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in plain} == {(r.k, r["count"]) for r in salted}


def test_salted_join_rejects_right_preserving_modes(spark, skewed):
    """Right/full outer would duplicate unmatched right rows once per salt
    bucket — the operator must refuse rather than return wrong multiplicity."""
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(skewed, dim, "k", salt_buckets=4, how=how)


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketed tables co-locate join keys at write time: the sort-merge join
    reads both sides bucket-by-bucket with NO exchange — the recipe for
    repeated fact-fact joins at 100 TB."""
    from data_etl_with_dbt_spark.sources.io import write_table

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_table(a, "bucketed_a", bucket_by=(8, ["k"]))
    write_table(b, "bucketed_b", bucket_by=(8, ["k"]))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE bucketed_a")
        spark.sql("DROP TABLE bucketed_b")


def test_incremental_model_appends_only_new_keys(spark):
    from data_etl_with_dbt_spark.plans.dag import ModelRegistry

    batches = {"n": 3}

    def build_registry():
        reg = ModelRegistry()
        reg.add_source("src", lambda s: s.range(batches["n"]).select(
            F.col("id").alias("uk"), F.lit("x").alias("payload")
        ))

        @reg.model(name="inc_model", materialized="incremental", unique_key="uk")
        def inc_model(ctx):
            return ctx.source("src")

        return reg

    try:
        reg = build_registry()
        out1 = reg.run(spark)
        assert out1["inc_model"].count() == 3

        batches["n"] = 5  # two new keys; three overlapping
        out2 = build_registry().run(spark)
        assert out2["inc_model"].count() == 5
        # overlapping keys were NOT duplicated
        assert out2["inc_model"].groupBy("uk").count().where("count > 1").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS inc_model")


def test_incremental_merge_upserts_changed_rows(spark):
    from data_etl_with_dbt_spark.plans.dag import ModelRegistry

    state = {"payload": "v1", "n": 3}

    def build_registry():
        reg = ModelRegistry()
        reg.add_source("src", lambda s: s.range(state["n"]).select(
            F.col("id").alias("uk"), F.lit(state["payload"]).alias("payload")
        ))

        @reg.model(
            name="merge_model",
            materialized="incremental",
            unique_key="uk",
            incremental_strategy="merge",
        )
        def merge_model(ctx):
            return ctx.source("src")

        return reg

    try:
        build_registry().run(spark)
        state.update(payload="v2", n=2)  # keys 0,1 change payload; key 2 untouched
        out = build_registry().run(spark)["merge_model"]
        got = {r.uk: r.payload for r in out.collect()}
        assert got == {0: "v2", 1: "v2", 2: "v1"}
    finally:
        spark.sql("DROP TABLE IF EXISTS merge_model")


def test_incremental_insert_overwrite_replaces_touched_partitions(spark):
    from data_etl_with_dbt_spark.plans.dag import ModelRegistry

    state = {"days": [1, 2], "val": "old"}

    def build_registry():
        reg = ModelRegistry()

        def src(s):
            rows = [(d * 10 + i, state["val"], d) for d in state["days"] for i in range(2)]
            return s.createDataFrame(rows, "id long, val string, day int")

        reg.add_source("src", src)

        @reg.model(
            name="po_model",
            materialized="incremental",
            incremental_strategy="insert_overwrite",
            partition_by=["day"],
        )
        def po_model(ctx):
            return ctx.source("src")

        return reg

    try:
        build_registry().run(spark)
        state.update(days=[2], val="new")  # rebuild day 2 only
        out = build_registry().run(spark)["po_model"]
        got = {(r.day, r.val) for r in out.collect()}
        # day 1 keeps old rows; day 2 fully replaced
        assert got == {(1, "old"), (2, "new")}
        assert out.count() == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS po_model")


class TestStratifiedSample:
    def test_rates_and_determinism(self, spark):
        from data_etl_with_dbt_spark.suite import QUERIES

        fn = QUERIES["stratified_sample_documents"].fn
        a = fn(spark, "/root/testdata/sf0.01").toPandas()
        b = fn(spark, "/root/testdata/sf0.01").toPandas()
        # seeded: identical membership across runs
        assert sorted(a.doc_id) == sorted(b.doc_id)
        # only requested strata appear, and 'en' (rate 0.5) dominates 'zh' (0.1)
        rates = a.lang.value_counts(normalize=False)
        assert set(rates.index) <= {"en", "es", "fr", "de", "zh"}
        from data_etl_with_dbt_spark.sources.io import read_parquet

        src = read_parquet(spark, "/root/testdata/sf0.01/documents.parquet").toPandas()
        totals = src.lang.value_counts()
        en_rate = rates.get("en", 0) / totals["en"]
        zh_rate = rates.get("zh", 0) / max(totals.get("zh", 1), 1)
        assert 0.35 < en_rate < 0.65
        assert zh_rate < 0.25


class TestZOrder:
    def _file_ranges(self, path, col):
        import glob

        import pyarrow.parquet as pq

        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            out.append((min(los), max(his)))
        return out

    def _overlap_frac(self, ranges, lo, hi):
        n = sum(1 for flo, fhi in ranges if not (fhi < lo or flo > hi))
        return n / len(ranges)

    def test_zorder_prunes_both_dimensions(self, spark, tmp_path):
        """A Z-ordered layout must give file-level min/max pruning on BOTH
        clustered columns; a plain sort by x gives it only on x. Footer stats
        are read directly — the same stats Spark's parquet filter pushdown
        skips with."""
        from data_etl_with_dbt_spark.operators.layout import zorder_layout

        df = spark.range(20000).select(
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("y"),
        )
        zpath = str(tmp_path / "zorder")
        spath = str(tmp_path / "xsort")
        zorder_layout(df, "x", "y", num_files=16, bits=10).drop(
            "zkey"
        ).write.parquet(zpath)
        (
            df.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(spath)
        )

        probes = [(100, 150), (420, 470), (800, 850)]
        for col in ("x", "y"):
            zr = self._file_ranges(zpath, col)
            assert len(zr) > 8  # the range exchange actually spread files
            zfrac = sum(self._overlap_frac(zr, lo, hi) for lo, hi in probes) / len(probes)
            assert zfrac < 0.7, f"z-order failed to prune on {col}: {zfrac}"
        # the single-sort layout cannot prune its non-sort dimension
        sr = self._file_ranges(spath, "y")
        sfrac = sum(self._overlap_frac(sr, lo, hi) for lo, hi in probes) / len(probes)
        assert sfrac > 0.9, f"expected no y-pruning in x-sorted layout: {sfrac}"

    def test_zorder_roundtrip_preserves_rows(self, spark, tmp_path):
        from data_etl_with_dbt_spark.operators.layout import zorder_layout

        df = spark.range(5000).select(
            F.col("id"), (F.col("id") % 7).alias("x"), (F.col("id") % 11).alias("y")
        )
        path = str(tmp_path / "z2")
        zorder_layout(df, "x", "y", num_files=4, bits=8).write.parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 5000
        assert back.agg(F.sum("id")).first()[0] == sum(range(5000))

    def test_zorder_layout_survives_all_null_column(self, spark, tmp_path):
        """An all-NULL dimension has no min/max: its Z-key is NULL, the
        range exchange puts those rows together, and none is lost."""
        from data_etl_with_dbt_spark.operators.layout import zorder_layout

        df = spark.range(500).select(
            "id",
            (F.col("id") % 7).alias("x"),
            F.lit(None).cast("double").alias("dead"),  # all-NULL dimension
        )
        path = str(tmp_path / "znull")
        zorder_layout(df, "x", "dead", num_files=2, bits=8).write.parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 500
        assert back.agg(F.sum("id")).first()[0] == sum(range(500))


class TestCompaction:
    def test_compact_merges_small_files(self, spark, tmp_path):
        """versioned.compact sizes its output from the snapshot's bytes:
        ~200 KB over 40 files is one maxPartitionBytes-sized file."""
        from data_etl_with_dbt_spark.sources import versioned as V

        path = str(tmp_path / "small")
        df = spark.range(50000).select("id", (F.col("id") % 13).alias("k"))
        V.commit(df.repartition(40), path)
        assert len(V.read_version(spark, path).inputFiles()) == 40

        V.compact(spark, path, keep_versions=1)
        back = V.read_version(spark, path)
        assert len(back.inputFiles()) == 1
        assert back.count() == 50000
        assert back.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]

    def test_compact_file_count_follows_max_partition_bytes(self, spark, tmp_path):
        import os

        from data_etl_with_dbt_spark.sources import versioned as V

        path = str(tmp_path / "split")
        V.commit(spark.range(50000).repartition(8), path)
        total = sum(map(os.path.getsize, V._read_manifest(path, 1)["files"]))
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(total // 3 + 1))
            V.compact(spark, path, keep_versions=1)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        back = V.read_version(spark, path)
        assert len(back.inputFiles()) == 3
        assert back.count() == 50000


class TestApplyCdc:
    def test_cdc_insert_update_delete_net_effect(self, spark):
        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.relational import apply_cdc

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
        )
        changes = spark.createDataFrame(
            [
                (2, "b2", 21.0, 1, "update"),    # update key 2
                (3, "c", 30.0, 1, "delete"),     # delete key 3
                (4, "d", 40.0, 1, "insert"),     # new key 4
                (5, "e", 50.0, 1, "insert"),     # insert then delete -> absent
                (5, "e", 50.0, 2, "delete"),
                (6, "f", 60.0, 1, "insert"),     # insert then update -> updated
                (6, "f2", 61.0, 2, "update"),
            ],
            "id long, name string, v double, seq long, op string",
        )
        out = apply_cdc(base, changes, key="id", seq_col="seq")
        got = {r.id: (r.name, r.v) for r in out.collect()}
        assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d", 40.0), 6: ("f2", 61.0)}

    def test_cdc_idempotent_replay(self, spark):
        from data_etl_with_dbt_spark.operators.relational import apply_cdc

        base = spark.createDataFrame([(1, 1.0)], "id long, v double")
        changes = spark.createDataFrame(
            [(1, 2.0, 7, "update")], "id long, v double, seq long, op string"
        )
        once = apply_cdc(base, changes, key="id", seq_col="seq")
        twice = apply_cdc(once, changes, key="id", seq_col="seq")
        assert [tuple(r) for r in once.collect()] == [tuple(r) for r in twice.collect()]

    def test_cdc_seq_tie_is_deterministic(self, spark):
        """Two changes sharing (key, seq) must pick the same winner on every
        run and partitioning — ordered by op then row hash, never by
        partition arrival order."""
        from data_etl_with_dbt_spark.operators.relational import apply_cdc

        base = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
        changes = spark.createDataFrame(
            [(1, "upd", 2.0, 5, "update"), (1, "del", 0.0, 5, "delete")],
            "id long, name string, v double, seq long, op string",
        )
        results = []
        for parts in (1, 2, 7):
            out = apply_cdc(base, changes.repartition(parts), key="id", seq_col="seq")
            results.append(sorted(tuple(r) for r in out.collect()))
        assert results[0] == results[1] == results[2]
        # 'update' > 'delete' in the op tie-break: the update survives.
        assert results[0] == [(1, "upd", 2.0)]


class TestPerKeyCapTwoPhase:
    def test_two_phase_equals_single_phase(self, spark):
        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.relational import per_key_cap

        df = spark.range(20000).repartition(16).select(
            (F.col("id") % 5).alias("key"),
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("score"),
        )
        order = [F.col("score").desc(), F.col("id")]
        one = per_key_cap(df, ["key"], order, n=25)
        two = per_key_cap(df, ["key"], order, n=25, two_phase=True)
        a = sorted((r.key, r.id, r.quota_rank) for r in one.collect())
        b = sorted((r.key, r.id, r.quota_rank) for r in two.collect())
        assert a == b and len(a) == 5 * 25


class TestGlobalRowIndex:
    def test_matches_single_partition_row_number(self, spark):
        from data_etl_with_dbt_spark.operators.relational import global_row_index

        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate([5.0, 1.0, 3.0, 3.0, 3.0, 2.0, 9.0, 0.5] * 50)],
            "key double, tie int",
        ).repartition(7)
        out = global_row_index(df, order_by=["key", "tie"], num_buckets=4)
        got = [(r.key, r.tie) for r in sorted(out.collect(), key=lambda r: r.idx)]
        want = sorted(((r.key, r.tie) for r in df.collect()))
        assert got == want
        idxs = sorted(r.idx for r in out.collect())
        assert idxs == list(range(400))  # contiguous, zero-based, no gaps

    def test_skewed_key_ties_stay_in_one_bucket(self, spark):
        from data_etl_with_dbt_spark.operators.relational import global_row_index

        # 90% of rows share one key value: ties must not straddle buckets,
        # and the index must still be a permutation of 0..n-1
        rows = [(7.0, i) for i in range(180)] + [(float(i), 1000 + i) for i in range(20)]
        df = spark.createDataFrame(rows, "key double, tie int").repartition(5)
        out = global_row_index(df, order_by=["key", "tie"], num_buckets=8).collect()
        assert sorted(r.idx for r in out) == list(range(200))
        by_idx = {r.idx: (r.key, r.tie) for r in out}
        assert [by_idx[i] for i in range(200)] == sorted((r[0], r[1]) for r in rows)

    def test_no_single_partition_exchange_on_data_path(self, spark):
        from data_etl_with_dbt_spark.operators.relational import global_row_index

        df = spark.range(0, 10_000, 1, 8).select(
            (F.col("id") % 997).cast("double").alias("key"), F.col("id").alias("tie")
        )
        out = global_row_index(df, order_by=["key", "tie"], num_buckets=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the offsets frame (<= num_buckets rows) may legally single-partition;
        # the DATA side must shuffle by bucket, never collapse to one task
        data_side = plan.split("BroadcastExchange")[0]
        assert "SinglePartition" not in data_side
        assert "hashpartitioning(__bucket" in data_side


class TestMixtureSample:
    def test_budget_semantics_and_broadcast_plan(self, spark):
        from data_etl_with_dbt_spark.operators.textan import mixture_sample

        # 200 docs x 10 tokens per domain -> 2000 tokens each
        rows = [
            (d * 1000 + i, f"dom{d}", "tok " * 10)
            for d in range(3)
            for i in range(200)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = mixture_sample(
            docs, "doc_id", "source", "text",
            budgets={"dom0": 1000, "dom1": 999_999},  # dom2 unlisted
        )
        picked = out.collect()
        by_dom = {}
        for r in picked:
            by_dom.setdefault(r.source, []).append(r)
        # rate-1 paths keep everything
        assert len(by_dom["dom1"]) == 200 and len(by_dom["dom2"]) == 200
        # budgeted domain: expected 1000 of 2000 tokens; md5 uniformity at
        # n=200 keeps the realized total within a loose band
        tok_total = sum(r.n_tokens for r in by_dom["dom0"])
        assert 700 <= tok_total <= 1300
        # determinism: same membership on rerun
        again = {r.doc_id for r in mixture_sample(
            docs, "doc_id", "source", "text",
            budgets={"dom0": 1000, "dom1": 999_999},
        ).collect()}
        assert again == {r.doc_id for r in picked}
        # rates frame must broadcast; the corpus never shuffles for the join
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestSkewStats:
    def test_detects_heavy_key_and_suggests_salt(self, spark):
        from data_etl_with_dbt_spark.operators.relational import skew_stats

        # 10k rows: key 0 holds 50%, keys 1..100 share the rest
        df = spark.range(10_000).select(
            F.when(F.col("id") < 5_000, 0)
            .otherwise((F.col("id") % 100) + 1)
            .alias("k")
        )
        out = skew_stats(df, ["k"], top_k=3, parallelism=32).collect()
        assert out[0].k == 0 and out[0].key_rows == 5_000
        assert abs(out[0].key_share - 0.5) < 1e-9
        assert out[0].suggested_salt == 16  # ceil(0.5 * 32)
        # non-dominating keys need no salt
        assert all(r.suggested_salt == 1 for r in out[1:])

    def test_plan_is_topk_not_global_sort(self, spark):
        from data_etl_with_dbt_spark.operators.relational import skew_stats

        df = spark.range(1_000).select((F.col("id") % 7).alias("k"))
        plan = (
            skew_stats(df, ["k"])._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan


class TestAdditiveIncremental:
    """'additive' incremental strategy: delta measure columns SUM into the
    snapshot per key — rollup-table maintenance without fact rescans."""

    def test_measures_accumulate_across_runs(self, spark, tmp_path):
        from data_etl_with_dbt_spark.plans.dag import ModelRegistry

        batches = [
            [("a", 10, 1, "x"), ("b", 5, 2, "y")],
            [("a", 7, 3, "x2"), ("c", 1, 1, "z")],
        ]
        state = {"i": 0}
        reg = ModelRegistry()
        reg.add_source(
            "delta",
            lambda s: s.createDataFrame(
                batches[state["i"]], "k string, amount long, cnt long, note string"
            ),
        )

        @reg.model(
            name="metrics_rollup",
            materialized="incremental",
            incremental_strategy="additive",
            unique_key="k",
            additive_cols=["amount", "cnt"],
        )
        def metrics_rollup(ctx):
            return ctx.source("delta")

        reg.run(spark)
        state["i"] = 1
        reg.run(spark)

        rows = {r.k: r for r in spark.table("metrics_rollup").collect()}
        assert rows["a"].amount == 17 and rows["a"].cnt == 4
        assert rows["b"].amount == 5 and rows["b"].cnt == 2
        assert rows["c"].amount == 1 and rows["c"].cnt == 1
        # passthrough attribute: deterministic max wins
        assert rows["a"].note == "x2"
        spark.sql("DROP TABLE IF EXISTS metrics_rollup")

    def test_additive_requires_cols(self, spark):
        import pytest
        from data_etl_with_dbt_spark.plans.dag import ModelRegistry

        reg = ModelRegistry()
        reg.add_source("d", lambda s: s.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v")))

        @reg.model(
            name="bad_additive",
            materialized="incremental",
            incremental_strategy="additive",
            unique_key="k",
        )
        def bad_additive(ctx):
            return ctx.source("d")

        with pytest.raises(ValueError, match="additive_cols"):
            reg.run(spark)  # validated eagerly, before any materialization


class TestMicrobatch:
    """dbt-1.9-style microbatch: per-window builds replace exactly their
    partitions; reruns are idempotent; late data lands via window rerun."""

    def _registry(self, spark, rows_holder):
        import datetime as dt
        from data_etl_with_dbt_spark.plans.dag import ModelRegistry

        reg = ModelRegistry()
        reg.add_source(
            "raw_ev",
            lambda s: s.createDataFrame(
                rows_holder["rows"], "ev_id long, ev_ts timestamp, amount long"
            ),
        )

        @reg.model(
            name="daily_events",
            materialized="incremental",
            incremental_strategy="insert_overwrite",
            partition_by=["ev_date"],
        )
        def daily_events(ctx):
            src = ctx.source("raw_ev")
            if ctx.batch_start is not None:
                src = src.where(
                    (F.col("ev_ts") >= F.lit(ctx.batch_start))
                    & (F.col("ev_ts") < F.lit(ctx.batch_end))
                )
            return src.withColumn("ev_date", F.to_date("ev_ts"))

        return reg

    def test_windows_build_and_rerun_idempotently(self, spark):
        import datetime as dt

        d = lambda day, h: dt.datetime(2024, 3, day, h)
        rows = {
            "rows": [
                (1, d(1, 9), 10), (2, d(1, 15), 20),
                (3, d(2, 9), 30), (4, d(3, 9), 40),
            ]
        }
        reg = self._registry(spark, rows)
        reg.run_microbatch(
            spark, "daily_events", dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 4)
        )
        got = {r.ev_id for r in spark.table("daily_events").collect()}
        assert got == {1, 2, 3, 4}

        # late event for day 2 arrives; rerun ONLY that window
        rows["rows"] = rows["rows"] + [(5, d(2, 23), 50)]
        reg.run_microbatch(
            spark, "daily_events", dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 3)
        )
        after = {r.ev_id for r in spark.table("daily_events").collect()}
        assert after == {1, 2, 3, 4, 5}
        # day-1/day-3 partitions untouched, day-2 replaced not duplicated
        assert spark.table("daily_events").where("ev_date = '2024-03-02'").count() == 2
        spark.sql("DROP TABLE IF EXISTS daily_events")

    def test_microbatch_requires_insert_overwrite(self, spark):
        import datetime as dt
        import pytest
        from data_etl_with_dbt_spark.plans.dag import ModelRegistry

        reg = ModelRegistry()

        @reg.model(name="not_mb", materialized="incremental", unique_key="k")
        def not_mb(ctx):
            return ctx.spark.range(1).select(F.col("id").alias("k"))

        with pytest.raises(ValueError, match="insert_overwrite"):
            reg.run_microbatch(
                spark, "not_mb", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
            )


class TestAutoSaltedJoin:
    def test_skewed_input_salts_and_matches_plain_join(self, spark):
        from data_etl_with_dbt_spark.operators.relational import auto_salted_join

        # key 0 holds 60% of 6000 rows -> salting kicks in
        left = spark.range(6000).select(
            F.when(F.col("id") < 3600, 0).otherwise(F.col("id") % 50).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        out = auto_salted_join(left, right, "k", parallelism=32)
        expected = left.join(right, "k")
        assert out.count() == expected.count()
        assert out.orderBy("v").collect() == expected.orderBy("v").collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__salt" not in out.columns and "xxhash64" in plan  # salted path

    def test_uniform_input_takes_plain_join(self, spark):
        from data_etl_with_dbt_spark.operators.relational import auto_salted_join

        left = spark.range(5000).select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
        right = spark.range(1000).select(F.col("id").alias("k"))
        out = auto_salted_join(left, right, "k", parallelism=32)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" not in plan  # no salting machinery on uniform keys
        assert out.count() == 5000


class TestParseDebezium:
    def test_op_mapping_and_payload_selection(self, spark):
        from data_etl_with_dbt_spark.operators.relational import parse_debezium

        rows = [
            ('{"payload": {"before": null, "after": {"id": 1, "v": "a"}, "op": "c", "ts_ms": 10}}',),
            ('{"payload": {"before": null, "after": {"id": 2, "v": "b"}, "op": "r", "ts_ms": 11}}',),
            ('{"payload": {"before": {"id": 1, "v": "a"}, "after": {"id": 1, "v": "z"}, "op": "u", "ts_ms": 12}}',),
            ('{"payload": {"before": {"id": 2, "v": "b"}, "after": null, "op": "d", "ts_ms": 13}}',),
        ]
        df = spark.createDataFrame(rows, "value string")
        got = {
            (r.id, r.op): (r.v, r.seq)
            for r in parse_debezium(df, "value", "id: long, v: string").collect()
        }
        assert got[(1, "insert")] == ("a", 10)
        assert got[(2, "insert")] == ("b", 11)
        assert got[(1, "update")] == ("z", 12)
        # delete rows carry the BEFORE payload (after is null on the wire)
        assert got[(2, "delete")] == ("b", 13)

    def test_malformed_envelope_yields_nulls_not_errors(self, spark):
        from data_etl_with_dbt_spark.operators.relational import parse_debezium

        df = spark.createDataFrame([("not json at all",)], "value string")
        [r] = parse_debezium(df, "value", "id: long, v: string").collect()
        assert r.id is None and r.op is None


class TestAdviseJoin:
    def test_broadcast_small_side(self, spark):
        from data_etl_with_dbt_spark.operators.relational import advise_join

        big = spark.range(5000).select(F.col("id").alias("k"))
        dim = spark.range(50).select(F.col("id").alias("k"))
        adv = advise_join(big, dim, ["k"], broadcast_rows=1000)
        assert adv["strategy"] == "broadcast_right"
        adv2 = advise_join(dim, big, ["k"], broadcast_rows=1000)
        assert adv2["strategy"] == "broadcast_left"

    def test_skewed_key_gets_salt(self, spark):
        from data_etl_with_dbt_spark.operators.relational import advise_join

        # 60% of rows on one key
        skewed = spark.range(5000).select(
            F.when(F.col("id") < 3000, F.lit(0)).otherwise(F.col("id")).alias("k")
        )
        other = spark.range(4000).select(F.col("id").alias("k"))
        adv = advise_join(skewed, other, ["k"], broadcast_rows=100, parallelism=8)
        assert adv["strategy"] == "salted"
        assert adv["suggested_salt"] >= 2
        assert adv["top_key_share"] > 0.5

    def test_uniform_keys_plain_shuffle(self, spark):
        from data_etl_with_dbt_spark.operators.relational import advise_join

        a = spark.range(5000).select(F.col("id").alias("k"))
        b = spark.range(5000).select(F.col("id").alias("k"))
        adv = advise_join(a, b, ["k"], broadcast_rows=100)
        assert adv["strategy"] == "shuffle"
        assert adv["suggested_salt"] == 1


def test_threaded_insert_overwrite_models_keep_untouched_partitions(spark):
    """Round-5 review: dynamic partition overwrite rides a SESSION conf, so
    two insert_overwrite models running under run(threads=2) used to race
    the save/set/restore — a write landing after another's restore ran in
    STATIC mode and replaced the WHOLE table. The writes are serialized
    under a lock now; this pins the end state over repeated threaded runs."""
    from data_etl_with_dbt_spark.plans.dag import ModelRegistry

    state = {"days": [1, 2], "val": "old"}

    def build_registry():
        reg = ModelRegistry()

        def src(s):
            rows = [
                (d * 10 + i, state["val"], d)
                for d in state["days"]
                for i in range(2)
            ]
            return s.createDataFrame(rows, "id long, val string, day int")

        reg.add_source("src", src)
        for name in ("po_a", "po_b"):
            @reg.model(
                name=name,
                materialized="incremental",
                incremental_strategy="insert_overwrite",
                partition_by=["day"],
            )
            def _m(ctx):
                return ctx.source("src")
        return reg

    try:
        build_registry().run(spark, threads=2)
        for _ in range(3):  # repeated touched-partition rebuilds, threaded
            state.update(days=[2], val="new")
            out = build_registry().run(spark, threads=2)
            for name in ("po_a", "po_b"):
                got = {(r.day, r.val) for r in out[name].collect()}
                assert got == {(1, "old"), (2, "new")}, name
        # the conf was restored after every write
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "STATIC"
        ).upper() == "STATIC"
    finally:
        spark.sql("DROP TABLE IF EXISTS po_a")
        spark.sql("DROP TABLE IF EXISTS po_b")
