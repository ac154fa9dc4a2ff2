"""Versioned parquet tables: atomic manifest commits, snapshot reads, time
travel, rollback, vacuum — the lakehouse-mechanics surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_etl_with_dbt_spark.sources.versioned import (
    commit,
    list_versions,
    read_version,
    rollback,
    vacuum,
)


def _vals(spark, path, version=None):
    return sorted(r.id for r in read_version(spark, path, version).collect())


class TestVersionedTable:
    def test_append_overwrite_and_time_travel(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        v1 = commit(spark.range(0, 3), t, mode="append")
        v2 = commit(spark.range(3, 5), t, mode="append")
        v3 = commit(spark.range(10, 12), t, mode="overwrite")
        assert (v1, v2, v3) == (1, 2, 3)
        assert _vals(spark, t) == [10, 11]            # latest
        assert _vals(spark, t, 1) == [0, 1, 2]        # time travel
        assert _vals(spark, t, 2) == [0, 1, 2, 3, 4]

    def test_rollback_appends_history(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        commit(spark.range(0, 3), t)
        commit(spark.range(100, 200), t, mode="overwrite")  # "bad load"
        v = rollback(t, 1)
        assert v == 3
        assert _vals(spark, t) == [0, 1, 2]
        assert list_versions(t) == [1, 2, 3]  # audit trail intact

    def test_reader_never_sees_uncommitted_stage(self, spark, tmp_path):
        """Files written without a manifest (a crashed commit) are
        invisible to snapshot reads and collected by vacuum."""
        t = str(tmp_path / "tbl")
        commit(spark.range(0, 2), t)
        # simulate a crash: stage files land, manifest never publishes
        stage = os.path.join(t, "data", "deadbeef")
        spark.range(50, 60).write.parquet(stage)
        assert _vals(spark, t) == [0, 1]
        stats = vacuum(t, keep_versions=1)
        assert stats["files_deleted"] >= 1
        assert _vals(spark, t) == [0, 1]  # table unharmed

    def test_vacuum_retains_window(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        commit(spark.range(0, 2), t)
        commit(spark.range(2, 4), t)
        commit(spark.range(9, 10), t, mode="overwrite")
        stats = vacuum(t, keep_versions=2)
        assert stats["versions_dropped"] == 1
        assert _vals(spark, t) == [9]
        assert _vals(spark, t, 2) == [0, 1, 2, 3]  # still inside the window
        with pytest.raises(FileNotFoundError):
            read_version(spark, t, 1)

    def test_no_versions_is_an_error_not_empty(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError, match="no committed versions"):
            read_version(spark, str(tmp_path / "nope"))

    def test_concurrent_commits_both_land(self, spark, tmp_path):
        """Racing writers: the version-claim loop serializes them — both
        commits land, with distinct versions, and the final table contains
        both appends regardless of arrival order."""
        from concurrent.futures import ThreadPoolExecutor

        t = str(tmp_path / "tbl")
        commit(spark.range(0, 1), t)
        a = spark.range(10, 12)
        b = spark.range(20, 22)
        with ThreadPoolExecutor(2) as pool:
            va, vb = pool.map(lambda d: commit(d, t, mode="append"), [a, b])
        assert sorted([va, vb]) == [2, 3]
        assert _vals(spark, t) == [0, 10, 11, 20, 21]


class TestManifestMeta:
    """Sink state rides in the manifest: ``meta`` is recorded per commit,
    never carried forward implicitly, and copied by the operations that
    keep a snapshot's logical content (compact, rollback)."""

    def test_meta_recorded_per_commit_not_carried(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.versioned import latest

        t = str(tmp_path / "tbl")
        assert latest(t) == (0, {})  # never committed
        commit(spark.range(0, 2), t, meta={"recipe": {"k": 3}})
        assert latest(t) == (1, {"recipe": {"k": 3}})
        commit(spark.range(2, 4), t, mode="append")
        assert latest(t) == (2, {})  # a meta-less append records none

    def test_merge_compact_rollback_meta(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources import versioned as V

        t = str(tmp_path / "tbl")
        V.merge_commit(spark.range(0, 3), t, key="id", meta={"wm": 7})
        assert V.latest(t) == (1, {"wm": 7})
        V.commit(spark.range(3, 4), t, mode="append", meta={"wm": 9})
        out = V.compact(spark, t, keep_versions=3)
        assert V.latest(t) == (out["version"], {"wm": 9})
        v = rollback(t, 1)
        assert V.latest(t) == (v, {"wm": 7})
        assert _vals(spark, t) == [0, 1, 2]

    def test_list_versions_fails_stale_when_unlistable(
        self, spark, tmp_path, monkeypatch
    ):
        """Only a missing ``_versions/`` means "never committed": any
        other listing error must raise — reading it as a fresh table would
        restart a sink's state from one batch, and commit's claim loop
        would spin on the existing v00000001.json."""
        t = str(tmp_path / "tbl")
        assert list_versions(t) == []
        commit(spark.range(0, 2), t)

        def unlistable(path):
            raise PermissionError(f"cannot list {path}")

        monkeypatch.setattr(os, "listdir", unlistable)
        with pytest.raises(PermissionError):
            list_versions(t)


class TestLineageTrapStructurallyGone:
    def test_read_then_append_recompute_sees_pinned_snapshot(self, spark, tmp_path):
        """The repo's 4x-sighted lineage trap: a plan that reads a directory
        the same batch later appends to will, on task retry or cache
        eviction, recompute against the NEW files (self-dup flags in the
        incremental dedup index) unless localCheckpoint truncates lineage.
        A versioned read pins a manifest's exact file list, so the same
        recompute re-reads the OLD snapshot by construction — no lineage
        cut needed. Asserted by appending AFTER building the plan and
        forcing a full re-execution of it."""
        t = str(tmp_path / "tbl")
        commit(spark.range(0, 3), t)

        snapshot = read_version(spark, t)  # plan pins v1's files
        commit(spark.range(100, 103), t, mode="append")  # v2 lands

        # execute the OLD plan twice (no persist anywhere): both runs see v1
        assert sorted(r.id for r in snapshot.collect()) == [0, 1, 2]
        assert snapshot.count() == 3
        # a fresh resolve sees v2, as it should
        assert _vals(spark, t) == [0, 1, 2, 100, 101, 102]


class TestMergeCommit:
    def test_upsert_insert_delete_in_one_commit(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.versioned import merge_commit

        t = str(tmp_path / "tbl")
        commit(
            spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
            t,
        )
        changes = spark.createDataFrame(
            [(2, "B", False), (4, "d", False), (3, None, True)],
            "k long, v string, is_delete boolean",
        )
        v = merge_commit(changes, t, key="k", delete_col="is_delete")
        assert v == 2
        got = {r.k: r.v for r in read_version(spark, t).collect()}
        assert got == {1: "a", 2: "B", 4: "d"}  # update, keep, insert; 3 deleted
        # time travel still shows the pre-merge state
        pre = {r.k: r.v for r in read_version(spark, t, 1).collect()}
        assert pre == {1: "a", 2: "b", 3: "c"}

    def test_merge_into_empty_table_is_insert(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.versioned import merge_commit

        t = str(tmp_path / "tbl")
        v = merge_commit(
            spark.createDataFrame([(1, "a")], "k long, v string"), t, key="k"
        )
        assert v == 1
        assert {r.k: r.v for r in read_version(spark, t).collect()} == {1: "a"}


class TestSchemaEvolution:
    def test_appended_column_surfaces_with_nulls(self, spark, tmp_path):
        """Appending a frame with an extra column evolves the snapshot:
        reads merge the footer schemas (only when the manifest records
        more than one), old rows show NULL for the new column, and
        time travel to the pre-evolution version keeps the old schema."""
        t = str(tmp_path / "tbl")
        commit(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        commit(
            spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"),
            t,
            mode="append",
        )
        cur = read_version(spark, t)
        assert set(cur.columns) == {"k", "v", "score"}
        got = {r.k: r.score for r in cur.collect()}
        assert got == {1: None, 2: 9.5}
        # pre-evolution snapshot: single schema, no merge, no score column
        assert set(read_version(spark, t, 1).columns) == {"k", "v"}


class TestSchemaCarryingReads:
    """Each commit records its schema as ``StructType.json()``, so a pinned
    read of a single-schema snapshot starts no footer-inference job."""

    def test_pinned_read_starts_no_job(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        commit(spark.range(0, 5).withColumn("s", F.col("id").cast("string")), t)
        commit(spark.range(5, 8).withColumn("s", F.col("id").cast("string")), t)
        sc = spark.sparkContext
        group = "versioned-pinned-read"
        sc.setJobGroup(group, group)
        try:
            df = read_version(spark, t)
            assert df.columns == ["id", "s"]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert _vals(spark, t) == list(range(8))

    def test_dotted_and_spaced_names_round_trip(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", 2.5)], "`a.b` long, `c d` string, `e` double"
        )
        commit(df, t)
        back = read_version(spark, t)
        assert back.schema.simpleString() == df.schema.simpleString()
        assert [tuple(r) for r in back.collect()] == [(1, "a", 2.5)]

    def test_manifest_without_schema_still_reads(self, spark, tmp_path):
        import json

        from data_etl_with_dbt_spark.sources.versioned import _manifest_path

        t = str(tmp_path / "tbl")
        commit(spark.range(0, 3), t)
        path = _manifest_path(t, 1)
        with open(path) as f:
            manifest = json.load(f)
        assert "schema" in manifest
        del manifest["schema"]  # the format before the schema was recorded
        with open(path, "w") as f:
            json.dump(manifest, f)
        assert _vals(spark, t) == [0, 1, 2]


class TestVersionedFuzz:
    def test_random_commit_sequences_match_model(self, spark, tmp_path):
        """Model-based fuzz: a random interleaving of append / overwrite /
        rollback commits must always agree with a pure-Python model of
        what every version contains — including reads of historical
        versions after later writes."""
        import random

        rng = random.Random(61)
        t = str(tmp_path / "fuzz")
        model = {}  # version -> sorted row ids
        latest = []
        next_id = 0
        for _step in range(12):
            op = rng.choice(["append", "append", "overwrite", "rollback"])
            if op == "rollback" and model:
                target = rng.choice(sorted(model))
                v = rollback(t, target)
                latest = list(model[target])
            elif op in ("append", "overwrite"):
                n = rng.randint(1, 4)
                rows = list(range(next_id, next_id + n))
                next_id += n
                v = commit(
                    spark.createDataFrame([(i,) for i in rows], "id long"),
                    t,
                    mode="overwrite" if op == "overwrite" else "append",
                )
                latest = rows if op == "overwrite" else latest + rows
            else:
                continue
            model[v] = sorted(latest)

        for v, want in model.items():
            got = sorted(r.id for r in read_version(spark, t, v).collect())
            assert got == want, (v, got, want)


class TestManifestStats:
    def test_pruned_snapshot_read_skips_files_exactly(self, spark, tmp_path):
        """Commits record per-file min/max in the manifest; a pruned read
        drops non-overlapping files WITHOUT footer reads and never loses
        rows. Files from commits without stats are conservatively read."""
        t = str(tmp_path / "tbl")
        commit(
            spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
            t,
            stats_columns=["v"],
        )
        commit(
            spark.range(1000, 1100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
            t,
            mode="append",
            stats_columns=["v"],
        )
        from data_etl_with_dbt_spark.sources.versioned import read_version_pruned

        df, stats = read_version_pruned(spark, t, "v", 1010.0, 1020.0)
        assert stats["files_read"] < stats["files_total"]
        assert sorted(r.id for r in df.collect()) == list(range(1010, 1021))

        # a stats-less commit stays readable (conservative include)
        commit(
            spark.range(50, 60).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
            t,
            mode="append",
        )
        df2, _stats2 = read_version_pruned(spark, t, "v", 52.0, 55.0)
        # ids 52-55 now exist twice: once in the stats-bearing first commit,
        # once in the stats-less append — both must surface
        assert sorted(r.id for r in df2.collect()) == [52, 52, 53, 53, 54, 54, 55, 55]

    def test_empty_range_schedules_zero_files(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.versioned import read_version_pruned

        t = str(tmp_path / "tbl")
        commit(
            spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
            t,
            stats_columns=["v"],
        )
        df, stats = read_version_pruned(spark, t, "v", 500.0, 600.0)
        assert stats["files_read"] == 0 and df.count() == 0


class TestRound5ReviewFixes:
    """Regressions for the round-5 plans/sources review: rollback manifest
    metadata, timestamp file stats, vacuum path-spelling safety, and
    merge_commit lost-update protection."""

    def test_rollback_preserves_schema_evolution_metadata(self, spark, tmp_path):
        path = str(tmp_path / "tbl")
        commit(spark.range(3).select("id"), path)
        commit(
            spark.range(3, 6).select("id", F.lit("x").alias("extra")),
            path,
            mode="append",
        )
        assert read_version(spark, path).columns == ["id", "extra"]
        v3 = rollback(path, 2)
        # the rolled-back snapshot still merges schemas: 'extra' survives
        df = read_version(spark, path, v3)
        assert sorted(df.columns) == ["extra", "id"]
        assert df.where(F.col("extra").isNull()).count() == 3
        # and a later append keeps tracking both schemas
        commit(spark.range(6, 7).select("id"), path, mode="append")
        assert sorted(read_version(spark, path).columns) == ["extra", "id"]

    def test_timestamp_stats_columns_commit_and_prune(self, spark, tmp_path):
        import datetime as dt

        from data_etl_with_dbt_spark.sources.versioned import (
            read_version_pruned,
        )

        path = str(tmp_path / "ts_tbl")
        early = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2))],
            "id long, ts timestamp",
        ).coalesce(1)
        late = spark.createDataFrame(
            [(3, dt.datetime(2024, 6, 1)), (4, dt.datetime(2024, 6, 2))],
            "id long, ts timestamp",
        ).coalesce(1)
        commit(early, path, stats_columns=["ts"])  # datetime min/max -> JSON
        commit(late, path, mode="append", stats_columns=["ts"])
        df, stats = read_version_pruned(
            spark, path, "ts",
            dt.datetime(2024, 5, 1), dt.datetime(2024, 7, 1),
        )
        assert stats["files_total"] == 2 and stats["files_read"] == 1
        assert sorted(r.id for r in df.collect()) == [3, 4]

    def test_vacuum_survives_path_respelling(self, spark, tmp_path):
        path = str(tmp_path / "v_tbl")
        commit(spark.range(5), path)
        commit(spark.range(5, 8), path, mode="append")
        # a different spelling of the same table must not unlink live files
        respelled = str(tmp_path / "." / "v_tbl") + os.sep
        vacuum(respelled, keep_versions=1)
        assert _vals(spark, path) == list(range(8))

    def test_commit_expected_base_detects_conflict(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.versioned import (
            ConcurrentCommitError,
        )

        path = str(tmp_path / "c_tbl")
        v1 = commit(spark.range(3), path)
        commit(spark.range(3, 5), path, mode="append")
        with pytest.raises(ConcurrentCommitError):
            commit(spark.range(99), path, mode="overwrite", expected_base=v1)
        # the failed publish left no new version and the table is intact
        assert len(list_versions(path)) == 2
        assert _vals(spark, path) == list(range(5))

    def test_merge_commit_remerges_after_concurrent_append(self, spark, tmp_path):
        import data_etl_with_dbt_spark.sources.versioned as V

        path = str(tmp_path / "m_tbl")
        commit(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            path,
        )
        # interleave a concurrent append between merge_commit's snapshot
        # read and its publish by racing it from commit's claim loop once
        real_commit = V.commit
        raced = {"done": False}

        def racing_commit(df, p, mode="append", stats_columns=None,
                          expected_base=None, meta=None):
            if not raced["done"] and mode == "overwrite":
                raced["done"] = True
                real_commit(
                    spark.createDataFrame([(9, "late")], "id long, v string"),
                    p,
                )
            return real_commit(df, p, mode, stats_columns, expected_base, meta)

        V.commit = racing_commit
        try:
            V.merge_commit(
                spark.createDataFrame([(2, "B")], "id long, v string"),
                path,
                key="id",
            )
        finally:
            V.commit = real_commit
        rows = {r.id: r.v for r in read_version(spark, path).collect()}
        # the concurrently appended row 9 survived the merge overwrite
        assert rows == {1: "a", 2: "B", 9: "late"}


class TestMergeCommitInterleavingModel:
    def test_random_interleaved_appends_never_lost(self, spark, tmp_path):
        """Randomized model property for the round-5 lost-update fix: a
        random schedule of merge_commits, each racing 0-2 concurrent
        appends between its snapshot read and publish, must end with
        exactly the dict-model state — no appended row may vanish into a
        merge overwrite."""
        import random

        import data_etl_with_dbt_spark.sources.versioned as V

        rng = random.Random(29)
        path = str(tmp_path / "model_tbl")
        model: dict[int, str] = {}

        def df_of(rows):
            return spark.createDataFrame(rows, "id long, v string")

        nxt = [1000]

        def fresh_rows(n):
            out = []
            for _ in range(n):
                nxt[0] += 1
                out.append((nxt[0], f"a{nxt[0]}"))
            return out

        V.commit(df_of(fresh_rows(3)), path)
        model.update({i: v for i, v in [(nxt[0] - 2, f"a{nxt[0]-2}"),
                                        (nxt[0] - 1, f"a{nxt[0]-1}"),
                                        (nxt[0], f"a{nxt[0]}")]})

        real_commit = V.commit
        for step in range(6):
            keys = sorted(model)
            ups = [(rng.choice(keys), f"m{step}")] + fresh_rows(1)
            races = [fresh_rows(1) for _ in range(rng.randint(0, 2))]

            def racing(df, p, mode="append", stats_columns=None,
                       expected_base=None, meta=None, _races=races):
                if _races and mode == "overwrite":
                    racer = _races.pop()
                    real_commit(df_of(racer), p)
                    model.update({i: v for i, v in racer})
                return real_commit(
                    df, p, mode, stats_columns, expected_base, meta
                )

            V.commit = racing
            try:
                V.merge_commit(df_of(ups), path, key="id")
            finally:
                V.commit = real_commit
            model.update({i: v for i, v in ups})

            got = {r.id: r.v for r in V.read_version(spark, path).collect()}
            assert got == model, f"diverged at step {step}"


class TestCompact:
    def test_compact_dedup_and_vacuum(self, spark, tmp_path):
        """Append-accumulated index compaction: content preserved (modulo
        the requested dedupe), versions collapse to the retained window,
        unreferenced data files are gone, and the table keeps accepting
        appends afterwards."""
        import glob as _glob

        from data_etl_with_dbt_spark.sources import versioned as V

        path = str(tmp_path / "idx")
        for lo in (0, 5, 10):
            V.commit(
                spark.range(lo, lo + 8).select(  # overlapping ranges -> dups
                    F.col("id").alias("span_hash")
                ),
                path,
            )
        assert len(V.list_versions(path)) == 3
        before = {
            r.span_hash
            for r in V.read_version(
                spark, path, V.list_versions(path)[-1]
            ).collect()
        }
        out = V.compact(
            spark, path, dedupe_cols=["span_hash"], keep_versions=1
        )
        versions = V.list_versions(path)
        assert len(versions) == 1 and versions[0] == out["version"]
        assert out["versions_dropped"] == 3
        after_df = V.read_version(spark, path, versions[-1])
        after = [r.span_hash for r in after_df.collect()]
        assert sorted(set(after)) == sorted(before)
        assert len(after) == len(set(after))  # dedup applied
        # coalesced to one data file; stale files vacuumed
        files = _glob.glob(str(tmp_path / "idx" / "data" / "*" / "*.parquet"))
        assert len(files) == 1
        # appends keep working on the compacted table
        V.commit(
            spark.range(100, 103).select(F.col("id").alias("span_hash")), path
        )
        final = V.read_version(spark, path, V.list_versions(path)[-1])
        assert final.count() == len(set(after)) + 3

    def test_compact_default_retains_pre_compact_snapshot_files(
        self, spark, tmp_path
    ):
        """r9 ADVICE: manifest pinning protects a concurrent reader from
        observing the rewrite, not from FILE DELETION — a mid-scan reader
        of the pre-compact snapshot dies if vacuum unlinks its files.
        Default keep_versions=2 must retain the compacted-over version's
        manifest AND every data file it references (append-accumulating
        manifests reference all earlier appends, so this covers any
        reader that pinned an older version too)."""
        import os as _os

        from data_etl_with_dbt_spark.sources import versioned as V

        path = str(tmp_path / "ret")
        for lo in (0, 5):
            V.commit(
                spark.range(lo, lo + 8).select(F.col("id").alias("span_hash")),
                path,
            )
        base = V.list_versions(path)[-1]
        pinned_files = [
            f for f in V._read_manifest(path, base)["files"]
        ]
        out = V.compact(spark, path, dedupe_cols=["span_hash"])  # default
        versions = V.list_versions(path)
        assert versions == [base, out["version"]]
        # every file the pre-compact snapshot references still exists —
        # a reader mid-scan of `base` cannot hit FileNotFoundException
        for f in pinned_files:
            assert _os.path.exists(f), f
        # the pre-compact snapshot still READS correctly post-compact
        again = V.read_version(spark, path, base)
        assert again.count() == 16
        # a later keep_versions=1 vacuum (between batches) reclaims it
        V.vacuum(path, keep_versions=1)
        assert V.list_versions(path) == [out["version"]]

    def test_compact_empty_table_noop(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources import versioned as V

        out = V.compact(spark, str(tmp_path / "none"))
        assert out == {
            "version": 0, "files_deleted": 0, "versions_dropped": 0
        }

    def test_compact_is_transparent_to_the_substring_sink(self, spark, tmp_path):
        """Compacting the hash index BETWEEN batches must not change the
        sink's output: N batches with a mid-stream compact == one shot
        (the index content is a hash SET — compaction only rewrites its
        layout)."""
        from data_etl_with_dbt_spark.operators.dedup import (
            exact_substring_regions,
            remove_duplicate_regions,
        )
        from data_etl_with_dbt_spark.sources import versioned as V
        from data_etl_with_dbt_spark.streaming.intake import (
            substring_intake_sink,
        )

        rows = [
            (1, "a b c d e f g h"),
            (2, "x y a b c d e f g h"),      # embeds doc 1 -> cut via index
            (3, "p q r s t u v w"),
            (4, "a b c d e f g h tail bit"),  # embeds doc 1 again
        ]
        docs = spark.createDataFrame(rows, "id long, text string")
        oneshot = sorted(
            tuple(r)
            for r in remove_duplicate_regions(
                docs,
                exact_substring_regions(docs, "id", "text", span_tokens=3),
                "id", "text", emit_text=True,
            ).collect()
        )
        base = str(tmp_path / "s")
        sink = substring_intake_sink(
            base + "/index", base + "/corpus", "id", "text", span_tokens=3
        )
        sink(docs.where(F.col("id") <= 2), 0)
        # maintenance between batches: dedupe + single version
        out = V.compact(
            spark, base + "/index", dedupe_cols=["span_hash"], keep_versions=1
        )
        assert len(V.list_versions(base + "/index")) == 1
        sink(docs.where(F.col("id") > 2), 1)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(base + "/corpus")
            .select("id", "n_tokens", "n_tokens_removed",
                    "cleaned_hash", "cleaned_text")
            .collect()
        )
        assert got == oneshot
