"""ML pipeline tests (SURVEY.md §5.2 item 4): split sizes, finite positive
predictions, save/load round-trip, metric computed; NL/JSON parsing fixtures
from FIXTURES.md §4."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_etl_with_dbt_spark.ml.parse import nl_params_expr, parse_json_params, parse_nl_trip
from data_etl_with_dbt_spark.ml.pipeline import (
    FEATURE_COLUMNS,
    extract_training_frame,
    load_model,
    predict_batch,
    save_model,
    train_fare_model,
)


@pytest.fixture(scope="module")
def training(spark):
    # Synthetic taxi-shaped features: fare correlates with distance+duration.
    n = 2000
    df = spark.range(n).select(
        (F.rand(1) * 20 + 0.5).alias("trip_distance"),
        (F.floor(F.rand(2) * 4) + 1).cast("int").alias("passenger_count"),
        (F.rand(3) * 50 + 2).alias("trip_duration_minutes"),
        (F.rand(4) * 30 + 5).alias("avg_speed_mph"),
        (F.floor(F.rand(5) * 6) + 1).cast("int").alias("rate_code_id"),
        (F.floor(F.rand(6) * 2) + 1).cast("int").alias("payment_type"),
    )
    return df.withColumn(
        "fare_amount",
        2.5 + F.col("trip_distance") * 2.0 + F.col("trip_duration_minutes") * 0.35,
    )


def test_extract_training_frame_filters_and_caps(spark, training):
    bad = training.withColumn("fare_amount", F.lit(-1.0))
    df = extract_training_frame(training.unionByName(bad), limit=1500)
    assert df.count() == 1500
    assert df.columns == FEATURE_COLUMNS + ["fare_amount"]
    assert df.where("fare_amount <= 0").count() == 0


def test_train_eval_save_load_predict(spark, training, tmp_path):
    model, metrics = train_fare_model(training, num_trees=20, seed=42)
    assert metrics["n_train"] + metrics["n_test"] == 2000
    # 80/20 split within a tolerant band
    assert 0.15 < metrics["n_test"] / 2000 < 0.25
    assert metrics["mse"] >= 0 and math.isfinite(metrics["mse"])
    assert metrics["rmse"] == pytest.approx(math.sqrt(metrics["mse"]), rel=1e-9)

    path = str(tmp_path / "fare_model")
    save_model(model, path)
    reloaded = load_model(path)

    scored = predict_batch(reloaded, training.limit(50))
    rows = scored.select("predicted_fare").collect()
    assert len(rows) == 50
    assert all(r.predicted_fare > 0 and math.isfinite(r.predicted_fare) for r in rows)
    # rounding applied (F8): two decimals
    assert all(abs(r.predicted_fare * 100 - round(r.predicted_fare * 100)) < 1e-6 for r in rows)

    from data_etl_with_dbt_spark.ml.pipeline import feature_importances

    ranked = feature_importances(model)
    assert [r["feature"] for r in ranked] and len(ranked) == len(FEATURE_COLUMNS)
    assert set(r["feature"] for r in ranked) == set(FEATURE_COLUMNS)
    imps = [r["importance"] for r in ranked]
    assert imps == sorted(imps, reverse=True)
    assert sum(imps) == pytest.approx(1.0, abs=1e-6)


def test_parse_nl_trip_fixture():
    p = parse_nl_trip("10 miles, 3 passengers, 20 minutes")
    assert p["trip_distance"] == 10.0
    assert p["passenger_count"] == 3
    assert p["trip_duration_minutes"] == 20.0
    assert p["avg_speed_mph"] == pytest.approx(30.0)


def test_parse_nl_defaults():
    p = parse_nl_trip("predict fare")
    assert p["trip_distance"] == 5.0
    assert p["passenger_count"] == 1
    assert p["trip_duration_minutes"] == 15.0
    assert p["avg_speed_mph"] == pytest.approx(20.0)


def test_parse_json_and_partial():
    p = parse_json_params(
        '{"trip_distance": 10, "passenger_count": 3, "trip_duration_minutes": 20,'
        ' "avg_speed_mph": 25, "rate_code_id": 1, "payment_type": 1}'
    )
    assert p["avg_speed_mph"] == 25
    partial = parse_json_params('{"trip_distance": 8}')
    assert partial["trip_distance"] == 8
    assert partial["passenger_count"] == 1  # default


def test_parse_json_rejects_invalid():
    with pytest.raises(ValueError):
        parse_json_params('{"trip_distance": -1}')


def test_nl_params_expr_matches_python(spark):
    texts = [
        "10 miles, 3 passengers, 20 minutes",
        "predict fare",
        "2.5 1 5 12 2 2",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(nl_params_expr(F.col("text")).alias("p")).collect()
    for t, r in zip(texts, rows):
        expected = parse_nl_trip(t)
        got = r.p.asDict()
        for k, v in expected.items():
            assert got[k] == pytest.approx(v), (t, k)


# --- model-based quality filtering (ml/quality.py) --------------------------

@pytest.fixture(scope="module")
def weak_labeled_docs(spark):
    """Separable weak-label corpus: 'quality' docs reuse a coherent
    vocabulary; 'junk' docs are keyboard-mash tokens. 40 train + 20 eval."""
    import random

    rng = random.Random(7)
    good_vocab = "the model trains on clean prose with varied common words".split()
    # junk shares a (fixed) mash vocabulary so held-out junk has learnable
    # features — unseen-token junk would leave only the intercept to fire
    junk_vocab = [
        "".join(rng.choice("qxzjvk") for _ in range(8)) for _ in range(20)
    ]
    rows = []
    for i in range(60):
        if i % 2 == 0:
            words = [rng.choice(good_vocab) for _ in range(30)]
            label = 1.0
        else:
            words = [rng.choice(junk_vocab) for _ in range(30)]
            label = 0.0
        rows.append((i, " ".join(words), label))
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def test_quality_classifier_separates_and_filters(spark, weak_labeled_docs):
    from data_etl_with_dbt_spark.ml.quality import (
        filter_by_quality,
        score_quality,
        train_quality_classifier,
    )

    train = weak_labeled_docs.where(F.col("doc_id") < 40)
    heldout = weak_labeled_docs.where(F.col("doc_id") >= 40)
    model = train_quality_classifier(train, num_features=1 << 12, max_iter=20)
    scored = score_quality(model, heldout).join(
        heldout.select("doc_id", "label"), "doc_id"
    )
    agree = scored.where(
        F.col("quality_pred") == F.col("label").cast("bigint")
    ).count()
    total = scored.count()
    assert total == 20 and agree >= 18  # separable by construction

    kept = filter_by_quality(model, heldout, threshold=0.5)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    good_ids = {r.doc_id for r in heldout.where("label = 1.0").collect()}
    assert len(kept_ids.symmetric_difference(good_ids)) <= 2
    # full doc rows survive the filter untouched
    assert kept.columns == weak_labeled_docs.columns


def test_quality_filter_keeps_rows_not_ids(spark, weak_labeled_docs):
    """The gate filters rows in place: a junk row whose id also belongs
    to a clean row stays out (a join back by id let it through)."""
    from data_etl_with_dbt_spark.ml.quality import (
        filter_by_quality,
        train_quality_classifier,
    )

    model = train_quality_classifier(
        weak_labeled_docs, num_features=1 << 12, max_iter=20
    )
    clean, junk = (
        weak_labeled_docs.where(F.col("doc_id") == i).first().text for i in (0, 1)
    )
    docs = spark.createDataFrame(
        [(7, clean, 1.0), (7, junk, 0.0)], "doc_id long, text string, label double"
    )
    kept = filter_by_quality(model, docs, threshold=0.5).collect()
    assert [(r.doc_id, r.text) for r in kept] == [(7, clean)]


def test_quality_scoring_is_jvm_side(spark, weak_labeled_docs):
    """Corpus scoring must stay inside the JVM: no Python eval in the
    transform plan (HashingTF/LR are JVM transformers; probability
    extraction is vector_to_array, not a UDF)."""
    from data_etl_with_dbt_spark.ml.quality import score_quality, train_quality_classifier

    model = train_quality_classifier(
        weak_labeled_docs.where(F.col("doc_id") < 40), num_features=1 << 12, max_iter=20
    )
    scored = score_quality(model, weak_labeled_docs)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_model_round_trip(spark, weak_labeled_docs, tmp_path):
    from data_etl_with_dbt_spark.ml.quality import score_quality, train_quality_classifier
    from pyspark.ml import PipelineModel

    model = train_quality_classifier(weak_labeled_docs, num_features=1 << 12, max_iter=20)
    path = str(tmp_path / "quality_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = score_quality(model, weak_labeled_docs).orderBy("doc_id").collect()
    b = score_quality(reloaded, weak_labeled_docs).orderBy("doc_id").collect()
    assert [r.quality_pred for r in a] == [r.quality_pred for r in b]


def test_gbt_variant_trains_saves_loads_and_fits_better_or_close(spark, training, tmp_path):
    """The GBT algorithm option: same split/metrics contract, artifact
    round-trips through the shared save/load path, and on this linear-ish
    synthetic target boosting matches or beats the forest's MSE."""
    from data_etl_with_dbt_spark.ml.pipeline import (
        load_model,
        predict_batch,
        save_model,
        train_fare_model,
    )

    rf_model, rf_metrics = train_fare_model(training, num_trees=20)
    gbt_model, gbt_metrics = train_fare_model(
        training, num_trees=20, algorithm="gbt"
    )
    assert gbt_metrics["n_train"] == rf_metrics["n_train"]
    assert gbt_metrics["mse"] <= rf_metrics["mse"] * 1.1

    path = str(tmp_path / "gbt_model")
    save_model(gbt_model, path)
    back = load_model(path)
    scored = predict_batch(back, training.limit(50))
    assert scored.count() == 50
    assert "predicted_fare" in scored.columns


def test_unknown_algorithm_rejected(spark, training):
    import pytest as _pytest

    from data_etl_with_dbt_spark.ml.pipeline import train_fare_model

    with _pytest.raises(ValueError, match="rf|gbt"):
        train_fare_model(training, algorithm="xgboost")


def test_tune_quality_classifier_selects_and_reports(spark, weak_labeled_docs):
    """CV tuning: the report covers the whole grid, the chosen regParam is
    one of the candidates, and the tuned model still separates the weak
    classes when scoring."""
    from data_etl_with_dbt_spark.ml.quality import (
        score_quality,
        tune_quality_classifier,
    )

    best, report = tune_quality_classifier(
        weak_labeled_docs, reg_params=(0.0, 0.1), num_folds=2, parallelism=2,
        num_features=1 << 12, max_iter=20,
    )
    assert set(report["avg_auc_by_reg"]) == {0.0, 0.1}
    assert report["best_reg"] in (0.0, 0.1)
    assert max(report["avg_auc_by_reg"].values()) > 0.9  # separable classes

    scored = score_quality(best, weak_labeled_docs).join(
        weak_labeled_docs.select("doc_id", "label"), "doc_id"
    )
    means = {
        r.label: r.m
        for r in scored.groupBy("label")
        .agg(F.avg("quality_prob").alias("m"))
        .collect()
    }
    assert means[1.0] > means[0.0]


def test_tune_quality_classifier_survives_observation_manager(spark, weak_labeled_docs):
    """Regression: once ANY df.observe has run in the session, task closures
    that drag the SparkSession along fail to serialize (ObservationManager).
    Stock CrossValidator evaluates fold models with their training summaries
    still attached — summary → training DataFrame → session — so tuning died
    in full-suite runs where an observe-using test ran first. The hand-rolled
    CV strips each fold model pre-evaluation; this test pins the trap by
    tripping observe FIRST, then tuning, then an RDD-serializing op."""
    from pyspark.sql.observation import Observation

    from data_etl_with_dbt_spark.ml.quality import (
        score_quality,
        tune_quality_classifier,
    )

    obs = Observation("tune_regression_probe")
    probed = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
    probed.count()
    assert obs.get["n"] == 10

    best, report = tune_quality_classifier(
        weak_labeled_docs, reg_params=(0.0, 0.1), num_folds=2, parallelism=2,
        num_features=1 << 12, max_iter=20,
    )
    assert report["best_reg"] in (0.0, 0.1)
    # the op that died pre-fix: RDD serialization of a transform of the model
    scored = score_quality(best, weak_labeled_docs).localCheckpoint(eager=True)
    assert scored.count() == weak_labeled_docs.count()


def test_reliability_report_and_isotonic_calibration(spark, weak_labeled_docs):
    """Calibration loop: score a held-out slice, diagnose with the binned
    reliability report, repair with isotonic regression — Brier must not
    increase on the calibration sample (isotonic is the L2-optimal monotone
    fit), the calibrated map must be monotone, and the report's bins must
    partition the sample."""
    from data_etl_with_dbt_spark.ml.quality import (
        apply_calibration,
        brier_score,
        calibrate_isotonic,
        reliability_report,
        score_quality,
        train_quality_classifier,
    )

    train = weak_labeled_docs.where(F.col("doc_id") < 30)
    rest = weak_labeled_docs.where(F.col("doc_id") >= 30)
    model = train_quality_classifier(train, num_features=1 << 12, max_iter=20)
    scored = score_quality(model, rest).join(
        rest.select("doc_id", "label"), "doc_id"
    )

    rep = reliability_report(scored, bins=5).collect()
    assert sum(r.n for r in rep) == rest.count()
    for r in rep:
        assert 0.0 <= r.mean_prob <= 1.0 and 0.0 <= r.frac_pos <= 1.0

    iso = calibrate_isotonic(scored)
    cal = apply_calibration(iso, scored)
    assert "calibrated_prob" in cal.columns

    raw_brier = brier_score(scored)
    cal_brier = brier_score(cal, prob_col="calibrated_prob")
    assert cal_brier <= raw_brier + 1e-12

    # monotone: sorting by raw prob must sort calibrated prob too
    rows = cal.select("quality_prob", "calibrated_prob").collect()
    rows.sort(key=lambda r: r.quality_prob)
    cps = [r.calibrated_prob for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(cps, cps[1:]))


class TestTopics:
    """LDA topic modeling (ml/topics): on a corpus constructed from two
    disjoint vocabularies the dominant-topic assignment must separate the
    groups; topics resolve to real vocabulary terms; shares sum to 1."""

    @pytest.fixture(scope="class")
    def two_theme_docs(self, spark):
        import random

        rng = random.Random(5)
        cooking = "recipe oven flour butter sugar bake whisk dough salt pan".split()
        sports = "match goal team score league player coach field win season".split()
        rows = []
        for i in range(80):
            vocab = cooking if i % 2 == 0 else sports
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_topics_separate_constructed_themes(self, spark, two_theme_docs):
        from data_etl_with_dbt_spark.ml.topics import (
            doc_topics,
            describe_topics,
            topic_shares,
            train_topics,
        )

        model = train_topics(
            two_theme_docs, k=2, vocab_size=64, min_df=1.0, max_iter=30, seed=7
        )
        assigned = doc_topics(model, two_theme_docs)
        rows = assigned.collect()
        assert len(rows) == 80
        # mixtures are distributions
        for r in rows[:5]:
            assert abs(sum(r.topic_mix) - 1.0) < 1e-6
        # the two constructed themes land on different dominant topics for
        # the overwhelming majority of docs
        from collections import Counter

        by_theme = {0: Counter(), 1: Counter()}
        for r in rows:
            by_theme[r.doc_id % 2][r.dominant_topic] += 1
        top0 = by_theme[0].most_common(1)[0]
        top1 = by_theme[1].most_common(1)[0]
        assert top0[0] != top1[0]
        assert top0[1] >= 36 and top1[1] >= 36  # >=90% purity per theme

        # topic terms come from the right vocabulary
        topics = {r.topic: set(r.terms) for r in describe_topics(model, 5).collect()}
        cooking = set("recipe oven flour butter sugar bake whisk dough salt pan".split())
        sports = set("match goal team score league player coach field win season".split())
        t0 = topics[top0[0]]
        t1 = topics[top1[0]]
        assert len(t0 & cooking) >= 4 and len(t0 & sports) == 0
        assert len(t1 & sports) >= 4 and len(t1 & cooking) == 0

        shares = topic_shares(assigned).collect()
        assert abs(sum(r.share for r in shares) - 1.0) < 1e-12
        assert sum(r.n_docs for r in shares) == 80

    def test_empty_vocab_doc_gets_zero_mixture(self, spark, two_theme_docs):
        """Pins the Spark ML convention topic_model_simplex's flag relies
        on (round-5 review): a document with NO in-vocab tokens transforms
        to the all-zero mixture, not a simplex — and every other doc's
        mixture IS a simplex. If a Spark upgrade changes the convention
        this fails before the driver's oracle does."""
        from data_etl_with_dbt_spark.ml.topics import doc_topics, train_topics

        extra = spark.createDataFrame(
            [(1000, ""), (1001, "zzzquux")],  # empty + out-of-vocab only
            "doc_id long, text string",
        )
        docs = two_theme_docs.unionByName(extra)
        model = train_topics(
            two_theme_docs, k=2, vocab_size=64, min_df=1.0, max_iter=5, seed=7
        )
        rows = {r.doc_id: r.topic_mix for r in doc_topics(model, docs).collect()}
        assert len(rows) == 82
        for did in (1000, 1001):
            assert rows[did] == [0.0, 0.0], rows[did]
        for did, mix in rows.items():
            if did < 1000:
                assert abs(sum(mix) - 1.0) < 1e-6 and min(mix) >= 0.0

    def test_transform_is_jvm_side(self, spark, two_theme_docs):
        from data_etl_with_dbt_spark.ml.topics import doc_topics, train_topics

        model = train_topics(
            two_theme_docs, k=2, vocab_size=64, min_df=1.0, max_iter=10, seed=7
        )
        plan = (
            doc_topics(model, two_theme_docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestDocEmbeddings:
    """Word2Vec doc embeddings (ml/embeddings): trained vectors must place
    same-theme documents nearer than cross-theme ones, and the output
    relation must slot directly into the similarity operators."""

    def test_embeddings_cluster_by_theme_and_feed_ann(self, spark):
        import random

        from data_etl_with_dbt_spark.ml.embeddings import (
            embed_documents,
            train_doc_embeddings,
        )
        from data_etl_with_dbt_spark.operators.similarity import brute_force_topk

        rng = random.Random(11)
        cooking = "recipe oven flour butter sugar bake whisk dough salt pan".split()
        sports = "match goal team score league player coach field win season".split()
        rows = [
            (i, " ".join(rng.choice(cooking if i % 2 == 0 else sports) for _ in range(40)))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        model = train_doc_embeddings(docs, dim=16, min_count=1, max_iter=8, seed=3)
        emb = embed_documents(model, docs)
        assert emb.columns == ["doc_id", "embedding"]
        assert len(emb.first().embedding) == 16

        # the embedding relation drives the existing ANN operator as-is:
        # for even (cooking) probes, the top-5 neighbors are even docs
        probes = emb.where(F.col("doc_id").isin(0, 2)).select(
            F.col("doc_id").alias("query_id"), "embedding"
        )
        top = brute_force_topk(
            emb, probes, id_col="doc_id", vec_col="embedding", k=5
        ).collect()
        same_theme = [r for r in top if r.doc_id % 2 == 0]
        assert len(same_theme) == len(top)  # every neighbor shares the theme


class TestMlReviewFixes:
    """Round-5 review regressions for parse/pipeline/models."""

    def test_parse_json_none_and_empty_values(self):
        from data_etl_with_dbt_spark.ml.parse import parse_json_params

        # None payload: the reference's catch-everything JSON step falls
        # back to the NL parse (all defaults), never raises TypeError
        out = parse_json_params(None)
        assert out["trip_distance"] == 5.0 and out["passenger_count"] == 1
        # explicit null/empty JSON values count as missing, like the
        # reference's `data[k] in (None, "")` check
        out2 = parse_json_params(
            '{"trip_distance": 10, "passenger_count": null, "payment_type": ""}'
        )
        assert out2["trip_distance"] == 10
        assert out2["passenger_count"] != ""  # filled, not passed through

    def test_parse_json_positional_fallback_is_reference_faithful(self):
        """The reference (Application.py:104-116) fills missing JSON keys by
        regex-scanning the RAW text positionally — quirky but contractual;
        pin it so a well-meaning 'fix' can't silently diverge from the
        system being ported."""
        from data_etl_with_dbt_spark.ml.parse import parse_json_params

        out = parse_json_params('{"trip_distance": 2, "trip_duration_minutes": 30}')
        assert out["trip_distance"] == 2.0
        assert out["trip_duration_minutes"] == 30.0
        # positions: [2, 30] -> passenger_count (slot 2) gets 30
        assert out["passenger_count"] == 30

    def test_load_model_dispatches_on_metadata_class(self, spark, tmp_path, training):
        from pyspark.ml.regression import (
            GBTRegressionModel,
            RandomForestRegressionModel,
        )

        from data_etl_with_dbt_spark.ml.pipeline import (
            load_model,
            save_model,
            train_fare_model,
        )

        gbt, _ = train_fare_model(training.limit(80), algorithm="gbt", seed=7)
        p = str(tmp_path / "gbt_model")
        save_model(gbt, p)
        back = load_model(p)
        assert isinstance(back, GBTRegressionModel)
        rf, _ = train_fare_model(training.limit(80), algorithm="rf", num_trees=3, seed=7)
        p2 = str(tmp_path / "rf_model")
        save_model(rf, p2)
        assert isinstance(load_model(p2), RandomForestRegressionModel)

    def test_predict_batch_handle_invalid_modes(self, spark, training):
        import pytest
        from pyspark.errors.exceptions.captured import SparkRuntimeException

        from data_etl_with_dbt_spark.ml.pipeline import (
            predict_batch,
            train_fare_model,
        )

        model, _ = train_fare_model(training.limit(80), algorithm="rf", num_trees=3, seed=7)
        rows = [
            (5.0, 1, 20.0, 15.0, 1, 1),
            (8.0, 2, 30.0, None, 1, 1),  # NULL feature
            (3.0, 1, 10.0, 18.0, 2, 2),
        ]
        bad = spark.createDataFrame(
            rows,
            "trip_distance double, passenger_count int, "
            "trip_duration_minutes double, avg_speed_mph double, "
            "rate_code_id int, payment_type int",
        )
        # default 'skip' documents the drop; callers join by id
        assert predict_batch(model, bad).count() == 2
        with pytest.raises(Exception):
            # count() would column-prune the assembler away; materialize
            # the prediction so the error path actually evaluates
            predict_batch(model, bad, handle_invalid="error").select(
                "predicted_fare"
            ).collect()

    def test_taxi_unknown_dedup_strategy_rejected(self, spark):
        import pytest

        from data_etl_with_dbt_spark.models.taxi import build_core_taxi

        with pytest.raises(ValueError, match="dedup_strategy"):
            build_core_taxi(spark.range(1), dedup_strategy="dropDuplicates")
