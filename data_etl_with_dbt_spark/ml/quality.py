"""Model-based document quality filtering — the classifier pillar of an LLM
data pipeline (the CCNet / fastText-filter recipe: train a cheap linear
classifier on weak labels, score the corpus, keep high-probability docs).

Spark-first: the whole path is JVM-side ``pyspark.ml`` stages —
RegexTokenizer → HashingTF (hashed bag-of-words, no vocabulary broadcast) →
LogisticRegression — so scoring a 100 TB corpus is one distributed
``model.transform`` with no Python in the row path and no driver-side
vocabulary. Hashed features are the scale trick: the feature space is fixed
(``2**18``) regardless of corpus vocabulary, so there is no fit-time
dictionary shuffle and the model broadcast is a few MB of coefficients.

Weak labels come from the caller (heuristic rules, a known-good reference
corpus vs crawl sample, etc.) — the standard bootstrap, cf. Wenzek et al.
2020 (CCNet) and Touvron et al. 2023 (LLaMA's Wikipedia-reference filter).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed hashed-feature width: no vocabulary, no fit-time dictionary.
DEFAULT_NUM_FEATURES = 1 << 18


def build_quality_pipeline(
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = DEFAULT_NUM_FEATURES,
    use_bigrams: bool = True,
    max_iter: int = 50,
    reg_param: float = 1e-4,
) -> Pipeline:
    """fastText-shaped classifier: hashed unigram (+bigram) counts into a
    logistic regression. Every stage is a JVM transformer — nothing leaves
    the executors during fit or transform."""
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__words", pattern=r"\s+", toLowercase=True
    )
    stages = [tok]
    feat_cols = []
    tf_uni = HashingTF(
        inputCol="__words", outputCol="__tf_uni", numFeatures=num_features
    )
    stages.append(tf_uni)
    feat_cols.append("__tf_uni")
    if use_bigrams:
        ng = NGram(n=2, inputCol="__words", outputCol="__bigrams")
        tf_bi = HashingTF(
            inputCol="__bigrams", outputCol="__tf_bi", numFeatures=num_features
        )
        stages += [ng, tf_bi]
        feat_cols.append("__tf_bi")
    asm = VectorAssembler(inputCols=feat_cols, outputCol="__features")
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        family="binomial",
    )
    return Pipeline(stages=[*stages, asm, lr])


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    **pipeline_kwargs,
) -> PipelineModel:
    """Fit the classifier on weakly-labeled documents (label ∈ {0.0, 1.0}).
    LBFGS over hashed features — the fit aggregates gradients via
    treeAggregate (map-side combined), never collecting rows.

    The fitted LR's training summary is dropped: it pins the training
    DataFrame (and through it the SparkSession) inside the model, so any
    later RDD-serializing op on a transform of this model — e.g.
    ``localCheckpoint`` — tries to serialize the session and dies on its
    non-serializable state (observed empirically via ObservationManager
    once any ``df.observe`` ran in the session). Callers needing training
    metrics should evaluate on a held-out frame instead."""
    model = build_quality_pipeline(
        text_col=text_col, label_col=label_col, **pipeline_kwargs
    ).fit(labeled)
    for stage in model.stages:
        jobj = getattr(stage, "_java_obj", None)
        if jobj is not None and getattr(stage, "hasSummary", False):
            try:
                jobj.setSummary(labeled.sparkSession._jvm.scala.Option.empty())
            except Exception:
                pass  # summary retention is cosmetic; never fail the fit
    return model


def quality_scorer(
    model: PipelineModel, text_col: str = "text"
) -> Callable[[DataFrame], DataFrame]:
    """Score in place: returns ``score(docs)``, which yields every row and
    column of ``docs`` plus ``quality_prob`` (P(label=1)) and
    ``quality_pred`` — one distributed transform, the vector-element
    extraction JVM-side (``vector_to_array``). A gate filters that frame
    on ``quality_prob`` and projects its own columns back: no join back
    by id, so a junk row sharing its id with a clean row stays out.

    The fitted stages are pushed to the JVM ONCE, as one JVM
    ``PipelineModel`` the scorer keeps, where pyspark's own ``transform``
    re-sends every stage's params on each call (0.09-0.11 s vs
    0.10-0.15 s per call for the intake gate's pipeline, 4-core host). A
    ``text_col`` other than the one the tokenizer was fit on is honored
    by a copy of the tokenizer reading it."""
    from pyspark.ml.functions import vector_to_array

    # imported here: importing ``ml`` must not load the operators package
    from ..operators.relational import by_name

    stages = list(model.stages)
    tok = stages[0]
    if tok.getInputCol() != text_col:
        stages[0] = tok.copy({tok.inputCol: text_col})
    jmodel = PipelineModel(stages)._to_java()

    def score(docs: DataFrame) -> DataFrame:
        scored = DataFrame(jmodel.transform(docs._jdf), docs.sparkSession)
        return scored.select(
            *by_name(*docs.columns),
            vector_to_array(F.col("probability"))[1].alias("quality_prob"),
            F.col("prediction").cast("bigint").alias("quality_pred"),
        )

    return score


def score_quality(
    model: PipelineModel,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents: ``(id, quality_prob, quality_pred)`` where
    ``quality_prob`` is P(label=1) — :func:`quality_scorer` narrowed to
    the id."""
    return quality_scorer(model, text_col)(docs).select(
        id_col, "quality_prob", "quality_pred"
    )


def filter_by_quality(
    model: PipelineModel,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Keep documents with P(quality) ≥ threshold — the corpus-filter step.
    Filters the scored rows in place (:func:`quality_scorer`) and drops
    the score columns, so full rows pass through untouched and a verdict
    belongs to its row, not to its id. ``id_col`` is kept for
    signature compatibility; nothing joins on it."""
    return (
        quality_scorer(model, text_col)(docs)
        .where(F.col("quality_prob") >= threshold)
        .drop("quality_prob", "quality_pred")
    )


def _select_best_reg(
    grid: list[float], fold_aucs: list[tuple[float, float]]
) -> tuple[float, dict[float, float]]:
    """NaN-safe CV selection. A single-class eval fold makes areaUnderROC
    NaN, and NaN poisons a plain max() over the averages (every comparison
    is False, so the first-seen key silently wins): average only the
    informative folds per regParam, drop grid entries with none, raise if
    nothing is informative. Ties go to the earliest grid entry."""
    import math

    by_reg: dict[float, list[float]] = {rp: [] for rp in grid}
    for rp, auc in fold_aucs:
        by_reg[float(rp)].append(auc)
    avg_by_reg: dict[float, float] = {}
    for rp in grid:
        valid = [a for a in by_reg[rp] if not math.isnan(a)]
        avg_by_reg[rp] = sum(valid) / len(valid) if valid else float("nan")
    candidates = [rp for rp in grid if not math.isnan(avg_by_reg[rp])]
    if not candidates:
        raise ValueError(
            "every CV fold was single-class (AUC undefined for all "
            "regParams) — enlarge the labeled sample or lower num_folds"
        )
    best = max(candidates, key=lambda rp: (avg_by_reg[rp], -grid.index(rp)))
    return best, avg_by_reg


def tune_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    reg_params: tuple = (0.0, 0.01, 0.1),
    num_folds: int = 3,
    parallelism: int = 2,
    seed: int = 42,
    **pipeline_kwargs,
):
    """Cross-validated regularization selection for the quality classifier:
    K-fold CV over ``regParam`` with areaUnderROC as the selector,
    ``parallelism`` concurrent fold fits (independent Spark jobs — the
    same scheduler-interleaving win as the PQ codebook training).

    Returns ``(best PipelineModel with summary stripped, report dict)``
    where the report maps each regParam to its CV-average AUC. Folds are
    hash-assigned from the text with the seed as salt, so selection is
    reproducible. At 100 TB you tune on a SAMPLE: CV multiplies the fit
    cost by folds x grid, and regularization chosen on 1e6 rows transfers
    to the full corpus (linear model, hashed features).

    Hand-rolled CV rather than ``pyspark.ml.tuning.CrossValidator``: the
    stock CV evaluates each FOLD model's transform while the fold model
    still holds its training summary, and that summary pins the training
    DataFrame + SparkSession inside every task closure — which fails to
    serialize once any ``df.observe`` has run in the session (the
    ObservationManager trap train_quality_classifier documents). Owning
    the loop lets us strip each fold model BEFORE evaluation; the
    (regParam, fold) fits are independent Spark jobs submitted from a
    thread pool, the same scheduler-interleaving pattern as the PQ
    codebook training."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    def strip_summaries(model):
        for stage in model.stages:
            jobj = getattr(stage, "_java_obj", None)
            if jobj is not None and getattr(stage, "hasSummary", False):
                try:
                    jobj.setSummary(labeled.sparkSession._jvm.scala.Option.empty())
                except Exception:
                    pass  # summary retention is cosmetic; never fail the fit

    # fold by hashing EVERY column (not just the text): repeated texts
    # collapse to one fold otherwise, and a duplicate-heavy corpus could
    # leave a fold's training split empty or single-class
    folded = labeled.withColumn(
        "__fold",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in labeled.columns], F.lit(int(seed))),
            F.lit(int(num_folds)),
        ),
    ).persist()

    def fit_and_eval(rp: float, k: int) -> float:
        pipe = build_quality_pipeline(
            text_col=text_col, label_col=label_col, **pipeline_kwargs
        )
        pipe.getStages()[-1].setRegParam(float(rp))
        model = pipe.fit(folded.where(F.col("__fold") != k).drop("__fold"))
        strip_summaries(model)
        scored = model.transform(folded.where(F.col("__fold") == k).drop("__fold"))
        return float(
            BinaryClassificationEvaluator(
                labelCol=label_col, metricName="areaUnderROC"
            ).evaluate(scored)
        )

    tasks = [(float(rp), k) for rp in reg_params for k in range(num_folds)]
    try:
        with ThreadPoolExecutor(max_workers=max(1, int(parallelism))) as ex:
            aucs = list(ex.map(lambda t: fit_and_eval(*t), tasks))
    finally:
        folded.unpersist()
    best_reg, avg_by_reg = _select_best_reg(
        [float(rp) for rp in reg_params],
        [(rp, auc) for (rp, _), auc in zip(tasks, aucs)],
    )
    final = build_quality_pipeline(
        text_col=text_col, label_col=label_col, **pipeline_kwargs
    )
    final.getStages()[-1].setRegParam(float(best_reg))
    best = final.fit(labeled)
    strip_summaries(best)
    report = {
        "avg_auc_by_reg": avg_by_reg,
        "best_reg": float(best_reg),
    }
    return best, report


# ---------------------------------------------------------------------------
# Calibration: a filter threshold like "keep docs with P(quality) ≥ 0.8" is
# only meaningful if the probabilities are calibrated. Logistic scores off
# weak labels usually aren't (class imbalance, regularization, label noise
# all skew them) — so the pipeline gets the standard diagnosis/repair pair:
# a reliability report (binned observed-vs-predicted) and isotonic
# recalibration (Zadrozny & Elkan 2002), both as distributed passes.
# ---------------------------------------------------------------------------

def reliability_report(
    scored: DataFrame,
    prob_col: str = "quality_prob",
    label_col: str = "label",
    bins: int = 10,
) -> DataFrame:
    """Calibration diagnosis: bucket predictions into equal-width
    probability bins and compare each bin's mean predicted probability to
    its observed positive rate (+ the bin's Brier contribution). One
    map-side-combined aggregation over ``bins`` groups — free at corpus
    scale. Perfectly calibrated ⇒ mean_prob ≈ frac_pos per bin."""
    p = F.col(prob_col)
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(p * bins).cast("int"), F.lit(bins - 1)).alias("bin")
    return (
        scored.select(b, p.alias("__p"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("__p").alias("mean_prob"),
            F.avg("__y").alias("frac_pos"),
            F.sum((F.col("__p") - F.col("__y")) ** 2).alias("brier_sum"),
        )
        .orderBy("bin")
    )


def brier_score(
    scored: DataFrame,
    prob_col: str = "quality_prob",
    label_col: str = "label",
) -> float:
    """Mean squared error of the probabilities — the scalar the
    calibration step should reduce. One aggregation, driver reads a row."""
    [row] = (
        scored.agg(
            F.avg(
                (F.col(prob_col) - F.col(label_col).cast("double")) ** 2
            ).alias("brier")
        ).collect()
    )
    return float(row.brier)


def calibrate_isotonic(
    scored: DataFrame,
    prob_col: str = "quality_prob",
    label_col: str = "label",
):
    """Fit an isotonic (monotone non-decreasing) map from raw score to
    calibrated probability on a LABELED scored sample — pyspark.ml's
    distributed PAVA. Isotonic beats Platt scaling when the miscalibration
    isn't sigmoid-shaped (the usual case for hashed-feature LR) and can
    only improve training-set Brier (it's the L2-optimal monotone fit).
    Fit on a held-out slice, not the classifier's own training rows."""
    from pyspark.ml.regression import IsotonicRegression

    iso = IsotonicRegression(
        featuresCol=prob_col, labelCol=label_col, predictionCol="calibrated_prob"
    )
    return iso.fit(
        scored.select(F.col(prob_col), F.col(label_col).cast("double"))
    )


def apply_calibration(
    iso_model, scored: DataFrame, prob_col: str = "quality_prob"
) -> DataFrame:
    """Replace raw probabilities with calibrated ones (new column
    ``calibrated_prob``): one JVM transform — the model carries just the
    isotonic knot arrays, broadcast-sized at any corpus scale. The model
    is transformed through a COPY when ``prob_col`` differs from its
    fitted featuresCol — mutating the caller's shared model in place
    would leak the rebind into every later use (and race across threads)."""
    if iso_model.getFeaturesCol() != prob_col:
        iso_model = iso_model.copy()
        iso_model.setFeaturesCol(prob_col)
    return iso_model.transform(scored)
