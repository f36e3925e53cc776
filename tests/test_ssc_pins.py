"""Exact-value pins for the four SSC estimators.

The other SSC tests check invariants (pool sizes add up, iterations stay
in range), which a changed promotion or a changed final model would
still pass. This file records, per configuration, the full
``SemiSupervisedSummary``, a digest of the fitted model's sorted
``(vec_id, prediction)`` output, and the number of Spark jobs the fit
ran. Summaries and digests must match exactly; the job count may only go
down.

Fixture: sf0.001 ``embeddings`` (500 x 64), binary label ``label == 1``,
``DeterministicLabelMasker(percentageLabeled=0.3, seed=11)``, 8 shuffle
partitions.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.ml.classification import DecisionTreeClassifier, NaiveBayes
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.supervised import Supervised
from tfm_semisup_spark.operators.tri_training import TriTraining
from tfm_semisup_spark.operators.unlabeled import DeterministicLabelMasker

SF = "/root/testdata/sf0.001"

_CLASSIFIERS = {
    "dt": lambda: DecisionTreeClassifier(seed=5),
    "nb": lambda: NaiveBayes(modelType="gaussian"),
}


def _estimator(cfg: str):
    """``family-criterion-classifier-maxIter`` (SSC loops) or
    ``family-classifier`` (Supervised, TriTraining)."""
    parts = cfg.split("-")
    if parts[0] == "supervised":
        return Supervised(baseClassifier=_CLASSIFIERS[parts[1]]())
    if parts[0] == "tri":
        return TriTraining(baseClassifier=_CLASSIFIERS[parts[1]](), maxIter=4)
    family, criterion, clf, max_iter = parts
    kw = dict(
        baseClassifier=_CLASSIFIERS[clf](),
        criterion=criterion,
        threshold=0.75,
        kBest=0.5,
        maxIter=int(max_iter),
    )
    if family == "self":
        return SelfTraining(**kw)
    return CoTraining(viewSplit={"coinst": "instances", "cofeat": "features"}[family], **kw)


CONFIGS = [
    f"{family}-{criterion}-{clf}-{max_iter}"
    for family in ("self", "coinst", "cofeat")
    for criterion in ("threshold", "kBest")
    for clf in ("dt", "nb")
    for max_iter in (1, 3)
] + ["supervised-dt", "supervised-nb", "tri-dt", "tri-nb"]

# (labeled_initial, unlabeled_initial, labeled_final, unlabeled_final,
#  iterations), prediction digest, Spark jobs per fit
EXPECTED = {
    "self-threshold-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 13),
    "self-threshold-dt-3": ((170, 330, 500, 0, 1), "e18549dc2a66eb52", 27),
    "self-threshold-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 5),
    "self-threshold-nb-3": ((170, 330, 495, 5, 3), "3c92f0314a8e9c70", 17),
    "self-kBest-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 13),
    "self-kBest-dt-3": ((170, 330, 334, 166, 3), "c5ee59efa5e59d0a", 38),
    "self-kBest-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 5),
    "self-kBest-nb-3": ((170, 330, 334, 166, 3), "2144b5c73cfc3ffe", 14),
    "coinst-threshold-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 20),
    "coinst-threshold-dt-3": ((170, 330, 500, 0, 1), "e04e1bf0f4dcfda6", 48),
    "coinst-threshold-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 12),
    "coinst-threshold-nb-3": ((170, 330, 500, 0, 2), "ad50638051008115", 36),
    "coinst-kBest-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 20),
    "coinst-kBest-dt-3": ((170, 330, 490, 10, 2), "8f0d72931dfa9a5f", 70),
    "coinst-kBest-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 12),
    "coinst-kBest-nb-3": ((170, 330, 490, 10, 2), "ad50638051008115", 30),
    "cofeat-threshold-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 15),
    "cofeat-threshold-dt-3": ((170, 330, 500, 0, 1), "0d8b0c61b9d83007", 39),
    "cofeat-threshold-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 7),
    "cofeat-threshold-nb-3": ((170, 330, 500, 0, 2), "5e6b55a519617bd6", 23),
    "cofeat-kBest-dt-1": ((170, 330, 170, 330, 1), "e7830118e1cd1ecf", 15),
    "cofeat-kBest-dt-3": ((170, 330, 334, 166, 3), "825104781f4772c7", 60),
    "cofeat-kBest-nb-1": ((170, 330, 170, 330, 1), "6b0bcff72122a9cd", 7),
    "cofeat-kBest-nb-3": ((170, 330, 334, 166, 3), "2118abcdacff4275", 20),
    "supervised-dt": ((170, 330, 170, 330, 0), "e7830118e1cd1ecf", 12),
    "supervised-nb": ((170, 330, 170, 330, 0), "6b0bcff72122a9cd", 4),
    "tri-dt": ((170, 330, 477, 23, 3), "98d8154e528e9b5e", 93),
    "tri-nb": ((170, 330, 197, 303, 3), "cd922fe48b5dd53b", 29),
}


def masked_embeddings(spark):
    emb = load_table(spark, SF, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    pts = df.select(
        "vec_id",
        "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )
    out = DeterministicLabelMasker(
        percentageLabeled=0.3, idCol="vec_id", seed=11
    ).transform(pts).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def masked(spark):
    # earlier test modules may leave a different partition count behind
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    out = masked_embeddings(spark)
    yield out
    out.unpersist()
    spark.conf.set("spark.sql.shuffle.partitions", before)


def fit_and_measure(spark, masked, cfg: str):
    """Fit ``cfg`` under its own job group; return (summary tuple,
    prediction digest, number of Spark jobs the fit ran)."""
    sc = spark.sparkContext
    group = f"ssc-pin-{cfg}"
    sc.setJobGroup(group, group)
    try:
        model = _estimator(cfg).fit(masked)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    s = model.ss_summary
    rows = sorted(
        (r["vec_id"], r["prediction"])
        for r in model.transform(masked.select("vec_id", "features")).collect()
    )
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    summary = (
        s.labeled_initial,
        s.unlabeled_initial,
        s.labeled_final,
        s.unlabeled_final,
        s.iterations,
    )
    return summary, digest, jobs


@pytest.mark.parametrize("cfg", CONFIGS)
def test_ssc_pin(spark, masked, cfg):
    summary, digest, jobs = fit_and_measure(spark, masked, cfg)
    exp_summary, exp_digest, exp_jobs = EXPECTED[cfg]
    assert summary == exp_summary
    assert digest == exp_digest
    assert jobs <= exp_jobs, f"{cfg}: {jobs} Spark jobs, pinned {exp_jobs}"
