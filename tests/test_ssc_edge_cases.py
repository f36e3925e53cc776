"""SSC loop edge cases pinning reference semantics (SelfTraining.scala
loop guards): maxIter=1 means no promotion rounds; threshold=0 promotes
everything in one round; CoTraining kBest branch; Adult-style
categorical featurization with maxBins (A2 fixture path)."""

from __future__ import annotations

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.sql import functions as F

from tfm_semisup_spark.featurization import ArrayToVector, build_featurization
from tfm_semisup_spark.io import load_table
from tfm_semisup_spark.operators.co_training import CoTraining
from tfm_semisup_spark.operators.self_training import SelfTraining
from tfm_semisup_spark.operators.unlabeled import DeterministicLabelMasker

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def masked(spark):
    emb = load_table(spark, SF, "embeddings")
    df = ArrayToVector(inputCol="embedding", outputCol="features").transform(emb)
    pts = df.select(
        "vec_id", "features",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )
    return DeterministicLabelMasker(
        percentageLabeled=0.3, idCol="vec_id", seed=11
    ).transform(pts).cache()


def test_self_training_max_iter_one_no_promotion(masked):
    st = SelfTraining(baseClassifier=DecisionTreeClassifier(seed=5), maxIter=1)
    model = st.fit(masked)
    s = model.ss_summary
    assert s.iterations == 1  # reference: iter starts at 1, loop never entered
    assert s.labeled_final == s.labeled_initial
    assert s.unlabeled_final == s.unlabeled_initial


def test_self_training_threshold_zero_promotes_all(masked):
    # probMax > 0 is true for every row -> one promotion round empties
    # the unlabeled pool and the loop stops on countUnlabeled == 0
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.0, maxIter=5
    )
    model = st.fit(masked)
    s = model.ss_summary
    assert s.unlabeled_final == 0
    assert s.labeled_final == s.labeled_initial + s.unlabeled_initial
    assert s.iterations == 1


def test_self_training_invalid_criterion(masked):
    st = SelfTraining(baseClassifier=DecisionTreeClassifier(seed=5), criterion="nope")
    with pytest.raises(ValueError, match="criterion"):
        st.fit(masked)


def test_co_training_kbest(masked):
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        criterion="kBest",
        kBest=0.5,
        maxIter=3,
    )
    model = ct.fit(masked)
    s = model.ss_summary
    assert s.labeled_final > s.labeled_initial
    assert s.labeled_final + s.unlabeled_final == s.labeled_initial + s.unlabeled_initial
    assert 1 <= s.iterations <= 3


def test_adult_style_featurization_with_maxbins(spark):
    """A2 fixture path: mixed categorical/continuous, StringIndexer
    handleInvalid=keep, DT with maxBins (the reference needs
    maxBins=42 for Adult's high-cardinality categoricals)."""
    cust = load_table(spark, SF, "customer").withColumn(
        "clase", F.when(F.col("c_acctbal") > 0, "pos").otherwise("neg")
    )
    stages = build_featurization(
        categorical_cols=["c_mktsegment"],
        numeric_cols=["c_acctbal", "c_nationkey"],
        label_col="clase",
        handle_invalid="keep",
    )
    pipe = Pipeline(stages=stages + [DecisionTreeClassifier(seed=5, maxBins=42)])
    model = pipe.fit(cust)
    preds = model.transform(cust)
    assert preds.where(F.col("prediction").isNull()).count() == 0
    acc = preds.where(F.col("prediction") == F.col("label")).count() / preds.count()
    assert acc > 0.9  # label is a function of a feature; DT should nail it


def test_reliable_checkpoint_dir(spark, masked, tmp_path):
    """checkpointDir set -> reliable .checkpoint() path (cluster-grade
    lineage truncation); results identical to the localCheckpoint path."""
    st_local = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=3
    )
    st_reliable = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5),
        threshold=0.75,
        maxIter=3,
        checkpointDir=str(tmp_path / "ckpt"),
    )
    s1 = st_local.fit(masked).ss_summary
    s2 = st_reliable.fit(masked).ss_summary
    assert s1 == s2
    import os
    # checkpoint data actually written, into ONE <uuid> subdirectory:
    # the context's checkpoint dir is set once, not once per truncation
    subdirs = os.listdir(tmp_path / "ckpt")
    assert len(subdirs) == 1, subdirs
    assert os.listdir(tmp_path / "ckpt" / subdirs[0])


def test_self_training_model_persistence(spark, masked, tmp_path):
    st = SelfTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=2
    )
    model = st.fit(masked)
    path = str(tmp_path / "st_model")
    model.save(path)

    from tfm_semisup_spark.operators.self_training import SelfTrainingModel

    loaded = SelfTrainingModel.load(path)
    assert loaded.ss_summary == model.ss_summary
    orig = sorted(
        (r["vec_id"], r["prediction"]) for r in model.transform(masked).collect()
    )
    back = sorted(
        (r["vec_id"], r["prediction"]) for r in loaded.transform(masked).collect()
    )
    assert orig == back


def test_co_training_model_persistence(spark, masked, tmp_path):
    """CoTraining's fitted model (a SelfTrainingModel over the final
    union-fit base model) round-trips through save/load with identical
    transform output — the 100 TB grid user checkpoints fitted models
    between stages instead of refitting (VERDICT r2 item 6)."""
    ct = CoTraining(
        baseClassifier=DecisionTreeClassifier(seed=5), threshold=0.75, maxIter=2
    )
    model = ct.fit(masked)
    path = str(tmp_path / "ct_model")
    model.save(path)

    from tfm_semisup_spark.operators.self_training import SelfTrainingModel

    loaded = SelfTrainingModel.load(path)
    assert loaded.ss_summary == model.ss_summary
    orig = sorted(
        (r["vec_id"], r["prediction"]) for r in model.transform(masked).collect()
    )
    back = sorted(
        (r["vec_id"], r["prediction"]) for r in loaded.transform(masked).collect()
    )
    assert orig == back
