"""Co-Training estimator (reference C3: ``CoTraining.scala:122-253``,
algorithm: Blum & Mitchell 1998).

The reference's variant splits *instances*, not feature views: labeled
AND unlabeled pools are each split 50/50 with seed 8
(``CoTraining.scala:137-142``); two copies of the same base classifier
cross-teach — model 1's confident pseudo-labels are appended to model
2's labeled pool and vice versa (``:172-173``, ``:215-216``); the final
model is fit on the union of both labeled pools (``:251``). That
deviation from classic feature-split co-training is preserved for
parity (SURVEY.md §2.1 C3) as the DEFAULT. ``viewSplit='features'``
additionally implements the published Blum & Mitchell algorithm —
disjoint feature-column views over one shared pool (VERDICT r5 #7).
Both splits run the promotion loop shared with self-training
(operators/ssc_base.py): instance-split as two cross-teaching views,
feature-split as one view whose round fits a classifier per feature
half and scores with the better half's posterior.

Same promotion criteria as SelfTraining (threshold / kBest; in kBest
the per-iteration budget comes from the TOTAL unlabeled count,
``CoTraining.scala:199``, and applies to each view).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import prob_max
from tfm_semisup_spark.operators.self_training import SelfTrainingModel
from tfm_semisup_spark.operators.ssc_base import (
    CRITERIA,
    _PromotingSSC,
    _View,
    require_probabilistic,
)

_SPLIT_SEED = 8  # reference: `CoTraining.scala:137,140`
VIEW_SPLITS = ("instances", "features")


class CoTraining(_PromotingSSC):
    """Defaults mirror the reference (``CoTraining.scala:25-30``):
    threshold=0.7, maxIter=3, criterion='threshold', kBest=1.0.

    ``viewSplit`` selects the view construction: ``'instances'``
    (default — the reference's deviation, split the pools 50/50) or
    ``'features'`` (classic Blum & Mitchell 1998: two classifiers see
    DISJOINT halves of the feature vector over ONE shared pool, each
    promotes its confident pseudo-labels into the shared labeled set,
    disagreements resolved by the higher posterior)."""

    viewSplit = Param(
        Params._dummy(),
        "viewSplit",
        "view construction: 'instances' (reference parity, "
        "CoTraining.scala:137-142) | 'features' (Blum-Mitchell "
        "disjoint feature-column views)",
        TypeConverters.toString,
    )

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        threshold: float = 0.7,
        maxIter: int = 3,
        criterion: str = "threshold",
        kBest: float = 1.0,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
        viewSplit: str = "instances",
    ):
        super().__init__()
        self._init_ssc(
            dict(self._input_kwargs),
            threshold=0.7,
            maxIter=3,
            criterion="threshold",
            kBest=1.0,
            labelSelectionCol="labelSelection",
            featuresCol="features",
            labelCol="label",
            checkpointDir="",
            viewSplit="instances",
        )

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        require_probabilistic(self.baseClassifier)
        self._choice(self.criterion, CRITERIA)
        if self._choice(self.viewSplit, VIEW_SPLITS) == "features":
            return self._fit_feature_split(dataset)
        labeled, unlabeled, n_lab, n_unlab = self._split_pools(dataset)
        lab1, lab2 = labeled.randomSplit([0.5, 0.5], seed=_SPLIT_SEED)
        unlab1, unlab2 = unlabeled.randomSplit([0.5, 0.5], seed=_SPLIT_SEED)
        # checkpoint ALL four views before counting: the counts then scan
        # materialized data instead of re-running the upstream
        # featurization once per count() action; the second view's sizes
        # follow from the split pass's totals
        lab1, lab2, unlab1, unlab2 = (
            self._truncate_lineage(df) for df in (lab1, lab2, unlab1, unlab2)
        )
        n_unlab1 = unlab1.count()
        n_lab1 = lab1.count()
        views = [
            _View(lab1, unlab1, n_lab1, n_unlab1, source=unlab1),
            _View(lab2, unlab2, n_lab - n_lab1, n_unlab - n_unlab1, source=unlab2),
        ]
        model, summary = self._run_views(views)
        return self._publish(SelfTrainingModel(model, summary))

    def _fit_feature_split(self, dataset: DataFrame) -> SelfTrainingModel:
        """Classic Blum-Mitchell co-training (viewSplit='features'): the
        feature vector is sliced into two disjoint halves; one shared
        labeled pool trains two classifiers, each seeing only its half.
        This is the one-view case of the shared promotion loop: a
        round's step fits both half-vector classifiers and scores the
        SHARED unlabeled pool with the better view's posterior, which
        also supplies the pseudo-label (threshold: either view is
        confident; kBest: global top-k). The final model is fit on the
        FULL feature vector so it is usable downstream exactly like the
        instance-split model."""
        from pyspark.ml.feature import VectorSlicer

        base = self.baseClassifier
        feats = self.getOrDefault(self.featuresCol)
        head = dataset.select(feats).head()
        if head is None:
            raise ValueError("empty dataset")
        dim = head[0].size
        if dim < 2:
            raise ValueError(
                f"feature-split co-training needs >=2 features, got {dim}"
            )
        half = dim // 2
        s1 = VectorSlicer(inputCol=feats, outputCol="__v1", indices=list(range(half)))
        s2 = VectorSlicer(inputCol=feats, outputCol="__v2", indices=list(range(half, dim)))
        cols = (feats, "__v1", "__v2")
        labeled, unlabeled, n_lab, n_unlab = self._split_pools(
            s2.transform(s1.transform(dataset)), *cols[1:]
        )
        unlabeled = self._truncate_lineage(unlabeled.select(*cols))
        view_bases = [base.copy({base.featuresCol: v}) for v in cols[1:]]

        def step(labeled: DataFrame, pool: DataFrame) -> DataFrame:
            scored = pool.select(*cols)  # drops the label a promotion's rest carries
            for i, view_base in enumerate(view_bases, 1):
                m = view_base.fit(labeled)
                scored = m.transform(scored).select(
                    *scored.columns,
                    F.col("prediction").alias(f"__pred{i}"),
                    prob_max(m.getProbabilityCol()).alias(f"__pm{i}"),
                )
            # the better-posterior view supplies confidence and label
            return self._truncate_lineage(
                scored.withColumn("probMax", F.greatest("__pm1", "__pm2")).withColumn(
                    "prediction",
                    F.when(F.col("__pm1") >= F.col("__pm2"), F.col("__pred1")).otherwise(
                        F.col("__pred2")
                    ),
                )
            )

        view = _View(
            self._truncate_lineage(labeled), unlabeled, n_lab, n_unlab, source=unlabeled
        )
        model, summary = self._run_views([view], step, cols, ("__pred1", "__pred2"))
        return self._publish(SelfTrainingModel(model, summary))
