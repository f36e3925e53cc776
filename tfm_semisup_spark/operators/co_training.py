"""Co-Training estimator (reference C3: ``CoTraining.scala:122-253``,
algorithm: Blum & Mitchell 1998).

The reference's variant splits *instances*, not feature views: labeled
AND unlabeled pools are each split 50/50 with seed 8
(``CoTraining.scala:137-142``); two copies of the same base classifier
cross-teach — model 1's confident pseudo-labels are appended to model
2's labeled pool and vice versa (``:172-173``, ``:215-216``); the final
model is fit on the union of both labeled pools (``:251``). That
deviation from classic feature-split co-training is preserved for
parity (SURVEY.md §2.1 C3) as the DEFAULT, and runs the promotion loop
shared with self-training (operators/ssc_base.py) over two views.
``viewSplit='features'`` additionally implements the published Blum &
Mitchell algorithm — disjoint feature-column views over one shared pool
(VERDICT r5 #7).

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
from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
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
        """Classic Blum-Mitchell co-training (viewSplit='features'):
        the feature vector is sliced into two disjoint halves; one
        shared labeled pool trains two classifiers, each seeing only
        its half. Both score the SHARED unlabeled pool; a row's
        confidence is the better view's posterior, which also supplies
        the pseudo-label, and the shared promotion applies (threshold:
        either view is confident; kBest: global top-k). The final model
        is fit on the FULL feature vector so it is usable downstream
        exactly like the instance-split model.

        Each round costs two narrow model scans of the one checkpointed
        pool plus the MLlib fits."""
        from pyspark.ml.feature import VectorSlicer

        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)

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
        labeled, unlabeled, n_lab_ini, n_unlab_ini = self._split_pools(
            s2.transform(s1.transform(dataset)), *cols[1:]
        )
        labeled = self._truncate_lineage(labeled)
        unlabeled = self._truncate_lineage(unlabeled.select(*cols))
        n_lab, n_unlab = n_lab_ini, n_unlab_ini

        base1 = base.copy({base.featuresCol: "__v1"})
        base2 = base.copy({base.featuresCol: "__v2"})
        k = self._kbest_budget(n_unlab_ini)
        it = 1
        pool_src = unlabeled
        while it < max_iter and n_unlab > 0:
            model1 = base1.fit(labeled)
            model2 = base2.fit(labeled)
            scored = model1.transform(unlabeled).select(
                *cols,
                F.col("prediction").alias("__pred1"),
                prob_max(model1.getProbabilityCol()).alias("__pm1"),
            )
            scored = model2.transform(scored).select(
                *cols,
                "__pred1",
                "__pm1",
                F.col("prediction").alias("__pred2"),
                prob_max(model2.getProbabilityCol()).alias("__pm2"),
            )
            # the better-posterior view supplies confidence and label
            scored = self._truncate_lineage(
                scored.withColumn("probMax", F.greatest("__pm1", "__pm2")).withColumn(
                    "prediction",
                    F.when(F.col("__pm1") >= F.col("__pm2"), F.col("__pred1")).otherwise(
                        F.col("__pred2")
                    ),
                )
            )
            release(pool_src)
            pool_src = scored

            promoted, unlabeled, n_promoted = self._promote(
                scored, k, n_unlab, *cols, tie=("__pred1", "__pred2")
            )
            grown = self._truncate_lineage(labeled.unionAll(promoted))
            release(labeled)
            labeled = grown
            n_unlab -= n_promoted
            n_lab += n_promoted
            if n_unlab > 0:
                it += 1

        summary = SemiSupervisedSummary(
            labeled_initial=n_lab_ini,
            unlabeled_initial=n_unlab_ini,
            labeled_final=n_lab,
            unlabeled_final=n_unlab,
            iterations=it,
        )
        final_model = base.fit(labeled.select(feats, label))
        release(pool_src)
        release(labeled)
        return self._publish(SelfTrainingModel(final_model, summary))
