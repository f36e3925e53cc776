"""Supervised baseline wrapper (reference C4: ``Supervised.scala:38-42``).

Drops unlabeled rows and fits the base classifier on the rest, through
the shared pool split (operators/ssc_base.py): one pushdown-friendly
filter where the reference shuffles the whole dataset through
``exceptAll``.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.sql import DataFrame

from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.self_training import SelfTrainingModel
from tfm_semisup_spark.operators.ssc_base import _SSCEstimator


class Supervised(_SSCEstimator):
    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
    ):
        super().__init__()
        self._init_ssc(
            dict(self._input_kwargs),
            labelSelectionCol="labelSelection",
            featuresCol="features",
            labelCol="label",
        )

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        labeled, _, n_lab, n_unlab = self._split_pools(dataset)
        summary = SemiSupervisedSummary(
            labeled_initial=n_lab,
            unlabeled_initial=n_unlab,
            labeled_final=n_lab,
            unlabeled_final=n_unlab,
            iterations=0,
        )
        return self._publish(SelfTrainingModel(self.baseClassifier.fit(labeled), summary))
