"""Self-Training estimator (reference C2: ``SelfTraining.scala:121-207``,
algorithm: Yarowsky 1995).

Iteratively: fit the base classifier on the labeled pool; predict the
unlabeled pool; promote confident predictions (threshold criterion:
``probMax > threshold``, ``SelfTraining.scala:146-170``; kBest
criterion: global top-k by ``probMax``, ``:172-196``) into the labeled
pool with their predicted label; repeat until maxIter or no unlabeled
rows remain. This is the one-view case of the promotion loop shared with
both co-training view splits (operators/ssc_base.py, which also
documents the physical re-engineering vs the reference).

The fitted ``SelfTrainingModel`` delegates transform to the final base
model and carries the pool bookkeeping as ``ss_summary`` (replacing the
reference's mutable SemiSupervisedDataResults side-channel).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Model
from pyspark.sql import DataFrame

from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.ssc_base import (  # noqa: F401 (re-exported)
    CRITERIA,
    _PromotingSSC,
    _View,
    kbest_order,
    require_probabilistic,
)


class SelfTrainingModel(Model):
    """Wrapper over the final fitted base model; transform delegates."""

    def __init__(self, base_model=None, ss_summary: SemiSupervisedSummary | None = None):
        super().__init__()
        self.base_model = base_model
        self.ss_summary = ss_summary or SemiSupervisedSummary()

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.base_model.transform(dataset)

    def copy(self, extra=None):
        return SelfTrainingModel(self.base_model, self.ss_summary)

    # -- persistence (the reference has none; models only lived inside
    # notebook sessions). Layout: <path>/base (base model's own writer)
    # + <path>/ss_metadata.json (summary + base class for reload). -----

    def save(self, path: str) -> None:
        import json
        import os
        from dataclasses import asdict

        os.makedirs(path, exist_ok=True)
        self.base_model.write().overwrite().save(os.path.join(path, "base"))
        meta = {
            "base_class": f"{type(self.base_model).__module__}."
            f"{type(self.base_model).__name__}",
            "ss_summary": asdict(self.ss_summary),
        }
        with open(os.path.join(path, "ss_metadata.json"), "w") as f:
            json.dump(meta, f)

    @staticmethod
    def load(path: str) -> "SelfTrainingModel":
        import importlib
        import json
        import os

        with open(os.path.join(path, "ss_metadata.json")) as f:
            meta = json.load(f)
        module, cls_name = meta["base_class"].rsplit(".", 1)
        cls = getattr(importlib.import_module(module), cls_name)
        base = cls.load(os.path.join(path, "base"))
        return SelfTrainingModel(base, SemiSupervisedSummary(**meta["ss_summary"]))


class SelfTraining(_PromotingSSC):
    """Defaults mirror the reference (``SelfTraining.scala:26-30``):
    threshold=0.7, maxIter=7, criterion='threshold', kBest=1.0. The
    masked-label column defaults to 'labelSelection' (the reference
    defaults to 'label' but every call site overrides it to
    'labelSelection' via setColumnLabelName)."""

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        threshold: float = 0.7,
        maxIter: int = 7,
        criterion: str = "threshold",
        kBest: float = 1.0,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
    ):
        super().__init__()
        self._init_ssc(
            dict(self._input_kwargs),
            threshold=0.7,
            maxIter=7,
            criterion="threshold",
            kBest=1.0,
            labelSelectionCol="labelSelection",
            featuresCol="features",
            labelCol="label",
            checkpointDir="",
        )

    def _fit(self, dataset: DataFrame) -> SelfTrainingModel:
        require_probabilistic(self.baseClassifier)
        self._choice(self.criterion, CRITERIA)
        labeled, unlabeled, n_lab, n_unlab = self._split_pools(dataset)
        view = _View(self._truncate_lineage(labeled), unlabeled, n_lab, n_unlab)
        model, summary = self._run_views([view])
        return self._publish(SelfTrainingModel(model, summary))
