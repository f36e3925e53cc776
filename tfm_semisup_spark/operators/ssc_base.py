"""Shared fit scaffolding for the SSC estimators (SelfTraining,
CoTraining, Supervised, TriTraining).

Three estimator bases, each adding only the Params its estimators read:

- ``_SSCEstimator`` — the pool columns (``labelSelectionCol``,
  ``featuresCol``, ``labelCol``), the labeled/unlabeled split, publishing
  the summary, ``copy``. Supervised stops here.
- ``_IterativeSSC`` — ``maxIter`` and ``checkpointDir`` (lineage
  truncation). TriTraining stops here.
- ``_PromotingSSC`` — ``threshold``, ``criterion`` and ``kBest``:
  scoring a pool, threshold/kBest promotion, the kBest budget and the
  one promotion loop (``_run_views``) that self-training and both
  co-training view splits (instances, features) share.

Deliberate physical re-engineering vs the reference (SURVEY.md §4),
made once here for every estimator:

- labeled/unlabeled split by complementary ``isnan`` filters instead of
  ``filter(isNaN)`` + full-dataset ``exceptAll``
  (``SelfTraining.scala:129-130``, ``Supervised.scala:38-42``) — the
  sentinel column itself is the split key, so the exceptAll shuffle of
  the whole dataset is pure waste. ``exceptAll`` is kept only where
  multiset semantics are load-bearing: the kBest "rest = predictions −
  top-k" (``SelfTraining.scala:178``).
- one ``groupBy(isnan).count()`` pass per fit instead of the
  reference's 2-4 separate ``count()`` actions
  (``SelfTraining.scala:133-140,156-157``); pool sizes are then
  maintained arithmetically.
- lineage truncation (``localCheckpoint``, or a durable checkpoint when
  ``checkpointDir`` is set) on each round's scored pool and on each grown
  labeled pool: the reference's plan grows every iteration
  (union-of-unions re-evaluated at each action; its cache() calls are
  immediately undone by unpersist, ``SelfTraining.scala:143-144,
  167-168``). Superseded checkpoints are released eagerly
  (operators/lineage.py:release), so 100+ rounds stay viable.
- max posterior via ``array_max(vector_to_array(probability))`` instead
  of a UDF (``SelfTraining.scala:128``) — stays inside whole-stage
  codegen.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.ml import Estimator
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import prob_max
from tfm_semisup_spark.operators.lineage import release, truncate
from tfm_semisup_spark.operators.results import SemiSupervisedSummary

CRITERIA = ("threshold", "kBest")


def kbest_order(features_col: str, *tie_cols: str) -> list:
    """Deterministic kBest promotion order: probMax descending, ties
    broken by a hash of (features, ``tie_cols``; default the
    prediction). The reference's ``orderBy(desc("probMax")).limit(k)``
    (`SelfTraining.scala:177`) leaves tie-breaking to partition order —
    rerun- and partitioning-sensitive, which violates this repo's
    determinism rule for rows-only checks. The hash tie-break is
    content-defined, so the same rows win regardless of cluster layout.
    (Identical duplicate rows remain interchangeable — multiset
    semantics make either pick equivalent.)"""
    from pyspark.ml.functions import vector_to_array

    return [
        F.desc("probMax"),
        F.xxhash64(
            vector_to_array(F.col(features_col)),
            *[F.col(c) for c in tie_cols or ("prediction",)],
        ),
    ]


def require_probabilistic(classifier) -> None:
    """Runtime stand-in for the reference's ProbabilisticClassifier
    generic bound (``SelfTraining.scala:17-24``): any classifier whose
    model emits a probability column qualifies; LinearSVC et al. do not
    (same exclusion the reference applies — SURVEY §2.2)."""
    if not hasattr(classifier, "getProbabilityCol"):
        raise TypeError(
            f"{type(classifier).__name__} exposes no probabilityCol; "
            "self/co-training needs a probabilistic classifier"
        )


@dataclass
class _View:
    """One learner's pools in the promotion loop."""

    labeled: DataFrame  # checkpoint the view's model is fit on
    unlabeled: DataFrame  # pool the view's model scores
    n_labeled: int
    n_unlabeled: int
    # the owned checkpoint `unlabeled` reads from (None: caller data);
    # released once the next scoring re-materializes the pool
    source: DataFrame | None = None


class _SSCEstimator(Estimator):
    labelSelectionCol = Param(
        Params._dummy(),
        "labelSelectionCol",
        "masked label column; NaN == unlabeled",
        TypeConverters.toString,
    )
    featuresCol = Param(
        Params._dummy(), "featuresCol", "features column", TypeConverters.toString
    )
    labelCol = Param(Params._dummy(), "labelCol", "label column", TypeConverters.toString)

    #: constructor arguments that are not Params, carried over by copy()
    _copy_attrs = ("baseClassifier",)

    def _init_ssc(self, kwargs: dict, **defaults) -> None:
        """Shared ``__init__`` body: ``kwargs`` are the keyword-only
        constructor arguments, ``defaults`` the estimator's Param
        defaults."""
        self.baseClassifier = kwargs.pop("baseClassifier", None)
        self._setDefault(**defaults)
        self._set(**kwargs)
        self.last_fit_summary = None

    def copy(self, extra=None):
        new = type(self)(**{a: getattr(self, a) for a in self._copy_attrs})
        return self._copyValues(new, extra)

    def _choice(self, param: Param, allowed: tuple) -> str:
        value = self.getOrDefault(param)
        if value not in allowed:
            raise ValueError(f"{param.name} must be one of {allowed}, got {value!r}")
        return value

    def _split_pools(self, dataset: DataFrame, *extra_cols: str):
        """(labeled, unlabeled, n_labeled, n_unlabeled): complementary
        isnan filters selecting (features, *extra_cols, label as double),
        sized by ONE count pass."""
        sel = self.getOrDefault(self.labelSelectionCol)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)
        counts = {
            row["unlabeled"]: row["n"]
            for row in dataset.groupBy(F.isnan(sel).alias("unlabeled"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        cols = [feats, *extra_cols, F.col(label).cast("double").alias(label)]
        labeled = dataset.where(~F.isnan(sel)).select(*cols)
        unlabeled = dataset.where(F.isnan(sel)).select(*cols)
        return labeled, unlabeled, counts.get(False, 0), counts.get(True, 0)

    def _publish(self, model):
        """Expose the fitted model's summary as ``last_fit_summary``."""
        self.last_fit_summary = model.ss_summary
        return model


class _IterativeSSC(_SSCEstimator):
    maxIter = Param(
        Params._dummy(), "maxIter", "max training iterations", TypeConverters.toInt
    )
    checkpointDir = Param(
        Params._dummy(),
        "checkpointDir",
        "reliable checkpoint directory (HDFS/S3); empty -> localCheckpoint",
        TypeConverters.toString,
    )

    def _truncate_lineage(self, df: DataFrame) -> DataFrame:
        """localCheckpoint is fast but pins blocks to executors — on a
        real cluster with dynamic allocation or preemption, set
        checkpointDir to durable storage and pay the write for
        restart-safety."""
        return truncate(df, self.getOrDefault(self.checkpointDir) or None)


class _PromotingSSC(_IterativeSSC):
    threshold = Param(
        Params._dummy(),
        "threshold",
        "min posterior to promote a pseudo-label (criterion=threshold)",
        TypeConverters.toFloat,
    )
    criterion = Param(
        Params._dummy(), "criterion", "promotion criterion: threshold | kBest",
        TypeConverters.toString,
    )
    kBest = Param(
        Params._dummy(),
        "kBest",
        "fraction of the unlabeled pool promoted over the run (criterion=kBest)",
        TypeConverters.toFloat,
    )

    def _kbest_budget(self, n_unlabeled: int) -> int:
        """Rows promoted per round under kBest, fixed up front from the
        TOTAL unlabeled pool (``SelfTraining.scala:173``,
        ``CoTraining.scala:199``)."""
        max_iter = self.getOrDefault(self.maxIter)
        if max_iter <= 1:
            return 0
        return int(round(self.getOrDefault(self.kBest) * n_unlabeled / (max_iter - 1)))

    def _score(self, model, pool: DataFrame) -> DataFrame:
        """Checkpointed (features, prediction, probMax) over ``pool``, so
        each round's plan starts from materialized data."""
        return self._truncate_lineage(
            model.transform(pool).select(
                self.getOrDefault(self.featuresCol),
                "prediction",
                prob_max(model.getProbabilityCol()).alias("probMax"),
            )
        )

    def _promote(self, preds: DataFrame, k: int, n_pool: int, *keep: str, tie=()):
        """Split a scored pool (``probMax``, ``prediction``) into
        (promoted, rest, n_promoted): ``probMax > threshold``
        (``SelfTraining.scala:146-170``) or the global top-k by
        ``kbest_order`` (``:172-196``). Both frames select the ``keep``
        columns (default: features) plus the prediction as the label."""
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)
        if self.getOrDefault(self.criterion) == "threshold":
            confident = F.col("probMax") > self.getOrDefault(self.threshold)
            promoted = preds.where(confident)
            rest = preds.where(~confident)
            n_promoted = promoted.count()
        else:
            promoted = preds.orderBy(*kbest_order(feats, *tie)).limit(k)
            rest = preds.exceptAll(promoted)
            n_promoted = min(k, n_pool)
        cols = [*(keep or (feats,)), F.col("prediction").alias(label)]
        return promoted.select(*cols), rest.select(*cols), n_promoted

    def _fit_and_score(self, labeled: DataFrame, pool: DataFrame) -> DataFrame:
        """Default round step: fit the base classifier, score the pool."""
        return self._score(self.baseClassifier.fit(labeled), pool)

    def _run_views(self, views: list[_View], step=None, keep=(), tie=()):
        """The promotion loop every self/co-training fit runs. A view
        either teaches itself (self-training; feature-split co-training,
        whose one view scores the shared pool with two half-vector
        models) or the next view (instance-split co-training): view i's
        labeled pool grows by the promotions of view i+1 (mod the view
        count). Each round, ``step(labeled, unlabeled)`` (default
        ``_fit_and_score``) returns the view's checkpointed scored pool
        (``probMax``, ``prediction``), which ``_promote`` splits with
        the ``keep`` and ``tie`` columns; the loop stops when a view's
        pool empties or at maxIter. The final model is fit on the union
        of the views' labeled pools.

        Returns (final base model, summary over all views)."""
        base = self.baseClassifier
        step = step or self._fit_and_score
        max_iter = self.getOrDefault(self.maxIter)
        n_lab_ini = sum(v.n_labeled for v in views)
        n_unlab_ini = sum(v.n_unlabeled for v in views)
        k = self._kbest_budget(n_unlab_ini)
        it = 1
        while it < max_iter and all(v.n_unlabeled > 0 for v in views):
            scored = [step(v.labeled, v.unlabeled) for v in views]
            for v, preds in zip(views, scored):
                release(v.source)
                v.source = preds
            promos = [
                self._promote(preds, k, v.n_unlabeled, *keep, tie=tie)
                for preds, v in zip(scored, views)
            ]
            for i, v in enumerate(views):
                taught, _, n_taught = promos[(i + 1) % len(views)]
                grown = self._truncate_lineage(v.labeled.unionAll(taught))
                release(v.labeled)
                v.labeled = grown
                v.n_labeled += n_taught
            for v, (_, rest, n_promoted) in zip(views, promos):
                v.unlabeled = rest
                v.n_unlabeled -= n_promoted
            if all(v.n_unlabeled > 0 for v in views):
                it += 1
        final = base.fit(reduce(DataFrame.unionAll, [v.labeled for v in views]))
        for v in views:
            release(v.source)
            release(v.labeled)
        return final, SemiSupervisedSummary(
            labeled_initial=n_lab_ini,
            unlabeled_initial=n_unlab_ini,
            labeled_final=sum(v.n_labeled for v in views),
            unlabeled_final=sum(v.n_unlabeled for v in views),
            iterations=it,
        )
