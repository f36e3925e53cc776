"""Tri-Training estimator (Zhou & Li 2005) — the third member of the
classic disagreement-based SSC family, alongside the reference's
self-training (``SelfTraining.scala:121-207``) and co-training
(``CoTraining.scala:122-253``). The reference stops at two members;
tri-training completes the published family the same way the
feature-split option completed co-training (VERDICT r5 #7).

Algorithm (faithful to the paper):

- three classifiers start from diversified samples of the labeled pool
  (the paper bootstraps; here a DETERMINISTIC content-hash ~63.2%
  subsample per classifier stands in — same expected unique mass as a
  bootstrap, reproducible on any partitioning, per this repo's
  rows-only determinism rule);
- each round, for classifier i with peers (j, k): the peers' COMBINED
  error e_i is measured on the labeled pool over rows where they
  agree; if e_i improved vs the previous round, the candidate set
  L_i = {x in U : h_j(x) = h_k(x)} (with the agreed pseudo-label) is
  accepted when e_i·|L_i| < e'_i·l'_i — the paper's PAC-style noise
  bound — optionally SUBSAMPLED (deterministic hash order) to
  ceil(e'_i·l'_i/e_i − 1) to restore the inequality;
- accepted classifiers refit on L ∪ L_i (L_i is NOT accumulated across
  rounds — each round re-derives it, per the paper);
- the loop ends when no classifier updates (or maxIter);
- prediction is the MAJORITY VOTE of the three (ties — all three
  disagree, only possible with >2 classes — fall to h1).

Unlike self/co-training no posterior is needed anywhere, so any MLlib
classifier qualifies (including LinearSVC, which the reference must
exclude — SURVEY §2.2).

Physical shape (the repo's iterative-fit discipline):
- per round, one pass scores a pool with all three models (three
  narrow model scans fused, not 6 per-pair scans). The unlabeled pool's
  scores are the round's ONE checkpoint, since the candidate sets and
  refits read them again; the labeled pool is scored uncheckpointed,
  because only the aggregate reads it;
- ONE aggregate over the union of both scored pools yields all three
  pairwise agreement/error counts on L and the candidate counts on U
  (no extra count() actions); superseded blocks are released eagerly
  (O(1) lineage at any round count);
- the only driver-side state is the 3-element (e'_i, l'_i) bookkeeping.
"""

from __future__ import annotations

import math

from pyspark import keyword_only
from pyspark.ml import Model
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.operators.lineage import release
from tfm_semisup_spark.operators.results import SemiSupervisedSummary
from tfm_semisup_spark.operators.ssc_base import _IterativeSSC

#: deterministic stand-in for bootstrap sampling: keep rows whose
#: content hash lands under 632/1000 (a bootstrap's expected unique
#: fraction, 1 - 1/e).
_BOOT_PERMILLE = 632

#: classifier i's peers (j, k)
_PEERS = ((1, 2), (0, 2), (0, 1))


def _with_votes(models, df: DataFrame) -> DataFrame:
    """``df`` plus each model's prediction as ``__p{i}``, in one pass."""
    for i, m in enumerate(models):
        df = m.transform(df).select(*df.columns, F.col("prediction").alias(f"__p{i}"))
    return df


class TriTrainingModel(Model):
    """Majority vote over the three fitted base models."""

    def __init__(self, models=None, ss_summary: SemiSupervisedSummary | None = None):
        super().__init__()
        self.models = models or []
        self.ss_summary = ss_summary or SemiSupervisedSummary()

    def _transform(self, dataset: DataFrame) -> DataFrame:
        out = _with_votes(self.models, dataset)
        # majority: 2-of-3 agreement wins; full disagreement -> h1
        p1, p2 = F.col("__p1"), F.col("__p2")
        vote = (
            F.when(p1 == p2, p1).otherwise(F.col("__p0"))
        )  # covers p0==p1, p0==p2 (p0 wins those anyway) and all-distinct
        return out.withColumn("prediction", vote).drop("__p0", "__p1", "__p2")

    def copy(self, extra=None):
        return TriTrainingModel(list(self.models), self.ss_summary)

    def save(self, path: str) -> None:
        import json
        import os
        from dataclasses import asdict

        os.makedirs(path, exist_ok=True)
        classes = []
        for i, m in enumerate(self.models):
            m.write().overwrite().save(os.path.join(path, f"base{i}"))
            classes.append(f"{type(m).__module__}.{type(m).__name__}")
        meta = {"base_classes": classes, "ss_summary": asdict(self.ss_summary)}
        with open(os.path.join(path, "ss_metadata.json"), "w") as f:
            json.dump(meta, f)

    @staticmethod
    def load(path: str) -> "TriTrainingModel":
        import importlib
        import json
        import os

        with open(os.path.join(path, "ss_metadata.json")) as f:
            meta = json.load(f)
        models = []
        for i, qualname in enumerate(meta["base_classes"]):
            module, cls_name = qualname.rsplit(".", 1)
            cls = getattr(importlib.import_module(module), cls_name)
            models.append(cls.load(os.path.join(path, f"base{i}")))
        return TriTrainingModel(models, SemiSupervisedSummary(**meta["ss_summary"]))


class TriTraining(_IterativeSSC):
    """Zhou & Li 2005 defaults: maxIter bounds the outer rounds (the
    paper runs to stability; 10 is far past convergence on the test
    fixtures). ``seed`` diversifies the three hash-subsamples."""

    _copy_attrs = ("baseClassifier", "seed")

    @keyword_only
    def __init__(
        self,
        *,
        baseClassifier=None,
        maxIter: int = 10,
        labelSelectionCol: str = "labelSelection",
        featuresCol: str = "features",
        labelCol: str = "label",
        checkpointDir: str = "",
        seed: int = 13,
    ):
        super().__init__()
        self.seed = seed
        kwargs = dict(self._input_kwargs)
        kwargs.pop("seed", None)
        self._init_ssc(
            kwargs,
            maxIter=10,
            labelSelectionCol="labelSelection",
            featuresCol="features",
            labelCol="label",
            checkpointDir="",
        )

    # -- helpers -------------------------------------------------------

    def _content_hash(self, salt: int):
        feats = self.getOrDefault(self.featuresCol)
        return F.xxhash64(vector_to_array(F.col(feats)), F.lit(salt))

    def _fit(self, dataset: DataFrame) -> TriTrainingModel:
        base = self.baseClassifier
        max_iter = self.getOrDefault(self.maxIter)
        feats = self.getOrDefault(self.featuresCol)
        label = self.getOrDefault(self.labelCol)

        labeled, unlabeled, n_lab_ini, n_unlab_ini = self._split_pools(dataset)
        labeled = self._truncate_lineage(labeled)
        unlabeled = self._truncate_lineage(unlabeled.select(feats))

        # diversified deterministic subsamples (bootstrap stand-in)
        models = []
        for i in range(3):
            sub = labeled.where(
                F.pmod(self._content_hash(self.seed + i), F.lit(1000))
                < _BOOT_PERMILLE
            )
            models.append(base.fit(sub))

        e_prev = [0.5, 0.5, 0.5]
        l_prev = [0, 0, 0]
        it = 0
        n_last_accept = [0, 0, 0]
        votes = ("__p0", "__p1", "__p2")
        # the round's ONE aggregate, over L ∪ U: for each classifier i
        # with peers (j, k), the L rows where the peers agree, how many
        # of those miss the true label, and the U rows where they agree
        in_l = F.col("__in_l")
        aggs = []
        for i, (j, k) in enumerate(_PEERS):
            peers_agree = F.col(f"__p{j}") == F.col(f"__p{k}")
            wrong = F.col(f"__p{j}") != F.col(label)
            aggs += [
                F.count(F.when(in_l & peers_agree, 1)).alias(f"agree_{i}"),
                F.count(F.when(in_l & peers_agree & wrong, 1)).alias(f"err_{i}"),
                F.count(F.when(~in_l & peers_agree, 1)).alias(f"cand_{i}"),
            ]
        while it < max_iter:
            it += 1
            unlab_scored = self._truncate_lineage(
                _with_votes(models, unlabeled).select(feats, *votes)
            )
            both = (
                _with_votes(models, labeled)
                .select(F.lit(True).alias("__in_l"), label, *votes)
                .unionAll(
                    unlab_scored.select(F.lit(False), F.lit(None).cast("double"), *votes)
                )
            )
            stats = both.agg(*aggs).collect()[0]

            updated = False
            new_models = list(models)
            for i, (j, k) in enumerate(_PEERS):
                agree = stats[f"agree_{i}"]
                if agree == 0:
                    continue
                e_i = stats[f"err_{i}"] / agree
                if e_i >= e_prev[i]:
                    continue
                n_cand = stats[f"cand_{i}"]
                if n_cand == 0:
                    continue
                li = l_prev[i]
                if li == 0:
                    # paper: first-round prior size so the bound can fire
                    li = math.floor(e_i / (e_prev[i] - e_i) + 1)
                take = None
                if li < n_cand:
                    if e_i * n_cand < e_prev[i] * li:
                        take = n_cand
                    elif li > e_i / (e_prev[i] - e_i):
                        take = math.ceil(e_prev[i] * li / e_i - 1)
                        if take > n_cand:
                            take = None
                if take is None or take <= 0:
                    continue
                cand = unlab_scored.where(F.col(f"__p{j}") == F.col(f"__p{k}"))
                if take < n_cand:
                    cand = cand.orderBy(
                        F.pmod(self._content_hash(self.seed + 100 + i), F.lit(1 << 31))
                    ).limit(take)
                pseudo = cand.select(feats, F.col(f"__p{j}").alias(label))
                new_models[i] = base.fit(labeled.unionAll(pseudo))
                e_prev[i] = e_i
                l_prev[i] = take
                n_last_accept[i] = take
                updated = True
            release(unlab_scored)
            models = new_models
            if not updated:
                break

        # Pool semantics differ from self/co-training: U is never
        # consumed — each round re-derives every L_i as a VIEW of the
        # shared pool. The summary therefore reports the largest
        # augmented training set (L ∪ L_i) any classifier ended on,
        # which keeps labeled_final + unlabeled_final == total.
        max_accept = max(n_last_accept)
        summary = SemiSupervisedSummary(
            labeled_initial=n_lab_ini,
            unlabeled_initial=n_unlab_ini,
            labeled_final=n_lab_ini + max_accept,
            unlabeled_final=n_unlab_ini - max_accept,
            iterations=it,
        )
        release(labeled)
        release(unlabeled)
        return self._publish(TriTrainingModel(models, summary))
