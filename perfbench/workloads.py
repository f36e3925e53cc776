"""The workloads: what each operation calls and how it is checked.

An operation is one closed-loop step. Its *build* is the timed call into
the program's public API that returns a DataFrame (a registry query's
``fn(spark, sf_dir)``, a ``run_experiment_grid`` / ``run_holdout_baselines``
call, or a ``CorpusPipeline`` chain); its *exec* is the timed write of
that DataFrame (noop sink, or parquet for the corpus pipeline). The
experiment-grid operations have one more level: each grid cell is its
own build/exec pair, so cells can be timed and attributed one by one.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

#: The input tables: unmodified copies of the repository's TPC-H-like
#: testdata (TESTDATA.md, generator seed 42), one directory per scale
#: factor, so a registry query's ``fn(spark, sf_dir)`` reads them as is.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF01 = os.path.join(DATA_DIR, "sf0.1")
SF001 = os.path.join(DATA_DIR, "sf0.01")

#: check kinds
ORACLE = "oracle"  # hash-compare against the registry's DuckDB oracle
PINNED = "pinned"  # digest pinned in pins.json (seed-independent)
GRID = "grid"  # SSC invariants, plus the table digest at the default seed
HOLDOUT = "holdout"  # metrics in [0, 1], plus a pinned digest

CORPUS_QUERIES = (
    "dedup_cascade_report",
    "dedup_semantic_semdedup",
)

#: Input tables each workload declares, as (directory, table); their
#: parquet-footer row counts are the numerator of input_rows_per_s.
INPUT_TABLES = {
    "corpus_prep": ((SF01, "documents"), (SF01, "embeddings")),
    "ssc_grid": ((SF01, "embeddings"), (SF001, "lineitem")),
}


def input_rows(workload: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
        for d, t in INPUT_TABLES[workload]
    )

#: Experiment-grid shape: one labeled percentage, 2-fold CV, maxIter 2
#: (the first iteration is the supervised fit; the second promotes
#: pseudo-labels), and one cell per family on NaiveBayes, the cheapest
#: base classifier per fit (a cell costs 25-50 Spark jobs); LR runs in the
#: supervised holdout baseline.
GRID_PCT = 0.2
GRID_K = 2
GRID_MAX_ITER = 2
GRID_THRESHOLD = 0.8
GRID_CELLS = {
    "small": (("selfTraining", "NB"), ("coTraining", "NB")),
    "large": (("supervised", "NB"),),
}
HOLDOUT_CLASSIFIERS = ("LR",)
LARGE_FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@dataclass
class Cell:
    """One grid cell: a build returning the one-row results frame."""

    name: str
    table: str
    family: str
    build: Callable


@dataclass
class Op:
    name: str
    check: str
    build: Callable | None = None  # () -> DataFrame
    sink: str = "noop"
    cells: list[Cell] = field(default_factory=list)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_write(df, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    df.write.mode("overwrite").parquet(path)


def _registry_op(spark, sf_dir: str, name: str, oracles) -> Op:
    from tfm_semisup_spark.queries import QUERIES

    fn = QUERIES[name]
    return Op(name, ORACLE if name in oracles else PINNED, lambda: fn(spark, sf_dir))


def corpus_ops(spark, seed: int) -> list[Op]:
    from tfm_semisup_spark.io import load_table
    from tfm_semisup_spark.pipeline import CorpusPipeline
    from tfm_semisup_spark.queries import ORACLES

    ops = [_registry_op(spark, SF01, n, ORACLES) for n in CORPUS_QUERIES]

    def pipeline():
        return (
            CorpusPipeline.from_documents(load_table(spark, SF01, "documents"))
            .dedup_exact()
            .filter_language({"en"})
            .filter_quality(min_tokens=12, max_stop_ratio=0.2)
            .near_dedup_minhash(jaccard_threshold=0.8)
            .chunk(chunk_tokens=60, step=45)
            .pack(ctx_tokens=256)
            .df()
        )

    ops.append(Op("corpus_pipeline_write", PINNED, pipeline, sink="parquet"))
    return ops


def ssc_inputs(spark, seed: int):
    """The two labeled-point tables, with a seed-derived row id.

    ``run_experiment_grid`` assigns folds as ``pmod(xxhash64(id), k)``
    over the id column it is given, so hashing the row key with the
    workload seed makes the seed choose the fold split.
    """
    from pyspark.sql import functions as F

    from tfm_semisup_spark.io import load_table

    small = load_table(spark, SF01, "embeddings").select(
        F.xxhash64("vec_id", F.lit(seed)).alias("rid"),
        "embedding",
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("label"),
    )
    # the lines of every third order of the sf0.01 lineitem table, 19,964
    # of its 60,000 rows: a supervised cell on all of them costs another
    # 1.5-2 s a pass, which a run of the benchmark's size cannot afford
    line = load_table(spark, SF001, "lineitem").where(F.pmod("l_orderkey", F.lit(3)) == 0)
    large = line.select(
        F.xxhash64(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", F.lit(seed)
        ).alias("rid"),
        *LARGE_FEATURES,
        F.when(F.col("l_quantity") * F.col("l_discount") > 1.2, 1.0)
        .otherwise(0.0)
        .alias("label"),
    )
    return small, large


def _classifiers():
    from pyspark.ml.classification import LogisticRegression

    from tfm_semisup_spark.operators.grid import reference_classifiers

    clfs = reference_classifiers(nb_model_type="gaussian")
    # 10 L-BFGS iterations instead of 100 keep an LR cell's job count
    # comparable to the DT and NB cells
    clfs["LR"] = lambda: LogisticRegression(maxIter=10)
    return clfs


def ssc_ops(spark, seed: int) -> list[Op]:
    from pyspark.ml.feature import VectorAssembler

    from tfm_semisup_spark.featurization import ArrayToVector
    from tfm_semisup_spark.operators.grid import (
        build_ssl_grid,
        run_experiment_grid,
        run_holdout_baselines,
    )

    small, large = ssc_inputs(spark, seed)
    feats = {
        "small": (small, [ArrayToVector(inputCol="embedding", outputCol="features")]),
        "large": (
            large,
            [VectorAssembler(inputCols=list(LARGE_FEATURES), outputCol="features")],
        ),
    }
    clfs = _classifiers()
    ops = []
    for table, plan in GRID_CELLS.items():
        data, featurization = feats[table]
        cells = []
        for family, clf in plan:
            (cell,) = build_ssl_grid(
                {clf: clfs[clf]},
                [GRID_PCT],
                thresholds=[GRID_THRESHOLD],
                family=family,
                max_iter=GRID_MAX_ITER,
            )

            def build(cell=cell, data=data, featurization=featurization, table=table):
                return run_experiment_grid(
                    spark, data, table, featurization, [cell], k=GRID_K, id_col="rid"
                )

            cells.append(Cell(f"{table}.{family}.{clf}", table, family, build))
        ops.append(Op(f"grid_{table}", GRID, cells=cells))

    # randomSplit sorts each partition by every column, so the holdout
    # input leaves out the seed-derived id to keep its split seed-free
    data, featurization = feats["small"]
    ops.append(
        Op(
            "holdout_baselines",
            HOLDOUT,
            lambda: run_holdout_baselines(
                spark,
                data.drop("rid"),
                "small",
                featurization,
                {c: clfs[c] for c in HOLDOUT_CLASSIFIERS},
                [GRID_PCT],
            ),
        )
    )
    return ops


WORKLOADS = {
    "ssc_grid": ssc_ops,
    "corpus_prep": corpus_ops,
}
