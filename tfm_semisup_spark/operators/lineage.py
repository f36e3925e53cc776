"""Lineage truncation + explicit block release for iterative operators.

Iterative algorithms (SelfTraining/CoTraining rounds, connected-
components label propagation) re-derive a DataFrame from its previous
version each round. Two physical concerns follow:

1. **Truncation** — without it the plan (and the recomputation cost of
   any action) grows with the round count. ``truncate`` materializes
   the round's result and cuts the plan back to a scan of those blocks
   (``localCheckpoint``; or a durable ``checkpoint`` when a directory
   is given — the right choice on preemptible clusters).

2. **Release** — ``localCheckpoint`` pins MEMORY_AND_DISK blocks until
   the JVM garbage-collects the RDD handle, which on a large driver
   heap can be minutes later. Rounds of superseded checkpoints then sit
   in the unified-memory storage region, and because up to
   ``spark.memory.storageFraction`` of it is eviction-protected, later
   stages lose execution memory and spill (measured here: a MinHash
   join after a 6-round components run went 6s -> 65s). MLlib's ALS
   unpersists superseded factor RDDs for exactly this reason;
   ``release`` is the Dataset-API equivalent: unpersist the
   checkpoint's backing RDD as soon as the next round's checkpoint is
   materialized.

``release`` reaches through the analyzed plan (``LogicalRDD``) to the
backing RDD via py4j — a private-API touch, so it is strictly
best-effort: any failure degrades to the old behavior (blocks freed at
the next JVM GC), never to an error. Correctness is unaffected either
way; a released DataFrame must simply not be read again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` and truncate its lineage (eager checkpoint).

    ``checkpoint_dir`` -> durable ``checkpoint`` (survives executor
    loss); otherwise ``localCheckpoint`` (fast, executor-pinned).

    ``eager=False`` defers materialization to the CALLER'S next action
    — use when that action is guaranteed and cheap (e.g. the
    convergence-sum aggregate an iterative round runs anyway), saving
    one full job per round. The caller owns the guarantee: a lazy
    checkpoint that is unpersisted before any action would recompute.
    """
    if checkpoint_dir:
        _use_checkpoint_dir(df.sparkSession.sparkContext, checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _use_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Point the context's checkpoint directory into ``checkpoint_dir``
    unless it already is. ``setCheckpointDir`` creates a fresh
    ``<qualified dir>/<uuid>`` subdirectory on every call, so the current
    setting is compared against the qualified form of the argument."""
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    qualified = path.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(path)
    current = sc.getCheckpointDir()
    if current is None or not current.startswith(qualified.toString().rstrip("/") + "/"):
        sc.setCheckpointDir(checkpoint_dir)


def release(df: DataFrame | None) -> None:
    """Free the blocks behind a checkpointed DataFrame NOW instead of
    at the next driver GC. Best-effort; silently a no-op when the plan
    isn't a checkpoint scan or the private API moved. The caller must
    not read ``df`` afterwards."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        # unpersist every checkpoint-scan LEAF, not just a bare
        # LogicalRDD root — a caller wrapping the checkpointed result
        # (orderBy, select, ...) otherwise silently leaks it (r4
        # review: dedup_semantic_semdedup's final truncate survived
        # release because the registered query adds an orderBy)
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass
