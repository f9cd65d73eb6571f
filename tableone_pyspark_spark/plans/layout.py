"""Physical-layout helpers.

`rebalance` fixes the small-file / CPU-heavy mismatch: a 5 MB parquet
file arrives as ONE input split, so an expression-heavy per-row stage
(shingling, LSH signatures, hashing) runs on one core while 31 idle.
At real scale (100 TB → tens of thousands of splits) the input is
already wider than the cluster and the helper is a no-op — it only
adds a round-robin shuffle when the scan is narrower than the
available parallelism, where the shuffle of a few skinny rows is
orders of magnitude cheaper than the serialized compute it unblocks.

`release_checkpoint` is the storage-bookkeeping half of the
localCheckpoint discipline (a fitted DSIR model, any iterative loop):
localCheckpoint truncates lineage, this frees a superseded frame's
blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rebalance(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to ``factor × defaultParallelism`` iff the
    DataFrame currently has fewer partitions than that target.

    Call it immediately before a CPU-bound per-row stage. Safe at any
    scale: wide inputs (the 100 TB case) skip the shuffle entirely.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # streaming DataFrames have no rdd
        return df
    if current >= target:
        return df
    return df.repartition(target)


def release_checkpoint(df: DataFrame) -> None:
    """Drop a localCheckpoint'ed DataFrame's RDD blocks (best-effort:
    storage bookkeeping only, never fails the caller's loop).

    ``df.rdd.unpersist`` would be a silent no-op — it unpersists a
    derived javaToPython RDD, not the internal RDD the checkpoint
    cached. The checkpointed Dataset's plan is a LogicalRDD whose
    ``rdd()`` IS the persisted one (verified: getPersistentRDDs drops
    to empty after this, and stays populated with the naive call)."""
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception:
        pass
