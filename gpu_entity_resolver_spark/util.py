"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame, factor: int = 2) -> DataFrame:
    """Repartition a SMALL under-parallel input up to cluster parallelism.

    The resolve pipeline and the operators open with per-row map work
    (extraction + normalization, vectorized python key builds, fingerprint
    kernels, JVM dot folds) that inherits the scan partitioning, and a
    table under ~128 MB scans as ONE split — the whole pre-exchange stage
    then runs on one core of a 32-core cluster. A file scan's partition
    count already is Spark's own split count (``maxPartitionBytes``), so
    it is the only estimate needed. A round-robin repartition of a
    provably small input costs one sub-second shuffle and restores full
    parallelism.

    Only fires when the CURRENT partition count is below cluster
    parallelism, so big inputs (the 100 TB regime — thousands of splits)
    pass through untouched, and it never fights an upstream partitioner.
    Row-level results are partition-invariant across the engine (pinned by
    the determinism tests), and sort-before-repartition (Spark default)
    keeps the assignment reproducible under task retry.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target * factor)
    return df
