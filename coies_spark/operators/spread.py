"""Input-skew rule: spread a narrow input over the task slots.

A CPU-heavy map (the one-shot kernel, span generation, pair folds) runs
one task per input partition, so an input that arrives in fewer
partitions than the cluster has task slots (one parquet file, a
parallelized fixture, a checkpointed state) leaves cores idle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_slots(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned to ``defaultParallelism`` when it
    has fewer partitions; otherwise (and for streaming frames) ``df``
    itself, with no exchange added — a no-op for well-partitioned
    corpora.

    For scans and checkpointed frames ONLY: the partition count comes
    from ``df.rdd.getNumPartitions()``, which on a parquet scan or a
    checkpoint merely plans the query, but on a frame with a pending
    (AQE) shuffle EXECUTES that shuffle as a Spark job.
    """
    if df.isStreaming:
        return df
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df
