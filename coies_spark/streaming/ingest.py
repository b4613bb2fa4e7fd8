"""Streaming transcript ingestion → triples.

Design (micro-batch; matches the batch pipeline's semantics):

* ``stream_transcripts`` — file-source ``readStream`` over a directory
  of transcript parquet drops (the Iceberg-append pattern at scale:
  each commit is a micro-batch).
* ``windowed_turn_counts`` — watermarked event-time windowed counts per
  role: the monitoring/late-data surface (drops turns later than the
  watermark, aggregates by tumbling window).
* ``stream_extract`` — ``foreachBatch`` KG extraction: each micro-batch
  holds *complete* conversations (the upstream committer groups by
  conv_id — the same contract Iceberg bucket commits give), so batch
  extraction semantics apply unchanged; output triples append to
  parquet with the streaming checkpoint providing exactly-once.

All stateful pieces are Spark-managed (watermark state, file-source
offsets, foreachBatch epoch ids) — restart-safe via ``checkpoint_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..core.oneshot import ExampleArtifacts
from ..pipeline.extract import extract_mentions
from ..pipeline.triples import conv_triples

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of transcript rows (schema fixed up front —
    streaming sources never infer)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def windowed_turn_counts(
    stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window turn counts per role (late rows
    beyond the watermark are dropped; state is bounded)."""
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role",
            "n_turns",
        )
    )


def write_epoch(triples: DataFrame, batch_id: int, out_dir: str) -> None:
    """Idempotent per-epoch triple write: dynamic overwrite of exactly
    the ``batch_id=N`` partition (re-running an epoch replaces its own
    output instead of duplicating it)."""
    (
        triples.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def stream_extract(
    stream: DataFrame,
    artifacts: ExampleArtifacts,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous KG extraction: per micro-batch, run the batch
    extraction kernel and write (subj, pred, obj, score, batch_id)
    triples partitioned by batch_id.

    foreachBatch is only at-least-once (a batch can replay after a
    failure before its offset commit), so the write must be idempotent
    per epoch: each batch DYNAMICALLY OVERWRITES exactly its own
    ``batch_id=N`` partition — a replayed epoch rewrites the same
    partition instead of appending duplicates.  Combined with the
    streaming checkpoint this yields end-to-end exactly-once output
    (same mechanism as an Iceberg ``overwritePartitions`` commit).

    An epoch runs its write and nothing else.  An empty micro-batch goes
    through the same write and leaves no triples; probing it first
    (``isEmpty()``) would cost a job and read the source twice, which
    doubles the query's reported ``numInputRows``.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        write_epoch(
            conv_triples(extract_mentions(batch, artifacts)),
            batch_id,
            out_dir,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
