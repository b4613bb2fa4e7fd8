"""Stage 3: entity linking against a broadcast candidate dictionary.

A candidate dictionary maps a normalized mention surface to an entity
id.  Surfaces are normalized exactly as extraction normalizes them
(lowercase reference tokenization, space-joined), so linking is a pure
equi-join, done as an ``F.broadcast`` map-side join with zero shuffle
(entity dictionaries are MBs even at web scale).  Because the
mention side never shuffles, hot mention surfaces cannot skew a task.

Unlinked mentions keep a deterministic surface-derived id so
downstream canonicalization can still merge them by alias.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokens_col


def normalize_surface(col) -> "F.Column":
    """Normalized surface form: reference-tokenize and re-join with
    single spaces (matches how extraction emits ``obj``)."""
    return F.array_join(tokens_col(col), " ")


def build_dictionary(spark, entries: list[tuple[str, str]]) -> DataFrame:
    """(surface, entity_id) dictionary from (surface, entity_id) pairs;
    surfaces are normalized on ingest."""
    df = spark.createDataFrame(entries, "surface string, entity_id string")
    return df.select(
        normalize_surface("surface").alias("surface"), "entity_id"
    ).dropDuplicates(["surface"])


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """mentions(conv_id, pred, obj, ...) × dictionary(surface, entity_id)
    → + entity_id (never null: surface-derived fallback id).
    """
    m = mentions.withColumn("surface", F.col("obj"))
    joined = m.join(F.broadcast(dictionary), "surface", "left")
    return joined.withColumn(
        "entity_id",
        F.coalesce(
            "entity_id",
            F.concat(F.lit("surface:"), F.col("pred"), F.lit(":"),
                     F.col("surface")),
        ),
    ).drop("surface")
