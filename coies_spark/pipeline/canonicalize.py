"""Stage 4: canonicalization via connected components.

Two linked mentions denote the same entity when their entity ids are
connected through shared aliases: an alias edge exists between two
entity ids whenever the dictionary (or the corpus itself) links the
same normalized surface to both, or an explicit alias table says so.
The component representative (min entity id) becomes the canonical
subject id for triple materialization.

The component search is ``operators.graph.connected_components``
(union-find over the edges gathered into one partition, no driver
loop); this module only derives the edge set and applies the
resulting mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import connected_components


def alias_edges(linked: DataFrame, alias_table: DataFrame | None = None) -> DataFrame:
    """Edges between entity ids co-linked to one (pred, obj) surface.

    ``linked`` is the linking output (conv_id, pred, obj, entity_id).
    Self-pairs are filtered; an optional explicit (src, dst) alias
    table is unioned in.
    """
    per_surface = (
        linked.select("pred", "obj", "entity_id")
        .distinct()
        .groupBy("pred", "obj")
        .agg(F.collect_set("entity_id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        per_surface.select(
            F.explode("ids").alias("src"), F.col("ids").alias("ids")
        )
        .select("src", F.explode("ids").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    if alias_table is not None:
        pairs = pairs.unionByName(
            alias_table.select("src", "dst")
        ).distinct()
    return pairs


def canonicalize(
    linked: DataFrame, alias_table: DataFrame | None = None
) -> DataFrame:
    """→ linked mentions with a ``canonical_id`` column (component
    representative; singleton entities keep their own id)."""
    edges = alias_edges(linked, alias_table)
    if edges.isEmpty():
        return linked.withColumn("canonical_id", F.col("entity_id"))
    comps = connected_components(edges).withColumnRenamed(
        "node", "entity_id"
    )
    return (
        linked.join(F.broadcast(comps), "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("component", "entity_id"))
        .drop("component")
    )
