"""Graph operators over edge DataFrames; connected components is the
canonicalization core.

``connected_components`` gathers the edges into one partition and
runs union-find over them in one ``mapInPandas`` pass.  component =
min node id (string-lexicographic, matching the DuckDB recursive-CTE
oracle) in the node's connected component.  The plan is lazy, with
one exchange: no rounds, no convergence probe, no ``localCheckpoint``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_CC_SCHEMA = "node string, component string"
# rows per output frame of _union_find: one frame is one Arrow batch,
# and one batch of a whole node set would copy it again next to the
# parent map (and a string column past 2 GiB overflows 32-bit offsets)
_SLICE_ROWS = 1 << 16


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The (a, b) edge batches of one partition → one (node, root) row
    per node seen, root = min id of the node's component.

    Roots are always the min id of their set (a union hangs the larger
    root under the smaller), and ``find`` compresses paths.  A null
    endpoint is no node: the other endpoint still is, and the partition
    emits one (null, null) row, as the null node of an edge-list
    union would.  Rows leave in frames of at most ``_SLICE_ROWS``.
    """
    parent: dict[str, str] = {}
    saw_null = False

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
            if a is None or b is None:
                saw_null = True
                for x in (a, b):
                    if x is not None:
                        parent.setdefault(x, x)
                continue
            ra = find(parent.setdefault(a, a))
            rb = find(parent.setdefault(b, b))
            if ra < rb:
                parent[rb] = ra
            elif rb < ra:
                parent[ra] = rb
    nodes = list(parent)
    if saw_null:
        nodes.append(None)
    for i in range(0, len(nodes), _SLICE_ROWS):
        part = nodes[i:i + _SLICE_ROWS]
        yield pd.DataFrame({
            "node": part,
            "component": [None if x is None else find(x) for x in part],
        })


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """→ (node string, component string): component = min node id
    reachable from node (undirected); every non-null endpoint is a node,
    self-loop-only ones included.

    The edges stream through ONE partition's union-find in Arrow
    batches, so the pass holds one entry per distinct node in one
    Python worker: the operator is for entity-id and doc-id graphs
    (every caller), not for graphs whose node set does not fit one
    worker's memory.  No per-partition union-find pass runs first: on
    the callers' graphs (alias chains, LSH near-dup pairs: fewer edges
    than nodes) such a pass re-emits more rows than it reads, and it
    saves none of the gather's memory.

    Builds a lazy plan with one exchange and runs no job.
    """
    return (
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
        .repartition(1)
        .mapInPandas(_union_find, _CC_SCHEMA)
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, pr): PageRank by ``iters`` unrolled power-iteration
    rounds over the UNDIRECTED (symmetrized, self-loop-free) edge
    graph — one declarative plan, no driver loop, no collect.

    Conventions, chosen for exact cross-engine oracles:

    * init pr = 1/N with N computed IN-PLAN (broadcast 1-row count
      cross-joined, the tf-idf pattern — no driver action);
    * per round: pr' = (1−d)/N + d·Σ_neighbors pr/deg, ROUNDED 9dp —
      the rounding pins every iterate bit-for-bit across engines
      (double-sum order noise ~1e-16 can never surface at 9dp);
    * symmetrization means deg ≥ 1 for every node, so there is no
      dangling-mass term to redistribute.

    Cost: 2 shuffles per round (contributions keyed by src, then the
    per-dst sum) over the edge list — the standard distributed
    PageRank bound; the node/deg frames are edge-derived and reused.
    On a near-dup candidate graph the high-pr nodes are the hub
    members of duplicate clusters — boilerplate/template detection.
    """
    # lazy localCheckpoint: sym feeds nodes, deg, AND every round's
    # contribution join — without the cut each reference re-runs the
    # caller's edge chain's scan+union+distinct
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("__n"))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    pr = nodes.crossJoin(F.broadcast(n)).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), 9).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            sym.join(pr.withColumnRenamed("node", "a"), "a")
            .join(deg.withColumnRenamed("node", "a"), "a")
            .select(
                F.col("b").alias("node"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
        )
        pr = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("__n") + damping * F.col("s"),
                    9,
                ).alias("pr"),
            )
        )
    return pr


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, ppr): Personalized PageRank — the random walk restarts
    into the SEED set instead of uniformly, so mass concentrates in
    the seeds' graph neighborhood.  The entity-disambiguation
    coherence score (Pershina et al., NAACL'15): seed the walker at a
    document's unambiguous mentions and rank each ambiguous
    candidate by how reachable it is from them over the
    co-occurrence graph — structural context the per-pair scores
    (:func:`neighbor_jaccard`, :func:`adamic_adar`) cannot see
    beyond one hop.

    Same conventions as :func:`pagerank` (symmetrized self-loop-free
    graph, in-plan counts, every iterate ROUNDED 9dp so engines
    agree bit-for-bit), with the restart vector r0 = 1/|S| on seeds
    and 0 elsewhere: pr' = (1−d)·r0 + d·Σ_neighbors pr/deg.  Seeds
    outside the edge set still restart (node set = endpoints ∪
    seeds) but feed no edges.  Unlike the global walk there IS
    dangling-free guarantee only for endpoint nodes; an edgeless
    seed keeps exactly its restart share, which is the correct PPR
    fixed point for an isolated node.

    Cost: identical to pagerank — 2 shuffles per round; the seed
    frame rides as a broadcast left join (seed sets are
    document-sized, not corpus-sized).
    """
    # same lazy cut as pagerank: sym feeds nodes, deg, and every
    # round's contribution join
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    sd = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    nodes = (
        sym.select(F.col("a").alias("node")).distinct().unionByName(sd)
        .distinct()
    )
    ns = sd.agg(F.count(F.lit(1)).alias("__s"))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    r0 = (
        nodes.join(
            F.broadcast(sd.withColumn("__seed", F.lit(1))), "node", "left"
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.round(
                F.when(F.col("__seed") == 1, F.lit(1.0) / F.col("__s"))
                .otherwise(F.lit(0.0)),
                9,
            ).alias("r0"),
        )
        # lazy cut: r0 is re-read by every round's restart term
        .localCheckpoint(eager=False)
    )
    pr = r0.select("node", F.col("r0").alias("ppr"))
    for _ in range(iters):
        contrib = (
            sym.join(
                pr.withColumnRenamed("node", "a").withColumnRenamed(
                    "ppr", "pr_a"
                ),
                "a",
            )
            .join(deg.withColumnRenamed("node", "a"), "a")
            .select(
                F.col("b").alias("node"),
                (F.col("pr_a") / F.col("deg")).alias("c"),
            )
        )
        pr = (
            r0.join(
                contrib.groupBy("node").agg(F.sum("c").alias("s")),
                "node",
                "left",
            )
            .select(
                "node",
                F.round(
                    (1.0 - damping) * F.col("r0")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0)),
                    9,
                ).alias("ppr"),
            )
        )
    return pr


def label_propagation(
    edges: DataFrame, iters: int = 3, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, label): synchronous label propagation (Raghavan et al.
    2007) over the undirected graph, ``iters`` unrolled rounds.

    Each round every node adopts the MODE of its neighbors' labels,
    ties broken to the smallest label — fully deterministic (the
    async/random-order variants of LPA are not), so the same input
    yields the same communities on any engine, partitioning, or task
    order, and a DuckDB twin can unroll the identical rounds.  A fixed
    round count also sidesteps sync-LPA's bipartite oscillation:
    whatever state round ``iters`` reaches IS the answer.

    Communities differ from connected components: a sparse bridge
    between two dense near-dup clusters keeps them ONE component but
    (usually) two LPA labels — on candidate graphs this separates
    template families that CC would merge through one chance collision.

    Cost: 2 shuffles per round (label join keyed on the edge source,
    then the (node, label) count + per-node argmax — the argmax is a
    map-side-combinable min_by, not a window sort).  Same shape as
    :func:`pagerank`; lineage cut every other round.
    """
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for it in range(iters):
        counts = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        )
        if (it + 1) % 2 == 0:
            labels = labels.localCheckpoint(eager=False)
    return labels


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, deg): the nodes surviving ``rounds`` peeling rounds of
    k-core decomposition over the undirected simple graph, with their
    degree inside the surviving subgraph.

    One peel round drops every node whose current degree is < k and
    every edge touching a dropped node; the k-core is this process's
    fixpoint (Seidman 1983, "Network structure and minimum degree").
    A fixed unrolled round count keeps the operator a single
    declarative plan with NO driver loop or convergence action — and
    because a converged round is a no-op, any ``rounds`` at or past
    convergence yields the exact core, identically on any engine
    (same contract as :func:`label_propagation`; a DuckDB twin
    unrolls the same rounds).  Peeling cannot cascade more than
    ``rounds`` hops per plan, so callers with adversarial long-chain
    graphs compose calls or raise ``rounds``.

    On a near-dup candidate graph the 2-core strips LSH-collision
    pendants (pairs that matched once, by chance) while keeping
    duplicate cliques — a cheaper, composable precursor to
    :func:`triangle_counts` hub/clique separation.

    Cost per round: one degree groupBy + two endpoint semi-joins
    (all keyed on node; AQE broadcasts the shrinking degree frame as
    soon as it fits).  Lineage cut every other round.
    """
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    for it in range(rounds):
        alive = (
            sym.groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .where(F.col("deg") >= k)
            .select("node")
        )
        sym = sym.join(
            alive.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
        if (it + 1) % 2 == 0:
            sym = sym.localCheckpoint(eager=False)
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .where(F.col("deg") >= k)
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, deg, triangles, lcc): per-node triangle participation and
    local clustering coefficient over the UNDIRECTED simple graph.

    On a near-dup candidate graph, triangle-dense nodes are members of
    tightly-knit duplicate cliques (template/boilerplate families),
    while triangle-free high-degree nodes are LSH-collision hubs —
    the ratio (lcc) separates the two, which a bare degree gauge
    (``entity_degrees``) cannot.

    Algorithm: degree orientation (Cohen's MapReduce triangle
    enumeration / compact-forward).  Each canonical edge {a, b} is
    oriented from its lower-(deg, id) endpoint to the higher one, so
    every node's out-degree is O(√m) on any graph; wedges are built by
    self-joining the oriented list on the common SOURCE and closed
    against the canonical edge set.  A hub of degree h therefore
    contributes O(√m·√m) wedge candidates instead of the O(h²) a
    naive a<b orientation pays when node ids correlate with degree —
    the difference between hours and minutes on a web-scale candidate
    graph with 10⁶-degree boilerplate hubs.

    Shuffle budget: deg groupBy (1) + two node-keyed orientation joins
    (AQE broadcasts deg when small) + wedge self-join on the pivot (1)
    + closure join on the candidate pair (1) + count groupBy (1) —
    all keyed, no cartesian anywhere (plan-tested).

    The triangle SET is orientation-invariant, so the DuckDB twin can
    enumerate with the simpler a<b<c ordering and match exactly.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    lower_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").where(F.col("x") < F.col("y"))
    tri = wedges.join(
        canon,
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
    ).select("u", "x", "y")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .union(tri.select(F.col("x").alias("node")))
        .union(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_per_group: int = 64,
) -> DataFrame:
    """(a, b, n_groups): undirected co-occurrence edges between
    distinct values that share a group — entities per document, tools
    per conversation, authors per thread.  This is the KG
    "relatedness" materialization: the output is a weighted
    (subj, cooccurs_with, obj) edge table ready for the partitioned
    triple sink, PageRank, or connected components.

    * values are DISTINCT within a group and edges are canonical
      (``a < b``), so a value pair counts once per group;
    * ``max_per_group`` caps the per-group fan-out: groups keep their
      ``max_per_group`` smallest values (deterministic rank) and the
      rest drop out.  A web-scale hub group (a crawl page listing 10⁵
      entities) would otherwise emit O(10¹⁰) pairs from one row — the
      cap bounds every group at max_per_group²/2 edges and is the
      documented fidelity/scale trade (raise it, never remove it).

    Scale: distinct + rank + self-join all key on ``group_col``, so
    the whole operator is ONE exchange on the group followed by
    in-partition work; the pair count groupBy is map-side combinable.
    """
    if max_per_group < 2:
        raise ValueError("cooccurrence_edges: max_per_group must be >= 2")
    w = Window.partitionBy(group_col).orderBy(F.asc(value_col))
    vals = (
        df.select(group_col, value_col)
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_per_group)
        .drop("_rk")
    )
    a = vals.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("a")
    )
    b = vals.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("b")
    )
    return (
        a.join(b, "_g")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    )


def _capped_undirected(
    edges: DataFrame, max_degree: int
) -> tuple[DataFrame, DataFrame]:
    """Symmetrized (u, v) graph with every node of degree >
    ``max_degree`` removed from BOTH sides, plus the per-node degree
    table RECOMPUTED on the filtered graph — the shared front half of
    the wedge-join link-prediction scores (:func:`neighbor_jaccard`,
    :func:`adamic_adar`).  Dropping hubs symmetrically keeps each
    measure a true score over the surviving graph (the
    ``ops.dedup.jaccard_pairs`` df-cap convention) and bounds the
    wedge blowup at ``max_degree²`` pairs per middle node."""
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    kept = deg.where(F.col("d") <= max_degree).select("u")
    g = (
        und.join(kept, "u")
        .join(kept.select(F.col("u").alias("v")), "v")
        .select("u", "v")
    )
    dg = g.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return g, dg


def neighbor_jaccard(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 1,
) -> DataFrame:
    """(a, b, common, jaccard): neighbor-set Jaccard similarity between
    node pairs sharing ≥ ``min_common`` neighbors — the classic
    link-prediction / entity-similarity score (Liben-Nowell &
    Kleinberg CIKM'03).  In the KG this ranks candidate missing edges
    and feeds canonicalize with structural (as opposed to surface)
    alias evidence: two mention nodes whose neighborhoods coincide are
    merge candidates even when their strings share nothing.

    Semantics: the graph is symmetrized (an edge in either direction
    makes both endpoints neighbors) and HUB NODES with degree >
    ``max_degree`` are removed from the graph entirely before
    anything else — the symmetric-cap convention of
    ``ops.dedup.jaccard_pairs``' df cap: a 10⁶-degree hub would
    contribute deg² wedge pairs (the quadratic blowup), and dropping
    it from numerator AND denominator keeps the measure a true
    Jaccard over the surviving graph.  Degrees for the union term are
    recomputed on the filtered graph for the same symmetry reason.

    Exactness: common, da, db are integers; the single final
    ``common / (da + db - common)`` division is the only float — no
    summation-order dependence.

    Scale: one distinct-symmetrize shuffle, one degree aggregate
    (map-side combinable), the wedge self-join keyed on the middle
    node (bounded by max_degree² per node), and one pair-count
    groupBy.  AQE splits any residual middle-node skew.
    """
    if max_degree < 1:
        raise ValueError("neighbor_jaccard: max_degree must be >= 1")
    g, dg = _capped_undirected(edges, max_degree)
    x = g.select(F.col("v").alias("z"), F.col("u").alias("a"))
    y = g.select(F.col("v").alias("z"), F.col("u").alias("b"))
    common = (
        x.join(y, "z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= min_common)
    )
    da = dg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = dg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 1,
) -> DataFrame:
    """(a, b, common, score): Adamic–Adar link-prediction score —
    Σ over shared neighbors z of ``1 / ln(degree(z))`` (Adamic &
    Adar, "Friends and neighbors on the Web", Social Networks 2003).
    The rarity-weighted complement of :func:`neighbor_jaccard`: a
    shared 3-degree neighbor is strong alias evidence, a shared
    500-degree neighbor nearly none, and Jaccard cannot tell them
    apart.  Running both over the entity co-occurrence graph gives
    canonicalize a second, differently-biased structural signal.

    Shares :func:`_capped_undirected` with neighbor_jaccard: the
    graph is symmetrized and degree-``max_degree`` hubs are dropped
    from both sides first (so every surviving wedge is bounded and
    the score is exact over the surviving graph).  A shared neighbor
    of two distinct nodes necessarily has degree ≥ 2 on the filtered
    graph, so ``ln(d) ≥ ln 2`` and the weight is always finite.

    Exactness: each per-neighbor weight is ``round(1/ln(d), 9)`` cast
    to ``decimal(28,12)`` before the sum — 9dp-rounded doubles are
    decimal-exact terms, so the aggregate is order-independent on any
    partitioning (the :func:`hits` accumulation convention); the
    output score is the decimal sum cast back to double, rounded 6.

    Scale: identical plan shape to neighbor_jaccard — one
    distinct-symmetrize shuffle, one map-side-combinable degree agg,
    the wedge self-join keyed on the middle node (≤ max_degree² pairs
    per node), one pair groupBy; AQE splits residual middle skew.
    """
    if max_degree < 1:
        raise ValueError("adamic_adar: max_degree must be >= 1")
    g, dg = _capped_undirected(edges, max_degree)
    # the weight belongs to the MIDDLE node z: 1/ln(deg(z)), rounded
    # 9dp and lifted to decimal before any summation.  Degree-1 nodes
    # are dropped FIRST: they cannot be a shared neighbor of two
    # distinct nodes, and under ANSI mode their 1/ln(1) would raise
    # DIVIDE_BY_ZERO during the projection even though no surviving
    # wedge ever reads it
    wz = dg.where(F.col("d") >= 2).select(
        F.col("u").alias("z"),
        F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 9)
        .cast("decimal(28,12)")
        .alias("wz"),
    )
    x = g.select(F.col("v").alias("z"), F.col("u").alias("a")).join(wz, "z")
    y = g.select(F.col("v").alias("z"), F.col("u").alias("b"))
    return (
        x.join(y, "z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.round(F.sum("wz").cast("double"), 6).alias("score"),
        )
        .where(F.col("common") >= min_common)
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, hub, authority): Kleinberg's HITS (JACM'99) by ``iters``
    unrolled mutual-reinforcement rounds over the DIRECTED edge graph
    — one declarative plan, no driver loop, no collect.

    Unlike :func:`pagerank` (which symmetrizes), HITS keeps edge
    direction: a hub is a node whose out-links point at good
    authorities, an authority a node good hubs point at.  On the
    agent tool-transition graph that split is the useful one —
    ``<start>`` and dispatcher tools are pure hubs, terminal tools
    pure authorities — and on a citation-shaped mention graph it
    separates surveys from sources.

    Conventions, chosen for exact cross-engine oracles:

    * init hub = 1.0 for every node (both endpoints of any edge);
    * per half-round: raw score = Σ over the matching edge direction,
      accumulated in ``decimal(28,12)`` — the incoming scores are
      9dp-rounded doubles, so every term is decimal-exact and the sum
      is order-independent on any partitioning (a plain double sum
      would not be) — then cast to double, ROUNDED 9dp, and
      normalized by the MAX raw score (order-exact by nature; the
      textbook L2 norm is a global float sum and is not), rounded 9dp
      again.  Max- and L2-normalization differ only by a per-round
      positive scalar, so rankings and convergence are identical;
    * nodes on the wrong side of every edge score 0 (left-join +
      coalesce), never drop out of the output.

    Self-loops are removed first: a self-loop feeds a node's hub
    score into its own authority and back, letting an isolated
    self-referential node crown itself both top hub and top authority
    (and at web scale, self-transitions — retried tool calls — are
    the MOST common edge, so keeping them would bury the structure).

    Cost: 2 shuffles per half-round (edge join keyed by one endpoint,
    then the per-node sum) over the edge list, the same bound as
    distributed PageRank; the max-normalizer is a broadcast 1-row
    cross-join, never a single-partition window.

    Durability: the edge cut and each half-round's raw and normalized
    scores are lazy ``localCheckpoint`` blocks (4·iters + 1), held in
    executor storage with no lineage behind them.  They stay pinned
    while the result is in use, and if an executor holding one dies,
    the query fails and must be re-run from the caller — the cost of
    cutting the doubling plan at cluster scale.
    """
    # lazy localCheckpoint: e is referenced by every half-round's
    # join (2·iters of them) plus the node derivation — without the
    # cut each reference re-runs the caller's edge chain
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(1.0).alias("score"))

    def _half(frm: DataFrame, key: str, out: str) -> DataFrame:
        # score flows across each edge from `key`'s side to `out`'s.
        # Both lazy localCheckpoints are load-bearing: raw feeds BOTH
        # the broadcast max-normalizer subquery and the output
        # projection, and each half-round's output feeds the next
        # half plus the final join — without the cuts every reference
        # re-evaluates the full preceding half-round chain, doubling
        # work per half-round (2^(2·iters)× the base chain at the
        # default 3 iterations; measured 14.9 s → ~2 s at sf0.01)
        raw = (
            e.join(frm.withColumnRenamed("node", key), key)
            .groupBy(F.col(out).alias("node"))
            .agg(
                F.round(
                    F.sum(
                        F.col("score").cast("decimal(28,12)")
                    ).cast("double"),
                    9,
                ).alias("raw")
            )
            .localCheckpoint(eager=False)
        )
        mx = raw.agg(F.max("raw").alias("__mx"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.round(F.col("raw") / F.col("__mx"), 9).alias("score"),
            )
            .localCheckpoint(eager=False)
        )

    auth = None
    for _ in range(iters):
        auth = _half(hub, "s", "d")  # authority: sum of in-hub scores
        hub = _half(auth, "d", "s")  # hub: sum of out-authority scores
    return (
        nodes.join(hub.withColumnRenamed("score", "hub"), "node", "left")
        .join(
            auth.withColumnRenamed("score", "authority"), "node", "left"
        )
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def link_prediction_mrr(
    edges: DataFrame,
    holdout_fraction: float = 0.2,
    max_degree: int = 64,
) -> DataFrame:
    """(n_holdout, n_ranked, mrr, hits_at_1): link-prediction
    evaluation — hold out a deterministic fraction of edges, score
    every candidate pair on the REMAINING graph with
    :func:`adamic_adar`, and report the mean reciprocal rank of the
    held-out partner among each query node's ranked candidates (the
    standard KG-completion metric, here for the structural alias
    scorer: "if we hid a known alias edge, would the score surface
    it first?").  The gauge that picks ``max_degree`` and chooses
    between :func:`neighbor_jaccard` and :func:`adamic_adar` on a
    given corpus by measurement.

    * holdout: md5(a <:> b) prefix under the fraction threshold —
      the ``deterministic_sample`` rule on the EDGE, so the split is
      engine-portable and nested across fractions;
    * ranking is directed a→b (the held-out edge's orientation);
      candidates = scored pairs involving a, ordered (score DESC,
      partner ASC — exact tie-break); a held-out pair the scorer
      never produced counts rr = 0 (the honest MRR convention:
      missing ≠ excused);
    * exactness: rr = round(1/rank, 9) summed in decimal(28,12);
      mrr and hits@1 round 6.

    Cost: the adamic_adar wedge join on the train graph + one rank
    window per query node (bounded by the hub cap) + one 1-row agg.
    """
    if not 0.0 < holdout_fraction < 1.0:
        raise ValueError(
            "link_prediction_mrr: holdout_fraction must be in (0, 1)"
        )
    from ..ops.sampling import threshold_hex

    thr = threshold_hex(holdout_fraction)
    e = edges.select(
        F.col("src").cast("string").alias("a"),
        F.col("dst").cast("string").alias("b"),
    )
    hk = F.substring(
        F.md5(F.encode(F.concat_ws(":", "a", "b"), "utf-8")), 1, 8
    )
    ho = e.where(hk < F.lit(thr))
    tr = e.where(~(hk < F.lit(thr)))
    aa = adamic_adar(
        tr.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        max_degree=max_degree,
    )
    sc = aa.select(
        F.col("a").alias("q"), F.col("b").alias("cand"), "score"
    ).unionByName(
        aa.select(
            F.col("b").alias("q"), F.col("a").alias("cand"), "score"
        )
    )
    w = Window.partitionBy("q").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    rk = sc.withColumn("rnk", F.row_number().over(w))
    rr = ho.join(
        rk,
        (F.col("a") == F.col("q")) & (F.col("b") == F.col("cand")),
        "left",
    ).select(
        F.coalesce(
            F.round(F.lit(1.0) / F.col("rnk"), 9), F.lit(0.0)
        ).alias("rr"),
        F.col("rnk"),
    )
    agg = rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_holdout"),
        F.count("rnk").cast("long").alias("n_ranked"),
        F.sum(F.col("rr").cast("decimal(28,12)")).alias("__s"),
        F.sum((F.col("rnk") == 1).cast("long")).alias("__h"),
    )
    # ratios OUTSIDE the agg: an empty holdout (tiny graphs / small
    # fractions) must report NULL metrics, not an ANSI 0/0 error
    nz = F.col("n_holdout") > 0
    return agg.select(
        "n_holdout",
        "n_ranked",
        F.when(
            nz,
            F.round(
                F.col("__s").cast("double") / F.col("n_holdout"), 6
            ),
        ).alias("mrr"),
        F.when(
            nz, F.round(F.col("__h") / F.col("n_holdout"), 6)
        ).alias("hits_at_1"),
    )


# a per-node rank window tolerates up to this degree before the
# two-phase bucketed build is worth its extra percentile pass + bucket
# joins — the r5 lesson: always-bucketing regressed random_walks 1.6x
# on graphs whose max degree is single digits
_DEGREE_WINDOW_MAX = 1_000_000


def _walk_tables(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sym, degs, index), each lineage-cut: the walk ops reference
    the symmetrized edge table and the degree table once per unrolled
    step, so without checkpoints every step re-ran the
    symmetrize/distinct from scratch (measured: nine 128-task
    recomputations per bench run).  The neighbor index buckets ONLY
    when the max degree (one tiny aggregate over the checkpointed
    degree table) exceeds ``_DEGREE_WINDOW_MAX`` — rank values are
    identical either way, so walk corpora and oracles are
    branch-blind."""
    sym = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    degs = (
        sym.groupBy(F.col("a").alias("cur"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    max_deg = degs.agg(F.max("deg")).first()[0] or 0
    index = _neighbor_index(
        sym, n_buckets=1 if max_deg <= _DEGREE_WINDOW_MAX else 32
    ).localCheckpoint(eager=False)
    return sym, degs, index


def _neighbor_index(sym: DataFrame, n_buckets: int = 32) -> DataFrame:
    """(cur, nbr, pick): every node's neighbors ranked 0..deg-1 by
    neighbor id ascending — the walk ops' pick↔neighbor bijection —
    built HUB-SAFELY.  A plain ``row_number() over (partition by cur
    order by nbr)`` puts ALL of a node's neighbors in one window
    task: a 10⁸-degree hub ranks 10⁸ rows on a single core before
    any walk starts.  Instead, the two-phase pattern
    (``ops.maintenance.exclusive_prefix_sum``'s shape):

    1. order-preserving QUANTILE bucketing of the neighbor id —
       integer ids bucket on their value, string ids on their
       first-60-bits key (zero-right-padded hex of the UTF-8 bytes:
       fixed width, so prefix order == byte order == Spark's
       code-point string order); boundaries from one tiny
       ``percentile_approx`` over the edge table, where a hub's
       neighbors dominate the mass and therefore attract boundaries;
    2. local ranks per (cur, bucket) window — a hub ranks ~deg/B
       rows per task;
    3. per-(cur, bucket) counts get a bucket-order prefix sum on a
       window of ≤ B rows per node, broadcast-join back as offsets.

    Rank VALUES are identical to the single-window build (ties
    impossible — (cur, nbr) is distinct after symmetrize), so walk
    corpora, tests, and DuckDB twins are unchanged.  Node id types
    outside integer/string fall back to the single-window build.
    """
    base = sym.select(F.col("a").alias("cur"), F.col("b").alias("nbr"))
    nbr_type = dict(base.dtypes)["nbr"]
    if nbr_type in ("tinyint", "smallint", "int", "bigint", "long"):
        key = F.col("nbr").cast("long")
    elif nbr_type == "string":
        key = F.conv(
            F.rpad(F.hex(F.encode(F.col("nbr"), "utf-8")), 15, "0"),
            16,
            10,
        ).cast("long")
    else:  # exotic id type: degenerate to the single-window build
        n_buckets = 1
        key = F.lit(0).cast("long")
    keyed = base.withColumn("__k", key)
    if n_buckets == 1:
        bucketed = keyed.withColumn("__bkt", F.lit(0).cast("long"))
    else:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bnds = keyed.agg(
            F.percentile_approx("__k", qs, 10_000).alias("__bnds")
        )
        bucketed = keyed.crossJoin(F.broadcast(bnds)).select(
            "cur",
            "nbr",
            F.aggregate(
                "__bnds",
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(b <= F.col("__k"), F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long")),
            ).alias("__bkt"),
        )
    wl = Window.partitionBy("cur", "__bkt").orderBy("nbr")
    local = bucketed.select(
        "cur",
        "nbr",
        "__bkt",
        (F.row_number().over(wl) - 1).cast("long").alias("__lr"),
    )
    wo = (
        Window.partitionBy("cur")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        bucketed.groupBy("cur", "__bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .select(
            "cur",
            "__bkt",
            (F.sum("__n").over(wo) - F.col("__n")).alias("__off"),
        )
    )
    return local.join(offs, ["cur", "__bkt"]).select(
        "cur",
        "nbr",
        (F.col("__off") + F.col("__lr")).alias("pick"),
    )


def random_walks(
    edges: DataFrame,
    length: int = 3,
    walks_per_node: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(start, walk, step, node): DeepWalk-style truncated random
    walks (Perozzi et al., KDD'14) over the undirected graph —
    ``walks_per_node`` walks of ``length`` steps from every node, in
    long form (step 0 is the start node itself).

    The "random" step is hash-randomness, the engine-portable
    convention of ``ops.sampling``: at step t the walker at ``cur``
    moves to the neighbor whose rank (row_number over the node's
    neighbors, ordered by neighbor id) equals
    ``H(start:walk:t:cur) mod deg(cur)``, H = first-32-bits-of-md5.
    The same graph therefore yields the SAME walk corpus on every
    run, any partitioning, and any SQL engine (the DuckDB twin
    unrolls identical joins) — resumable epochs and exact tests, the
    property np.random walkers cannot give on a cluster.

    Plan shape: the neighbor index (node, rank, nbr) and the degree
    table are built once from one symmetrize pass; each unrolled step
    is two equi-joins (state→deg to compute the pick, state→index on
    (node, pick)) — no explode, no per-row Python, cardinality
    exactly n_nodes × walks_per_node per step.  At 10^9 edges both
    joins shuffle on the node key; hot nodes cost one skewed lookup
    per step (AQE skew-split applies), never a fan-out, because the
    index join selects exactly ONE neighbor row per walker.

    Walks feed :func:`walk_pairs` (skip-gram co-occurrence) and the
    CBOW trainer (``ops.cbow``) — the DeepWalk recipe for KG/node
    embeddings.  Nodes appearing only in self-loop edges have no
    sym-neighbors and start no walks (a walker must have somewhere
    to go); deg >= 1 for every walker by construction, so walks
    never die early.
    """
    if length < 1:
        raise ValueError("random_walks: length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("random_walks: walks_per_node must be >= 1")
    # sym/degs/index built ONCE (lineage-cut, degree-thresholded
    # bucketing) — the unrolled steps reference them `length` times
    _sym, degs, index = _walk_tables(edges, src, dst)
    state = (
        degs.select("cur")
        .select(
            F.col("cur").alias("start"),
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(walks_per_node - 1).cast("long"),
                )
            ).alias("walk"),
            "cur",
        )
    )
    frames = [
        state.select(
            "start",
            "walk",
            F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for t in range(1, length + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat_ws(
                            ":",
                            F.col("start"),
                            F.col("walk").cast("string"),
                            F.lit(str(t)),
                            F.col("cur"),
                        ),
                        "utf-8",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        state = (
            state.join(degs, "cur")
            .withColumn("pick", h % F.col("deg"))
            .join(index, ["cur", "pick"])
            .select("start", "walk", F.col("nbr").alias("cur"))
        )
        frames.append(
            state.select(
                "start",
                "walk",
                F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def walk_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, n_pairs): skip-gram co-occurrence counts over
    a :func:`random_walks` corpus — every ordered (center, context)
    pair whose steps lie within ``window`` of each other on the same
    walk, aggregated.  This is DeepWalk's training-pair extraction:
    the aggregated table is both the word2vec-style corpus statistic
    and directly consumable as weighted positive pairs for the
    embedding trainer.

    Plan shape: a self-join on the (start, walk) key — walk groups
    are (length+1) rows, so the join output is bounded by
    n_walks × (length+1) × 2·window, never quadratic in the corpus —
    then one map-side-combinable count.  Both shuffles key on
    high-cardinality columns (walk id, then the pair), so no skew
    beyond the graph's own hot nodes.
    """
    if window < 1:
        raise ValueError("walk_pairs: window must be >= 1")
    a = walks.select(
        "start",
        "walk",
        F.col("step").alias("s1"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        "start",
        "walk",
        F.col("step").alias("s2"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, ["start", "walk"])
        .where(
            (F.col("s1") != F.col("s2"))
            & (F.abs(F.col("s1") - F.col("s2")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def node2vec_walks(
    edges: DataFrame,
    length: int = 3,
    walks_per_node: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(start, walk, step, node): node2vec second-order biased walks
    (Grover & Leskovec, KDD'16) — like :func:`random_walks` but each
    step after the first is biased by the PREVIOUS node: returning to
    it weighs 1/p, moving to a common neighbor of (prev, cur) weighs
    1, and escaping outward weighs 1/q.  Small q → DFS-like outward
    exploration (structural roles), small p discourages backtracking;
    p = q = 1 degenerates to the first-order walk (but via the
    continuous draw below, not the modular one, so the two operators'
    corpora differ even then — by design, each is self-consistent).

    Hash-randomness throughout: the step draw is
    ``u = H(start:walk:t:cur) / 2^32 ∈ [0,1)`` and the walker takes
    the unique neighbor whose cumulative-weight interval
    ``[cum − w, cum)`` (neighbors in rank order) contains
    ``u · total`` — inverse-CDF sampling with an engine-exact
    cumsum, so walks are bit-identical on any run, partitioning, or
    SQL engine.

    Cost model (honesty note): unlike the first-order walk's
    one-row indexed lookup, the bias NEEDS every candidate's weight,
    so each step fans out deg(cur) rows per walker, left-joins the
    (prev, nbr) edge-existence marker, and windows the cumsum per
    walker — the real price of node2vec at any scale, not an
    artifact of this implementation (alias-table samplers pay the
    same fan-out at table-build time).  Hot hubs therefore cost
    deg(hub) rows per visiting walker and ride the AQE skew path;
    if the graph is hub-heavy, cap degrees upstream (the
    neighbor_jaccard ``max_degree`` move) or prefer
    :func:`random_walks`.
    """
    if length < 1:
        raise ValueError("node2vec_walks: length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("node2vec_walks: walks_per_node must be >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("node2vec_walks: p and q must be > 0")
    # sym/degs/index built ONCE (lineage-cut, degree-thresholded
    # bucketing) — the unrolled steps reference them `length` times
    sym, degs, index = _walk_tables(edges, src, dst)
    marker = sym.select(
        F.col("a").alias("prev"),
        F.col("b").alias("nbr"),
        F.lit(1).alias("__e"),
    )
    state = degs.select("cur").select(
        F.col("cur").alias("start"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.lit(walks_per_node - 1).cast("long"),
            )
        ).alias("walk"),
        F.col("cur").alias("prev"),  # step-1 prev = start (unused)
        "cur",
    )
    frames = [
        state.select(
            "start",
            "walk",
            F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("node"),
        )
    ]

    def _hash(t: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat_ws(
                            ":",
                            F.col("start"),
                            F.col("walk").cast("string"),
                            F.lit(str(t)),
                            F.col("cur"),
                        ),
                        "utf-8",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    # step 1: uniform (no prev yet) — the random_walks modular pick
    state = (
        state.join(degs, "cur")
        .withColumn("pick", _hash(1) % F.col("deg"))
        .join(index, ["cur", "pick"])
        .select(
            "start",
            "walk",
            F.col("cur").alias("prev"),
            F.col("nbr").alias("cur"),
        )
    )
    frames.append(
        state.select(
            "start",
            "walk",
            F.lit(1).cast("long").alias("step"),
            F.col("cur").alias("node"),
        )
    )
    ww = Window.partitionBy("start", "walk").orderBy("pick")
    for t in range(2, length + 1):
        cand = (
            state.join(index, "cur")
            .join(marker, ["prev", "nbr"], "left")
            .withColumn(
                "w",
                F.when(F.col("nbr") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("__e").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q)),
            )
            .withColumn(
                "cum",
                F.sum("w").over(
                    ww.rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                ),
            )
            .withColumn(
                "tot",
                F.sum("w").over(
                    ww.rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                ),
            )
            .withColumn(
                "thr",
                (_hash(t).cast("double") / F.lit(4294967296.0))
                * F.col("tot"),
            )
        )
        # lower edge = the PREVIOUS row's cum (exactly tiling), not
        # the float recompute cum - w: for non-dyadic weights (p or
        # q = 3, say) cum - w can land 1 ulp off the neighbour's
        # cum, leaving a gap (walker silently dies) or an overlap
        # (duplicated walker rows)
        state = cand.withColumn(
            "lo", F.coalesce(F.lag("cum").over(ww), F.lit(0.0))
        ).where(
            (F.col("lo") <= F.col("thr"))
            & (F.col("thr") < F.col("cum"))
        ).select(
            "start",
            "walk",
            F.col("cur").alias("prev"),
            F.col("nbr").alias("cur"),
        )
        frames.append(
            state.select(
                "start",
                "walk",
                F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, component): connected components of (old graph ∪ new
    edges) WITHOUT rescanning the old graph — the continuous-
    ingestion face of canonicalization, the graph sibling of
    ``dedup.incremental_neardup`` and ``kg.merge_temporal``.

    ``labels`` is a previous (node, component) labeling from
    :func:`connected_components`.  The old graph is CONTRACTED to its
    star edges (node → component): component ids are min node ids —
    themselves nodes — so the stars preserve old connectivity
    exactly, and components over (stars ∪ new_edges) equal the full
    recompute over (old ∪ new) edges.  That equality is the
    operator's contract: the driver oracle for the shipped query IS
    the full-graph recursive-CTE twin, the merge_temporal proof
    pattern.

    Cost: the union-find pass reads |labels| + |new| edges
    instead of |old| + |new| — at 10¹² accumulated pairs with a daily
    delta, that is the difference between touching the corpus-scale
    pair history and touching the entity-scale labeling.  Singleton
    nodes (component = themselves, no new edges) ride through as
    self-loops, which ``connected_components`` keeps as their own
    components.
    """
    stars = labels.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    combined = stars.unionByName(
        new_edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        )
    )
    return connected_components(combined)


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(degree, n_nodes): the degree distribution of an undirected
    edge set — the one-glance KG health gauge (a healthy entity graph
    is heavy-tailed; a flat histogram says the extractor is emitting
    templated junk, and a single monster degree says one entity is a
    stopword-like hub that will skew every downstream join — the
    salting signal).  Complements :func:`~coies_spark.ops.textstats.
    zipf_alpha`, which gauges the same naturalness property on token
    frequencies.

    Degree counts DISTINCT neighbours (parallel edges collapsed,
    both directions, self-loops counted once); two
    map-side-combinable groupBys — (node) then (degree) — so the
    output is degree-many rows, broadcastable into any monitoring
    join, and nothing after the first aggregate is graph-sized.
    """
    sym = edges.select(
        F.col("src").cast("string").alias("node"),
        F.col("dst").cast("string").alias("nbr"),
    ).unionByName(
        edges.select(
            F.col("dst").cast("string").alias("node"),
            F.col("src").cast("string").alias("nbr"),
        )
    )
    deg = (
        sym.distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


def pmi_edges(
    df: DataFrame,
    group_col: str,
    value_col: str,
    min_pairs: int = 1,
) -> DataFrame:
    """(a, b, n_ab, n_a, n_b, pmi): co-occurrence edges weighted by
    pointwise mutual information over GROUPS — P(a,b)/(P(a)·P(b))
    with probabilities as group frequencies.  Raw co-occurrence
    counts (:func:`cooccurrence_edges`) rank stopword-like hub
    entities first because they are everywhere; PMI normalizes by
    the marginals, so the top edges are pairs that seek each other
    out — the link-PROPOSAL weighting for the entity graph, and the
    set-membership sibling of the adjacency-PMI collocation table
    (:func:`~coies_spark.ops.textstats.collocations`).

    pmi = round(ln(n_ab · N / (n_a · n_b)), 6) where N = distinct
    groups, n_x = groups containing x, n_ab = groups containing both
    (membership distinct — multiplicity inside a group never counts
    twice).  Negative PMI (co-occurring LESS than chance) is emitted
    too: it flags entities an extractor should stop linking.

    Plan: one distinct, two group-sized aggregates, one within-group
    self-join (a < b — the cooccurrence_edges shape, quadratic only
    inside a group), marginals joined back on the tiny entity side,
    N broadcast as a 1-row cross join.
    """
    if min_pairs < 1:
        raise ValueError("pmi_edges: min_pairs must be >= 1")
    m = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("string").alias("__v"),
    ).distinct()
    n_groups = m.select("__g").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    marg = m.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__nx")
    )
    x = m.select("__g", F.col("__v").alias("a"))
    y = m.select("__g", F.col("__v").alias("b"))
    pairs = (
        x.join(y, "__g")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs)
    )
    return (
        pairs.join(
            marg.select(F.col("__v").alias("a"), F.col("__nx").alias("n_a")),
            "a",
        )
        .join(
            marg.select(F.col("__v").alias("b"), F.col("__nx").alias("n_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_groups))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            # n_ab cast to double BEFORE the product: long·long
            # overflows at 10^10 groups × 10^9-df hub pairs (exactly
            # the rows PMI exists to normalize); the DuckDB twin
            # already multiplies in double
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("__n")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
