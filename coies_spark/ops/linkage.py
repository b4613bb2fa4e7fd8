"""Probabilistic record linkage: Fellegi–Sunter match/non-match
weights learned by unrolled EM — trainable operator #4, the entity-
resolution complement of the surface (``kg.alias_candidates``) and
structural (``graph.neighbor_jaccard`` / ``adamic_adar``) alias
signals.  Fellegi & Sunter (JASA 1969) define the optimal linkage
rule given per-field agreement probabilities m_j = P(fields agree |
match) and u_j = P(agree | non-match); Winkler (1988) showed EM fits
them unsupervised.  This is the model behind production ER engines
(the public Splink package, census deduplication): the KG build uses
it to decide which candidate alias pairs are the SAME real-world
entity before canonicalization merges them.

Why this trains as ONE Catalyst plan with a bit-exact DuckDB oracle:

* the sufficient statistics are the PATTERN COUNTS — with f binary
  comparison fields there are at most 2^f distinct agreement patterns
  γ ∈ {0,1}^f, so one map-side-combinable groupBy collapses ANY
  number of candidate pairs (10¹⁰ at web scale) into ≤ 2^f rows, and
  every EM iteration thereafter touches only that tiny frame: the
  corpus is scanned exactly once, like ``classify``'s hashed-count
  frame;
* each EM round is pure column algebra on (pattern, n) crossJoined
  with the broadcast 1-row parameter state: E-step w_γ = p·Πm /
  (p·Πm + (1−p)·Πu) with the products built as a FIXED left-assoc
  expression chain in field order (IEEE-deterministic, same order in
  both engines), rounded 9dp; M-step sums Σ n·w_γ(·γ_j) form each
  term as a double product, cast to decimal(28,12), and sum in
  decimal — exact and order-independent (the ``classify``
  accumulation trick); the new (p, m_j, u_j) are rounded 9dp and
  CLAMPED to [1e-6, 1−1e-6] so EM's absorbing bounds cannot produce
  ±inf log-weights downstream;
* iterations are unrolled into the plan (the kmeans/HITS/classify
  convention) — no driver loop state, no collect.

Scoring: the Fellegi–Sunter match weight of a pair is
Σ_j log2(m_j/u_j) over agreeing fields + Σ_j log2((1−m_j)/(1−u_j))
over disagreeing ones — again a fixed per-row expression chain over
9dp-rounded parameters, so scores are engine-exact too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(28,12)"
_EPS = 1e-6


def _clamp9(c: Column) -> Column:
    return F.least(
        F.greatest(F.round(c, 9), F.lit(_EPS)), F.lit(1.0 - _EPS)
    )


def comparison_patterns(
    pairs: DataFrame, fields: list[str]
) -> DataFrame:
    """(γ_1..γ_f, n): agreement-pattern counts — the sufficient
    statistics of the Fellegi–Sunter model.  Field columns are
    boolean/int agreement indicators; NULL counts as disagreement
    (0), explicitly.  One map-side-combinable groupBy: any number of
    candidate pairs collapses to ≤ 2^f rows."""
    if not fields:
        raise ValueError("comparison_patterns: need >= 1 field")
    g = [
        F.coalesce(F.col(f).cast("int"), F.lit(0)).alias(f)
        for f in fields
    ]
    return (
        pairs.select(*g)
        .groupBy(*fields)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _em_state(
    patterns: DataFrame,
    fields: list[str],
    iters: int,
    p0: float,
    m0: float,
    u0: float,
) -> DataFrame:
    """The 1-row wide parameter frame (p, m_<f>.., u_<f>..) after
    ``iters`` unrolled EM rounds over the pattern-count frame."""
    state = patterns.sparkSession.range(1).select(
        F.lit(round(p0, 9)).alias("p"),
        *[F.lit(round(m0, 9)).alias(f"m_{f}") for f in fields],
        *[F.lit(round(u0, 9)).alias(f"u_{f}") for f in fields],
    )
    for _ in range(iters):
        j = patterns.crossJoin(F.broadcast(state))
        pm: Column = F.lit(1.0)
        pu: Column = F.lit(1.0)
        for f in fields:
            agree = F.col(f) == 1
            pm = pm * F.when(agree, F.col(f"m_{f}")).otherwise(
                F.lit(1.0) - F.col(f"m_{f}")
            )
            pu = pu * F.when(agree, F.col(f"u_{f}")).otherwise(
                F.lit(1.0) - F.col(f"u_{f}")
            )
        w = F.round(
            F.col("p") * pm
            / (F.col("p") * pm + (F.lit(1.0) - F.col("p")) * pu),
            9,
        )
        t = j.select(
            "n",
            *[F.col(f) for f in fields],
            w.alias("w"),
        )
        aggs = [
            F.sum((F.col("n") * F.col("w")).cast(_DEC)).alias("sw"),
            F.sum(
                (F.col("n") * (F.lit(1.0) - F.col("w"))).cast(_DEC)
            ).alias("snw"),
            F.sum("n").alias("nn"),
        ]
        for f in fields:
            aggs.append(
                F.sum(
                    (F.col("n") * F.col("w") * F.col(f)).cast(_DEC)
                ).alias(f"swg_{f}")
            )
            aggs.append(
                F.sum(
                    (
                        F.col("n")
                        * (F.lit(1.0) - F.col("w"))
                        * F.col(f)
                    ).cast(_DEC)
                ).alias(f"snwg_{f}")
            )
        s = t.agg(*aggs)
        state = s.select(
            _clamp9(
                F.col("sw").cast("double") / F.col("nn").cast("double")
            ).alias("p"),
            *[
                _clamp9(
                    F.col(f"swg_{f}").cast("double")
                    / F.col("sw").cast("double")
                ).alias(f"m_{f}")
                for f in fields
            ],
            *[
                _clamp9(
                    F.col(f"snwg_{f}").cast("double")
                    / F.col("snw").cast("double")
                ).alias(f"u_{f}")
                for f in fields
            ],
        )
    return state


def em_linkage(
    pairs: DataFrame,
    fields: list[str],
    iters: int = 5,
    p0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
) -> DataFrame:
    """(field, m, u, p): the fitted Fellegi–Sunter parameters — one
    row per comparison field, the learned match prior ``p`` repeated
    on each row (the table is f rows; repeating the scalar keeps the
    output one flat frame).

    ``pairs`` carries one row per CANDIDATE pair (from any blocking
    route — LSH bands, alias affix blocks) with boolean agreement
    columns ``fields``.  See the module docstring for the exactness
    contract; parameters land 9dp-rounded and clamped to
    [1e-6, 1-1e-6].
    """
    if iters < 1:
        raise ValueError("em_linkage: iters must be >= 1")
    if not 0.0 < p0 < 1.0:
        raise ValueError("em_linkage: p0 must be in (0, 1)")
    state = _em_state(
        comparison_patterns(pairs, fields), fields, iters, p0, m0, u0
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(f).alias("field"),
                F.col(f"m_{f}").alias("m"),
                F.col(f"u_{f}").alias("u"),
            )
            for f in fields
        ]
    )
    return state.select(
        F.explode(rows).alias("r"), "p"
    ).select("r.field", "r.m", "r.u", "p")


def linkage_scores(
    pairs: DataFrame,
    fields: list[str],
    iters: int = 5,
    p0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
) -> DataFrame:
    """Input pairs + ``match_weight``: the Fellegi–Sunter composite
    log2-likelihood-ratio under parameters fitted by
    :func:`em_linkage` on the SAME pairs — the number a linkage
    pipeline thresholds on (≥ ~8 bits ⇒ link, ≤ ~-4 ⇒ reject,
    between ⇒ clerical-review queue).

    Per-field weights round 9dp; the composite is a fixed
    expression-chain sum in field order (engine-exact), rounded 6.
    Scoring is one broadcast crossJoin of the 1-row parameter frame —
    no shuffle beyond the EM's own pattern groupBy.
    """
    state = _em_state(
        comparison_patterns(pairs, fields), fields, iters, p0, m0, u0
    )
    j = pairs.crossJoin(F.broadcast(state))
    total: Column = F.lit(0.0)
    ln2 = F.log(F.lit(2.0))
    for f in fields:
        agree = F.coalesce(F.col(f).cast("int"), F.lit(0)) == 1
        wa = F.round(F.log(F.col(f"m_{f}") / F.col(f"u_{f}")) / ln2, 9)
        wd = F.round(
            F.log(
                (F.lit(1.0) - F.col(f"m_{f}"))
                / (F.lit(1.0) - F.col(f"u_{f}"))
            )
            / ln2,
            9,
        )
        total = total + F.when(agree, wa).otherwise(wd)
    return j.select(
        *[F.col(c) for c in pairs.columns],
        F.round(total, 6).alias("match_weight"),
    )


def linkage_clusters(
    pairs: DataFrame,
    fields: list[str],
    id_a: str = "id_a",
    id_b: str = "id_b",
    threshold: float = 3.0,
    iters: int = 5,
    p0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
) -> DataFrame:
    """(node, component): entity-resolution END-TO-END — candidate
    pairs are scored by the EM-fitted Fellegi–Sunter weight
    (:func:`linkage_scores`), pairs at ≥ ``threshold`` bits become
    link edges, and connected components canonicalize the records
    into clusters (component = min record id, the
    ``pipeline.canonicalize`` convention).  This is the full modern
    ER recipe — block → compare → learn weights → threshold →
    cluster (Fellegi–Sunter 1969 + transitive closure) — as one
    declarative plan.

    ``pairs`` carries the two record-id columns plus the agreement
    fields; ids are cast to string so the min-label component is
    lexicographic on every engine.  Link graphs have bounded
    diameter by construction (duplicate clusters are dense); the
    clustering is ``operators.graph.connected_components``, one
    union-find pass whatever the diameter.
    """
    scored = linkage_scores(pairs, fields, iters, p0, m0, u0)
    edges = scored.where(
        F.col("match_weight") >= threshold
    ).select(
        F.col(id_a).cast("string").alias("src"),
        F.col(id_b).cast("string").alias("dst"),
    )
    from ..operators.graph import connected_components

    return connected_components(edges)
