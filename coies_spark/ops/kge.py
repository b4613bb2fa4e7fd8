"""Knowledge-graph embeddings: a TransE trainer (Bordes et al.,
NeurIPS 2013, "Translating Embeddings for Modeling Multi-relational
Data") as trainable operator #4, next to BPE induction, the logistic
quality classifier, and EM record linkage — and like them, with a
bit-exact cross-engine training loop.

TransE models a true triple (h, r, t) as a translation h + r ≈ t in
embedding space; training minimizes the margin ranking loss
max(0, γ + d(h+r, t) - d(h+r, t')) against corrupted triples t'.
The lite trainer here makes every choice the deterministic one:

* **full-batch subgradient descent** (the :mod:`classify` recipe):
  each epoch's gradient is one aggregation over all triples, so the
  loop is reproducible on any partitioning and expressible as an
  unrolled DuckDB CTE chain;
* **array-packed state** (id, xs[dim]) with per-element arithmetic:
  the per-dimension program is the SAME expression tree the long
  (id, i, x) form evaluated row-by-row — each element op is one IEEE
  double op and each cross-dimension sum folds in exact decimal, so
  results are bit-identical to the long form (which the DuckDB twins
  still replay) while every join keys on the entity/triple alone and
  ships dim values per row instead of dim rows;
* **hash-everything determinism**: initial components are
  md5-derived uniforms in [-0.5, 0.5) (the `deterministic_sample`
  hex trick, numeric form), and each triple's corrupted tail is the
  entity at index md5(h⎵r⎵t) mod (N−1) of the sorted entity list
  with the TRUE tail excluded (sample-excluding-one shift) — no RNG
  state anywhere;
* **squared L2 energy** d = Σ(h_i + r_i - t_i)², whose subgradient
  is linear — per-triple gradient components round to 9dp and sum in
  decimal(28,12) per (id, i) (exact under any visit order), updates
  re-round to 9dp before the next epoch (the classifier GD
  accumulation trick).

Scale shapes (10⁹-entity KG): every join keys on the entity id or the
triple key, so hot entities spread across triples; the corruption
index over the sorted entity list is built HUB-SAFELY above
``_INDEX_WINDOW_MAX`` entities by the two-phase quantile-bucketed
rank (the ``operators.graph._neighbor_index`` /
``ops.maintenance.exclusive_prefix_sum`` recipe — rank values are
identical to the single-window build, so nothing downstream moves),
and below it by one bounded-size window.  State sides join broadcast
when vocabulary-sized (|E|·dim·channels ≤ ``_BCAST_MAX_ELEMS``) and
as plain shuffled equi-joins beyond that — a driver-side branch on
counts the loop already takes, because the lazily-checkpointed state
hides its statistics from Catalyst.

No file in ``/root/reference`` contains embedding-based KG scoring;
this implements the public TransE recipe for the alias/link layers
(``kg.alias_candidates``, ``operators.graph.link_prediction_mrr``)
to consume.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.spread import spread_to_slots

_log = logging.getLogger(__name__)

_DEC = "decimal(28,12)"
_SEP = "\x1f"
# one rank task may sort at most this many entity ids before the
# two-phase bucketed build takes over (the walk-ops lesson: always
# bucketing costs a constant factor tiny vocabularies never earn back)
_INDEX_WINDOW_MAX = 2_000_000
# a state side broadcasts while |ids| · dim · channels stays under
# this many elements (~32 MB of doubles); beyond it the joins fall
# back to shuffled equi-joins on the entity key
_BCAST_MAX_ELEMS = 4_000_000


def _md5_long(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative BIGINT — the engine-
    portable hash (DuckDB: CAST('0x'||substr(md5(x),1,8) AS BIGINT))."""
    return F.conv(
        F.substring(F.md5(F.encode(col, "utf-8")), 1, 8), 16, 10
    ).cast("long")


def _maybe_b(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast hint iff the driver-side count said the side fits —
    the scale-adaptive branch the checkpointed state needs because
    Catalyst sees no statistics through a LogicalRDD."""
    return F.broadcast(df) if small else df


def _dec_arr_sum(arr: Column, term: Callable[[Column], Column]) -> Column:
    """Σ term(x) over an array, folded in exact decimal(28,12) and
    cast to double — the array twin of ``F.sum(term(x))`` over long
    (id, i, x) rows.  Decimal addition is exact (unit-scale terms
    never approach the 28-digit cap), so the fold order is as
    irrelevant as the shuffle-reduce order was, and the final double
    is the identical value on every engine."""
    return F.aggregate(
        arr,
        F.lit(0).cast(_DEC),
        lambda acc, x: (acc + term(x)).cast(_DEC),
    ).cast("double")


def _entity_index(ents: DataFrame, n: int) -> DataFrame:
    """(id, idx): the sorted-entity-list index (0-based dense rank by
    id ascending) every corruption/candidate draw addresses — built
    HUB-SAFELY.  Below ``_INDEX_WINDOW_MAX`` ids, one bounded
    ``row_number`` window (a single task sorting ≤ 2M short strings —
    cheaper than the two-phase build's extra passes).  Above it, the
    two-phase quantile-bucketed rank the walk ops use
    (``operators.graph._neighbor_index``): an order-preserving
    numeric proxy of the id (integer value, or the zero-right-padded
    first-60-bits key of a string — fixed width, so prefix order ==
    byte order == Spark's code-point order), ``percentile_approx``
    bucket boundaries, per-bucket local ranks, and a ≤B-row offset
    prefix sum broadcast back.  Equal proxies always share a bucket,
    so idx == the single-window rank EXACTLY (ids are distinct);
    every oracle and test downstream is invariant to the branch."""
    if n <= _INDEX_WINDOW_MAX:
        return ents.select(
            "id",
            (
                F.row_number().over(Window.orderBy(F.col("id").asc())) - 1
            ).cast("long").alias("idx"),
        )
    id_type = dict(ents.dtypes)["id"]
    if id_type in ("tinyint", "smallint", "int", "bigint", "long"):
        key = F.col("id").cast("long")
    elif id_type == "string":
        key = F.conv(
            F.rpad(F.hex(F.encode(F.col("id"), "utf-8")), 15, "0"),
            16,
            10,
        ).cast("long")
    else:  # exotic id type: degenerate to the single-window build
        return ents.select(
            "id",
            (
                F.row_number().over(Window.orderBy(F.col("id").asc())) - 1
            ).cast("long").alias("idx"),
        )
    n_buckets = max(
        2, ents.sparkSession.sparkContext.defaultParallelism * 4
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    keyed = ents.select("id", key.alias("__k"))
    bnds = keyed.agg(
        F.percentile_approx("__k", qs, 10_000).alias("__bnds")
    )
    bucketed = keyed.crossJoin(F.broadcast(bnds)).select(
        "id",
        F.aggregate(
            "__bnds",
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(b <= F.col("__k"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        ).alias("__bkt"),
    )
    wl = Window.partitionBy("__bkt").orderBy(F.col("id").asc())
    local = bucketed.select(
        "id",
        "__bkt",
        (F.row_number().over(wl) - 1).cast("long").alias("__lr"),
    )
    wo = (
        Window.orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        bucketed.groupBy("__bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .select(
            "__bkt",
            (F.sum("__n").over(wo) - F.col("__n")).alias("__off"),
        )
    )
    return local.join(F.broadcast(offs), "__bkt").select(
        "id", (F.col("__off") + F.col("__lr")).alias("idx")
    )


def _negatives(
    t: DataFrame, ents: DataFrame, n: int | None = None
) -> DataFrame:
    """Append the deterministic corrupted tail: the entity at index
    md5(triple) mod (N−1) of the sorted entity list WITH THE TRUE
    TAIL EXCLUDED (the sample-excluding-one shift: indexes at or
    past the tail's own rank move up by one).  Excluding the tail
    matters: a corruption equal to the positive gives d_pos == d_neg
    forever — the triple counts as violated at every epoch with
    gradients that cancel exactly, polluting the violated-count
    health gauge for ~|T|/N triples.  The entity index is the
    hub-safe :func:`_entity_index`; a single-entity KG degenerates to
    the tail itself (no other entity exists)."""
    if n is None:
        n = ents.count()
    small = n <= _BCAST_MAX_ELEMS
    eidx = _entity_index(ents, n)
    key = _md5_long(F.concat_ws(_SEP, "subj", "pred", "obj"))
    if n < 2:
        return (
            t.withColumn("idx", key % F.lit(n))
            .join(_maybe_b(eidx, small), "idx")
            .select(
                "subj", "pred", "obj", F.col("id").alias("neg_obj")
            )
        )
    oidx = eidx.select(
        F.col("id").alias("obj"), F.col("idx").alias("__oi")
    )
    idx0 = key % F.lit(n - 1)
    return (
        t.join(_maybe_b(oidx, small), "obj")
        .withColumn(
            "idx", idx0 + (idx0 >= F.col("__oi")).cast("long")
        )
        .join(_maybe_b(eidx, small), "idx")
        .select(
            "subj", "pred", "obj", F.col("id").alias("neg_obj")
        )
    )


# --------------------------------------------------------------------
# TransE (single-channel, round-9 grid)
# --------------------------------------------------------------------


def _init_state(ids: DataFrame, kind: str, dim: int) -> DataFrame:
    """(id, xs[dim]): md5-uniform init in [-0.5, 0.5), round 9 — the
    ``kind`` salt keeps an entity and a relation with the same name
    on independent vectors.  Element i carries exactly the value the
    long-form (id, i, x) init produced."""
    return ids.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.round(
                _md5_long(
                    F.concat_ws(
                        _SEP, F.lit(kind), F.col("id"), i.cast("string")
                    )
                )
                / F.lit(4294967296.0)
                - F.lit(0.5),
                9,
            ),
        ).alias("xs"),
    )


def _l2_normalize(state: DataFrame) -> DataFrame:
    """Project every entity vector onto the unit L2 ball at epoch
    start (the TransE Algorithm-1 normalization step): ‖x‖² sums
    round-9 squares in exact decimal, the norm and division are IEEE
    doubles identical on both engines, and the result re-rounds to
    9dp.  A pure per-row projection now — the norm folds over the
    row's own array, so the former per-id groupBy+join is gone.
    Besides algorithm fidelity, this BOUNDS every entity component at
    1, so round(x, 9) can never outrun double precision however
    adversarial the input KG (unsatisfiable cycles diverge without
    it)."""
    nrm = F.sqrt(
        _dec_arr_sum("xs", lambda x: F.round(x * x, 9).cast(_DEC))
    )
    return state.withColumn("__nrm", nrm).select(
        "id",
        F.when(
            F.col("__nrm") > 0,
            F.transform(
                "xs", lambda x: F.round(x / F.col("__nrm"), 9)
            ),
        )
        .otherwise(F.col("xs"))
        .alias("xs"),
    )


def _attach1(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """tneg + (h, r, t, tn) arrays: four entity/relation-keyed
    equi-joins (broadcast while the state side fits), one row per
    triple — the array twin of the long-form 4-join fan-out."""
    return (
        tneg.join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("subj"), F.col("xs").alias("h")
                ),
                small_e,
            ),
            "subj",
        )
        .join(
            _maybe_b(
                r_state.select(
                    F.col("id").alias("pred"), F.col("xs").alias("r")
                ),
                small_r,
            ),
            "pred",
        )
        .join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("obj"), F.col("xs").alias("t")
                ),
                small_e,
            ),
            "obj",
        )
        .join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("neg_obj"),
                    F.col("xs").alias("tn"),
                ),
                small_e,
            ),
            "neg_obj",
        )
    )


def _epoch_rows(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    margin: float,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """Per-triple translation residual arrays and energies under the
    current state: dp[i] = (h_i + r_i) - t_i, dn[i] against the
    corrupted tail; d_pos/d_neg the exact-decimal sums of the round-9
    squares; ``violated`` the margin flag.  One row per triple —
    residuals, energies and the flag live on the SAME row, so the
    former join-back of the violation set onto the core is gone."""
    dp = F.zip_with(
        F.zip_with("h", "r", lambda a, b: a + b),
        "t",
        lambda s, x: s - x,
    )
    dn = F.zip_with(
        F.zip_with("h", "r", lambda a, b: a + b),
        "tn",
        lambda s, x: s - x,
    )
    rows = _attach1(tneg, e_state, r_state, small_e, small_r).select(
        "subj", "pred", "obj", "neg_obj",
        dp.alias("dp"), dn.alias("dn"),
    )
    sq = lambda x: F.round(x * x, 9).cast(_DEC)  # noqa: E731
    return rows.select(
        "*",
        _dec_arr_sum("dp", sq).alias("d_pos"),
        _dec_arr_sum("dn", sq).alias("d_neg"),
    ).withColumn(
        "violated",
        (F.lit(float(margin)) + F.col("d_pos") - F.col("d_neg")) > 0,
    )


def _grad_sum(
    grads: DataFrame, dim: int, n_triples: int
) -> DataFrame:
    """(id, g[dim]) from per-contribution (id, g[dim]) rows: element
    sums fold in exact decimal per (id, i) — the identical vote set
    the long-form groupBy(id, i) reduced — then divide by the triple
    count (full-batch MEAN descent, the :mod:`classify` g/N rule:
    per-epoch movement stays O(lr) however many triples vote, which
    is also what keeps the 9dp grid exact — past |x|·10⁹ ≈ 2⁵³ the
    grid outruns double precision and engines disagree by 1 ulp)."""
    sums = [
        F.sum(F.element_at("g", k + 1).cast(_DEC)).alias(f"__s{k}")
        for k in range(dim)
    ]
    return grads.groupBy("id").agg(*sums).select(
        "id",
        F.array(
            *[
                F.col(f"__s{k}").cast("double")
                / F.lit(float(n_triples))
                for k in range(dim)
            ]
        ).alias("g"),
    )


def _grad_sum_fused(
    grads_e: DataFrame, grads_r: DataFrame, dim: int, n_triples: int
) -> tuple[DataFrame, DataFrame]:
    """(entity gsum, relation gsum) through ONE shuffle: the entity
    and relation contribution rows union under a kind tag, aggregate
    per (kind, id), and split back by the tag.  Values are
    bit-identical to two separate :func:`_grad_sum` calls — the
    (kind, id) groups are exactly the per-id groups of each original
    frame (the tag prevents an id naming both an entity and a
    relation from cross-summing), and the decimal fold is order-free
    — while the per-epoch exchange count drops from 2 to 1.  The
    fused table is lazily checkpointed: without the cut Catalyst
    would push each split's tag filter back through the union and
    re-derive the two separate shuffles this fusion removes."""
    tagged = grads_e.select(
        F.lit("e").alias("kk"), "id", "g"
    ).unionByName(grads_r.select(F.lit("r").alias("kk"), "id", "g"))
    sums = [
        F.sum(F.element_at("g", k + 1).cast(_DEC)).alias(f"__s{k}")
        for k in range(dim)
    ]
    fused = (
        tagged.groupBy("kk", "id")
        .agg(*sums)
        .select(
            "kk",
            "id",
            F.array(
                *[
                    F.col(f"__s{k}").cast("double")
                    / F.lit(float(n_triples))
                    for k in range(dim)
                ]
            ).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    return (
        fused.where(F.col("kk") == "e").drop("kk"),
        fused.where(F.col("kk") == "r").drop("kk"),
    )


def _apply_grads(
    state: DataFrame, gsum: DataFrame, lr: float, small: bool
) -> DataFrame:
    """x ← round(x - lr·g, 9) element-wise; ids with no gradient keep
    their weight (LEFT join — the classifier's no-silent-delete rule;
    state components already sit on the 9dp grid, so skipping the
    no-op update equals the former round(x - lr·0, 9))."""
    return state.join(_maybe_b(gsum, small), "id", "left").select(
        "id",
        F.when(F.col("g").isNull(), F.col("xs"))
        .otherwise(
            F.zip_with(
                "xs",
                "g",
                lambda x, g: F.round(x - F.lit(float(lr)) * g, 9),
            )
        )
        .alias("xs"),
    )


def _train_states(
    triples: DataFrame, dim: int, iters: int, lr: float, margin: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared training core of :func:`transe_train` /
    :func:`transe_energies` (one builder, both faces): returns
    (tneg, e_state, r_state) after ``iters`` epochs."""
    if dim < 1 or iters < 1:
        raise ValueError("transe_train: dim and iters must be >= 1")
    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ents = (
        t.select(F.col("subj").alias("id"))
        .unionByName(t.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = t.select(F.col("pred").alias("id")).distinct()
    n_triples = t.count()
    n_ents = ents.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    # relations are a subset of the triple count per distinct pred;
    # they broadcast whenever the entity side does (|R| ≤ 2|T| keys
    # is the practical regime; an adversarial all-distinct-pred KG
    # still fits whenever the entity side fits)
    small_r = small_e
    tneg = _negatives(t, ents, n_ents).localCheckpoint(eager=False)
    e_state = _init_state(ents, "entity", dim)
    r_state = _init_state(rels, "relation", dim)
    for _ in range(iters):
        e_state = _l2_normalize(e_state)
        vc = (
            _epoch_rows(tneg, e_state, r_state, margin, small_e, small_r)
            .where("violated")
            .select("subj", "pred", "obj", "neg_obj", "dp", "dn")
            # the violation rows feed FOUR gradient projections — cut
            # here so the epoch's join tree runs once, not four times
            .localCheckpoint(eager=False)
        )
        g_hr = F.zip_with(
            "dp", "dn", lambda p, q: F.round(2.0 * (p - q), 9)
        )
        grads_e = (
            vc.select(F.col("subj").alias("id"), g_hr.alias("g"))
            .unionByName(
                vc.select(
                    F.col("obj").alias("id"),
                    F.transform(
                        "dp", lambda p: F.round(-2.0 * p, 9)
                    ).alias("g"),
                )
            )
            .unionByName(
                vc.select(
                    F.col("neg_obj").alias("id"),
                    F.transform(
                        "dn", lambda q: F.round(2.0 * q, 9)
                    ).alias("g"),
                )
            )
        )
        grads_r = vc.select(F.col("pred").alias("id"), g_hr.alias("g"))
        gs_e, gs_r = _grad_sum_fused(grads_e, grads_r, dim, n_triples)
        e_state = _apply_grads(
            e_state, gs_e, lr, small_e
        ).localCheckpoint(eager=False)
        r_state = _apply_grads(
            r_state, gs_r, lr, small_r
        ).localCheckpoint(eager=False)
    return tneg, e_state, r_state


def _explode1(state: DataFrame) -> DataFrame:
    """(id, xs[dim]) → the published long format (id, i, x)."""
    return state.select("id", F.posexplode("xs").alias("i", "x"))


def transe_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(id, kind, i, x): entity and relation embeddings after
    ``iters`` unrolled full-batch TransE epochs — long format, kind ∈
    {'entity', 'relation'}, i the dimension index, x the round-9
    component.  See the module docstring for the determinism and
    scale contract; the DuckDB oracle twin replays the identical
    relational program, so the trained weights are bit-identical
    across engines (the BPE/classifier/EM-linkage guarantee, now for
    a representation-learning op).
    """
    _, e_state, r_state = _train_states(triples, dim, iters, lr, margin)
    return _explode1(e_state).select(
        "id", F.lit("entity").alias("kind"), "i", "x"
    ).unionByName(
        _explode1(r_state).select(
            "id", F.lit("relation").alias("kind"), "i", "x"
        )
    )


def transe_energies(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(subj, pred, obj, d_pos, d_neg, violated): per-triple energies
    under the TRAINED embeddings — d_pos the squared-L2 translation
    residual of the true triple, d_neg of its deterministic
    corruption, ``violated`` whether the margin still separates them
    (the residual-loss face; Σ violated is the training-health gauge
    and SHOULD fall as iters grows — pinned by test).  d_pos / d_neg
    publish UNROUNDED: the decimal sums are exact at ≤ 9dp, so the
    cast double is engine-identical, while a 6dp re-round would hit
    genuine decimal ties the two engines break differently.  Shares
    every stage with :func:`transe_train`, so the faces cannot drift.
    """
    tneg, e_state, r_state = _train_states(triples, dim, iters, lr, margin)
    n_ents = e_state.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    return _epoch_rows(
        tneg, e_state, r_state, margin, small_e, small_e
    ).select("subj", "pred", "obj", "d_pos", "d_neg", "violated")


def transe_rank_eval(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    n_candidates: int = 20,
    side: str = "tail",
) -> DataFrame:
    """(subj, pred, obj, n_cands, rank, rr, hit1, hit3, hit10): the
    standard KGE link-prediction evaluation (Bordes et al. 2013,
    "filtered" protocol) under sampled candidates — for each trained
    triple, rank the TRUE tail against ``n_candidates`` deterministic
    candidate entities by squared-L2 translation energy d(h+r, e),
    having FILTERED candidates that are themselves known-true tails
    for (subj, pred) (scoring a real fact as a "negative" would
    punish the model for being right — the filtered-setting rule).
    MRR is avg(rr), Hits@k is avg(hit{k}), both one trivial
    aggregation away; the per-triple table is published because it is
    the joinable face (per-relation breakdowns, worst-ranked audit).

    Determinism: candidate c of a triple is the entity at index
    md5(subj⎵pred⎵obj⎵c) mod N of the sorted entity list (the
    :func:`_negatives` recipe, salted by the candidate ordinal); md5
    collisions dedupe, so ``n_cands`` ≤ ``n_candidates`` varies per
    triple and is published.  Ties on energy break by candidate id
    (ascending) against the true tail — total order, engine-exact
    because energies are round-9 decimal sums cast to double (the
    :func:`transe_energies` guarantee).

    Scale: scoring is |test|·K rows through the same entity-keyed
    equi-join program as training (arrays carry the ``dim`` values) —
    no all-pairs structure anywhere.  Ranking against ALL entities
    (the original protocol) is |test|·|E| and deliberately not the
    default; at 10⁹ entities the published path is candidate sampling
    (this), or ANN over the entity table (``ops.similarity``) when
    exact full-ranking is required.  The sorted-entity index is the
    hub-safe :func:`_entity_index`.
    """
    if n_candidates < 1:
        raise ValueError("transe_rank_eval: n_candidates must be >= 1")
    if side not in ("tail", "head"):
        raise ValueError("transe_rank_eval: side must be tail|head")
    tneg, e_state, r_state = _train_states(triples, dim, iters, lr, margin)
    t3 = tneg.select("subj", "pred", "obj")
    if side == "head":
        t3 = _flip(t3)
    n_ents = e_state.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    probe = _rank_probe(t3, n_candidates)
    sq = lambda x: F.round(x * x, 9).cast(_DEC)  # noqa: E731
    res = (
        probe.join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("subj"), F.col("xs").alias("h")
                ),
                small_e,
            ),
            "subj",
        )
        .join(
            _maybe_b(
                r_state.select(
                    F.col("id").alias("pred"), F.col("xs").alias("r")
                ),
                small_e,
            ),
            "pred",
        )
        .join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("cand"), F.col("xs").alias("e")
                ),
                small_e,
            ),
            "cand",
        )
    )
    # tail side: d(h + r, cand); head side (flipped probe):
    # d(cand + r, t) — the candidate occupies the HEAD slot
    dp = (
        F.zip_with(
            F.zip_with("h", "r", lambda a, b: a + b),
            "e",
            lambda s, x: s - x,
        )
        if side == "tail"
        else F.zip_with(
            F.zip_with("e", "r", lambda a, b: a + b),
            "h",
            lambda s, x: s - x,
        )
    )
    scored = res.select(
        "subj", "pred", "obj", "cand", "is_true",
        _dec_arr_sum(dp, sq).alias("score"),
    )
    # translation ENERGY: lower is better
    out = _rank_output(scored, higher_is_better=False)
    return out if side == "tail" else _unflip_output(out)


def _flip(t3: DataFrame) -> DataFrame:
    """Head-side evaluation by ORIENTATION FLIP: feeding (obj, pred,
    subj) through the tail machinery makes the candidate slot the
    HEAD and the filtered-protocol anti-join remove known-true heads
    for (pred, obj) — the head-replacement rule, with zero new
    protocol code.  Callers re-flip the output keys to the original
    orientation."""
    return t3.select(
        F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
    )


def _unflip_output(out: DataFrame) -> DataFrame:
    """Re-orient a flipped eval's keys back to the original triple."""
    return out.select(
        F.col("obj").alias("subj"),
        "pred",
        F.col("subj").alias("obj"),
        "n_cands", "rank", "rr", "hit1", "hit3", "hit10",
    )


def _rank_probe(t3: DataFrame, n_candidates: int) -> DataFrame:
    """(subj, pred, obj, cand, is_true): the filtered-protocol probe
    table shared by every KGE eval face — ``n_candidates``
    deterministic md5-indexed candidate entities per triple, with
    known-true tails for (subj, pred) FILTERED out, plus the true
    tail flagged ``is_true``.  See :func:`transe_rank_eval` for the
    protocol contract; the sorted-entity index is the hub-safe
    :func:`_entity_index`."""
    ents = (
        t3.select(F.col("subj").alias("id"))
        .unionByName(t3.select(F.col("obj").alias("id")))
        .distinct()
    )
    n = ents.count()
    eidx = _entity_index(ents, n)
    small = n <= _BCAST_MAX_ELEMS
    cand = (
        t3.select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_candidates - 1))
            ).alias("c"),
        )
        .withColumn(
            "idx",
            _md5_long(
                F.concat_ws(
                    _SEP, "subj", "pred", "obj", F.col("c").cast("string")
                )
            )
            % F.lit(n),
        )
        .join(_maybe_b(eidx, small), "idx")
        .select("subj", "pred", "obj", F.col("id").alias("cand"))
        .distinct()
        .where(F.col("cand") != F.col("obj"))
        # filtered protocol: a candidate that is a known-true tail
        # for (subj, pred) is removed, not counted as a negative
        .join(
            t3.select("subj", "pred", F.col("obj").alias("cand")),
            ["subj", "pred", "cand"],
            "left_anti",
        )
    )
    return cand.select(
        "subj", "pred", "obj", "cand", F.lit(False).alias("is_true")
    ).unionByName(
        t3.select(
            "subj", "pred", "obj",
            F.col("obj").alias("cand"),
            F.lit(True).alias("is_true"),
        )
    )


def _rank_output(scored: DataFrame, higher_is_better: bool) -> DataFrame:
    """(subj, pred, obj, n_cands, rank, rr, hit1, hit3, hit10) from a
    scored probe table (subj, pred, obj, cand, is_true, score): the
    true tail's rank among its candidates, ties broken by candidate
    id ascending against the true tail — total order, engine-exact
    because scores are decimal sums cast to double.  ``higher_is_
    better`` selects the model's score direction (translation energy:
    lower; bilinear score: higher)."""
    true_d = scored.where("is_true").select(
        "subj", "pred", "obj", F.col("score").alias("s_true")
    )
    better = (
        (F.col("score") > F.col("s_true"))
        if higher_is_better
        else (F.col("score") < F.col("s_true"))
    )
    beat = (
        scored.where(~F.col("is_true"))
        .join(true_d, ["subj", "pred", "obj"])
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_cands"),
            F.sum(
                F.when(
                    better
                    | (
                        (F.col("score") == F.col("s_true"))
                        & (F.col("cand") < F.col("obj"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_better"),
        )
    )
    # a triple whose every candidate was filtered still ranks (first
    # among one) — LEFT join from the true-tail side keeps its row
    rank = F.lit(1) + F.coalesce("n_better", F.lit(0))
    return (
        true_d.join(beat, ["subj", "pred", "obj"], "left")
        .select(
            "subj",
            "pred",
            "obj",
            F.coalesce("n_cands", F.lit(0)).cast("long").alias("n_cands"),
            rank.cast("long").alias("rank"),
            (F.lit(1.0) / rank.cast("double")).alias("rr"),
            (rank <= 1).alias("hit1"),
            (rank <= 3).alias("hit3"),
            (rank <= 10).alias("hit10"),
        )
    )


def _q9(c: Column) -> Column:
    """floor(x·10⁹ + 0.5)/10⁹ — the ENGINE-IDENTICAL 9dp quantizer.
    Every operation (multiply, add, floor, divide) is a single IEEE
    double op that any engine executes bit-identically, so two
    engines evaluating the same expression tree agree ALWAYS — by
    construction, not by measure.  ``round(double, 9)`` does not have
    that property: the JVM rounds HALF_UP on the double's shortest
    decimal repr while DuckDB rounds through binary multiply, and the
    two tie-break a value sitting at a 9dp midpoint differently
    (observed ~1/10⁴ weights in DistMult training; TransE predates
    the quantizer and stays on ``round`` only because its committed
    weights are tie-free at every tested scale).  Inputs are
    unit-scale (|x|·10⁹ ≪ 2⁵³), so the float grid never outruns the
    decimal grid."""
    return F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


# --------------------------------------------------------------------
# DistMult (single-channel, q9 grid)
# --------------------------------------------------------------------


def _dm_init_state(ids: DataFrame, kind: str, dim: int) -> DataFrame:
    """:func:`_init_state` on the :func:`_q9` grid (see there)."""
    return ids.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: _q9(
                _md5_long(
                    F.concat_ws(
                        _SEP, F.lit(kind), F.col("id"), i.cast("string")
                    )
                )
                / F.lit(4294967296.0)
                - F.lit(0.5)
            ),
        ).alias("xs"),
    )


def _dm_l2_normalize(state: DataFrame) -> DataFrame:
    """:func:`_l2_normalize` on the :func:`_q9` grid."""
    nrm = F.sqrt(_dec_arr_sum("xs", lambda x: _q9(x * x).cast(_DEC)))
    return state.withColumn("__nrm", nrm).select(
        "id",
        F.when(
            F.col("__nrm") > 0,
            F.transform("xs", lambda x: _q9(x / F.col("__nrm"))),
        )
        .otherwise(F.col("xs"))
        .alias("xs"),
    )


def _dm_apply_grads(
    state: DataFrame, gsum: DataFrame, lr: float, small: bool
) -> DataFrame:
    """:func:`_apply_grads` on the :func:`_q9` grid."""
    return state.join(_maybe_b(gsum, small), "id", "left").select(
        "id",
        F.when(F.col("g").isNull(), F.col("xs"))
        .otherwise(
            F.zip_with(
                "xs",
                "g",
                lambda x, g: _q9(x - F.lit(float(lr)) * g),
            )
        )
        .alias("xs"),
    )


def _dm_rows(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    margin: float,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """Per-triple factor arrays and bilinear scores under the current
    state — DistMult needs the factors themselves (its gradients are
    products of the OTHER two factors), so this keeps (h, r, t, tn)
    per row next to s_pos = Σᵢ q9(hᵢrᵢtᵢ), s_neg, and the violation
    flag."""
    rows = _attach1(tneg, e_state, r_state, small_e, small_r)
    tri = lambda t: F.zip_with(  # noqa: E731
        F.zip_with("h", "r", lambda a, b: a * b),
        t,
        lambda p, x: p * x,
    )
    # NOTE the association: q9(h*r*t) in the long form multiplies
    # (h*r) first only if the engine parenthesizes left-to-right —
    # h*r*t in both Spark and DuckDB parses as (h*r)*t, which is what
    # the zip_with chain reproduces
    return rows.select(
        "subj", "pred", "obj", "neg_obj", "h", "r", "t", "tn",
        _dec_arr_sum(tri("t"), lambda x: _q9(x).cast(_DEC)).alias(
            "s_pos"
        ),
        _dec_arr_sum(tri("tn"), lambda x: _q9(x).cast(_DEC)).alias(
            "s_neg"
        ),
    ).withColumn(
        "violated",
        (F.lit(float(margin)) - F.col("s_pos") + F.col("s_neg")) > 0,
    )


def _dm_train_states(
    triples: DataFrame, dim: int, iters: int, lr: float, margin: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared training core of :func:`distmult_train` /
    :func:`distmult_scores`: the :func:`_train_states` loop with the
    bilinear score s = Σᵢ hᵢrᵢtᵢ in place of translation energy.
    Everything else — md5 init/corruption, epoch-start entity
    normalization, q9 decimal mean-gradient accumulation — is
    byte-identical scaffolding, which is the point: one deterministic
    trainer recipe, many model families."""
    if dim < 1 or iters < 1:
        raise ValueError("distmult_train: dim and iters must be >= 1")
    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ents = (
        t.select(F.col("subj").alias("id"))
        .unionByName(t.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = t.select(F.col("pred").alias("id")).distinct()
    n_triples = t.count()
    n_ents = ents.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    small_r = small_e
    tneg = _negatives(t, ents, n_ents).localCheckpoint(eager=False)
    e_state = _dm_init_state(ents, "entity", dim)
    r_state = _dm_init_state(rels, "relation", dim)
    for _ in range(iters):
        e_state = _dm_l2_normalize(e_state)
        vc = (
            _dm_rows(tneg, e_state, r_state, margin, small_e, small_r)
            .where("violated")
            .select(
                "subj", "pred", "obj", "neg_obj", "h", "r", "t", "tn"
            )
            .localCheckpoint(eager=False)
        )
        # margin loss γ - s_pos + s_neg: each weight's subgradient is
        # the product of the OTHER factors, negative via s_pos and
        # positive via s_neg
        grads_e = (
            vc.select(
                F.col("subj").alias("id"),
                F.zip_with(
                    "r",
                    F.zip_with("tn", "t", lambda a, b: a - b),
                    lambda r, d: _q9(r * d),
                ).alias("g"),
            )
            .unionByName(
                vc.select(
                    F.col("obj").alias("id"),
                    F.zip_with(
                        "h", "r", lambda h, r: _q9(-h * r)
                    ).alias("g"),
                )
            )
            .unionByName(
                vc.select(
                    F.col("neg_obj").alias("id"),
                    F.zip_with(
                        "h", "r", lambda h, r: _q9(h * r)
                    ).alias("g"),
                )
            )
        )
        grads_r = vc.select(
            F.col("pred").alias("id"),
            F.zip_with(
                "h",
                F.zip_with("tn", "t", lambda a, b: a - b),
                lambda h, d: _q9(h * d),
            ).alias("g"),
        )
        gs_e, gs_r = _grad_sum_fused(grads_e, grads_r, dim, n_triples)
        e_state = _dm_apply_grads(
            e_state, gs_e, lr, small_e
        ).localCheckpoint(eager=False)
        r_state = _dm_apply_grads(
            r_state, gs_r, lr, small_r
        ).localCheckpoint(eager=False)
    return tneg, e_state, r_state


def distmult_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(id, kind, i, x): entity and relation embeddings after
    ``iters`` unrolled full-batch DistMult epochs (Yang et al., ICLR
    2015, "Embedding Entities and Relations for Learning and
    Inference in Knowledge Bases") — the bilinear-diagonal
    counterpart of :func:`transe_train` (trainable operator #5).
    DistMult scores a triple s(h, r, t) = Σᵢ hᵢrᵢtᵢ — multiplicative
    interactions capture SYMMETRIC relations TransE's translations
    cannot (s(h,r,t) = s(t,r,h) by construction), at the cost of
    anti-symmetric ones; the two models are complements, which is why
    both faces ship.

    Same determinism, scale shape, and cross-engine bit-exactness
    contract as TransE (module docstring): the DuckDB oracle twin
    replays the identical relational program on the long format.
    """
    _, e_state, r_state = _dm_train_states(triples, dim, iters, lr, margin)
    return _explode1(e_state).select(
        "id", F.lit("entity").alias("kind"), "i", "x"
    ).unionByName(
        _explode1(r_state).select(
            "id", F.lit("relation").alias("kind"), "i", "x"
        )
    )


def distmult_scores(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(subj, pred, obj, s_pos, s_neg, violated): per-triple bilinear
    scores under the TRAINED DistMult embeddings — s_pos the true
    triple's Σᵢhᵢrᵢtᵢ, s_neg its deterministic tail corruption's,
    ``violated`` whether the margin still fails to separate them
    (falls as iters grows — pinned by test).  Publishes unrounded
    doubles from exact decimal sums (the :func:`transe_energies`
    tie-avoidance rule).  Shares every stage with
    :func:`distmult_train`, so the faces cannot drift.
    """
    tneg, e_state, r_state = _dm_train_states(
        triples, dim, iters, lr, margin
    )
    n_ents = e_state.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    return _dm_rows(
        tneg, e_state, r_state, margin, small_e, small_e
    ).select("subj", "pred", "obj", "s_pos", "s_neg", "violated")


def distmult_rank_eval(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    n_candidates: int = 20,
    side: str = "tail",
) -> DataFrame:
    """(subj, pred, obj, n_cands, rank, rr, hit1, hit3, hit10):
    filtered-protocol link-prediction evaluation of the trained
    DistMult model — :func:`transe_rank_eval`'s contract verbatim
    (same md5 candidate sampling, same known-true-tail filtering,
    same tie rule) with the bilinear score s = Σᵢ hᵢrᵢeᵢ ranking
    candidates HIGHEST-first instead of lowest translation energy.
    Per-dimension products quantize on the :func:`_q9` grid and sum
    in exact decimal, so ranks are engine-exact.

    Scale: identical shape to the TransE eval — |test|·K rows through
    entity-keyed equi-joins carrying dim-arrays, no all-pairs
    structure; see :func:`transe_rank_eval` for the full-ranking
    alternative at 10⁹ entities.
    """
    if n_candidates < 1:
        raise ValueError("distmult_rank_eval: n_candidates must be >= 1")
    if side not in ("tail", "head"):
        raise ValueError("distmult_rank_eval: side must be tail|head")
    tneg, e_state, r_state = _dm_train_states(
        triples, dim, iters, lr, margin
    )
    t3 = tneg.select("subj", "pred", "obj")
    if side == "head":
        # the per-dimension product h*r*t is symmetric in (h, t), so
        # the head face needs ONLY the probe flip — the score
        # expression is role-blind
        t3 = _flip(t3)
    n_ents = e_state.count()
    small_e = n_ents * dim <= _BCAST_MAX_ELEMS
    probe = _rank_probe(t3, n_candidates)
    res = (
        probe.join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("subj"), F.col("xs").alias("h")
                ),
                small_e,
            ),
            "subj",
        )
        .join(
            _maybe_b(
                r_state.select(
                    F.col("id").alias("pred"), F.col("xs").alias("r")
                ),
                small_e,
            ),
            "pred",
        )
        .join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("cand"), F.col("xs").alias("e")
                ),
                small_e,
            ),
            "cand",
        )
    )
    tri = F.zip_with(
        F.zip_with("h", "r", lambda a, b: a * b),
        "e",
        lambda p, x: p * x,
    )
    scored = res.select(
        "subj", "pred", "obj", "cand", "is_true",
        _dec_arr_sum(tri, lambda x: _q9(x).cast(_DEC)).alias("score"),
    )
    # bilinear SCORE: higher is better
    out = _rank_output(scored, higher_is_better=True)
    return out if side == "tail" else _unflip_output(out)


# --------------------------------------------------------------------
# ComplEx (two-channel, q9 grid)
# --------------------------------------------------------------------


def _cx_init_state(ids: DataFrame, kind: str, dim: int) -> DataFrame:
    """(id, xr[dim], xi[dim]): two-channel md5-uniform init on the
    :func:`_q9` grid — the ``:re`` / ``:im`` salt suffixes keep the
    channels on independent hash streams (and distinct from the
    real-valued models' vectors for the same names)."""

    def _u(ch: str):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: _q9(
                _md5_long(
                    F.concat_ws(
                        _SEP,
                        F.lit(kind + ":" + ch),
                        F.col("id"),
                        i.cast("string"),
                    )
                )
                / F.lit(4294967296.0)
                - F.lit(0.5)
            ),
        )

    return ids.select("id", _u("re").alias("xr"), _u("im").alias("xi"))


def _cx_l2_normalize(state: DataFrame) -> DataFrame:
    """Unit-ball projection of the COMPLEX entity vectors: ‖x‖² sums
    both channels' q9 squares in exact decimal (the
    :func:`_l2_normalize` recipe, two channels per dimension) — a
    pure per-row projection over the row's own arrays."""
    terms = F.zip_with(
        "xr",
        "xi",
        lambda a, b: (
            _q9(a * a).cast(_DEC) + _q9(b * b).cast(_DEC)
        ).cast(_DEC),
    )
    nrm = F.sqrt(_dec_arr_sum(terms, lambda x: x))
    ok = F.col("__nrm") > 0
    return state.withColumn("__nrm", nrm).select(
        "id",
        F.when(
            ok, F.transform("xr", lambda x: _q9(x / F.col("__nrm")))
        )
        .otherwise(F.col("xr"))
        .alias("xr"),
        F.when(
            ok, F.transform("xi", lambda x: _q9(x / F.col("__nrm")))
        )
        .otherwise(F.col("xi"))
        .alias("xi"),
    )


def _cx_grad_sum(
    grads: DataFrame, dim: int, n_triples: int
) -> DataFrame:
    """(id, gr[dim], gi[dim]) from per-contribution rows — the
    two-channel :func:`_grad_sum`: per-(id, i, channel) votes fold in
    exact decimal, mean by the triple count."""
    sums = [
        F.sum(F.element_at("gr", k + 1).cast(_DEC)).alias(f"__r{k}")
        for k in range(dim)
    ] + [
        F.sum(F.element_at("gi", k + 1).cast(_DEC)).alias(f"__i{k}")
        for k in range(dim)
    ]
    nt = F.lit(float(n_triples))
    return grads.groupBy("id").agg(*sums).select(
        "id",
        F.array(
            *[F.col(f"__r{k}").cast("double") / nt for k in range(dim)]
        ).alias("gr"),
        F.array(
            *[F.col(f"__i{k}").cast("double") / nt for k in range(dim)]
        ).alias("gi"),
    )


def _cx_grad_sum_fused(
    grads_e: DataFrame, grads_r: DataFrame, dim: int, n_triples: int
) -> tuple[DataFrame, DataFrame]:
    """Two-channel :func:`_grad_sum_fused`: entity and relation
    contribution rows aggregate per (kind, id) through ONE shuffle
    and split back by the tag — bit-identical to two separate
    :func:`_cx_grad_sum` calls for the same reasons (tag-disjoint
    groups, order-free decimal folds), one exchange per epoch instead
    of two.  Lazily checkpointed against tag-filter pushdown."""
    tagged = grads_e.select(
        F.lit("e").alias("kk"), "id", "gr", "gi"
    ).unionByName(
        grads_r.select(F.lit("r").alias("kk"), "id", "gr", "gi")
    )
    sums = [
        F.sum(F.element_at("gr", k + 1).cast(_DEC)).alias(f"__r{k}")
        for k in range(dim)
    ] + [
        F.sum(F.element_at("gi", k + 1).cast(_DEC)).alias(f"__i{k}")
        for k in range(dim)
    ]
    nt = F.lit(float(n_triples))
    fused = (
        tagged.groupBy("kk", "id")
        .agg(*sums)
        .select(
            "kk",
            "id",
            F.array(
                *[
                    F.col(f"__r{k}").cast("double") / nt
                    for k in range(dim)
                ]
            ).alias("gr"),
            F.array(
                *[
                    F.col(f"__i{k}").cast("double") / nt
                    for k in range(dim)
                ]
            ).alias("gi"),
        )
        .localCheckpoint(eager=False)
    )
    return (
        fused.where(F.col("kk") == "e").drop("kk"),
        fused.where(F.col("kk") == "r").drop("kk"),
    )


def _cx_apply_grads(
    state: DataFrame, gsum: DataFrame, lr: float, small: bool
) -> DataFrame:
    """:func:`_apply_grads` per channel: q9 update; ids with no
    gradient keep their weights."""
    lrv = F.lit(float(lr))
    return state.join(_maybe_b(gsum, small), "id", "left").select(
        "id",
        F.when(F.col("gr").isNull(), F.col("xr"))
        .otherwise(
            F.zip_with("xr", "gr", lambda x, g: _q9(x - lrv * g))
        )
        .alias("xr"),
        F.when(F.col("gi").isNull(), F.col("xi"))
        .otherwise(
            F.zip_with("xi", "gi", lambda x, g: _q9(x - lrv * g))
        )
        .alias("xi"),
    )


def _attach2(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """tneg + the 8 channel arrays (ar, ai | br, bi | cr, ci | dr,
    di) for head, relation, true tail, corrupted tail — the
    two-channel :func:`_attach1`; the neutral letter names keep the
    8-factor algebra readable and collision-free in both engines."""

    def _sel(key: str, a: str, b: str) -> DataFrame:
        return e_state.select(
            F.col("id").alias(key),
            F.col("xr").alias(a),
            F.col("xi").alias(b),
        )

    return (
        tneg.join(_maybe_b(_sel("subj", "ar", "ai"), small_e), "subj")
        .join(
            _maybe_b(
                r_state.select(
                    F.col("id").alias("pred"),
                    F.col("xr").alias("br"),
                    F.col("xi").alias("bi"),
                ),
                small_r,
            ),
            "pred",
        )
        .join(_maybe_b(_sel("obj", "cr", "ci"), small_e), "obj")
        .join(
            _maybe_b(_sel("neg_obj", "dr", "di"), small_e), "neg_obj"
        )
    )


_CX_Z = ["ar", "ai", "br", "bi", "cr", "ci", "dr", "di"]


def _cx_zip() -> Column:
    """One array of 8-field structs over the channel arrays — the
    row-local stand-in for the former per-(triple, i) core rows."""
    return F.arrays_zip(*[F.col(c) for c in _CX_Z])


def _cx_dim_score(s: Column, tr: Column, ti: Column) -> Column:
    """Per-dimension Re(h·r·conj(t)) against a tail (tr, ti) — ONE
    fixed expression tree of IEEE double ops, written identically in
    the DuckDB twin so the q9 quantization is engine-exact."""
    return _q9(
        s["ar"] * s["br"] * tr
        + s["ai"] * s["br"] * ti
        + s["ar"] * s["bi"] * ti
        - s["ai"] * s["bi"] * tr
    )


def _cx_rows(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    margin: float,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """Per-triple ComplEx scores s = Σᵢ Re(hᵢrᵢ·conj(tᵢ)) (true and
    corrupted tail) and the margin-violation flag — the
    :func:`_dm_rows` recipe with the 4-product real part as the
    per-dimension term; the channel arrays stay on the row for the
    gradient projections."""
    rows = _attach2(tneg, e_state, r_state, small_e, small_r).select(
        "subj", "pred", "obj", "neg_obj", *_CX_Z, _cx_zip().alias("z")
    )
    return rows.select(
        "*",
        _dec_arr_sum(
            F.transform(
                "z", lambda s: _cx_dim_score(s, s["cr"], s["ci"])
            ),
            lambda x: x.cast(_DEC),
        ).alias("s_pos"),
        _dec_arr_sum(
            F.transform(
                "z", lambda s: _cx_dim_score(s, s["dr"], s["di"])
            ),
            lambda x: x.cast(_DEC),
        ).alias("s_neg"),
    ).withColumn(
        "violated",
        (F.lit(float(margin)) - F.col("s_pos") + F.col("s_neg")) > 0,
    )


def _cx_train_states(
    triples: DataFrame, dim: int, iters: int, lr: float, margin: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared training core of the ComplEx faces: the
    :func:`_dm_train_states` loop with the complex bilinear score
    Re(Σᵢ hᵢrᵢ·conj(tᵢ)) — the real part of a Hermitian product, so
    one relation can be symmetric (imaginary part 0) AND another
    anti-symmetric (real part 0), which neither TransE nor DistMult
    can express simultaneously.  State is two-channel array format
    (id, xr[dim], xi[dim]); everything else — md5 init/corruption,
    epoch-start entity normalization, q9 decimal mean-gradient
    accumulation — is the shared deterministic-trainer scaffolding.
    """
    if dim < 1 or iters < 1:
        raise ValueError("complex_train: dim and iters must be >= 1")
    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ents = (
        t.select(F.col("subj").alias("id"))
        .unionByName(t.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = t.select(F.col("pred").alias("id")).distinct()
    n_triples = t.count()
    n_ents = ents.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    small_r = small_e
    tneg = _negatives(t, ents, n_ents).localCheckpoint(eager=False)
    e_state = _cx_init_state(ents, "entity", dim)
    r_state = _cx_init_state(rels, "relation", dim)
    # margin-loss subgradients: d(s)/d(factor) is the Wirtinger-style
    # product of the OTHER factors; the loss γ - s_pos + s_neg gives
    # each entity the (neg - pos) difference, the true tail -pos
    # only, the corrupted tail +neg only
    for _ in range(iters):
        e_state = _cx_l2_normalize(e_state)
        vc = (
            _cx_rows(tneg, e_state, r_state, margin, small_e, small_r)
            .where("violated")
            .select("subj", "pred", "obj", "neg_obj", "z")
            .localCheckpoint(eager=False)
        )

        def _g(fr, fi):
            return (
                F.transform("z", fr).alias("gr"),
                F.transform("z", fi).alias("gi"),
            )

        ddr = lambda s: s["dr"] - s["cr"]  # noqa: E731
        ddi = lambda s: s["di"] - s["ci"]  # noqa: E731
        grads_e = (
            vc.select(
                F.col("subj").alias("id"),
                *_g(
                    lambda s: _q9(
                        s["br"] * ddr(s) + s["bi"] * ddi(s)
                    ),
                    lambda s: _q9(
                        s["br"] * ddi(s) - s["bi"] * ddr(s)
                    ),
                ),
            )
            .unionByName(
                vc.select(
                    F.col("obj").alias("id"),
                    *_g(
                        lambda s: _q9(
                            s["ai"] * s["bi"] - s["ar"] * s["br"]
                        ),
                        lambda s: _q9(
                            -(
                                s["ai"] * s["br"]
                                + s["ar"] * s["bi"]
                            )
                        ),
                    ),
                )
            )
            .unionByName(
                vc.select(
                    F.col("neg_obj").alias("id"),
                    *_g(
                        lambda s: _q9(
                            s["ar"] * s["br"] - s["ai"] * s["bi"]
                        ),
                        lambda s: _q9(
                            s["ai"] * s["br"] + s["ar"] * s["bi"]
                        ),
                    ),
                )
            )
        )
        grads_r = vc.select(
            F.col("pred").alias("id"),
            *_g(
                lambda s: _q9(s["ar"] * ddr(s) + s["ai"] * ddi(s)),
                lambda s: _q9(s["ar"] * ddi(s) - s["ai"] * ddr(s)),
            ),
        )
        gs_e, gs_r = _cx_grad_sum_fused(grads_e, grads_r, dim, n_triples)
        e_state = _cx_apply_grads(
            e_state, gs_e, lr, small_e
        ).localCheckpoint(eager=False)
        r_state = _cx_apply_grads(
            r_state, gs_r, lr, small_r
        ).localCheckpoint(eager=False)
    return tneg, e_state, r_state


def _explode2(state: DataFrame) -> DataFrame:
    """(id, xr[dim], xi[dim]) → the published long format
    (id, i, xr, xi)."""
    z = F.arrays_zip(F.col("xr"), F.col("xi"))
    return state.select(
        "id", F.posexplode(z).alias("i", "s")
    ).select(
        "id", "i",
        F.col("s.xr").alias("xr"), F.col("s.xi").alias("xi"),
    )


def complex_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(id, kind, i, xr, xi): complex entity and relation embeddings
    after ``iters`` unrolled full-batch ComplEx epochs (Trouillon et
    al., ICML 2016, "Complex Embeddings for Simple Link Prediction")
    — trainable operator #6, completing the KGE family: TransE's
    translations model anti-symmetric relations, DistMult's diagonal
    bilinear form only symmetric ones; ComplEx's Hermitian product
    Re(Σᵢ hᵢrᵢ·conj(tᵢ)) expresses both (and relation inverses via
    conjugation).  Same determinism, scale shape (entity-keyed
    equi-joins carrying both channels on the SAME rows), and
    cross-engine bit-exactness contract as the other trainers: the
    DuckDB twin replays the identical relational program on the q9
    grid.
    """
    _, e_state, r_state = _cx_train_states(triples, dim, iters, lr, margin)
    return _explode2(e_state).select(
        "id", F.lit("entity").alias("kind"), "i", "xr", "xi"
    ).unionByName(
        _explode2(r_state).select(
            "id", F.lit("relation").alias("kind"), "i", "xr", "xi"
        )
    )


def complex_scores(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(subj, pred, obj, s_pos, s_neg, violated): per-triple ComplEx
    scores under the TRAINED embeddings — the :func:`distmult_scores`
    face for the complex model (unrounded doubles from exact decimal
    sums; Σ violated falls as iters grows, pinned by test).  Shares
    every stage with :func:`complex_train`, so the faces cannot
    drift."""
    tneg, e_state, r_state = _cx_train_states(
        triples, dim, iters, lr, margin
    )
    n_ents = e_state.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    return _cx_rows(
        tneg, e_state, r_state, margin, small_e, small_e
    ).select("subj", "pred", "obj", "s_pos", "s_neg", "violated")


def _cx_rank_res(
    probe: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    small_e: bool,
) -> DataFrame:
    """probe + head (ar, ai), relation (br, bi), candidate (cr, ci)
    channel arrays — the shared join half of the two-channel eval
    faces."""
    return (
        probe.join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("subj"),
                    F.col("xr").alias("ar"),
                    F.col("xi").alias("ai"),
                ),
                small_e,
            ),
            "subj",
        )
        .join(
            _maybe_b(
                r_state.select(
                    F.col("id").alias("pred"),
                    F.col("xr").alias("br"),
                    F.col("xi").alias("bi"),
                ),
                small_e,
            ),
            "pred",
        )
        .join(
            _maybe_b(
                e_state.select(
                    F.col("id").alias("cand"),
                    F.col("xr").alias("cr"),
                    F.col("xi").alias("ci"),
                ),
                small_e,
            ),
            "cand",
        )
    )


_CX_EVAL_Z = ["ar", "ai", "br", "bi", "cr", "ci"]


def complex_rank_eval(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    n_candidates: int = 20,
    side: str = "tail",
) -> DataFrame:
    """(subj, pred, obj, n_cands, rank, rr, hit1, hit3, hit10):
    filtered-protocol link-prediction evaluation of the trained
    ComplEx model — :func:`transe_rank_eval`'s contract verbatim via
    the shared :func:`_rank_probe` / :func:`_rank_output`
    scaffolding, candidates ranked by Re(h·r·conj(e)) HIGHEST-first.
    Same |test|·K-row scale shape as the other evals."""
    if n_candidates < 1:
        raise ValueError("complex_rank_eval: n_candidates must be >= 1")
    if side not in ("tail", "head"):
        raise ValueError("complex_rank_eval: side must be tail|head")
    tneg, e_state, r_state = _cx_train_states(
        triples, dim, iters, lr, margin
    )
    t3 = tneg.select("subj", "pred", "obj")
    if side == "head":
        t3 = _flip(t3)
    n_ents = e_state.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    probe = _rank_probe(t3, n_candidates)
    res = _cx_rank_res(probe, e_state, r_state, small_e)
    z = F.arrays_zip(*[F.col(c) for c in _CX_EVAL_Z])
    # tail side: Re((a)·r·conj(cand)); head side (flipped probe):
    # Re(cand·r·conj(a)) — conjugation makes the Hermitian product
    # role-SENSITIVE, unlike DistMult's
    term = (
        (lambda s: _cx_dim_score(s, s["cr"], s["ci"]))
        if side == "tail"
        else (
            lambda s: _q9(
                s["cr"] * s["br"] * s["ar"]
                + s["ci"] * s["br"] * s["ai"]
                + s["cr"] * s["bi"] * s["ai"]
                - s["ci"] * s["bi"] * s["ar"]
            )
        )
    )
    scored = res.select(
        "subj", "pred", "obj", "cand", "is_true",
        _dec_arr_sum(
            F.transform(z, term), lambda x: x.cast(_DEC)
        ).alias("score"),
    )
    # Hermitian-product SCORE: higher is better
    out = _rank_output(scored, higher_is_better=True)
    return out if side == "tail" else _unflip_output(out)


# --------------------------------------------------------------------
# RotatE (two-channel, q9 grid)
# --------------------------------------------------------------------


def _rt_rel_normalize(state: DataFrame) -> DataFrame:
    """Project every relation onto unit modulus PER DIMENSION — the
    RotatE constraint |r_i| = 1 that makes each relation coordinate a
    pure rotation in its complex plane.  Unlike the entity unit-BALL
    projection (one norm per vector), this is per-coordinate:
    m = sqrt(q9(xr²) + q9(xi²)) is a fixed IEEE tree (multiply → q9 →
    add → sqrt, each op correctly rounded), so the DuckDB twin
    writing the identical expression agrees bitwise — no decimal
    accumulation needed for a two-term sum."""
    z = F.arrays_zip(F.col("xr"), F.col("xi"))

    def _m(s):
        return F.sqrt(
            _q9(s["xr"] * s["xr"]) + _q9(s["xi"] * s["xi"])
        )

    return state.select(
        "id",
        F.transform(
            z,
            lambda s: F.when(_m(s) > 0, _q9(s["xr"] / _m(s)))
            .otherwise(s["xr"]),
        ).alias("xr"),
        F.transform(
            z,
            lambda s: F.when(_m(s) > 0, _q9(s["xi"] / _m(s)))
            .otherwise(s["xi"]),
        ).alias("xi"),
    )


def _rt_dim_energy(s: Column, tr: Column, ti: Column) -> Column:
    """Per-dimension squared modulus |h_i·r_i − t_i|² against a tail
    (tr, ti): the rotated head (ar·br − ai·bi, ar·bi + ai·br) minus
    the tail, squared and summed across channels — ONE fixed IEEE
    expression tree, written character-identically in the DuckDB twin
    so the q9 quantization is engine-exact."""
    pr = s["ar"] * s["br"] - s["ai"] * s["bi"] - tr
    pi = s["ar"] * s["bi"] + s["ai"] * s["br"] - ti
    return _q9(pr * pr + pi * pi)


def _rt_rows(
    tneg: DataFrame,
    e_state: DataFrame,
    r_state: DataFrame,
    margin: float,
    small_e: bool,
    small_r: bool,
) -> DataFrame:
    """Per-triple RotatE energies d = Σᵢ |hᵢrᵢ − tᵢ|² (true and
    corrupted tail) and the margin-violation flag — the
    :func:`_epoch_rows` recipe (energy: LOWER is better) over the
    two-channel core."""
    rows = _attach2(tneg, e_state, r_state, small_e, small_r).select(
        "subj", "pred", "obj", "neg_obj", _cx_zip().alias("z")
    )
    return rows.select(
        "*",
        _dec_arr_sum(
            F.transform(
                "z", lambda s: _rt_dim_energy(s, s["cr"], s["ci"])
            ),
            lambda x: x.cast(_DEC),
        ).alias("d_pos"),
        _dec_arr_sum(
            F.transform(
                "z", lambda s: _rt_dim_energy(s, s["dr"], s["di"])
            ),
            lambda x: x.cast(_DEC),
        ).alias("d_neg"),
    ).withColumn(
        "violated",
        (F.lit(float(margin)) + F.col("d_pos") - F.col("d_neg")) > 0,
    )


def _rt_train_states(
    triples: DataFrame, dim: int, iters: int, lr: float, margin: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared training core of the RotatE faces: the
    :func:`_cx_train_states` loop with the rotation energy
    d = Σᵢ |hᵢ∘rᵢ − tᵢ|² (element-wise complex multiply, squared-L2
    margin loss like TransE) and the per-dimension unit-modulus
    relation projection at epoch start (next to the entity unit-ball
    projection).  Because a unit-modulus multiply is an isometry,
    RotatE models COMPOSITION (r₃ = r₁∘r₂), anti-symmetry, and
    inversion (conjugate rotation) — the expressiveness argument of
    Sun et al., ICLR 2019.  All gradients are polynomial in the
    components (the residual algebra below), so the q9 bit-exact
    cross-engine contract holds with no transcendental anywhere:
    the rotation is PARAMETRIZED by its cartesian components under
    projection, not by a phase angle, precisely so that no cos/sin
    (whose rounding differs across engines) ever enters the loop."""
    if dim < 1 or iters < 1:
        raise ValueError("rotate_train: dim and iters must be >= 1")
    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ents = (
        t.select(F.col("subj").alias("id"))
        .unionByName(t.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = t.select(F.col("pred").alias("id")).distinct()
    n_triples = t.count()
    n_ents = ents.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    small_r = small_e
    tneg = _negatives(t, ents, n_ents).localCheckpoint(eager=False)
    e_state = _cx_init_state(ents, "entity", dim)
    r_state = _cx_init_state(rels, "relation", dim)
    # margin-energy subgradients: with p = h∘r − t (true tail) and
    # q = h∘r − t' (corrupted), ∂d/∂h and ∂d/∂r go through the
    # rotation product, and p − q = t' − t (the rotated head cancels)
    # — so head/relation gradients need only the tail difference,
    # the ComplEx ddr/ddi trick for the distance model
    ddr = lambda s: s["dr"] - s["cr"]  # noqa: E731
    ddi = lambda s: s["di"] - s["ci"]  # noqa: E731
    pr = lambda s: s["ar"] * s["br"] - s["ai"] * s["bi"]  # noqa: E731
    pi = lambda s: s["ar"] * s["bi"] + s["ai"] * s["br"]  # noqa: E731
    for _ in range(iters):
        e_state = _cx_l2_normalize(e_state)
        r_state = _rt_rel_normalize(r_state)
        vc = (
            _rt_rows(tneg, e_state, r_state, margin, small_e, small_r)
            .where("violated")
            .select("subj", "pred", "obj", "neg_obj", "z")
            .localCheckpoint(eager=False)
        )

        def _g(fr, fi):
            return (
                F.transform("z", fr).alias("gr"),
                F.transform("z", fi).alias("gi"),
            )

        grads_e = (
            vc.select(
                F.col("subj").alias("id"),
                # ∂(d_pos − d_neg)/∂a = 2·conj(r)·(p − q) = 2·conj(r)
                # ·(t' − t), expanded to cartesian components
                *_g(
                    lambda s: _q9(
                        F.lit(2.0)
                        * (s["br"] * ddr(s) + s["bi"] * ddi(s))
                    ),
                    lambda s: _q9(
                        F.lit(2.0)
                        * (s["br"] * ddi(s) - s["bi"] * ddr(s))
                    ),
                ),
            )
            .unionByName(
                vc.select(
                    F.col("obj").alias("id"),
                    *_g(
                        lambda s: _q9(
                            F.lit(-2.0) * (pr(s) - s["cr"])
                        ),
                        lambda s: _q9(
                            F.lit(-2.0) * (pi(s) - s["ci"])
                        ),
                    ),
                )
            )
            .unionByName(
                vc.select(
                    F.col("neg_obj").alias("id"),
                    *_g(
                        lambda s: _q9(
                            F.lit(2.0) * (pr(s) - s["dr"])
                        ),
                        lambda s: _q9(
                            F.lit(2.0) * (pi(s) - s["di"])
                        ),
                    ),
                )
            )
        )
        grads_r = vc.select(
            F.col("pred").alias("id"),
            # ∂/∂r = 2·conj(h)·(t' − t)
            *_g(
                lambda s: _q9(
                    F.lit(2.0)
                    * (s["ar"] * ddr(s) + s["ai"] * ddi(s))
                ),
                lambda s: _q9(
                    F.lit(2.0)
                    * (s["ar"] * ddi(s) - s["ai"] * ddr(s))
                ),
            ),
        )
        gs_e, gs_r = _cx_grad_sum_fused(grads_e, grads_r, dim, n_triples)
        e_state = _cx_apply_grads(
            e_state, gs_e, lr, small_e
        ).localCheckpoint(eager=False)
        r_state = _cx_apply_grads(
            r_state, gs_r, lr, small_r
        ).localCheckpoint(eager=False)
    return tneg, e_state, r_state


def rotate_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(id, kind, i, xr, xi): complex entity and per-dimension-
    rotation relation embeddings after ``iters`` unrolled full-batch
    RotatE epochs (Sun et al., ICLR 2019, "RotatE: Knowledge Graph
    Embedding by Relational Rotation in Complex Space") — trainable
    operator #8, the fourth KGE model: TransE translates, DistMult
    scales symmetrically, ComplEx scores a Hermitian product, RotatE
    ROTATES — the one family member that models relation COMPOSITION
    exactly (rotations compose by complex multiply).  Same
    determinism, long-format two-channel published face, and
    cross-engine bit-exactness contract as the other trainers; the
    rotation is cartesian-parametrized under unit-modulus projection
    so no transcendental (cos/sin) ever enters the loop (see
    :func:`_rt_train_states`).
    """
    _, e_state, r_state = _rt_train_states(triples, dim, iters, lr, margin)
    return _explode2(e_state).select(
        "id", F.lit("entity").alias("kind"), "i", "xr", "xi"
    ).unionByName(
        _explode2(r_state).select(
            "id", F.lit("relation").alias("kind"), "i", "xr", "xi"
        )
    )


def rotate_energies(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
) -> DataFrame:
    """(subj, pred, obj, d_pos, d_neg, violated): per-triple RotatE
    rotation energies under the TRAINED embeddings — the
    :func:`transe_energies` face for the rotation model (unrounded
    doubles from exact decimal sums; Σ violated falls as iters grows,
    pinned by test).  Shares every stage with :func:`rotate_train`,
    so the faces cannot drift."""
    tneg, e_state, r_state = _rt_train_states(
        triples, dim, iters, lr, margin
    )
    n_ents = e_state.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    return _rt_rows(
        tneg, e_state, r_state, margin, small_e, small_e
    ).select("subj", "pred", "obj", "d_pos", "d_neg", "violated")


def rotate_rank_eval(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    n_candidates: int = 20,
    side: str = "tail",
) -> DataFrame:
    """(subj, pred, obj, n_cands, rank, rr, hit1, hit3, hit10):
    filtered-protocol link-prediction evaluation of the trained
    RotatE model — :func:`transe_rank_eval`'s contract verbatim via
    the shared :func:`_rank_probe` / :func:`_rank_output`
    scaffolding, candidates ranked by rotation energy LOWEST-first.
    Head side scores |cand∘r − t|² (the candidate occupies the head
    slot of the rotation).  Same |test|·K-row scale shape as the
    other evals."""
    if n_candidates < 1:
        raise ValueError("rotate_rank_eval: n_candidates must be >= 1")
    if side not in ("tail", "head"):
        raise ValueError("rotate_rank_eval: side must be tail|head")
    tneg, e_state, r_state = _rt_train_states(
        triples, dim, iters, lr, margin
    )
    t3 = tneg.select("subj", "pred", "obj")
    if side == "head":
        t3 = _flip(t3)
    n_ents = e_state.count()
    small_e = n_ents * dim * 2 <= _BCAST_MAX_ELEMS
    probe = _rank_probe(t3, n_candidates)
    res = _cx_rank_res(probe, e_state, r_state, small_e)
    z = F.arrays_zip(*[F.col(c) for c in _CX_EVAL_Z])
    # tail side: |a∘r − cand|²; head side (flipped probe):
    # |cand∘r − a|² — the candidate occupies the head slot
    term = (
        (lambda s: _rt_dim_energy(s, s["cr"], s["ci"]))
        if side == "tail"
        else (
            lambda s: _q9(
                (
                    s["cr"] * s["br"]
                    - s["ci"] * s["bi"]
                    - s["ar"]
                )
                * (
                    s["cr"] * s["br"]
                    - s["ci"] * s["bi"]
                    - s["ar"]
                )
                + (
                    s["cr"] * s["bi"]
                    + s["ci"] * s["br"]
                    - s["ai"]
                )
                * (
                    s["cr"] * s["bi"]
                    + s["ci"] * s["br"]
                    - s["ai"]
                )
            )
        )
    )
    scored = res.select(
        "subj", "pred", "obj", "cand", "is_true",
        _dec_arr_sum(
            F.transform(z, term), lambda x: x.cast(_DEC)
        ).alias("score"),
    )
    # rotation ENERGY: lower is better
    out = _rank_output(scored, higher_is_better=False)
    return out if side == "tail" else _unflip_output(out)


def kge_entity_neighbors(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    k: int = 5,
    model: str = "transe",
) -> DataFrame:
    """(id, neighbor, sim, rank): exact cosine top-k neighbours of
    every entity in TRAINED embedding space — the alias/canonicalize
    face of the KGE family (the route the module docstring promises
    ``kg.alias_candidates`` consumers): two entities the KG treats
    alike land close in embedding space even when their SURFACES
    share nothing, so these pairs complement the edit-distance and
    attribute-Jaccard alias routes as canonicalization candidate
    edges.  ``model`` picks the trainer (transe | distmult | complex
    | rotate); two-channel models embed as the 2·dim-real vector
    (standard complex-to-real flattening, cosine-preserving for the
    Hermitian inner product's real part).

    Determinism: per-term products quantize to the q9 grid and sum
    in exact decimal (order-free), norms/division are fixed IEEE
    trees, the published sim is floor-quantized at 1e-6, ties break
    by neighbor id — the family's cross-engine bit-exact contract.

    Scale: this is the EXACT face — every ordered entity pair is
    scored, deliberately scoped to vocabulary-sized entity sets (the
    ``embedding_norm_stats`` scoping rule).  The pair table is built
    by an id-inequality join carrying the dim-ARRAY per row (the
    trainers' array-packed state), with the smaller-than-
    ``_BCAST_MAX_ELEMS`` side broadcast — |E|² rows of 2 arrays, not
    the former |E|²·dim long rows funneled through a join keyed on
    the dim index (whose ≤ dim distinct key values serialized the
    whole pair fan-out onto ≤ dim tasks).  Per-pair dots fold
    ``_q9`` products in exact decimal (``_dec_arr_sum``) — the same
    order-free sum the long-format ``groupBy('id','neighbor')``
    computed, so every dot, norm, sim, and rank is bit-identical.
    At 10⁹ entities, route through ``ops.similarity`` (IVF /
    LSH-bucketed ANN) instead; this face is the recall-1.0 oracle
    those paths are measured against.
    """
    if k < 1:
        raise ValueError("kge_entity_neighbors: k must be >= 1")
    if model in ("transe", "distmult"):
        trainer = _train_states if model == "transe" else _dm_train_states
        _, e_state, _ = trainer(triples, dim, iters, lr, margin)
        vecs = e_state.select("id", "xs")
        n_elems_per_row = dim
    elif model in ("complex", "rotate"):
        trainer = (
            _cx_train_states if model == "complex" else _rt_train_states
        )
        _, e_state, _ = trainer(triples, dim, iters, lr, margin)
        # standard complex-to-real flattening: [re..., im...] — the
        # same (i, i+dim) layout the long format published, so the
        # per-pair product multiset (hence the decimal sum) is
        # unchanged
        vecs = e_state.select("id", F.concat("xr", "xi").alias("xs"))
        n_elems_per_row = 2 * dim
    else:
        raise ValueError(
            "kge_entity_neighbors: model must be "
            "transe|distmult|complex|rotate"
        )
    # per-ROW norm (sqrt of the order-free decimal sum — identical to
    # the former per-id groupBy over long rows), attached before the
    # pair join so no post-join norm lookups are needed
    vecs = vecs.select(
        "id",
        "xs",
        F.sqrt(
            _dec_arr_sum("xs", lambda x: _q9(x * x).cast(_DEC))
        ).alias("nrm"),
    ).localCheckpoint(eager=False)
    # driver-side broadcast branch, the trainers' convention: the
    # lazily-checkpointed state hides stats from Catalyst, so AQE
    # cannot make this call itself
    n_entities = vecs.count()
    small = n_entities * n_elems_per_row <= _BCAST_MAX_ELEMS
    if not small:
        _log.warning(
            "kge_entity_neighbors: %d entities x %d elements exceed the "
            "broadcast limit of %d; scoring all pairs by a cartesian "
            "product", n_entities, n_elems_per_row, _BCAST_MAX_ELEMS,
        )
    b_side = vecs.select(
        F.col("id").alias("neighbor"),
        F.col("xs").alias("xb"),
        F.col("nrm").alias("nrm_b"),
    )
    # spread the stream side before the pair fan-out: the checkpointed
    # state arrives in a handful of partitions, and the |E|² per-pair
    # array folds are the CPU of this face — the gazetteer span-scan
    # rule (scale-adaptive; a no-op when the state is already wide)
    dots = (
        spread_to_slots(vecs).join(
            _maybe_b(b_side, small),
            F.col("id") != F.col("neighbor"),
        )
        .select(
            "id",
            "neighbor",
            "nrm",
            "nrm_b",
            _dec_arr_sum(
                F.zip_with(
                    "xs", "xb", lambda x, y: _q9(x * y).cast(_DEC)
                ),
                lambda v: v,
            ).alias("dot"),
        )
    )
    sim = (
        F.floor(
            F.try_divide(
                F.col("dot"), F.col("nrm") * F.col("nrm_b")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    scored = dots.select(
        "id", "neighbor", sim.alias("sim")
    ).where(F.col("sim").isNotNull())
    w = Window.partitionBy("id").orderBy(
        F.desc("sim"), F.asc("neighbor")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("rank") <= k)
        .select("id", "neighbor", "sim", "rank")
    )


def kge_model_compare(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 5.0,
    margin: float = 1.0,
    n_candidates: int = 20,
) -> DataFrame:
    """(model, n_test, mrr, hits1, hits3, hits10): the model-selection
    face of the KGE family — train all four models (TransE, DistMult,
    ComplEx, RotatE) on the same triples under the same
    hyper-parameters and aggregate their filtered link-prediction
    evals into one table.  The evals share :func:`_rank_probe`
    (identical candidate sets), so differences are MODEL differences,
    not sampling noise.

    Cross-engine exactness: Hits@k are integer sums over exact ranks;
    MRR sums reciprocal ranks on the engine-identical 1e-12 floor
    grid in exact decimal before the final double division, so the
    averages hash-match however partitions reduce.

    Scale: 4× one training run (each |T| rows/epoch through
    entity-keyed equi-joins carrying dim-arrays); the evals add
    |test|·K rows each.  The four models are independent jobs and are
    BUILT from a 4-thread driver pool (guide-§2.6 job overlap):
    nearly all of this face's wall time is the trainers' driver-side
    actions (broadcast-branch counts, lazy-checkpoint
    materializations of ~30 sequential tiny stages per model), which
    a sequential loop serializes while 30+ cores idle; four driver
    threads overlap the four latency-bound chains, and FIFO
    scheduling back-fills executors exactly as the guide describes.
    Values are untouched — each branch is a pure function of
    (triples, hyper-parameters) sharing only read-only plan objects,
    and concurrent first-materialization of a shared lazily-
    checkpointed upstream block is idempotent in the block manager
    (worst case duplicate compute of a tiny base, never divergence).
    """
    evals = [
        ("transe", transe_rank_eval),
        ("distmult", distmult_rank_eval),
        ("complex", complex_rank_eval),
        ("rotate", rotate_rank_eval),
    ]

    def _build(pair) -> DataFrame:
        name, fn = pair
        return fn(
            triples,
            dim=dim,
            iters=iters,
            lr=lr,
            margin=margin,
            n_candidates=n_candidates,
        ).select(F.lit(name).alias("model"), "rank", "hit1", "hit3", "hit10")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(evals)) as pool:
        built = list(pool.map(_build, evals))
    out = built[0]
    for e in built[1:]:
        out = out.unionByName(e)
    # rr on the 1e-12 floor grid (engine-exact), decimal sum (order-
    # independent), final division in double
    rr12 = F.floor(
        (F.lit(1.0) / F.col("rank").cast("double")) * F.lit(1e12)
        + F.lit(0.5)
    ) / F.lit(1e12)
    n = F.count(F.lit(1))
    return out.groupBy("model").agg(
        n.cast("long").alias("n_test"),
        (
            F.sum(rr12.cast(_DEC)).cast("double") / n.cast("double")
        ).alias("mrr"),
        (
            F.sum(F.col("hit1").cast("long")).cast("double")
            / n.cast("double")
        ).alias("hits1"),
        (
            F.sum(F.col("hit3").cast("long")).cast("double")
            / n.cast("double")
        ).alias("hits3"),
        (
            F.sum(F.col("hit10").cast("long")).cast("double")
            / n.cast("double")
        ).alias("hits10"),
    )
