"""The array-packed pair scorer inside `kge_entity_neighbors` (per-pair
`zip_with` + exact-decimal fold over the trainers' (id, xs) state)
must be bit-identical to the long-format program it replaced: explode
the SAME trained state to (id, i, x) rows, groupBy-sum `_q9` products
per (id, neighbor) through a dimension-keyed join, per-id norm
groupBy, and the 1e-6 floor-quantized sim — the DuckDB oracle's
formulation.  Decimal addition is order-free and exact, so the fold
and the shuffle-reduce must agree exactly, channel-flattening
included."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from coies_spark.ops.kge import (
    _DEC,
    _explode1,
    _explode2,
    _q9,
    _rt_train_states,
    _train_states,
    kge_entity_neighbors,
)

TRIPLES = [
    ("a", "r1", "b"),
    ("b", "r1", "c"),
    ("c", "r2", "d"),
    ("d", "r2", "a"),
    ("a", "r2", "c"),
    ("e", "r1", "a"),
    ("e", "r2", "b"),
    ("d", "r1", "e"),
]
CFG = dict(dim=4, iters=2, lr=5.0, margin=1.0)


def _long_format_reference(rows, k):
    """The pre-optimization formulation, verbatim: dim-keyed pair
    join over (id, i, x) rows, decimal sums, floor-1e-6 sim, per-id
    rank window."""
    rows = rows.localCheckpoint(eager=False)
    nrm = rows.groupBy("id").agg(
        F.sqrt(
            F.sum(_q9(F.col("x") * F.col("x")).cast(_DEC)).cast("double")
        ).alias("nrm")
    )
    a = rows.select("id", "i", F.col("x").alias("xa"))
    b = rows.select(
        F.col("id").alias("neighbor"), "i", F.col("x").alias("xb")
    )
    dots = (
        a.join(b, "i")
        .where(F.col("id") != F.col("neighbor"))
        .groupBy("id", "neighbor")
        .agg(
            F.sum(_q9(F.col("xa") * F.col("xb")).cast(_DEC))
            .cast("double")
            .alias("dot")
        )
    )
    sim = (
        F.floor(
            F.try_divide(F.col("dot"), F.col("nrm") * F.col("nrm_b"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    scored = (
        dots.join(nrm, "id")
        .join(
            nrm.select(
                F.col("id").alias("neighbor"), F.col("nrm").alias("nrm_b")
            ),
            "neighbor",
        )
        .select("id", "neighbor", sim.alias("sim"))
        .where(F.col("sim").isNotNull())
    )
    w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("id", "neighbor", "sim", "rank")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestNeighborsPairParity:
    def test_one_channel_matches_long_format(self, spark):
        t = spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])
        got = kge_entity_neighbors(t, k=3, model="transe", **CFG)
        _, e_state, _ = _train_states(t, **CFG)
        ref = _long_format_reference(
            _explode1(e_state).select("id", "i", "x"), k=3
        )
        assert _rows(got) == _rows(ref)

    def test_two_channel_matches_long_format(self, spark):
        t = spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])
        got = kge_entity_neighbors(t, k=3, model="rotate", **CFG)
        _, e_state, _ = _rt_train_states(t, **CFG)
        e_long = _explode2(e_state)
        dim = CFG["dim"]
        rows = e_long.select(
            "id", "i", F.col("xr").alias("x")
        ).unionByName(
            e_long.select(
                "id",
                (F.col("i") + F.lit(dim)).alias("i"),
                F.col("xi").alias("x"),
            )
        )
        ref = _long_format_reference(rows, k=3)
        assert _rows(got) == _rows(ref)


def test_cartesian_fallback_logs_a_warning(spark, monkeypatch, caplog):
    """An entity set over the broadcast limit takes the all-pairs
    cartesian branch and says so in the log."""
    import logging

    from coies_spark.ops import kge

    t = spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])
    monkeypatch.setattr(kge, "_BCAST_MAX_ELEMS", 0)
    with caplog.at_level(logging.WARNING, logger=kge.__name__):
        kge_entity_neighbors(t, k=3, model="transe", **CFG)
    assert any("cartesian" in r.getMessage() for r in caplog.records)
