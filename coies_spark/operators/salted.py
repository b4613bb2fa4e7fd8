"""Skew-handling primitives: salted two-phase aggregation and the
hot-key report.

Hot entities (one company mentioned in a large fraction of
conversations — the synth corpus's ``hot_mention`` knob) make the join
and agg keys head-heavy at 10^12-turn scale.  AQE's skew-join split
handles the join case at runtime; these helpers make the mitigation
explicit and deterministic where we want it regardless of runtime
statistics (north_rule: "salted aggregation for head-heavy
predicates").  Joins need no salting here: linking broadcasts its
dictionary, so the hot mention side never shuffles.

Correctness property (tested): salted results == unsalted results.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _salt_col(
    df: DataFrame,
    buckets: int,
    salt_on: str | Sequence[str] | None = None,
) -> Column:
    # Salt derived from row content — genuinely deterministic: the
    # same row hashes to the same bucket on any recomputation.
    # monotonically_increasing_id/rand would scatter better but are
    # recompute-nondeterministic, and a nondeterministic shuffle key is
    # the SPARK-23207 correctness hazard (a retried map task re-salts
    # rows that surviving reducers already fetched → lost/duplicated
    # rows).
    #
    # ``salt_on`` names the stable discriminator column(s) to hash —
    # pass a persisted row id / timestamp when the fact table carries
    # one, so byte-identical business columns can't collapse the
    # spread (and the hash touches 1 column instead of all of them).
    # Default (None) hashes the FULL row: rows identical in EVERY
    # column then share a bucket — for counts those collapse in the
    # map-side partial combine anyway, but a hot key whose rows are
    # exact duplicates regains a single-task straggler (see
    # salted_count docstring).
    if salt_on is None:
        cols = [F.col(c) for c in df.columns]
    elif isinstance(salt_on, str):
        cols = [F.col(salt_on)]
    else:
        cols = [F.col(c) for c in salt_on]
    return F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    buckets: int = 16,
    salt_on: str | Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase count for head-heavy keys: partial count per
    (keys, salt), then final sum per keys.  Equivalent to
    ``df.groupBy(*keys).count()`` (Spark's hash agg already does
    partial map-side combine; the explicit salt additionally bounds
    the reduce-side width of any single hot key).

    ``salt_on``: stable discriminator column(s) for the salt hash (e.g.
    a persisted row id).  Without it the salt hashes the FULL row, so
    rows byte-identical in every column land in the SAME bucket — a hot
    key whose rows are exact duplicates regains a single-task
    straggler.  If no discriminating column exists at all, persist a
    stable row id first and pass it here; do NOT salt on a
    nondeterministic id (the SPARK-23207 hazard in ``_salt_col``)."""
    partial = (
        df.withColumn("__salt", _salt_col(df, buckets, salt_on))
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("__partial").cast("long").alias("count"))
    )


def skew_report(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """(rank, key, cnt, share, skew): the hot-key diagnostic that
    DECIDES whether a join/agg on ``key_cols`` needs the salted path —
    the top-``top_k`` keys by row count, each with its share of all
    rows and ``skew`` = cnt / mean-rows-per-key (a uniform key
    distribution reports skew ≈ 1; the north rule's head-heavy
    predicates and hot entities report 10–10⁴ here first).

    ``key`` is the concatenated string form of ``key_cols`` (NULLs
    rendered as the literal ``∅`` so a NULL-heavy key — the classic
    accidental hot key — is visible as its own line).

    Scale: one map-side-combinable groupBy over the keys, then the
    per-key count table reduces to ONE summary row (count + total) and
    a distributed TakeOrdered for the top-k — the full key table is
    never sorted and never collected.  Rows/share/skew are exact, not
    sampled, so the report is stable run-to-run and safe to assert on
    in pipeline health checks.
    """
    if not key_cols:
        raise ValueError("skew_report: key_cols must be non-empty")
    if top_k < 1:
        raise ValueError("skew_report: top_k must be >= 1")
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅"))
               for c in key_cols]
    )
    counts = df.groupBy(key.alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), "key").limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), "key")
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            # cnt and n_keys are both up to corpus-sized: go to double
            # BEFORE the multiply or the int64 product overflows at
            # 10¹² rows × 10⁹ keys
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys")
                / F.col("total"),
                6,
            ).alias("skew"),
        )
    )
