"""Deterministic sampling operators for corpus balancing.

A pretraining pipeline resamples sources/languages to target mixture
rates.  ``sample(...)`` here is hash-Bernoulli: a row is kept iff the
first 8 hex chars of ``md5(id)`` fall below a threshold derived from
the requested fraction.  Fixed-length lowercase-hex strings compare
lexicographically exactly like their numeric values, so the predicate
is a plain string comparison that every engine (Spark, DuckDB, any
SQL) evaluates identically — the sample is REPRODUCIBLE across
engines, runs, and cluster sizes, and a row's fate never depends on
partitioning (unlike ``DataFrame.sample``).

Scale: both operators are pure projections/filters — zero shuffle,
whole-stage codegen, embarrassingly parallel; the per-stratum rate
table compiles into a literal CASE chain (strata counts are small:
languages, sources), so no join is introduced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_HEX_WIDTH = 8
_HEX_SPACE = 16**_HEX_WIDTH


def _hash_key(id_col: str) -> Column:
    return F.substring(
        F.md5(F.encode(F.col(id_col).cast("string"), "utf-8")),
        1,
        _HEX_WIDTH,
    )


def threshold_hex(fraction: float) -> str | None:
    """The 8-hex-char keep threshold for ``fraction``; ``None`` means
    keep-all (fraction ≥ 1).  Shared with the DuckDB oracle builder."""
    if fraction >= 1.0:
        return None
    f = max(fraction, 0.0)
    return format(int(f * _HEX_SPACE), "08x")


def deterministic_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by the row id's md5 prefix.

    Deterministic and engine-portable: the same ids survive on any
    run, any partitioning, any SQL engine — which also means samples
    at different fractions are NESTED (the 10% sample is a subset of
    the 20% sample), the property incremental corpus rebuilds rely on.
    """
    thr = threshold_hex(fraction)
    if thr is None:
        return df
    return df.where(_hash_key(id_col) < F.lit(thr))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    key: str = "lang",
    id_col: str = "doc_id",
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ~``fractions[key]`` of
    each stratum (language/source mixture reweighting).  Strata absent
    from ``fractions`` keep ``default`` (0 → dropped).

    The rate table compiles to a literal CASE chain on ``key`` — no
    join, no shuffle; rows stream through the filter map-side.
    """
    hk = _hash_key(id_col)
    dthr = threshold_hex(default)
    pred: Column = F.lit(True) if dthr is None else hk < F.lit(dthr)
    for stratum in sorted(fractions):
        thr = threshold_hex(fractions[stratum])
        keep = F.lit(True) if thr is None else hk < F.lit(thr)
        pred = F.when(F.col(key) == stratum, keep).otherwise(pred)
    return df.where(pred)


def stratified_topk_sample(
    df: DataFrame,
    k: int,
    key: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep exactly ``min(k, |stratum|)`` rows per stratum: the ``k``
    smallest md5 hash keys.  A deterministic, engine-portable
    fixed-SIZE sample (vs the fixed-RATE ``stratified_sample``) — the
    standard way to cut per-language/per-source eval and calibration
    sets whose size must not drift with corpus growth.  Because the
    hash order is stable, growing a stratum only ever REPLACES members
    (k stays exact); ties are impossible for distinct ids.

    One shuffle (the per-stratum rank window).  Strata counts are
    assumed modest (languages/sources); row_number within a stratum is
    the same two-stage-shardable shape as language_id's profile build
    if a stratum ever becomes task-sized.
    """
    w = Window.partitionBy(key).orderBy(_hash_key(id_col), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    n_tokens_col: str = "n_tokens",
    strata_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents, in deterministic hash order, until each stratum
    has accumulated ``budget_tokens`` tokens — the mixture-building
    move of a pretraining run ("2B tokens of code, 1B of French, …")
    as one declarative pass.

    * order inside a stratum = (md5-prefix of id, id): the same
      reproducible shuffle ``deterministic_sample`` keys on, so the
      selected set is independent of partitioning and engine — and
      budgets are NESTED: the 1B-token sample is a prefix of the
      2B-token sample.
    * keep rule: a doc survives iff the tokens accumulated BEFORE it
      (``cum_before``) are still under budget — so the budget is
      always reached (the crossing doc is kept), never silently
      undershot by a doc-sized gap.

    Output adds ``cum_before`` to the kept rows for auditability.

    Scale: one exchange on the stratum key, then an in-partition
    ordered prefix-sum window.  Strata are languages/sources —
    low-cardinality — so at 100 TB a hot stratum serializes its
    window into one task.  The production mitigation is a two-phase
    pass: estimate Σtokens per stratum (one agg), hash-threshold
    prefilter to ~1.2× budget with ``deterministic_sample``'s
    predicate (zero shuffle, and SOUND: the hash-prefix order means
    the true prefix set is inside any threshold superset), then run
    this exact window over the small survivor set.  The one-phase
    form here IS the second phase; the prefilter composes in front
    unchanged.
    """
    strata = F.col(strata_col) if strata_col else F.lit("_all")
    w = (
        Window.partitionBy(strata)
        .orderBy(_hash_key(id_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(n_tokens_col).cast("long")).over(w), F.lit(0)
    ).cast("long")
    return docs.withColumn("cum_before", cum_before).where(
        F.col("cum_before") < budget_tokens
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep exactly ``min(k, |stratum|)`` rows per stratum, drawn
    WITHOUT replacement with probability proportional to
    ``weight_col`` — Efraimidis & Spirakis's weighted reservoir
    scheme (IPL 2006): each row gets key ``u^(1/w)`` for a uniform
    ``u``, and the top-``k`` keys ARE a weight-proportional sample.
    The curation move this exists for: "keep 1M documents per
    language, preferring high quality-score docs" — a hard cut at a
    score threshold overfits the scorer; weighted sampling keeps the
    tail represented in proportion.

    Determinism: ``u = (h + 0.5) / 16⁸`` from the row id's md5
    prefix — the same engine-portable hash-randomness as
    ``deterministic_sample``, so the selected set is reproducible
    across runs, partitionings, and engines.  The rank key is the
    monotone-equivalent ``ln(u)/w`` (largest = best; avoids the
    underflow of ``u^(1/w)`` at tiny weights), ROUNDED 9dp so the
    one float expression agrees cross-engine, with the id as an
    exact tie-break.  Rows with NULL or non-positive weight are
    dropped (they have probability 0 by definition).

    Scale: per-stratum top-k via TWO windows — first over
    (stratum, salt) with ``salt_buckets`` md5-derived salt buckets
    (each task ranks ~|stratum|/salt_buckets rows and keeps ≤ k),
    then over the stratum on the ≤ ``salt_buckets·k`` survivors —
    the distributed-TakeOrdered shape, so a hot stratum (one
    language = half the corpus) never serializes into a single
    task's sort.
    """
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    if salt_buckets < 1:
        raise ValueError("weighted_sample: salt_buckets must be >= 1")
    strata = F.col(strata_col) if strata_col else F.lit("_all")
    h = F.conv(_hash_key(id_col), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(_HEX_SPACE))
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u) / w, 9)
    salt = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.encode(F.col(id_col).cast("string"), "utf-8")),
                9,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(salt_buckets),
    )
    out = df.where(w.isNotNull() & (w > 0)).withColumn("__key", key)
    w1 = Window.partitionBy(strata, salt).orderBy(
        F.col("__key").desc(), F.col(id_col)
    )
    w2 = Window.partitionBy(strata).orderBy(
        F.col("__key").desc(), F.col(id_col)
    )
    return (
        out.withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .withColumn("__rn2", F.row_number().over(w2))
        .where(F.col("__rn2") <= k)
        .drop("__rn", "__rn2", "__key")
    )


def mixture_rates(
    docs: DataFrame,
    targets: dict[str, float],
    budget_tokens: int,
    strata_col: str = "lang",
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """(stratum, available_tokens, target_share, want_tokens, rate,
    feasible): the mixture PLANNING table — given the corpus's actual
    per-stratum token inventory, a target mixture ("50% en, 30% code,
    …") and a total token budget, the keep-rate each stratum needs.
    This is the step every pretraining run does on a whiteboard
    before calling :func:`stratified_sample`; as a table it composes:
    ``dict(rates.collect())``-free pipelines feed the rate column
    straight into downstream CASE-chain filters, and ``feasible``
    flags strata whose inventory cannot cover their share (the
    signal to re-normalize or upsample).

    * want_tokens = budget · share (double, round 6 is NOT applied —
      it stays an exact product of the int budget and the literal
      share so the rate division below is the only float);
    * rate = least(1.0, want / available), round 6; an absent or
      zero-inventory stratum gets rate 0 (nothing to keep);
    * strata not named in ``targets`` get share 0 — they are being
      mixed OUT, explicitly visible as a 0-rate row.

    One map-side-combinable groupBy over the corpus; the output is
    strata-sized (languages/sources), trivially broadcastable.
    """
    if budget_tokens < 1:
        raise ValueError("mixture_rates: budget_tokens must be >= 1")
    share: Column = F.lit(0.0)
    for stratum in sorted(targets):
        share = F.when(
            F.col("stratum") == stratum, F.lit(float(targets[stratum]))
        ).otherwise(share)
    inv = (
        docs.groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.sum(F.col(n_tokens_col).cast("long"))
            .cast("long")
            .alias("available_tokens")
        )
    )
    want = F.lit(budget_tokens) * share
    rate = F.when(
        (F.col("available_tokens") > 0) & (share > 0),
        F.least(F.lit(1.0), want / F.col("available_tokens")),
    ).otherwise(F.lit(0.0))
    return inv.select(
        "stratum",
        "available_tokens",
        share.alias("target_share"),
        want.alias("want_tokens"),
        F.round(rate, 6).alias("rate"),
        (F.col("available_tokens") >= want).alias("feasible"),
    )


def epoch_plan(
    docs: DataFrame,
    targets: dict[str, float],
    budget_tokens: int,
    max_epochs: float = 4.0,
    strata_col: str = "lang",
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """(stratum, available_tokens, target_share, want_tokens, epochs,
    n_passes, effective_tokens, deficit_tokens): the multi-EPOCH
    mixture plan — :func:`mixture_rates` answers "what fraction do I
    keep when I have too much data"; this answers the opposite
    regime, "how many times do I REPEAT a stratum when I have too
    little" (the data-constrained setting of Muennighoff et al.,
    "Scaling Data-Constrained Language Models", NeurIPS 2023: repeats
    help up to ~4 epochs, then returns decay to ~zero — hence the
    ``max_epochs`` cap, after which the remaining want is an honest
    ``deficit_tokens``, the signal to re-normalize the mixture or
    source more data).

    * epochs = want / available, capped at ``max_epochs``, round 6;
      0 for absent shares or empty inventories;
    * n_passes = ceil(epochs) — the number of full-dataset reads the
      training loop actually schedules (the last pass partial via a
      :func:`deterministic_sample` at rate epochs - floor(epochs),
      which is what makes the plan executable, not just descriptive);
    * effective_tokens = round(available · epochs) — what the budget
      line actually receives; deficit_tokens = want - effective
      (0 when uncapped, up to rounding).

    Same shape/scale story as :func:`mixture_rates`: one map-side-
    combinable groupBy, strata-sized output, broadcastable into any
    downstream scheduling join.
    """
    if budget_tokens < 1:
        raise ValueError("epoch_plan: budget_tokens must be >= 1")
    if max_epochs <= 0:
        raise ValueError("epoch_plan: max_epochs must be > 0")
    share: Column = F.lit(0.0)
    for stratum in sorted(targets):
        share = F.when(
            F.col("stratum") == stratum, F.lit(float(targets[stratum]))
        ).otherwise(share)
    inv = (
        docs.groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.sum(F.col(n_tokens_col).cast("long"))
            .cast("long")
            .alias("available_tokens")
        )
    )
    # a TARGET stratum entirely absent from the corpus must still
    # emit its row (available 0, epochs 0, the full want as deficit)
    # — that row IS the "source more data" signal; a groupBy alone
    # would silently drop it
    wanted = docs.sparkSession.createDataFrame(
        [(s,) for s in sorted(targets)], ["stratum"]
    )
    inv = (
        inv.join(wanted, "stratum", "full")
        .select(
            "stratum",
            F.coalesce(F.col("available_tokens"), F.lit(0))
            .cast("long")
            .alias("available_tokens"),
        )
    )
    want = F.lit(budget_tokens) * share
    raw_epochs = F.when(
        (F.col("available_tokens") > 0) & (share > 0),
        F.least(F.lit(float(max_epochs)), want / F.col("available_tokens")),
    ).otherwise(F.lit(0.0))
    eff = F.col("available_tokens") * F.col("epochs")
    return (
        inv.select(
            "stratum",
            "available_tokens",
            share.alias("target_share"),
            want.alias("want_tokens"),
            F.round(raw_epochs, 6).alias("epochs"),
        )
        .select(
            "*",
            F.ceil("epochs").cast("long").alias("n_passes"),
            F.round(eff, 0).cast("long").alias("effective_tokens"),
        )
        .withColumn(
            "deficit_tokens",
            F.greatest(
                F.lit(0.0),
                F.round(F.col("want_tokens") - eff, 0),
            ).cast("long"),
        )
    )


def leakage_free_split(
    docs: DataFrame,
    dup_pairs: DataFrame,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, group_key, split): train/test assignment where every
    near-duplicate CLUSTER lands on one side — the leakage-free
    split.  A hash split on raw doc ids sends near-identical twins
    to both sides, and the eval set silently measures memorization
    of the training copy (the contamination failure mode INSIDE one
    corpus); splitting on the duplicate-cluster id closes it.

    ``dup_pairs`` is any near-dup pair frame (doc_a, doc_b) — LSH
    candidates, verified Jaccard pairs, containment pairs.  Clusters
    come from connected components (min-id label); unpaired docs are
    their own singleton group.  The split key is the GROUP id under
    the same md5 hash-Bernoulli rule as ``deterministic_sample``, so
    assignment is engine-portable, partitioning-independent, and
    NESTED across fractions — growing the test share only MOVES
    whole groups from train to test, never splits one.

    Scale: the CC of the near-dup graph plus one left join and a
    zero-shuffle hash filter.  The CC's gathering pass holds one
    entry per distinct paired doc id in a single Python worker, so
    the paired id set must fit one worker's memory.
    """
    if not 0.0 < test_fraction < 1.0:
        raise ValueError(
            "leakage_free_split: test_fraction must be in (0, 1)"
        )
    from ..operators.graph import connected_components

    edges = dup_pairs.select(
        F.col("doc_a").cast("string").alias("src"),
        F.col("doc_b").cast("string").alias("dst"),
    )
    cc = connected_components(edges)
    key = F.coalesce(
        F.col("component"), F.col(id_col).cast("string")
    )
    thr = threshold_hex(test_fraction)
    hk = F.substring(F.md5(F.encode(key, "utf-8")), 1, _HEX_WIDTH)
    return (
        docs.select(F.col(id_col))
        .join(
            cc.withColumnRenamed("node", "__node"),
            F.col(id_col).cast("string") == F.col("__node"),
            "left",
        )
        .select(
            id_col,
            key.alias("group_key"),
            F.when(hk < F.lit(thr), F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def temperature_rates(
    df: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "lang",
    weight_col: str | None = None,
) -> DataFrame:
    """(stratum, n, p, q, boost): exponent-smoothed mixture rates —
    the multilingual sampling rule of mBERT/XLM-R (Conneau et al.,
    ACL'20 §3: q_i ∝ p_i^α with α≈0.3): raising small strata and
    damping head strata so low-resource languages are seen more than
    their corpus share without destroying the head.

    ``p`` is the stratum's observed share (row count, or
    ``weight_col`` sum — e.g. tokens — when given), ``q`` the
    smoothed target share, ``boost`` = q/p the per-stratum
    resampling factor to feed :func:`stratified_sample` /
    :func:`mixture_rates` (boost > 1 → upsample via epochs, < 1 →
    a keep rate).  α=1 is proportional (boost≡1), α=0 uniform.
    All shares rounded 9dp after double-precision ``pow`` — the
    engine-portable convention.

    Scale: one map-side-combinable groupBy to stratum rows (strata
    are languages/sources — tiny), then a 1-row total broadcast
    cross-join; zero corpus-sized shuffles.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("temperature_rates: alpha must be in [0, 1]")
    w = (
        F.count(F.lit(1)).cast("double")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("double"))
    )
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        w.alias("n")
    )
    tot = per.agg(F.sum("n").alias("__t"))
    # __pa rounded 9dp BEFORE the sum and the sum lifted to decimal:
    # Σ pow() in raw doubles would depend on addition order (strata
    # arrive in engine-specific order), the 1-ulp drift the repo's
    # decimal convention exists to kill
    pq = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p", F.round(F.col("n") / F.col("__t"), 9))
        .withColumn(
            "__pa",
            F.round(F.pow(F.col("p"), F.lit(float(alpha))), 9),
        )
    )
    tot_a = pq.agg(
        F.sum(F.col("__pa").cast("decimal(28,12)"))
        .cast("double")
        .alias("__ta")
    )
    return (
        pq.crossJoin(F.broadcast(tot_a))
        .select(
            "stratum",
            F.col("n").cast("long").alias("n"),
            "p",
            F.round(F.col("__pa") / F.col("__ta"), 9).alias("q"),
            F.round(
                F.try_divide(
                    F.round(F.col("__pa") / F.col("__ta"), 9),
                    F.col("p"),
                ),
                9,
            ).alias("boost"),
        )
    )
