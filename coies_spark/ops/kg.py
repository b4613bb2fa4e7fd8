"""Knowledge-graph analytics over evidence and triple tables.

The extraction pipeline (``pipeline.extract`` → ``pipeline.triples``)
materializes (subj, pred, obj) triples; this module adds the KG-side
operators a transcript corpus needs AFTER extraction — the evidence →
belief layer of the north rule's "graph materialize" stage:

* :func:`mention_evidence` — dictionary-match evidence rows over the
  transcript table (the SQL-expressible contains-join complement of
  the Arrow-kernel context detector in ``pipeline.extract``);
* :func:`temporal_triples` — SCD-2 validity intervals: for each
  (subj, pred) the history of ``obj`` values over evidence time,
  with ``valid_from``/``valid_to`` and a current-version flag;
* :func:`triple_confidence` — noisy-OR evidence combination: n
  independent detections with scores s_i yield
  confidence 1 - Π(1 - s_i);
* :func:`khop_reachability` — min-hop distance ≤ k between entities
  via unrolled frontier expansion over a directed edge table;
* :func:`entity_degrees` — per-entity in/out degree and predicate
  diversity, the KG monitoring gauge (hot-entity skew shows up here
  first — the salted-join/AQE trigger of the north rule).

Scale shapes (10¹²-turn corpus):

* evidence matching broadcasts the dictionary and evaluates a
  codegen'd ``instr`` per (turn, surface) — O(|dict|) comparisons per
  turn, all JVM-side.  That is the right plan to ~10⁴ surfaces; past
  that, switch to the Arrow-kernel detector (``detect_mentions``)
  whose per-batch Aho-Corasick-style scan amortizes the dictionary.
* temporal/confidence aggregation shuffles once on (subj, pred) /
  (subj, pred, obj) — map-side combinable for the counts, a single
  window pass for the intervals.  Head-heavy predicates spread
  because the key includes subj.
* k-hop expansion shuffles on the join key each round (k-1 joins
  total, k is small and fixed); every round is ``distinct``-bounded
  so a dense hub cannot re-emit the same pair twice.  Edge tables
  from :func:`coies_spark.operators.graph.cooccurrence_edges` are
  canonical (a < b), hence acyclic — the expansion terminates and the
  DuckDB recursive-CTE oracle is safe from cycle blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokens_col
from ..operators.spread import spread_to_slots


def mention_evidence(
    transcripts: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """(conv_id, turn_idx, pred, obj, ts, score): one evidence row per
    (turn, dictionary surface) whose lowercased turn text contains the
    surface.

    ``dictionary`` is a small (surface, pred) table — surfaces are
    matched with ``instr`` on the lowercased text, so the join is a
    broadcast nested loop whose predicate stays inside whole-stage
    codegen (no Python).  ``score`` is a deterministic position decay
    ``round(1 / (2 + turn_idx), 6)`` — earlier turns carry more
    weight, and the value stays strictly inside (0, 0.5] so the
    noisy-OR combiner never hits log(0).
    """
    return (
        transcripts.join(
            F.broadcast(dictionary),
            F.instr(F.lower(F.col("text")), F.col("surface")) > 0,
        )
        .select(
            "conv_id",
            "turn_idx",
            "pred",
            F.col("surface").alias("obj"),
            "ts",
            F.round(F.lit(1.0) / (F.col("turn_idx") + 2), 6).alias("score"),
        )
    )


def resolve_pronouns(
    transcripts: DataFrame,
    dictionary: DataFrame,
    pronouns: tuple[str, ...] = ("it", "they", "this", "that"),
) -> DataFrame:
    """(conv_id, turn_idx, pos, pronoun, entity, entity_turn,
    entity_pos, distance): recency-based pronoun resolution — each
    pronoun token resolves to the nearest PRECEDING single-token
    entity mention in the same conversation (the classic last-mention
    coreference baseline), NULL entity when nothing precedes.

    ``dictionary`` is a small (surface, entity) table of single-token
    entity surfaces (broadcast); an ambiguous surface (two entities)
    is pinned to its lexicographically-smallest entity so resolution
    stays deterministic.  Token positions come from one
    ``posexplode`` of the reference tokenizer's stream, so "preceding"
    is exact (turn_idx, then token position) — per-turn text order is
    the north rule's stable-turn-ordering invariant.

    The resolver is ONE window pass: entity mentions and pronoun
    occurrences ride the same (conv_id)-partitioned
    (turn_idx, pos)-ordered frame, and
    ``last(struct, ignorenulls=True)`` carries the latest mention
    forward — no self-join, no per-pronoun scan, one exchange on
    conv_id (satisfied by the bucketed transcript layout).
    ``distance`` = turns between pronoun and antecedent, the triage
    gauge for resolution confidence.
    """
    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(tokens_col("text")).alias("pos", "tok"),
    )
    # one entity per surface, pinned deterministically (min entity):
    # an ambiguous dictionary would otherwise duplicate mention rows
    # at the same (turn_idx, pos) and the carry-forward would pick an
    # engine-dependent duplicate.  coalesce(1) first: the dictionary
    # is schema-sized and about to broadcast anyway, and a single
    # partition satisfies the aggregation's clustering — so the dedup
    # costs ZERO exchanges and the resolver keeps its single-shuffle
    # plan (tests/test_plans.py pins it)
    dictionary = dictionary.coalesce(1).groupBy("surface").agg(
        F.min("entity").alias("entity")
    )
    tagged = (
        toks.join(F.broadcast(dictionary), toks.tok == dictionary.surface,
                  "left")
        .withColumn("is_pron", F.col("tok").isin(list(pronouns)))
        .where(F.col("entity").isNotNull() | F.col("is_pron"))
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = tagged.withColumn(
        "last_mention",
        F.last(
            F.when(
                F.col("entity").isNotNull(),
                F.struct("turn_idx", "pos", "entity"),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return carried.where(F.col("is_pron")).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("pos").cast("long").alias("pos"),
        F.col("tok").alias("pronoun"),
        F.col("last_mention.entity").alias("entity"),
        F.col("last_mention.turn_idx").cast("long").alias("entity_turn"),
        F.col("last_mention.pos").cast("long").alias("entity_pos"),
        (F.col("turn_idx") - F.col("last_mention.turn_idx"))
        .cast("long")
        .alias("distance"),
    )


def resolve_nominals(
    transcripts: DataFrame,
    dictionary: DataFrame,
    types: DataFrame,
    determiners: tuple[str, ...] = ("the", "that", "this"),
) -> DataFrame:
    """(conv_id, turn_idx, pos, type_word, entity, entity_turn,
    entity_pos, distance): definite-NP (nominal) coreference — the
    second classic anaphora class next to :func:`resolve_pronouns`:
    "the table" refers to the most recently mentioned entity OF TYPE
    table.  A token is an anaphor when it (a) follows a determiner
    within the same turn, (b) equals a TYPE name (lowercased, from
    the ``types`` (entity, entity_type) table — the
    :func:`entity_types` / :func:`induce_signatures` output shape),
    and (c) is NOT itself a dictionary surface (a direct mention
    outranks an anaphoric reading).  It resolves to the nearest
    preceding same-conversation mention of an entity carrying that
    type; NULL when none precedes.

    One carry-forward window per (conv_id, type): mention rows fan
    out one row per type they carry (multi-typed entities serve
    anaphors of all their types), anaphor rows join the frame under
    their type word, and ``last(struct, ignorenulls)`` over the
    (turn_idx, pos)-ordered frame resolves every anaphor in one
    pass — the :func:`resolve_pronouns` plan with the partition key
    widened to (conv_id, type), plus one within-turn lag window for
    the determiner test.  Dictionary and type tables are
    broadcast-scale by contract (the gazetteer rule).
    """
    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(tokens_col("text")).alias("pos", "tok"),
    )
    dictionary = dictionary.coalesce(1).groupBy("surface").agg(
        F.min("entity").alias("entity")
    )
    types_l = (
        types.select(
            F.lower(F.col("entity_type")).alias("type_word"), "entity"
        )
        .distinct()
        .coalesce(1)
    )
    type_names = types_l.select("type_word").distinct()
    mentions = (
        toks.join(
            F.broadcast(dictionary),
            toks.tok == dictionary.surface,
        )
        .join(F.broadcast(types_l), "entity")
        .select(
            "conv_id",
            "turn_idx",
            "pos",
            F.col("type_word").alias("__ty"),
            "entity",
        )
    )
    wlag = Window.partitionBy("conv_id", "turn_idx").orderBy("pos")
    anaphors = (
        toks.withColumn("prev", F.lag("tok").over(wlag))
        .join(
            F.broadcast(dictionary),
            F.col("tok") == dictionary.surface,
            "left_anti",
        )
        .join(
            F.broadcast(type_names),
            F.col("tok") == type_names.type_word,
        )
        .where(F.col("prev").isin(list(determiners)))
        .select(
            "conv_id",
            "turn_idx",
            "pos",
            F.col("type_word").alias("__ty"),
            F.lit(None).cast("string").alias("entity"),
        )
    )
    frame = mentions.withColumn(
        "is_anaph", F.lit(False)
    ).unionByName(anaphors.withColumn("is_anaph", F.lit(True)))
    w = (
        Window.partitionBy("conv_id", "__ty")
        .orderBy("turn_idx", "pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = frame.withColumn(
        "last_mention",
        F.last(
            F.when(
                F.col("entity").isNotNull(),
                F.struct("turn_idx", "pos", "entity"),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return carried.where(F.col("is_anaph")).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("pos").cast("long").alias("pos"),
        F.col("__ty").alias("type_word"),
        F.col("last_mention.entity").alias("entity"),
        F.col("last_mention.turn_idx").cast("long").alias("entity_turn"),
        F.col("last_mention.pos").cast("long").alias("entity_pos"),
        (F.col("turn_idx") - F.col("last_mention.turn_idx"))
        .cast("long")
        .alias("distance"),
    )


def coref_mentions(
    transcripts: DataFrame,
    dictionary: DataFrame,
    types: DataFrame,
    pronouns: tuple[str, ...] = ("it", "they", "this", "that"),
    determiners: tuple[str, ...] = ("the", "that", "this"),
) -> DataFrame:
    """(conv_id, turn_idx, pos, entity, source, score): the UNIFIED
    mention feed — direct single-token dictionary mentions plus the
    two coreference routes (:func:`resolve_pronouns`,
    :func:`resolve_nominals`) folded into one table, which is the
    whole point of resolving anaphora in a KG build: "spark crashed.
    it restarted. the engine recovered" yields THREE evidence rows
    for eng:spark, not one.  ``source`` ∈ {direct, pronoun, nominal}
    keeps the provenance auditable; ``score`` is 1.0 for direct
    mentions and the rational recency decay round(1/(1+distance), 6)
    for resolved anaphors (distance in turns — rational on purpose:
    pow() is not correctly-rounded identically across engines, the
    cue-pattern portability rule applied to arithmetic).  Unresolved
    anaphors (no preceding antecedent) contribute nothing.

    Downstream this is evidence: stamp with the turn's event time
    and feed :func:`triple_confidence` / :func:`signed_confidence` —
    anaphoric mentions add the recall that surface matching alone
    leaves on the table.

    Scale: the direct face is one broadcast dictionary join over the
    token stream; the two resolvers each cost their documented
    single carry-forward window; the union adds nothing.
    """
    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(tokens_col("text")).alias("pos", "tok"),
    )
    dedup = dictionary.coalesce(1).groupBy("surface").agg(
        F.min("entity").alias("entity")
    )
    direct = toks.join(
        F.broadcast(dedup), toks.tok == dedup.surface
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("pos").cast("long").alias("pos"),
        "entity",
        F.lit("direct").alias("source"),
        F.lit(1.0).alias("score"),
    )

    def _resolved(df: DataFrame, src: str) -> DataFrame:
        return df.where(F.col("entity").isNotNull()).select(
            "conv_id",
            "turn_idx",
            "pos",
            "entity",
            F.lit(src).alias("source"),
            F.round(
                F.lit(1.0) / (1 + F.col("distance")), 6
            ).alias("score"),
        )

    pron = _resolved(
        resolve_pronouns(transcripts, dictionary, pronouns), "pronoun"
    )
    nom = _resolved(
        resolve_nominals(transcripts, dictionary, types, determiners),
        "nominal",
    )
    return direct.unionByName(pron).unionByName(nom)


def temporal_triples(evidence: DataFrame) -> DataFrame:
    """(subj, pred, obj, version, valid_from, valid_to, is_current):
    SCD-2 validity intervals per (subj, pred).

    Evidence rows (subj, pred, obj, ts — ts in epoch seconds) are
    ordered by (ts, obj); consecutive runs of the same ``obj`` become
    one version whose ``valid_from`` is the run's first ts and whose
    ``valid_to`` is the next version's ``valid_from`` (NULL for the
    open current version).  The obj tiebreak makes same-timestamp
    evidence deterministic across engines.

    One exchange on (subj, pred) serves both window passes and the
    run groupBy — change detection, run numbering, interval close-out
    all happen inside the same partitioning, so the whole history
    build costs a single shuffle at any corpus size.
    """
    w = Window.partitionBy("subj", "pred").orderBy("ts", "obj")
    runs = (
        evidence.select(
            "subj",
            "pred",
            "obj",
            "ts",
            F.when(
                F.lag("obj").over(w).isNull()
                | (F.lag("obj").over(w) != F.col("obj")),
                1,
            )
            .otherwise(0)
            .alias("chg"),
        )
        .withColumn(
            "version",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("subj", "pred", "version", "obj")
        .agg(F.min("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("subj", "pred").orderBy("version")
    return runs.select(
        "subj",
        "pred",
        "obj",
        F.col("version").cast("long").alias("version"),
        F.col("valid_from").cast("long").alias("valid_from"),
        F.lead("valid_from").over(w2).cast("long").alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def kg_at_time(temporal: DataFrame, ts) -> DataFrame:
    """(subj, pred, obj, version, valid_from): the knowledge graph AS
    OF instant ``ts`` — the point-in-time query face of the SCD-2
    history :func:`temporal_triples` builds (and
    :func:`merge_temporal` maintains).  Interval semantics are
    half-open, matching the history's construction exactly: a version
    is in force at ``ts`` iff ``valid_from <= ts < valid_to`` (open
    current versions have NULL ``valid_to`` and match any later
    ``ts``); at the instant a new version starts, the OLD one is
    already out.  ``ts`` before a key's first version → the key is
    absent, not NULL.

    ``ts`` may be a plain epoch int or a 1-row/1-column DataFrame
    (e.g. an in-plan computed instant such as the corpus midpoint) —
    the scalar is broadcast-cross-joined so the whole query stays ONE
    declarative plan with no driver action.

    Scale: a pure filter over the history table — zero shuffle,
    embarrassingly parallel; with the history stored partitioned by
    ``pred`` (the triple-sink layout) a predicate-scoped as-of read
    partition-prunes, and ``is_current`` makes the common "now" probe
    a metadata-only filter.
    """
    if isinstance(ts, DataFrame):
        t = F.col("__asof_ts")
        frame = temporal.crossJoin(
            F.broadcast(
                ts.select(
                    F.col(ts.columns[0]).cast("long").alias("__asof_ts")
                )
            )
        )
    else:
        t = F.lit(int(ts))
        frame = temporal
    return frame.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("subj", "pred", "obj", "version", "valid_from")


def triple_confidence(
    evidence: DataFrame, with_state: bool = False
) -> DataFrame:
    """(subj, pred, obj, n_evidence, first_ts, last_ts, confidence):
    noisy-OR combination of independent evidence scores.

    confidence = 1 - Π(1 - s_i), computed as
    ``1 - exp(Σ ln(1 - s_i))`` so the product is a map-side-combinable
    SUM (no ordered fold).  Scores are clamped to ≤ 1 - 1e-6 before
    the log so a perfect-score detection cannot produce log(0) (Spark
    would yield NULL, DuckDB -inf — the clamp keeps both engines on
    the same finite value).  Rounded 6dp for cross-engine float
    stability; one map-side-combinable shuffle on the triple key.

    ``with_state=True`` appends the UNROUNDED ``lg_sum`` column
    (Σ ln(1 - s_i)) — the mergeable sufficient statistic.  Snapshots
    written with it can be folded incrementally by
    :func:`merge_beliefs` with NO intermediate-rounding drift: the
    merged confidence is ``round(1 - exp(lg_sum_old + lg_sum_new))``,
    bit-identical to the full recompute up to float summation order.
    The pipeline's belief store persists this state; the plain
    (oracled) query shape omits it.
    """
    s = F.least(F.col("score"), F.lit(1.0 - 1e-6))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_evidence"),
        F.min("ts").cast("long").alias("first_ts"),
        F.max("ts").cast("long").alias("last_ts"),
        F.round(F.lit(1.0) - F.exp(F.sum("lg")), 6).alias("confidence"),
    ]
    if with_state:
        aggs.append(F.sum("lg").alias("lg_sum"))
    return (
        evidence.select(
            "subj", "pred", "obj", "ts", F.log(F.lit(1.0) - s).alias("lg")
        )
        .groupBy("subj", "pred", "obj")
        .agg(*aggs)
    )


def signed_confidence(evidence: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_support, n_refute, first_ts, last_ts,
    support, refute, confidence): SIGNED noisy-OR belief combination
    — the junction between the assertion layer and the belief layer:
    evidence rows carry a ``negated`` boolean (e.g. the mention sat
    in a negated clause, :func:`assertion_clauses`), and refuting
    evidence LOWERS the belief instead of raising it.

    support = 1 − Π(1 − s_i) over asserting rows, refute likewise
    over negated rows (each the :func:`triple_confidence` noisy-OR,
    map-side-combinable log-sums with the same 1−1e-6 clamp), and

        confidence = support · (1 − refute)

    — the probability that at least one assertion is right AND no
    refutation is ("independent refuters veto independently", the
    noisy-AND-NOT gate of the TruthFinder family).  A triple with
    only refutations publishes confidence 0 (support term 0); a
    triple with none publishes its plain noisy-OR.  The final value
    rounds 6dp ONCE from the unrounded channel sums; the published
    per-channel ``support``/``refute`` columns round independently
    (audit faces, not inputs to ``confidence``).

    One map-side-combinable shuffle on the triple key — two
    conditional log-sums in the same aggregate, so the signed gate
    costs exactly what the unsigned one does.
    """
    s = F.least(F.col("score"), F.lit(1.0 - 1e-6))
    lg = F.log(F.lit(1.0) - s)
    neg = F.col("negated")
    grouped = (
        evidence.select(
            "subj", "pred", "obj", "ts",
            F.when(~neg, lg).alias("lgp"),
            F.when(neg, lg).alias("lgn"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.col("lgp")).cast("long").alias("n_support"),
            F.count(F.col("lgn")).cast("long").alias("n_refute"),
            F.min("ts").cast("long").alias("first_ts"),
            F.max("ts").cast("long").alias("last_ts"),
            F.coalesce(F.sum("lgp"), F.lit(0.0)).alias("_lgp"),
            F.coalesce(F.sum("lgn"), F.lit(0.0)).alias("_lgn"),
        )
    )
    sup = F.lit(1.0) - F.exp(F.col("_lgp"))
    return grouped.select(
        "subj",
        "pred",
        "obj",
        "n_support",
        "n_refute",
        "first_ts",
        "last_ts",
        F.round(sup, 6).alias("support"),
        F.round(F.lit(1.0) - F.exp(F.col("_lgn")), 6).alias("refute"),
        F.round(sup * F.exp(F.col("_lgn")), 6).alias("confidence"),
    )


def merge_beliefs(snapshots: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_windows, n_evidence, first_ts, last_ts,
    confidence): compact per-window belief rows into the all-time
    view — the batch fold the streaming layer's docstring promises
    (``streaming.kg.stream_triple_confidence`` emits one belief row
    per closed window; this merges them).

    Noisy-OR is associative over its miss-mass: a window with
    confidence c contributes miss-mass (1 − c), so the all-time
    confidence is ``1 − Π_w (1 − c_w)`` — computed, like
    :func:`triple_confidence`, as a map-side-combinable SUM of
    ``ln(1 − c_w)`` (clamped against log(0)).  Because each input row
    already folds ITS window's evidence, compaction cost scales with
    the number of (window, triple) rows, not the raw evidence volume
    — re-running compaction after each streaming batch touches only
    snapshot-sized data.  The output shape is itself a valid input
    (confidence in, confidence out), so compaction is INCREMENTAL:
    merge_beliefs(old_compacted ∪ new_windows) = the updated view,
    which is the resume/upsert story for the belief store.

    Input columns: subj, pred, obj, n_evidence, confidence, plus
    optional first_ts/last_ts (absent → NULL bounds) and optional
    n_windows (a previously-compacted row keeps its window count:
    incremental re-compaction sums ``coalesce(n_windows, 1)``, so
    merging old_compacted ∪ new_windows preserves the true total
    rather than counting the compacted row as one window).  6dp
    rounding per stage matches the per-window rounding, so a DuckDB
    twin running the same two-stage computation matches bit-for-bit.

    If the input carries the optional ``lg_sum`` state column
    (:func:`triple_confidence` ``with_state=True``), rows that have
    it fold their EXACT unrounded log-miss-mass instead of
    ``ln(1 − round6(confidence))``, and the output keeps a summed
    ``lg_sum`` — this is what makes the belief-store upsert equal to
    the full recompute (no intermediate-rounding drift); rows with a
    NULL ``lg_sum`` (e.g. a pre-state-column snapshot) fall back to
    the rounded-confidence fold.
    """
    cols = set(snapshots.columns)
    first_ts = (
        F.col("first_ts")
        if "first_ts" in cols
        else F.lit(None).cast("long")
    )
    last_ts = (
        F.col("last_ts") if "last_ts" in cols else F.lit(None).cast("long")
    )
    n_windows = (
        F.coalesce(F.col("n_windows"), F.lit(1))
        if "n_windows" in cols
        else F.lit(1)
    )
    c = F.least(F.col("confidence"), F.lit(1.0 - 1e-9))
    lg_fallback = F.log(F.lit(1.0) - c)
    lg = (
        F.coalesce(F.col("lg_sum"), lg_fallback)
        if "lg_sum" in cols
        else lg_fallback
    )
    aggs = [
        F.sum("n_windows_in").cast("long").alias("n_windows"),
        F.sum("n_evidence").cast("long").alias("n_evidence"),
        F.min("first_ts").cast("long").alias("first_ts"),
        F.max("last_ts").cast("long").alias("last_ts"),
        F.round(F.lit(1.0) - F.exp(F.sum("lg")), 6).alias("confidence"),
    ]
    if "lg_sum" in cols:
        aggs.append(F.sum("lg").alias("lg_sum"))
    return (
        snapshots.select(
            "subj",
            "pred",
            "obj",
            F.col("n_evidence").cast("long").alias("n_evidence"),
            first_ts.alias("first_ts"),
            last_ts.alias("last_ts"),
            n_windows.cast("long").alias("n_windows_in"),
            lg.alias("lg"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(*aggs)
    )


def functional_conflicts(beliefs: DataFrame) -> DataFrame:
    """(subj, pred, n_objs, total_evidence, winner_obj, winner_conf,
    runner_up_obj, runner_up_conf, margin): conflicting object values
    for predicates treated as FUNCTIONAL (one true obj per subj), with
    a deterministic latest-strongest resolution.

    Input is a belief table — one row per (subj, pred, obj) with
    ``n_evidence``, ``last_ts``, ``confidence`` (the
    :func:`triple_confidence` / :func:`merge_beliefs` output shape).
    A (subj, pred) with ≥ 2 distinct objects is a conflict; the
    resolution ranks objects by (confidence DESC, last_ts DESC,
    obj ASC) — strongest belief wins, recency breaks belief ties,
    lexicographic obj pins exact ties, so the winner is identical on
    any engine and partitioning.  ``margin`` (winner − runner-up
    confidence, 6dp) is the triage signal: near-zero margins are the
    rows a human or a stronger model should adjudicate; large margins
    are safe to auto-resolve.

    Which predicates ARE functional is a policy input —
    :func:`predicate_profile`'s functionality gauge is the measured
    basis; filter ``pred`` upstream accordingly.

    One exchange: the rank window and the conditional aggregation
    share the (subj, pred) partitioning.  Per-(subj, pred) groups are
    object-cardinality-sized (tiny), so head-heavy predicates spread
    across subjects and no salting is needed.
    """
    w = Window.partitionBy("subj", "pred").orderBy(
        F.desc("confidence"), F.desc("last_ts"), F.asc("obj")
    )
    ranked = beliefs.withColumn("rk", F.row_number().over(w))
    agg = ranked.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_objs"),
        F.sum("n_evidence").cast("long").alias("total_evidence"),
        F.max(F.when(F.col("rk") == 1, F.col("obj"))).alias("winner_obj"),
        F.max(F.when(F.col("rk") == 1, F.col("confidence"))).alias(
            "winner_conf"
        ),
        F.max(F.when(F.col("rk") == 2, F.col("obj"))).alias(
            "runner_up_obj"
        ),
        F.max(F.when(F.col("rk") == 2, F.col("confidence"))).alias(
            "runner_up_conf"
        ),
    )
    return agg.where(F.col("n_objs") >= 2).select(
        "subj",
        "pred",
        "n_objs",
        "total_evidence",
        "winner_obj",
        "winner_conf",
        "runner_up_obj",
        "runner_up_conf",
        F.round(
            F.col("winner_conf") - F.col("runner_up_conf"), 6
        ).alias("margin"),
    )


def khop_reachability(edges: DataFrame, k: int = 3) -> DataFrame:
    """(src, dst, hops): every ordered pair reachable in ≤ ``k`` hops,
    with the MINIMUM hop count.

    Unrolled frontier expansion (the PageRank/k-means in-plan loop
    pattern): round i joins round i-1's frontier to the edge table,
    each frontier is ``distinct``-bounded so dense hubs cannot emit a
    pair twice, and the final groupBy takes the min hop count across
    rounds.  k-1 equi-joins on the frontier's dst — each a single
    hash-shuffle; k is small and fixed, so the whole plan stays one
    Catalyst job with no driver iteration.

    The edge table is treated as DIRECTED.  Canonical co-occurrence
    edges (a < b) form a DAG, which also makes the DuckDB
    recursive-CTE oracle cycle-safe.
    """
    if k < 1:
        raise ValueError("khop_reachability: k must be >= 1")
    # the edge set is referenced by every unrolled round (round i's
    # frontier joins it again) — the lazy localCheckpoint materializes
    # it once instead of re-deriving its upstream lineage (dictionary
    # match, co-occurrence build) per reference, the same lineage-cut
    # pattern as operators.graph.pagerank
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hop = e.select("src", "dst", F.lit(1).alias("hops"))
    frontier = hop
    for i in range(2, k + 1):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
                F.lit(i).alias("hops"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        hop = hop.unionByName(nxt)
        frontier = nxt
    return (
        hop.groupBy("src", "dst")
        .agg(F.min("hops").cast("long").alias("hops"))
    )


def alias_candidates(
    surfaces: DataFrame,
    col: str = "surface",
    max_dist: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """(a, b, dist): surface pairs within Levenshtein distance
    ``max_dist`` — dictionary-free alias discovery (typos, truncations,
    OCR noise) feeding :func:`coies_spark.pipeline.canonicalize` as
    extra alias edges.

    Blocked, never all-pairs: a candidate pair must share its first
    ``prefix_len`` characters OR its last ``prefix_len`` characters
    (two equality self-joins on the block key, unioned).  The blocking
    is the standard recall/scale trade — an edit inside BOTH affixes
    escapes it (production recovers those with more blocking passes,
    e.g. sorted-neighborhood keys); every blocked candidate is then
    verified with the exact JVM ``levenshtein``.  Shuffle cost: two
    hash joins on short block keys + one distinct — the same shape as
    LSH banding, with bucket size bounded by affix cardinality.

    Canonical output (a < b), one row per pair (a pair blocked by both
    affixes dedups), ``dist >= 1`` (identical strings are one surface,
    not an alias pair).
    """
    if max_dist < 1:
        raise ValueError("alias_candidates: max_dist must be >= 1")
    s = surfaces.select(F.col(col).alias("s")).where(
        F.col("s").isNotNull() & (F.length("s") > 0)
    ).distinct()
    pairs = None
    # left/right (not negative-start substring): both return the whole
    # string when it is shorter than the affix, identically in every
    # engine — single-char surfaces block on themselves
    for key in (
        F.expr(f"left(s, {int(prefix_len)})"),
        F.expr(f"right(s, {int(prefix_len)})"),
    ):
        blocked = s.select(key.alias("blk"), "s")
        cand = (
            blocked.alias("l")
            .join(blocked.alias("r"), "blk")
            .where(F.col("l.s") < F.col("r.s"))
            .select(F.col("l.s").alias("a"), F.col("r.s").alias("b"))
        )
        pairs = cand if pairs is None else pairs.unionByName(cand)
    return (
        pairs.distinct()
        .select("a", "b", F.levenshtein("a", "b").cast("long").alias("dist"))
        .where(F.col("dist") <= max_dist)
    )


def predicate_profile(triples: DataFrame) -> DataFrame:
    """(pred, n_triples, n_subj, n_obj, functionality,
    inverse_functionality, top_obj, top_obj_share): per-predicate
    schema induction over a (subj, pred, obj) table.

    ``functionality`` = n_distinct_subj / n_distinct_triples — 1.0
    means each subject asserts the predicate at most once (a
    functional / 1:1-ish property, safe to use as a merge key in
    entity resolution); values near 0 mean head-heavy 1:N fan-out —
    exactly the predicates the north rule's salted-aggregation path
    exists for, so this gauge is what decides WHICH predicates get
    salted.  ``inverse_functionality`` is the object-side mirror
    (near-1.0 ⇒ obj values are identifying — candidate linking keys).
    ``top_obj``/``top_obj_share`` expose degenerate predicates whose
    evidence collapses onto one value (extraction-bug tripwire).

    Plan: one distinct on (subj, pred, obj) then two pred-keyed
    aggregations (counts + modal object via max-by on (count, obj))
    — map-side combinable, one exchange on pred each; no windows, no
    Python.  Predicate cardinality is tiny relative to the corpus, so
    the final frames are dashboard-sized at any input scale.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    counts = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subj"),
        F.countDistinct("obj").cast("long").alias("n_obj"),
    )
    # modal object per predicate: count per (pred, obj), then max_by
    # over a deterministic (count, obj) order — obj DESC on ties so
    # the winner is engine-portable
    per_obj = t.groupBy("pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    modal = per_obj.groupBy("pred").agg(
        F.max_by(
            F.col("obj"), F.struct(F.col("n"), F.col("obj"))
        ).alias("top_obj"),
        F.max("n").cast("long").alias("_top_n"),
    )
    return (
        counts.join(modal, "pred")
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.round(F.col("n_subj") / F.col("n_triples"), 6).alias(
                "functionality"
            ),
            F.round(F.col("n_obj") / F.col("n_triples"), 6).alias(
                "inverse_functionality"
            ),
            "top_obj",
            F.round(F.col("_top_n") / F.col("n_triples"), 6).alias(
                "top_obj_share"
            ),
        )
    )


def entity_degrees(triples: DataFrame) -> DataFrame:
    """(entity, out_degree, in_degree, n_preds): KG degree gauge.

    out_degree counts distinct (pred, obj) per subject, in_degree
    distinct (subj, pred) per object, n_preds the distinct predicates
    the entity participates in on either side.  Two map-side-
    combinable aggregations unioned then re-aggregated — the union
    key (entity) spreads hot entities across tasks, and the output IS
    the table to watch for the skew that should flip a downstream
    join to salted/AQE handling.
    """
    out_d = (
        triples.select(F.col("subj").alias("entity"), "pred", "obj")
        .distinct()
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_degree"),
            F.collect_set("pred").alias("preds"),
        )
        .select("entity", "out_degree", F.lit(0).cast("long").alias("in_degree"), "preds")
    )
    in_d = (
        triples.select(F.col("obj").alias("entity"), "pred", "subj")
        .distinct()
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("in_degree"),
            F.collect_set("pred").alias("preds"),
        )
        .select("entity", F.lit(0).cast("long").alias("out_degree"), "in_degree", "preds")
    )
    return (
        out_d.unionByName(in_d)
        .groupBy("entity")
        .agg(
            F.sum("out_degree").cast("long").alias("out_degree"),
            F.sum("in_degree").cast("long").alias("in_degree"),
            F.size(F.array_distinct(F.flatten(F.collect_list("preds"))))
            .cast("long")
            .alias("n_preds"),
        )
    )


def induce_signatures(
    triples: DataFrame, types: DataFrame
) -> DataFrame:
    """(pred, n_triples, domain_type, domain_votes, domain_conf,
    range_type, range_votes, range_conf): ontology induction — infer
    each predicate's DOMAIN (subject type) and RANGE (object type)
    signature from a typed-entity table, the inverse of
    :func:`entity_types` (which types entities from declared
    signatures; this induces the signatures from typed entities —
    run alternately they are the classic type/schema bootstrapping
    loop).  ``types`` is an (entity, entity_type) table (an entity
    may carry several types; each typed triple end votes once per
    type).  The modal type wins per side (ties to the smallest type
    string), conf = winning votes / typed votes on that side; a
    predicate whose subjects (objects) are never typed publishes
    NULLs on that side.  Induced signatures gate extraction (a
    proposed triple violating its predicate's signature is a
    disambiguation error — feed :func:`constraint_violations`) and
    seed ``pred_types`` for :func:`entity_types`.

    Scale: two entity-keyed equi-joins (triple ends × types —
    shuffles on entity ids, AQE-skew territory for hot entities) and
    predicate×type-sized aggregates; the argmax windows run on those
    reduced rows only.  Output is |preds|-bounded.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    # dedupe the type table (the resolve_nominals defensive rule): a
    # repeated (entity, entity_type) row — e.g. after a union of type
    # sources — would double-count votes and could flip the modal type
    types = types.select("entity", "entity_type").distinct()
    base = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples")
    )

    def _side(key: str) -> DataFrame:
        votes = (
            t.select("pred", F.col(key).alias("entity"))
            .join(types, "entity")
            .groupBy("pred", "entity_type")
            .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        )
        wtop = Window.partitionBy("pred").orderBy(
            F.desc("votes"), F.asc("entity_type")
        )
        wtot = Window.partitionBy("pred")
        return (
            votes.withColumn("__r", F.row_number().over(wtop))
            .withColumn("total", F.sum("votes").over(wtot))
            .where(F.col("__r") == 1)
            .select(
                "pred",
                F.col("entity_type"),
                "votes",
                F.round(F.col("votes") / F.col("total"), 6).alias(
                    "conf"
                ),
            )
        )

    dom = _side("subj").select(
        "pred",
        F.col("entity_type").alias("domain_type"),
        F.col("votes").alias("domain_votes"),
        F.col("conf").alias("domain_conf"),
    )
    rng = _side("obj").select(
        "pred",
        F.col("entity_type").alias("range_type"),
        F.col("votes").alias("range_votes"),
        F.col("conf").alias("range_conf"),
    )
    return (
        base.join(dom, "pred", "left")
        .join(rng, "pred", "left")
        .select(
            "pred",
            "n_triples",
            "domain_type",
            "domain_votes",
            "domain_conf",
            "range_type",
            "range_votes",
            "range_conf",
        )
    )


def pra_path_features(
    triples: DataFrame,
    include_inverse: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """(src, dst, path, n_paths): Path-Ranking-Algorithm feature
    table (Lao & Cohen, Machine Learning 2010, "Relational retrieval
    using a combination of path-constrained random walks") — for
    every connected entity pair, how many length-1 and length-2
    typed paths link them, with inverse steps as first-class hops
    (path labels: ``p`` one hop, ``^p`` one inverse hop, ``p1/p2``
    two hops; predicate names must not contain ``^``/``/``).  This
    is the per-PAIR face the rule-level :func:`mine_path_rules`
    aggregates away: PRA feeds the path counts of each candidate
    pair as features to a link-prediction classifier (the
    :mod:`~coies_spark.ops.classify` chain consumes exactly this
    shape after hashing), where AMIE keeps only per-rule confidence.

    ``max_degree`` drops MIDPOINT entities whose out-degree on the
    (inverse-augmented) edge set exceeds it — the standard PRA hub
    guard: a 10⁸-degree hub as midpoint contributes
    deg_in·deg_out pair rows of near-zero feature value (every pair
    shares it), and capping it bounds the join fan-out the way
    ``neighbor_jaccard``'s cap does.  None keeps everything.

    Scale: ONE midpoint-keyed self-join (the intrinsic PRA cost,
    shuffling on entity ids) + one (src, dst, path) aggregate with
    map-side partial counts; the degree gate is one broadcast-sized
    aggregate-and-semi-join ahead of it.  No all-pairs structure:
    only pairs actually connected by a path ever materialize.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    edges = t
    if include_inverse:
        edges = edges.unionByName(
            t.select(
                F.col("obj").alias("subj"),
                F.concat(F.lit("^"), F.col("pred")).alias("pred"),
                F.col("subj").alias("obj"),
            )
        )
    edges = edges.localCheckpoint(eager=False)
    l1 = edges.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("pred").alias("path"),
        F.lit(1).cast("long").alias("n_paths"),
    )
    a = edges.select(
        F.col("subj").alias("src"),
        F.col("pred").alias("p1"),
        F.col("obj").alias("__mid"),
    )
    b = edges.select(
        F.col("subj").alias("__mid2"),
        F.col("pred").alias("p2"),
        F.col("obj").alias("dst"),
    )
    if max_degree is not None:
        if max_degree < 1:
            raise ValueError(
                "pra_path_features: max_degree must be >= 1"
            )
        ok = (
            edges.groupBy(F.col("subj").alias("__mid"))
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") <= max_degree)
            .select("__mid")
        )
        # gating ONE side suffices: the equi-join on the midpoint
        # makes the other side's filter implied
        a = a.join(ok, "__mid", "left_semi")
    l2 = (
        a.join(b, F.col("__mid") == F.col("__mid2"))
        .groupBy(
            "src",
            "dst",
            F.concat_ws("/", "p1", "p2").alias("path"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )
    return l1.unionByName(l2)


def kg_negatives(triples: DataFrame, k: int = 2) -> DataFrame:
    """(subj, pred, obj, neg_rank, neg_obj): deterministic
    corrupted-tail negative sampling — the training-pair generator
    for translational / bilinear KG-embedding objectives (TransE,
    Bordes NeurIPS'13; DistMult), which need, per positive triple,
    ``k`` negatives drawn from the SAME predicate's object domain
    (type-consistent corruption) and guaranteed unequal to the true
    object.

    Sampling is hash-indexed, not random: the predicate's distinct
    objects get a dense per-pred index j (ordered by md5(obj) so the
    indexing itself is an unbiased shuffle), and positive × rank r
    picks ``idx = H(subj,pred,obj,r) mod (m−1)`` over the m−1
    non-true indices, skipping past the true object's own index
    (``idx += idx >= j_true``) — EXACTLY uniform over the remaining
    objects (a next-index fallback would give the true object's
    successor probability 2/m; the index-skip has no such bias).
    H = first-32-bits-of-md5, the engine-portable convention of
    ``ops.sampling``.  The same triple therefore gets the same
    negatives on every run, any partitioning, and any SQL engine:
    resumable epochs and an exact DuckDB twin.

    Scale: the domain index is built over DISTINCT (pred, obj) —
    vocabulary-sized, not corpus-sized (the embedding_norm_stats
    honesty scoping); its per-pred row_number is the only per-key
    sequential step, swappable for a sorted global zipWithIndex if a
    single predicate's domain ever outgrows one task.  The true
    object's index and the candidate both come from equi-joins on
    (pred, key) — broadcastable when the domain is, shuffle-keyed
    otherwise; nothing is corpus × domain.  Predicates with one
    distinct object yield no negatives (dropped, by construction,
    not error).
    """
    if k < 1:
        raise ValueError("kg_negatives: k must be >= 1")
    wd = Window.partitionBy("pred").orderBy(
        F.md5(F.encode(F.col("obj").cast("string"), "utf-8")), "obj"
    )
    wm = Window.partitionBy("pred")
    domain = (
        triples.select("pred", "obj")
        .distinct()
        .select(
            "pred",
            F.col("obj").alias("obj_d"),
            (F.row_number().over(wd) - 1).cast("long").alias("j"),
            F.count(F.lit(1)).over(wm).cast("long").alias("m"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(":", "subj", "pred", "obj", "neg_rank"),
                    "utf-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    pos = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias(
                "neg_rank"
            ),
        )
        .withColumn("h", h)
    )
    # the true object's own index (and m) via one domain lookup; then
    # idx over the m-1 OTHER indices with the skip-past-true shift
    true_ix = domain.select(
        "pred",
        F.col("obj_d").alias("obj"),
        F.col("j").alias("j_true"),
        "m",
    )
    pos = (
        pos.join(true_ix, ["pred", "obj"])
        .where(F.col("m") >= 2)
        .select(
            "subj",
            "pred",
            "obj",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            (
                F.pmod(F.col("h"), F.col("m") - 1)
                + (
                    F.pmod(F.col("h"), F.col("m") - 1)
                    >= F.col("j_true")
                ).cast("long")
            ).alias("i1"),
        )
    )
    d1 = domain.select(
        "pred", F.col("j").alias("i1"), F.col("obj_d").alias("neg_obj")
    )
    return pos.join(d1, ["pred", "i1"]).select(
        "subj", "pred", "obj", "neg_rank", "neg_obj"
    )


def mention_bursts(
    mentions: DataFrame, trailing: int = 3, z: float = 2.0
) -> DataFrame:
    """(entity, day, n, mu, sigma, is_burst): burst detection over a
    KG ingest stream — for each (entity, UTC day) the mention count
    ``n`` against the trailing baseline of the entity's previous
    ``trailing`` OBSERVED days (row-based, so silent days cost
    nothing and a sparse entity still gets a baseline), flagging days
    where ``n > mu + z·sigma``.  The monitoring twin of
    :func:`entity_degrees`: degrees say which entities are hot in
    aggregate; bursts say WHEN an entity's evidence rate jumped —
    trending topics, ingest anomalies, or an extraction regression
    flooding one surface.

    ``mentions`` needs (entity, ts) — epoch seconds; anything with an
    obj/ts shape projects into it.  The first observed day has no
    baseline and days with <2 prior observations have no sigma;
    neither can be a burst (NULL-safe comparison), matching the cold
    -start convention of any control chart.  mu/sigma and the
    threshold are rounded 6dp so the flag is bit-stable across
    engines (sample stddev on both sides).

    Scale: one groupBy (entity, day) — map-side combinable counts —
    then one row-frame window per entity over the DAILY table
    (corpus-sized input collapses to entities × active days before
    the window, so the per-entity sequential pass is tiny).  Total:
    two exchanges, both on keys that spread head entities by day
    first.
    """
    if trailing < 1:
        raise ValueError("mention_bursts: trailing must be >= 1")
    daily = (
        mentions.select(
            "entity", F.floor(F.col("ts") / 86400).alias("day")
        )
        .groupBy("entity", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = (
        Window.partitionBy("entity")
        .orderBy("day")
        .rowsBetween(-trailing, -1)
    )
    base = daily.select(
        "entity",
        F.col("day").cast("long").alias("day"),
        "n",
        F.round(F.avg("n").over(w), 6).alias("mu"),
        F.round(F.stddev_samp("n").over(w), 6).alias("sigma"),
    )
    thr = F.round(F.col("mu") + F.lit(z) * F.col("sigma"), 6)
    return base.withColumn(
        "is_burst",
        F.coalesce(F.col("n") > thr, F.lit(False)),
    )


def merge_temporal(versions: DataFrame, evidence: DataFrame) -> DataFrame:
    """Incremental SCD-2 upsert: fold NEW evidence into an existing
    :func:`temporal_triples` version table without re-reading the
    historical evidence — the temporal twin of :func:`merge_beliefs`
    (belief store upserts) and the resume story for the versioned
    triple sink.

    Each stored version is replayed as one synthetic evidence row at
    its ``valid_from`` (a version's interval depends only on its run
    BOUNDARY, which valid_from is), unioned with the new evidence,
    and re-run through :func:`temporal_triples`.  For append-only
    streams — every new ts ≥ the key's last ``valid_from``, the shape
    a watermark guarantees — this is EXACTLY equal to recomputing
    over all raw evidence: late-arriving rows that land strictly
    inside an old closed interval re-split it at the replay boundary
    only (intra-run timestamps were compacted away; that is the
    documented cost of not keeping raw history).

    Cost scales with versions + new evidence, never the raw evidence
    volume; one (subj, pred) exchange as in temporal_triples.
    """
    replay = versions.select(
        "subj", "pred", "obj", F.col("valid_from").alias("ts")
    )
    new = evidence.select("subj", "pred", "obj", "ts")
    return temporal_triples(replay.unionByName(new))


def constraint_violations(
    triples: DataFrame, rules: DataFrame
) -> DataFrame:
    """(subj, pred, obj, violation): SHACL-lite closed-world
    validation of a triple store against a per-predicate shape table
    ``rules(pred, subj_pattern, obj_pattern)`` — the QA gate between
    extraction and the published KG.

    Checks, in precedence order (one violation per bad triple, the
    first that fires):

    * ``null_term`` — NULL subj or obj: malformed regardless of any
      rule (closing the hole where a NULL term would null out the
      regex check and slip through the gate);
    * ``unknown_pred`` — the predicate has no rule (closed-world:
      an extractor emitting a new predicate is a schema event someone
      must approve, not silently-accepted data);
    * ``subj_pattern`` / ``obj_pattern`` — the term fails its
      anchored regex (NULL pattern = unconstrained).

    Patterns must stay in the Java∩RE2∩PCRE-compatible subset
    (anchored literals / char classes — the ``scrub_pii`` portability
    rule) so Spark and any SQL oracle agree.  Valid triples are NOT
    emitted: at 10¹² evidence rows the violation set is the small
    output, and the clean path stays a pass-through.

    A duplicate pred in ``rules`` raises at evaluation: two rules for
    one predicate would fan every triple out and double-emit
    violations (the config error the resolve_pronouns dictionary
    guard pins, but a schema table should fail loudly, not be
    silently merged).

    Scale: one broadcast left join on pred (rules are schema-sized)
    + a codegen'd CASE — no shuffle of the triple store at all.
    """
    wdup = Window.partitionBy("pred")
    r = rules.coalesce(1).select(
        F.when(
            F.count(F.lit(1)).over(wdup) == 1, F.col("pred")
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("constraint_violations: duplicate rule for"
                          " predicate "),
                    F.col("pred"),
                )
            )
        )
        .alias("_rp"),
        F.col("subj_pattern").alias("_sp"),
        F.col("obj_pattern").alias("_op"),
    )
    joined = triples.select("subj", "pred", "obj").join(
        F.broadcast(r), triples["pred"] == r["_rp"], "left"
    )
    violation = (
        F.when(
            F.col("subj").isNull() | F.col("obj").isNull(),
            F.lit("null_term"),
        )
        .when(F.col("_rp").isNull(), F.lit("unknown_pred"))
        .when(
            F.col("_sp").isNotNull()
            & ~F.regexp_like(F.col("subj"), F.col("_sp")),
            F.lit("subj_pattern"),
        )
        .when(
            F.col("_op").isNotNull()
            & ~F.regexp_like(F.col("obj"), F.col("_op")),
            F.lit("obj_pattern"),
        )
    )
    return (
        joined.withColumn("violation", violation)
        .where(F.col("violation").isNotNull())
        .select("subj", "pred", "obj", "violation")
    )


def predicate_implications(
    triples: DataFrame,
    min_support: int = 2,
    min_confidence: float = 0.1,
) -> DataFrame:
    """(antecedent, consequent, support, body_size, confidence):
    existential horn rules ``p(x,·) ⇒ q(x,·)`` mined from the triple
    store — "subjects that have predicate p also have predicate q" —
    the schema-discovery move of AMIE's language bias (Galárraga et
    al., WWW'13) in its unary/existential form, equivalently classic
    association rules (Agrawal et al.) over each subject's predicate
    set.  Output rules feed ontology review (a 0.99-confidence
    implication is a candidate subsumption or a redundant extractor)
    and missing-fact triage (high-confidence rules with exceptions
    point at extraction gaps).

    ``support`` = #subjects with both predicates; ``body_size`` =
    #subjects with the antecedent; ``confidence`` = support /
    body_size (6dp).  Rules are directional (both orders emitted when
    both clear the gates); p = q is excluded.

    Scale: collapse to DISTINCT (subj, pred) first — the self-join
    runs on the entity×schema-sized frame keyed on subj, never the
    evidence volume; predicate marginals are one tiny groupBy
    broadcast back onto the preds² rule table.  A hub subject with
    every predicate contributes preds² rows once, bounded by the
    schema size, not its evidence count.
    """
    if min_support < 1:
        raise ValueError("predicate_implications: min_support >= 1")
    sp = triples.select("subj", "pred").distinct()
    body = sp.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("body_size")
    )
    a = sp.select("subj", F.col("pred").alias("antecedent"))
    b = sp.select("subj", F.col("pred").alias("consequent"))
    both = (
        a.join(b, "subj")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    return (
        both.join(
            F.broadcast(
                body.select(
                    F.col("pred").alias("antecedent"), "body_size"
                )
            ),
            "antecedent",
        )
        .withColumn(
            "confidence",
            F.round(F.col("support") / F.col("body_size"), 6),
        )
        .where(F.col("confidence") >= min_confidence)
        .select(
            "antecedent", "consequent", "support", "body_size",
            "confidence",
        )
    )


def pattern_triples(
    transcripts: DataFrame,
    rules: list[tuple[str, str]],
) -> DataFrame:
    """(conv_id, turn_idx, pred, subj, obj): surface-pattern relation
    extraction over transcript turns — the distant-supervision twin of
    the one-shot context detector (Hearst-pattern family, Hearst
    COLING'92; the reference extracts by context similarity,
    oneshot_test.py:217-263 — this is the complementary high-precision
    rule route real KG builds run alongside it, same triple sink).

    Each rule is ``(pred, regex)`` where the regex carries EXACTLY two
    capture groups: group 1 = subject surface, group 2 = object
    surface.  Matching is leftmost non-overlapping (java.util.regex
    and RE2 agree on this), and every match in a turn emits one
    triple, so a turn can contribute many rows.  Patterns must stay in
    the Java∩RE2 common dialect (the PII-scrub convention,
    ``textstats.PII_PATTERNS``) so the DuckDB twin runs the verbatim
    rule table.

    Scale shape (10¹²-turn corpus): ALL rules evaluate as sibling
    expressions in ONE projection over ONE corpus scan — per rule the
    group-1/group-2 match lists are zipped into an array of
    (subj, obj) structs, the per-rule arrays are tagged with their
    predicate and concatenated, and a single ``explode`` emits the
    triples.  ZERO shuffles end-to-end (plan-tested): the output lands
    partitioned exactly as the input turns, ready for the
    predicate-partitioned triple sink to repartition once on write.
    NULL-text turns contribute nothing (NULL regexp arrays drop at the
    explode), matching the twin's ``text IS NOT NULL`` gate.
    """
    import re as _re

    if not rules:
        raise ValueError("pattern_triples: rules must be non-empty")
    for pred, pat in rules:
        try:
            groups = _re.compile(pat).groups
        except _re.error:
            # Python's re dialect is NARROWER than the Java∩RE2
            # target (e.g. \p{L} classes compile in both engines but
            # not here) — a rule Python cannot parse defers its
            # validation to the engines rather than being rejected
            continue
        if groups != 2:
            raise ValueError(
                f"pattern_triples: rule {pred!r} must have exactly two "
                f"capture groups (subject, object), got {groups}"
            )
    txt = F.col("text")
    proj = [
        c
        for i, (_, pat) in enumerate(rules)
        for c in (
            F.regexp_extract_all(txt, F.lit(pat), 1).alias(f"_s{i}"),
            F.regexp_extract_all(txt, F.lit(pat), 2).alias(f"_o{i}"),
        )
    ]
    step = transcripts.select("conv_id", "turn_idx", *proj)
    def _to_struct(pred: str, i: int):
        # closure factory: PySpark counts default args as lambda
        # variables, so the captured values must NOT be parameters
        return lambda x: F.struct(
            F.lit(pred).alias("pred"),
            x[f"_s{i}"].alias("subj"),
            x[f"_o{i}"].alias("obj"),
        )

    arrs = [
        F.transform(
            F.arrays_zip(F.col(f"_s{i}"), F.col(f"_o{i}")),
            _to_struct(pred, i),
        )
        for i, (pred, _) in enumerate(rules)
    ]
    return step.select(
        "conv_id", "turn_idx", F.explode(F.concat(*arrs)).alias("m")
    ).select("conv_id", "turn_idx", "m.pred", "m.subj", "m.obj")


#: Default negation cue words (NegEx-lite, Chapman et al., J Biomed
#: Inform 2001, "A simple algorithm for identifying negated findings
#: and diseases") — plain word-character literals only, so the cue
#: alternation stays a valid regex in Java AND RE2 and embeds in a
#: single-quoted SQL literal without escaping.
NEG_CUES = (
    "no", "not", "never", "none", "neither", "nor", "cannot",
    "without", "denies", "denied", "lacks", "fails to",
)

#: Default hedge/hypothetical cue words (speculation scoping, the
#: BioScope convention) — same literal-only constraint as NEG_CUES.
HEDGE_CUES = (
    "might", "may", "maybe", "perhaps", "possibly", "could",
    "should", "if", "unless", "suppose", "hypothetically",
    "probably", "allegedly", "reportedly",
)


def cue_pattern(cues: tuple[str, ...] | list[str]) -> str:
    """Case-insensitive word-boundary alternation over cue literals —
    ONE pattern string evaluated verbatim by java.util.regex (Spark
    ``rlike``) and RE2 (DuckDB ``regexp_matches``), which agree on
    ``(?i)``, ``\\b``, and alternation.  Cues must be plain
    word-character/space literals (no regex metacharacters, no
    quotes) — enforced here so a bad cue fails loudly at plan time,
    not silently in one engine."""
    import re as _re

    for c in cues:
        if not _re.fullmatch(r"[A-Za-z0-9 ]+", c):
            raise ValueError(
                f"cue_pattern: cue {c!r} must be a plain "
                "word-character/space literal"
            )
    return r"(?i)\b(" + "|".join(cues) + r")\b"


def assertion_clauses(
    transcripts: DataFrame,
    neg_cues: tuple[str, ...] = NEG_CUES,
    hedge_cues: tuple[str, ...] = HEDGE_CUES,
) -> DataFrame:
    """(conv_id, turn_idx, clause_idx, clause, negated, hedged,
    assertive): clause-level assertion scoping — split every turn on
    clause boundaries (``[.;!?]``), flag clauses containing a
    negation cue (NegEx-lite) or a hedge/hypothetical cue (the
    BioScope speculation convention), and mark the rest ASSERTIVE.
    An extractor that emits triples from negated or hypothetical
    clauses poisons the KG with facts the speaker explicitly did NOT
    assert ("the job did not fail", "if the table were dropped") —
    this is the precision gate that
    :func:`pattern_triples_asserted` composes in front of the
    pattern extractor, and the clause table is the right junction
    for any extractor (the gazetteer and one-shot routes can consume
    it the same way).

    ``clause_idx`` numbers clauses in the ORIGINAL split (0-based,
    before empty clauses drop), preserving provenance; whitespace-
    only clauses are dropped after trimming.  Cue matching is
    case-insensitive on word boundaries (:func:`cue_pattern` — one
    pattern string both engines evaluate verbatim).

    Scale: pure Catalyst — one split + posexplode + two ``rlike``
    sibling expressions over one corpus scan, ZERO shuffles; output
    lands partitioned exactly as the input turns.
    """
    neg_re = cue_pattern(neg_cues)
    hedge_re = cue_pattern(hedge_cues)
    step = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split(F.col("text"), r"[.;!?]")).alias(
            "clause_idx", "__c"
        ),
    ).select(
        "conv_id",
        "turn_idx",
        "clause_idx",
        F.trim(F.col("__c")).alias("clause"),
    )
    negated = F.col("clause").rlike(neg_re)
    hedged = F.col("clause").rlike(hedge_re)
    return step.where(F.col("clause") != "").select(
        "conv_id",
        "turn_idx",
        "clause_idx",
        "clause",
        negated.alias("negated"),
        hedged.alias("hedged"),
        (~negated & ~hedged).alias("assertive"),
    )


def pattern_triples_asserted(
    transcripts: DataFrame,
    rules: list[tuple[str, str]],
    neg_cues: tuple[str, ...] = NEG_CUES,
    hedge_cues: tuple[str, ...] = HEDGE_CUES,
) -> DataFrame:
    """(conv_id, turn_idx, pred, subj, obj): the pattern extractor
    gated by assertion scoping — :func:`pattern_triples` run over the
    ASSERTIVE clauses of :func:`assertion_clauses` only, so a rule
    matching inside a negated or hypothetical clause emits nothing
    ("A did not scan B" no longer yields (A, scans, B)).  Clause
    boundaries also stop a rule from matching ACROSS a negation
    boundary, a second precision win for free.

    Same zero-shuffle scale shape as both components: split, flag,
    filter, and extract are sibling projections over one corpus
    scan."""
    clauses = assertion_clauses(transcripts, neg_cues, hedge_cues)
    return pattern_triples(
        clauses.where("assertive").select(
            "conv_id", "turn_idx", F.col("clause").alias("text")
        ),
        rules,
    )


def numeric_triples(
    transcripts: DataFrame,
    rules: list[tuple[str, str]],
    units: DataFrame,
) -> DataFrame:
    """(conv_id, turn_idx, pred, subj, value, unit): TYPED numeric
    fact extraction — the literal-valued complement of
    :func:`pattern_triples`: real KGs carry quantities ("p17 ships 40
    units", "the job waits 250 ms") and storing them as strings makes
    every range query a parse; this op extracts them as doubles
    normalized to each predicate's canonical unit.

    Each rule is ``(pred, regex)`` with EXACTLY three capture groups:
    group 1 = subject surface, group 2 = magnitude (a decimal
    literal), group 3 = unit token.  ``units`` is a (unit, factor)
    table — canonical-unit conversion factors (ms → 0.001 of a
    second, min → 60) — and matches whose unit has no factor DROP
    (inner join: an unknown unit is an unparseable fact, not a
    silently wrong one).  ``value = round(magnitude · factor, 6)``;
    the published ``unit`` column is the MATCHED surface unit, so
    consumers can audit the normalization.

    Same dialect contract (Java∩RE2), same leftmost-non-overlapping
    matching, and same scale shape as :func:`pattern_triples`: all
    rules evaluate as sibling expressions in ONE projection over ONE
    corpus scan, then a single broadcast join against the unit table
    — the only post-scan structure.  Composes with
    :func:`assertion_clauses` the same way the pattern extractor
    does (feed assertive clauses as the text).
    """
    import re as _re

    if not rules:
        raise ValueError("numeric_triples: rules must be non-empty")
    for pred, pat in rules:
        try:
            groups = _re.compile(pat).groups
        except _re.error:
            continue
        if groups != 3:
            raise ValueError(
                f"numeric_triples: rule {pred!r} must have exactly "
                f"three capture groups (subject, magnitude, unit), "
                f"got {groups}"
            )
    txt = F.col("text")
    proj = [
        c
        for i, (_, pat) in enumerate(rules)
        for c in (
            F.regexp_extract_all(txt, F.lit(pat), 1).alias(f"_s{i}"),
            F.regexp_extract_all(txt, F.lit(pat), 2).alias(f"_m{i}"),
            F.regexp_extract_all(txt, F.lit(pat), 3).alias(f"_u{i}"),
        )
    ]
    step = transcripts.select("conv_id", "turn_idx", *proj)

    def _to_struct(pred: str, i: int):
        return lambda x: F.struct(
            F.lit(pred).alias("pred"),
            x[f"_s{i}"].alias("subj"),
            x[f"_m{i}"].alias("mag"),
            x[f"_u{i}"].alias("unit"),
        )

    arrs = [
        F.transform(
            F.arrays_zip(
                F.col(f"_s{i}"), F.col(f"_m{i}"), F.col(f"_u{i}")
            ),
            _to_struct(pred, i),
        )
        for i, (pred, _) in enumerate(rules)
    ]
    matched = step.select(
        "conv_id", "turn_idx", F.explode(F.concat(*arrs)).alias("m")
    ).select("conv_id", "turn_idx", "m.pred", "m.subj", "m.mag", "m.unit")
    return matched.join(F.broadcast(units), "unit").select(
        "conv_id",
        "turn_idx",
        "pred",
        "subj",
        F.round(
            F.col("mag").cast("double") * F.col("factor"), 6
        ).alias("value"),
        "unit",
    )


def gazetteer_mentions(
    transcripts: DataFrame,
    dictionary: DataFrame,
    max_len: int = 3,
    broadcast: bool = True,
) -> DataFrame:
    """(conv_id, turn_idx, pos, n_toks, surface, entity): positional
    gazetteer entity spotting — every dictionary surface occurring as
    a token n-gram (n ≤ ``max_len``) in a turn, resolved
    longest-match-per-start: at each start position only the longest
    matching surface(s) survive (``"table hash"`` beats ``"table"`` at
    the same ``pos``; the contained ``"hash"`` at ``pos+1`` is a
    different start and still reported).  An ambiguous surface (two
    entities) emits one row per entity.

    ``dictionary`` is (surface, entity); surfaces are re-tokenized
    with the reference tokenizer and space-joined, so matching is
    exact under the engine's own token semantics regardless of how
    the surface was spelled (punctuation, case).  A surface longer
    than ``max_len`` tokens can never match and is silently inert.

    This is the equi-join complement of :func:`mention_evidence`'s
    broadcast-``instr`` scan: that plan evaluates O(|dict|) substring
    probes per turn and stops scaling past ~10⁴ surfaces, while here
    the dictionary is a JOIN SIDE — candidate n-grams stream out of
    one zero-shuffle array projection (≤ ``max_len`` structs per
    token, generated and filtered inside whole-stage codegen) and
    meet the gazetteer in a hash join that is broadcast for small
    dictionaries (``broadcast=True``) and a plain shuffled hash join
    for the 10⁷-alias case (``broadcast=False``) — web-scale NER
    front-ends (GeoNames, UMLS, Wikidata labels) live there.  The
    longest-match window repartitions only MATCH rows (sparse), on
    (conv_id, turn_idx, pos).
    """
    if max_len < 1:
        raise ValueError("gazetteer_mentions: max_len must be >= 1")
    toks = tokens_col("text")
    n_tok = F.size(toks)
    # 1-based start positions; sequence(1, 0) would count DOWN, so
    # empty turns get an explicit empty array
    starts = F.when(n_tok > 0, F.sequence(F.lit(1), n_tok)).otherwise(
        F.array().cast("array<int>")
    )
    # span generation is the CPU-heavy half (≤ max_len surface strings
    # built per token); a narrowly-partitioned source (one parquet
    # file, a parallelized fixture) would serialize it onto a few
    # cores — spread the scan FIRST when it arrives under the
    # cluster's parallelism (guide §2.5 input-skew rule; a no-op for
    # well-partitioned corpora, where npart ≥ defaultParallelism)
    transcripts = spread_to_slots(transcripts)
    spans = F.flatten(
        F.transform(
            starts,
            lambda p: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(max_len)),
                    lambda n: F.struct(
                        (p - 1).cast("long").alias("pos"),
                        n.cast("long").alias("n_toks"),
                        F.array_join(F.slice(toks, p, n), " ").alias(
                            "surface"
                        ),
                    ),
                ),
                # a slice past the end truncates and would alias a
                # shorter gram — keep only spans that fit
                lambda s: (p - 1) + s["n_toks"] <= n_tok,
            ),
        )
    )
    cand = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.explode(spans).alias("s"),
    ).select("conv_id", "turn_idx", "s.pos", "s.n_toks", "s.surface")
    # normalize surfaces under the same tokenizer; repartition(1)
    # collapses the tiny table for an exchange of a few rows — unlike
    # coalesce(1), which would make ONE task iterate every near-empty
    # parent slice serially (a parallelized fixture pays a
    # Python-worker round trip per slice: measured ~3 s serial vs
    # ~0.1 s through the exchange)
    gaz = (
        dictionary.repartition(1)
        .select(
            F.array_join(tokens_col("surface"), " ").alias("surface"),
            "entity",
        )
        .distinct()
    )
    if broadcast:
        gaz = F.broadcast(gaz)
    hits = cand.join(gaz, "surface")
    w = Window.partitionBy("conv_id", "turn_idx", "pos")
    return (
        hits.withColumn("_max_n", F.max("n_toks").over(w))
        .where(F.col("n_toks") == F.col("_max_n"))
        .select("conv_id", "turn_idx", "pos", "n_toks", "surface", "entity")
    )


def _comention_pairs(
    transcripts: DataFrame,
    dictionary: DataFrame,
    max_len: int,
    broadcast: bool,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """(conv_id, turn_idx, subj, subj_pos, obj, obj_pos): every
    ordered pair of DISTINCT gazetteer entities co-mentioned in one
    turn — the shared front half of :func:`distant_supervision` and
    :func:`distant_negatives` (one mention-spotting pass, two label
    faces that cannot drift).  Keyed on (conv_id, turn_idx): per-turn
    mention counts are tokenizer-bounded, so the self-join fan-out is
    bounded per key.

    ``mentions`` injects a prebuilt (typically localCheckpoint'd)
    :func:`gazetteer_mentions` table so a caller deriving SEVERAL
    faces (ops.relext runs positives, training negatives, and scoring
    candidates) pays the corpus-scale mention scan ONCE instead of
    once per face."""
    m = (
        mentions
        if mentions is not None
        else gazetteer_mentions(
            transcripts, dictionary, max_len, broadcast
        )
        # the self-join references the mention table TWICE — without a
        # lineage cut the corpus-scale mention scan runs twice per
        # face (callers passing a prebuilt ``mentions`` already cut)
        .localCheckpoint(eager=False)
    )
    left = m.select(
        "conv_id",
        "turn_idx",
        F.col("entity").alias("subj"),
        F.col("pos").alias("subj_pos"),
    )
    right = m.select(
        "conv_id",
        "turn_idx",
        F.col("entity").alias("obj"),
        F.col("pos").alias("obj_pos"),
    )
    return left.join(right, ["conv_id", "turn_idx"]).where(
        F.col("subj") != F.col("obj")
    )


def distant_supervision(
    transcripts: DataFrame,
    dictionary: DataFrame,
    seed: DataFrame,
    max_len: int = 3,
    broadcast: bool = True,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """(conv_id, turn_idx, pred, subj, obj, subj_pos, obj_pos):
    distant-supervision labeling for relation extraction (Mintz et
    al., ACL 2009) — every ordered pair of DISTINCT gazetteer
    entities co-mentioned in one turn, labeled with the predicate the
    seed KG asserts between them, one row per positional evidence
    pair.  This is how a KG bootstraps its own relation classifier's
    training set: the seed's facts project onto raw transcripts as
    (text context, subj, obj, label) examples with zero manual
    annotation.  Only KG-matched pairs emit (the Mintz positive set);
    the NA/negative class is the complement pair set, sampled
    separately at the caller's class ratio (:func:`kg_negatives` is
    the corruption-based alternative).

    Mention spotting is :func:`gazetteer_mentions` verbatim
    (longest-match-per-start, dictionary as a JOIN side).  The
    co-mention pairing keys on (conv_id, turn_idx) — per-turn mention
    counts are tokenizer-bounded and small, so the self-join's
    per-key fan-out is bounded; the seed join is broadcast when
    dictionary-sized (``broadcast=True``) or a plain shuffled hash
    join for 10⁹-fact seeds, keyed on the well-spread (subj, obj)
    pair.  An entity mentioned at several positions pairs once per
    position pair — each is distinct textual evidence, which is what
    a downstream bag-of-mentions trainer (multi-instance learning)
    consumes.
    """
    pairs = _comention_pairs(
        transcripts, dictionary, max_len, broadcast, mentions
    )
    kb = seed.select("subj", "pred", "obj").distinct()
    if broadcast:
        kb = F.broadcast(kb)
    return pairs.join(kb, ["subj", "obj"]).select(
        "conv_id", "turn_idx", "pred", "subj", "obj",
        "subj_pos", "obj_pos",
    )


def distant_negatives(
    transcripts: DataFrame,
    dictionary: DataFrame,
    seed: DataFrame,
    rate: float = 0.1,
    max_len: int = 3,
    broadcast: bool = True,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """(conv_id, turn_idx, pred, subj, obj, subj_pos, obj_pos): the
    NA class that completes :func:`distant_supervision`'s training
    set — co-mention pairs the seed KG does NOT relate (in either
    role for that pair ordering), labeled ``pred='NA'`` and
    deterministically downsampled at ``rate``.  The complement set is
    quadratically larger than the positive set, so the classifier's
    class ratio is set HERE, at emission, not by a later shuffle-
    heavy rebalance; the md5 hash-Bernoulli (the
    :mod:`ops.sampling` rule, keyed on the full positional evidence
    tuple) makes the sample engine-portable, partitioning-invariant,
    and NESTED across rates — raising the NA ratio later keeps every
    previously emitted row.

    Same single mention-spotting pass and broadcast seed anti-join as
    the positive face (shared :func:`_comention_pairs` builder);
    schema-identical output so the two faces union into one training
    table with no projection glue.
    """
    from .sampling import threshold_hex

    if not 0.0 < rate <= 1.0:
        raise ValueError("distant_negatives: rate must be in (0, 1]")
    pairs = _comention_pairs(
        transcripts, dictionary, max_len, broadcast, mentions
    )
    kb = seed.select("subj", "obj").distinct()
    if broadcast:
        kb = F.broadcast(kb)
    na = pairs.join(kb, ["subj", "obj"], "left_anti")
    thr = threshold_hex(rate)
    if thr is not None:
        key = F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(
                        "\x1f",
                        "conv_id",
                        F.col("turn_idx").cast("string"),
                        "subj",
                        F.col("subj_pos").cast("string"),
                        "obj",
                        F.col("obj_pos").cast("string"),
                    ),
                    "utf-8",
                )
            ),
            1,
            8,
        )
        na = na.where(key < F.lit(thr))
    return na.select(
        "conv_id", "turn_idx", F.lit("NA").alias("pred"),
        "subj", "obj", "subj_pos", "obj_pos",
    )


def triple_diff(
    old: DataFrame,
    new: DataFrame,
    conf_col: str = "confidence",
    keep_unchanged: bool = False,
) -> DataFrame:
    """(subj, pred, obj, status, conf_old, conf_new): what changed
    between two belief snapshots — the KG twin of ``corpus_diff``.
    ``status`` ∈ {added, removed, changed[, unchanged]}: a triple is
    *added* when only the new snapshot asserts it, *removed* when
    only the old one did, *changed* when both assert it at different
    confidence.  This is the review queue an incremental KG build
    publishes per snapshot: downstream consumers re-index exactly
    these rows, and ``functional_conflicts`` triage reads the
    *changed* set first (a confidence that MOVED is evidence in
    motion).

    Exactness: the join key is the triple itself; confidences arrive
    already 6dp-rounded from :func:`triple_confidence`, so the
    equality test is engine-exact.  One full-outer hash join on the
    triple key — at 10¹⁰ beliefs both sides are partitioned by the
    same key and the join co-locates; unchanged rows (the vast
    majority between adjacent snapshots) are dropped before anything
    downstream unless ``keep_unchanged``.
    """
    o = old.select(
        "subj", "pred", "obj", F.col(conf_col).alias("conf_old")
    )
    nw = new.select(
        "subj", "pred", "obj", F.col(conf_col).alias("conf_new")
    )
    j = o.join(nw, ["subj", "pred", "obj"], "full_outer")
    status = (
        F.when(F.col("conf_old").isNull(), F.lit("added"))
        .when(F.col("conf_new").isNull(), F.lit("removed"))
        .when(F.col("conf_old") != F.col("conf_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select("subj", "pred", "obj", status.alias("status"),
                   "conf_old", "conf_new")
    if keep_unchanged:
        return out
    return out.where(F.col("status") != "unchanged")


def bgp_query(
    triples: DataFrame, patterns: list[tuple[str, str, str]]
) -> DataFrame:
    """SPARQL-style basic-graph-pattern evaluation over the triple
    table: each pattern is a (subj, pred, obj) template where a
    ``"?name"`` term is a VARIABLE and anything else is a constant;
    the result has one column per variable and one row per binding
    that satisfies EVERY pattern simultaneously (set semantics, like
    ``SELECT DISTINCT``).  This is the query face a KG is FOR —
    "which conversations mention engine spark AND some op ?o"
    becomes two patterns sharing ``?c`` — and it compiles to exactly
    what a SPARQL engine compiles to: one filtered scan per pattern,
    natural-joined on the shared variables (W3C SPARQL 1.1 BGP
    semantics, join-identity table for the empty pattern list not
    supported — at least one pattern required).

    Catalyst does the SPARQL optimizer's job for free: constants
    push into the triple scans as predicate filters (partition
    pruning on the predicate-partitioned sink), and AQE re-orders /
    broadcasts the equi-joins by measured selectivity — hand-rolled
    join planning would fight it.

    Semantics notes:

    * a variable repeated INSIDE one pattern (``("?x", p, "?x")``)
      constrains equality before projection;
    * patterns sharing no variable form a cross product (legal BGP
      algebra; keep patterns connected unless that is intended —
      the plan makes the CartesianProduct visible);
    * constants match exactly (the triple store is canonicalized
      upstream by design).
    """
    if not patterns:
        raise ValueError("bgp_query: need >= 1 pattern")
    out: DataFrame | None = None
    for s, p, o in patterns:
        t = triples.select("subj", "pred", "obj")
        seen: dict[str, str] = {}
        cols = []
        for col, term in (("subj", s), ("pred", p), ("obj", o)):
            if term.startswith("?"):
                var = term[1:]
                if not var:
                    raise ValueError("bgp_query: empty variable name")
                if var in seen:
                    t = t.where(F.col(col) == F.col(seen[var]))
                else:
                    seen[var] = col
                    cols.append(F.col(col).alias(var))
            else:
                t = t.where(F.col(col) == term)
        if not cols:
            raise ValueError(
                "bgp_query: a pattern with no variables selects "
                "nothing — make it a filter on another pattern"
            )
        t = t.select(*cols).distinct()
        if out is None:
            out = t
        else:
            shared = [c for c in out.columns if c in t.columns]
            out = out.join(t, shared) if shared else out.crossJoin(t)
    return out.distinct()


def interval_align(
    left: DataFrame,
    right: DataFrame,
    keys: tuple[str, ...] = ("subj",),
) -> DataFrame:
    """(keys…, obj_a, obj_b, valid_from, valid_to): the interval
    intersection of two SCD-2 histories — for every key, each period
    during which BOTH attributes held a value, with the aligned value
    pair.  This is the temporal join :func:`kg_at_time` cannot
    express (that probes one instant; this aligns whole histories):
    "what was each user's last_event WHILE their value band was X",
    audit diffs between belief snapshots, co-validity features for
    the linker.

    Inputs are :func:`temporal_triples`-shaped (obj, valid_from,
    valid_to with NULL = open current version).  Intervals are
    half-open [from, to); two versions align iff they overlap:
    ``l.from < r.to AND r.from < l.to`` (NULL to = +∞).  The
    intersection is [greatest(froms), least(tos)] with NULL
    propagating only when BOTH ends are open — so output rows are
    themselves a valid SCD-2 history over the composite attribute.

    Plan shape: an equi-join on the key columns with the overlap
    predicate as a residual filter — never a range-only join, so no
    cartesian anywhere.  Per-key version counts are small by
    construction (SCD-2 compresses runs), so the join output is
    bounded by Σ_key |versions_l| × |versions_r| with both factors
    key-local; hot keys take the AQE skew-split path like any other
    key-equality join.
    """
    ks = list(keys)
    l = left.select(
        *ks,
        F.col("obj").alias("obj_a"),
        F.col("valid_from").alias("from_a"),
        F.col("valid_to").alias("to_a"),
    )
    r = right.select(
        *ks,
        F.col("obj").alias("obj_b"),
        F.col("valid_from").alias("from_b"),
        F.col("valid_to").alias("to_b"),
    )
    overlap = (
        (F.col("to_b").isNull() | (F.col("from_a") < F.col("to_b")))
        & (F.col("to_a").isNull() | (F.col("from_b") < F.col("to_a")))
    )
    return (
        l.join(r, ks)
        .where(overlap)
        .select(
            *ks,
            "obj_a",
            "obj_b",
            F.greatest("from_a", "from_b").alias("valid_from"),
            F.when(
                F.col("to_a").isNull() & F.col("to_b").isNull(),
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.least(
                    F.coalesce("to_a", "to_b"),
                    F.coalesce("to_b", "to_a"),
                )
            )
            .alias("valid_to"),
        )
    )


def entity_profile(evidence: DataFrame) -> DataFrame:
    """(entity, n_evidence, n_convs, n_preds, first_seen, last_seen,
    top_pred, top_pred_n): the per-entity summary card over mention
    evidence (subj=conversation, pred, obj=entity, ts) — the
    at-a-glance table an entity-resolution reviewer or a KG browse UI
    reads before drilling into triples.  ``top_pred`` is the modal
    predicate, ties broken to the smallest predicate string
    (deterministic, the label_propagation convention).

    Plan shape: one groupBy to (entity, pred) counts, a per-entity
    argmax window over those (predicate-cardinality rows, not
    evidence rows), and the per-entity aggregate — all keyed on
    entity, so hot entities cost one skewed key (AQE), never a
    fan-out.  count_distinct(subj) is the only expensive aggregate;
    swap for approx_count_distinct at 10¹² evidence rows if exact
    conversation counts stop earning their shuffle (the
    embedding_norm_stats honesty convention).
    """
    per_pred = (
        evidence.groupBy(F.col("obj").alias("entity"), "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("pn"))
    )
    wtop = Window.partitionBy("entity").orderBy(
        F.desc("pn"), F.asc("pred")
    )
    top = (
        per_pred.withColumn("__r", F.row_number().over(wtop))
        .where(F.col("__r") == 1)
        .select(
            "entity",
            F.col("pred").alias("top_pred"),
            F.col("pn").alias("top_pred_n"),
        )
    )
    base = evidence.groupBy(F.col("obj").alias("entity")).agg(
        F.count(F.lit(1)).cast("long").alias("n_evidence"),
        F.count_distinct(F.col("subj")).cast("long").alias("n_convs"),
        F.count_distinct(F.col("pred")).cast("long").alias("n_preds"),
        F.min("ts").cast("long").alias("first_seen"),
        F.max("ts").cast("long").alias("last_seen"),
    )
    return base.join(top, "entity")


def entity_types(
    evidence: DataFrame,
    pred_types: DataFrame,
    key_col: str = "obj",
) -> DataFrame:
    """(entity, entity_type, votes, total, confidence): type
    inference by predicate signature — each evidence row votes its
    predicate's declared range type onto ``key_col``, the modal type
    wins (ties to the smallest type string), confidence = winning
    votes / typed votes.  With ``key_col="obj"`` this types entities
    from the predicates that mention them (the classic range-typing
    rule); with ``key_col="subj"`` it types conversations by their
    dominant topic — same machinery, the caller picks the side.

    ``pred_types`` is a (pred, obj_type) table — schema-sized, so it
    broadcast-joins; evidence rows whose predicate declares no type
    abstain (inner join).  Plan: one groupBy to (entity, type) votes,
    one argmax window + one total window on those vote rows — all
    keyed on the entity, hot entities ride AQE like everywhere else.
    """
    votes = (
        evidence.join(F.broadcast(pred_types), "pred")
        .groupBy(
            F.col(key_col).alias("entity"),
            F.col("obj_type").alias("entity_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    wtop = Window.partitionBy("entity").orderBy(
        F.desc("votes"), F.asc("entity_type")
    )
    wtot = Window.partitionBy("entity")
    return (
        votes.withColumn("__r", F.row_number().over(wtop))
        .withColumn(
            "total", F.sum("votes").over(wtot).cast("long")
        )
        .where(F.col("__r") == 1)
        .select(
            "entity",
            "entity_type",
            "votes",
            "total",
            F.round(F.col("votes") / F.col("total"), 6).alias(
                "confidence"
            ),
        )
    )


def subclass_closure(
    edges: DataFrame, max_depth: int = 8
) -> DataFrame:
    """(sub, sup, depth): the transitive closure of an ontology's
    subClassOf edge table with the SHORTEST derivation depth — the
    rdfs:subClassOf materialization step of RDFS entailment (rule
    rdfs11): downstream type queries become one equality join against
    this table instead of a runtime graph walk.

    Algorithm: path DOUBLING (the O(log d) trick every bounded-depth
    closure uses at scale) — each round self-joins the current path
    table on ``a.sup = b.sub``, so after r rounds every path of
    length <= 2^r is present; ceil(log2(max_depth)) rounds reach the
    cap with that many shuffles, NOT max_depth of them.  Each round
    ends in a (sub, sup) min-depth groupBy, which both dedups the
    exploding path multiset and makes cycles harmless (a cycle can
    only re-derive pairs at greater depth, which min() discards, and
    nothing exceeds ``max_depth``).  Self-pairs are dropped: the
    output is the strict (irreflexive) closure.

    Taxonomies are tiny next to a corpus (thousands of classes, not
    billions of rows) — the closure is broadcastable into every
    downstream inheritance join; lineage across the unrolled rounds
    is cut the connected-components way (lazy localCheckpoint).
    """
    if max_depth < 1:
        raise ValueError("subclass_closure: max_depth must be >= 1")
    paths = (
        edges.select(
            F.col("sub").cast("string").alias("sub"),
            F.col("sup").cast("string").alias("sup"),
        )
        .where(F.col("sub") != F.col("sup"))
        .distinct()
        .withColumn("depth", F.lit(1).cast("long"))
    )
    rounds = max(0, (max_depth - 1).bit_length())
    for _ in range(rounds):
        a, b = paths.alias("a"), paths.alias("b")
        ext = a.join(
            b, F.col("a.sup") == F.col("b.sub")
        ).select(
            F.col("a.sub").alias("sub"),
            F.col("b.sup").alias("sup"),
            (F.col("a.depth") + F.col("b.depth")).alias("depth"),
        )
        paths = (
            paths.unionByName(ext)
            .where(
                (F.col("depth") <= max_depth)
                & (F.col("sub") != F.col("sup"))
            )
            .groupBy("sub", "sup")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=False)
        )
    return paths


def inherit_types(
    types: DataFrame, closure: DataFrame
) -> DataFrame:
    """(entity, cls, direct): rdf:type inheritance (RDFS rule rdfs9)
    — every entity typed C is also typed every superclass of C in
    the :func:`subclass_closure` table.  ``direct`` marks classes the
    input asserted (an entity both asserted AND derivable as C stays
    direct=true: assertion wins, so provenance survives
    materialization).

    Plan: ONE broadcast join of the corpus-sized type table against
    the taxonomy-sized closure plus a (entity, cls) dedup — the
    shape that holds at 10^10 typed entities because the closure
    side, not the entity side, is the small one.
    """
    direct = types.select(
        F.col("entity").cast("string").alias("entity"),
        F.col("cls").cast("string").alias("cls"),
        F.lit(True).alias("direct"),
    )
    inherited = types.join(
        F.broadcast(closure),
        F.col("cls") == F.col("sub"),
    ).select(
        F.col("entity").cast("string").alias("entity"),
        F.col("sup").alias("cls"),
        F.lit(False).alias("direct"),
    )
    return (
        direct.unionByName(inherited)
        .groupBy("entity", "cls")
        .agg(F.max("direct").alias("direct"))
    )


def materialize_inverses(
    triples: DataFrame,
    inverse_rules: dict[str, str],
    symmetric: tuple[str, ...] = (),
) -> DataFrame:
    """(subj, pred, obj, inferred): OWL-style inverse/symmetric
    predicate materialization — for each rule p -> q, every asserted
    (s, p, o) also entails (o, q, s) (owl:inverseOf); predicates in
    ``symmetric`` entail their own mirror (owl:SymmetricProperty).
    Materializing these once turns every "incoming edge" query into
    a plain forward scan — the denormalization that saves the
    exchange-heavy direction flip on a predicate-partitioned store.

    ``inferred`` is provenance: false for asserted rows, true for
    rows ONLY derivable by a rule (a mirror that was also asserted
    stays inferred=false — min() over the union, same
    assertion-wins convention as :func:`inherit_types`).  Rules are
    a literal CASE chain (rule tables are tiny), so the whole op is
    one projection + one dedup groupBy: no join, no UDF.
    """
    overlap = set(inverse_rules) & set(symmetric)
    if overlap:
        raise ValueError(
            f"materialize_inverses: predicates {sorted(overlap)} are "
            "both inverse-ruled and symmetric"
        )
    if not inverse_rules and not symmetric:
        raise ValueError(
            "materialize_inverses: no rules given (nothing to entail)"
        )
    mapping = {**{p: p for p in symmetric}, **dict(inverse_rules)}
    inv_pred = None
    for p in sorted(mapping):
        arm = (F.col("pred") == p, F.lit(mapping[p]))
        inv_pred = (
            F.when(*arm) if inv_pred is None else inv_pred.when(*arm)
        )
    base = triples.select("subj", "pred", "obj").withColumn(
        "inferred", F.lit(False)
    )
    mirrored = (
        triples.withColumn("__q", inv_pred)
        .where(F.col("__q").isNotNull())
        .select(
            F.col("obj").alias("subj"),
            F.col("__q").alias("pred"),
            F.col("subj").alias("obj"),
            F.lit(True).alias("inferred"),
        )
    )
    return (
        base.unionByName(mirrored)
        .groupBy("subj", "pred", "obj")
        .agg(F.min("inferred").alias("inferred"))
    )


# N-Triples literal escape table (W3C N-Triples canonical form,
# ECHAR) as written by pipeline.triples.to_ntriples (backslash
# first); parse reverses it through a NUL sentinel (NUL cannot occur
# in N-Triples data, so it is collision-free).  Shared with the
# DuckDB twin — every step is a plain replace() both engines execute
# identically.
_NT_ESCAPES: tuple[tuple[str, str], ...] = (
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ("\t", "\\t"),
)


# statement grammar shared with the DuckDB twin: IRI or blank-node
# subject, IRI predicate, IRI / blank / (optionally lang-tagged or
# datatyped) literal object, tab-or-space separated — the W3C
# N-Triples production set real dumps actually use.  A blank-node
# OBJECT must not capture the statement's terminating dot (legal
# with no whitespace before it, and the grammar's BLANK_NODE_LABEL
# never ends in '.'), hence the `[^ \t.]` final-char class.
_NT_STMT = (
    r'^[ \t]*(<[^>]*>|_:[^ \t]+)[ \t]+<([^>]*)>[ \t]+'
    r'(<[^>]*>|_:[^ \t]*[^ \t.]|"(?:[^"\\]|\\.)*"'
    r'(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)[ \t]*\.[ \t]*$'
)


def _uchar_decode(lit: Column) -> Column:
    """Decode W3C UCHAR escapes (``\\uXXXX`` / ``\\UXXXXXXXX``) in an
    already-ECHAR-sentinelled literal column — by the time this runs,
    every LITERAL backslash is the NUL sentinel, so any remaining
    ``\\u``/``\\U`` is a genuine UCHAR escape.  Pure Catalyst: split
    on lookahead at each escape, then per segment turn the hex into
    UTF-16BE bytes (astral codepoints via the surrogate-pair
    arithmetic) and ``decode()`` them — no UDF, no driver loop.
    Malformed escapes (wrong hex count, lone surrogates' bytes are
    still decoded best-effort by the charset) stay verbatim rather
    than erroring — the bulk-load posture.
    """
    segs = F.split(lit, r"(?=\\[uU])", -1)

    def _seg(seg: Column) -> Column:
        hex4 = F.upper(F.substring(seg, 3, 4))
        cp8 = F.conv(F.substring(seg, 3, 8), 16, 10).cast("long")
        v = cp8 - F.lit(0x10000)
        hi = F.lit(0xD800) + F.shiftright(v, 10)
        lo = F.lit(0xDC00) + v.bitwiseAND(F.lit(0x3FF))
        pair = F.concat(
            F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")
        )
        bmp8 = F.lpad(F.hex(cp8), 4, "0")
        return (
            F.when(
                seg.rlike(r"^\\u[0-9A-Fa-f]{4}"),
                F.concat(
                    F.decode(F.unhex(hex4), "UTF-16BE"),
                    F.substring(seg, 7, 2_000_000_000),
                ),
            )
            .when(
                seg.rlike(r"^\\U[0-9A-Fa-f]{8}"),
                F.concat(
                    F.decode(
                        F.unhex(
                            F.when(cp8 > 0xFFFF, pair).otherwise(bmp8)
                        ),
                        "UTF-16BE",
                    ),
                    F.substring(seg, 11, 2_000_000_000),
                ),
            )
            .otherwise(seg)
        )

    decoded = F.array_join(F.transform(segs, _seg), "")
    # hot path: rows without any UCHAR escape skip the split entirely
    return F.when(
        lit.contains("\\u") | lit.contains("\\U"), decoded
    ).otherwise(lit)


def parse_ntriples(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """(subj, pred, obj, obj_kind, obj_qualifier): parse N-Triples
    statement lines into a triple table — the INGEST face (loading a
    public RDF dump, or round-tripping
    :func:`coies_spark.pipeline.triples.to_ntriples` output).
    Covers what real dumps contain: IRI and blank-node (``_:b0``)
    subjects/objects, plain, language-tagged (``"x"@en``) and
    datatyped (``"1"^^<…int>``) literals, UCHAR escapes
    (``\\uXXXX`` / ``\\UXXXXXXXX``, decoded JVM-side incl. astral
    codepoints), tab-or-multi-space term separation, and the
    whitespace-free terminating dot after a blank-node object.  Genuinely malformed lines are dropped (the regex is
    the filter) — the documented bulk-load posture: count-based QA
    happens downstream, not via per-row exceptions.

    * IRI terms come back WITHOUT angle brackets (the full IRI — no
      base-stripping guesswork); blank-node labels verbatim;
    * ``obj_kind`` ∈ ('iri', 'literal', 'blank');
    * ``obj_qualifier`` carries the literal's language tag or
      datatype IRI (NULL for plain literals and non-literals) — the
      VALUE arrives unescaped in ``obj`` either way;
    * literals are ECHAR-unescaped through a NUL sentinel so
      ``\\\\n`` (an escaped backslash + n) never collapses into a
      newline — the property that makes the serialize→parse pair the
      identity on literals.

    Pure projection + filter, embarrassingly parallel.
    """
    parsed = lines.select(
        F.regexp_extract(F.col(line_col), _NT_STMT, 1).alias("rawsubj"),
        F.regexp_extract(F.col(line_col), _NT_STMT, 2).alias("pred"),
        F.regexp_extract(F.col(line_col), _NT_STMT, 3).alias("rawobj"),
    ).where(F.col("rawsubj") != "")
    subj = F.when(
        F.col("rawsubj").startswith("<"),
        F.substring(F.col("rawsubj"), 2, F.length("rawsubj") - 2),
    ).otherwise(F.col("rawsubj"))
    kind = (
        F.when(F.col("rawobj").startswith("<"), F.lit("iri"))
        .when(F.col("rawobj").startswith("_:"), F.lit("blank"))
        .otherwise(F.lit("literal"))
    )
    iri_inner = F.substring(
        F.col("rawobj"), 2, F.length("rawobj") - 2
    )
    lit_inner = F.regexp_extract(
        F.col("rawobj"), r'^"((?:[^"\\]|\\.)*)"', 1
    )
    lit = F.replace(lit_inner, F.lit("\\\\"), F.lit("\x00"))
    for raw, esc in _NT_ESCAPES[1:]:
        lit = F.replace(lit, F.lit(esc), F.lit(raw))
    # UCHAR (\uXXXX / \UXXXXXXXX) decode AFTER the backslash sentinel
    # (a serialized \\u0041 — literal backslash + u0041 — must come
    # back as those five chars, never decode) and BEFORE the restore
    lit = _uchar_decode(lit)
    lit = F.replace(lit, F.lit("\x00"), F.lit("\\"))
    lang = F.regexp_extract(F.col("rawobj"), r'@([A-Za-z0-9-]+)$', 1)
    dtype = F.regexp_extract(F.col("rawobj"), r'\^\^<([^>]*)>$', 1)
    qualifier = F.when(
        (kind == "literal") & (lang != ""), lang
    ).when((kind == "literal") & (dtype != ""), dtype)
    return parsed.select(
        subj.alias("subj"),
        "pred",
        F.when(kind == "iri", iri_inner)
        .when(kind == "blank", F.col("rawobj"))
        .otherwise(lit)
        .alias("obj"),
        kind.alias("obj_kind"),
        qualifier.alias("obj_qualifier"),
    )


def path_query(
    triples: DataFrame,
    path: tuple[str, ...],
    start: str | None = None,
) -> DataFrame:
    """(start, end): endpoint pairs connected by the predicate
    SEQUENCE ``path`` = (p1, ..., pk) — SPARQL property paths of the
    ``p1/p2/.../pk`` form (sequence paths; the other SPARQL path
    operator families map onto existing ops: ``p+`` is
    :func:`subclass_closure` over the p-filtered edge set, ``p|q``
    is a union of two path_query calls, ``^p`` swaps the join side).
    :func:`bgp_query` answers "which bindings satisfy this star
    shape"; THIS answers "what does following this relation chain
    reach" — the navigational half of a KG query engine.

    Plan: k-1 equi-joins, each against the triple store FILTERED to
    one predicate — on a predicate-partitioned store
    (pipeline.triples' layout) every hop is a partition-pruned read
    of just its predicate (the tests/test_plans.py:155 property),
    and each join key is the frontier's current node set, never the
    whole store.  ``start`` pushes an origin filter into hop 1, so
    single-entity navigation never materializes the global frontier.
    Output pairs are distinct (path multiplicity collapsed — SPARQL
    path semantics, which is also what keeps the frontier from
    exploding on diamond shapes).
    """
    if not path:
        raise ValueError("path_query: path must be non-empty")
    hop = triples.where(F.col("pred") == path[0])
    if start is not None:
        hop = hop.where(F.col("subj") == start)
    frontier = hop.select(
        F.col("subj").alias("start"), F.col("obj").alias("end")
    ).distinct()
    for p in path[1:]:
        nxt = triples.where(F.col("pred") == p).select(
            F.col("subj").alias("__n"), F.col("obj").alias("__o")
        )
        frontier = (
            frontier.join(nxt, F.col("end") == F.col("__n"))
            .select("start", F.col("__o").alias("end"))
            .distinct()
        )
    return frontier


def mine_path_rules(
    triples: DataFrame, min_support: int = 1
) -> DataFrame:
    """(p1, p2, p3, n_paths, support, confidence): AMIE-style 2-hop
    horn-rule mining — for every predicate triple (p1, p2, p3), how
    often does the path body ``p1(x,y) ∧ p2(y,z)`` imply the direct
    head ``p3(x,z)``?  (Galárraga et al., WWW 2013: support = number
    of (x,z) endpoint pairs satisfying body AND head; confidence =
    support / number of endpoint pairs satisfying the body — the
    closed-world PCA-free baseline.)  High-confidence rules are the
    KG-completion proposal set: they predict missing p3 edges
    wherever the path exists without the shortcut, and they expose
    redundant predicates an extractor emits twice under two names.

    Plan: one triple self-join on the shared midpoint (distinct
    endpoint pairs per predicate pair — the same multiplicity
    collapse as :func:`path_query`, which also bounds the diamond
    blow-up), one endpoint-join against the direct edges, and two
    predicate-pair-sized groupBys.  At 10^10 triples the midpoint
    join is the cost — it shuffles on entity ids, which is exactly
    the join AQE's skew handling and the hub-salting signal
    (:func:`~coies_spark.operators.graph.degree_histogram`) exist
    for.  Output is |preds|³-bounded (tiny).
    """
    if min_support < 1:
        raise ValueError("mine_path_rules: min_support must be >= 1")
    t = triples.select("subj", "pred", "obj").distinct()
    a = t.select(
        F.col("subj").alias("__s"),
        F.col("pred").alias("p1"),
        F.col("obj").alias("__m"),
    )
    b = t.select(
        F.col("subj").alias("__m2"),
        F.col("pred").alias("p2"),
        F.col("obj").alias("__o"),
    )
    paths = (
        a.join(b, F.col("__m") == F.col("__m2"))
        .select("__s", "p1", "p2", "__o")
        .distinct()
    )
    body = paths.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths")
    )
    head = t.select(
        F.col("subj").alias("__s"),
        F.col("pred").alias("p3"),
        F.col("obj").alias("__o"),
    )
    support = (
        paths.join(head, ["__s", "__o"])
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    return support.join(body, ["p1", "p2"]).select(
        "p1",
        "p2",
        "p3",
        "n_paths",
        "support",
        F.round(F.col("support") / F.col("n_paths"), 6).alias(
            "confidence"
        ),
    )


def apply_rules(
    beliefs: DataFrame,
    rules: DataFrame,
    min_confidence: float = 0.0,
) -> DataFrame:
    """(subj, pred, obj, n_derivations, confidence): SYMBOLIC KG
    completion — apply 2-hop horn rules ``p1(x,y) ∧ p2(y,z) ⇒
    p3(x,z)`` to a belief table and emit the NEW facts they derive,
    with confidence = rule_confidence · conf(body₁) · conf(body₂)
    (the probabilistic-soft-logic product t-norm), the MAX over all
    derivations and rules deriving the same triple, rounded 6dp once
    at the edge.  This is the consumer :func:`mine_path_rules` was
    built for — mine → apply → grown KG, the SYMBOLIC completion
    route that runs beside the learned one
    (``pipeline/kg_bootstrap.py``'s detector): rules are auditable
    and per-derivation explainable where the detector generalizes.

    ``beliefs`` is (subj, pred, obj, confidence) (the
    :func:`triple_confidence` face); ``rules`` is (p1, p2, p3,
    confidence) (the :func:`mine_path_rules` face — feed its output
    through a confidence threshold).  Facts already present in
    ``beliefs`` are anti-joined away: the output is strictly the
    completion frontier.  ``min_confidence`` drops weak derivations
    before the aggregate.

    Scale: ONE midpoint-keyed self-join of the belief table (the
    :func:`mine_path_rules` shape — shuffles on entity ids, AQE-skew
    territory for hubs) gated by a BROADCAST join against the
    rule table on (p1, p2) — so only rule-matching body pairs
    materialize, not all 2-hop paths; then one (subj, pred, obj)
    aggregate and one anti-join.  Derivation confidences are fixed
    IEEE product trees, max is order-free, so the output is
    engine-exact.
    """
    b = beliefs.select("subj", "pred", "obj", "confidence").distinct()
    r = rules.select(
        "p1", "p2", "p3", F.col("confidence").alias("rule_conf")
    )
    left = b.select(
        F.col("subj").alias("__x"),
        F.col("pred").alias("p1"),
        F.col("obj").alias("__m"),
        F.col("confidence").alias("__c1"),
    )
    right = b.select(
        F.col("subj").alias("__m2"),
        F.col("pred").alias("__p2"),
        F.col("obj").alias("__z"),
        F.col("confidence").alias("__c2"),
    )
    derived = (
        left.join(F.broadcast(r), "p1")
        .join(
            right,
            (F.col("__m") == F.col("__m2"))
            & (F.col("__p2") == F.col("p2")),
        )
        .select(
            F.col("__x").alias("subj"),
            F.col("p3").alias("pred"),
            F.col("__z").alias("obj"),
            (
                F.col("rule_conf") * F.col("__c1") * F.col("__c2")
            ).alias("__dc"),
        )
        .where(F.col("__dc") >= F.lit(float(min_confidence)))
    )
    agg = derived.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_derivations"),
        F.round(F.max("__dc"), 6).alias("confidence"),
    )
    return agg.join(
        b.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"],
        "left_anti",
    )


def forward_chain(
    beliefs: DataFrame,
    rules: DataFrame,
    rounds: int = 2,
    min_confidence: float = 0.0,
) -> DataFrame:
    """(subj, pred, obj, round, n_derivations, confidence): bounded
    FORWARD CHAINING — :func:`apply_rules` unrolled ``rounds`` times,
    each round's newly derived facts (tagged with the round that
    first derived them) feeding the next round as rule bodies.  With
    a transitivity rule this materializes multi-hop closures
    (grandparents in round 1, great-grandparents in round 2 — the
    RDFS entailment regime) with product-t-norm confidences that
    decay along the chain, exactly the auditability the learned
    completion routes lack.

    A fact is emitted once, in the FIRST round that derives it (the
    anti-join inside :func:`apply_rules` sees the accumulated belief
    set); a round deriving nothing leaves every later round empty,
    so a ``rounds`` larger than the chain depth is harmless — the
    loop is a fixed unrolled plan with no driver-side convergence
    probe (the :func:`khop_reachability` convention), and the
    accumulated frame localCheckpoints per round to cut lineage.

    Scale: ``rounds`` × the :func:`apply_rules` shape (one
    midpoint-keyed self-join of the growing belief table, broadcast
    rules, one aggregate, one anti-join); the belief table grows by
    each round's frontier only.
    """
    if rounds < 1:
        raise ValueError("forward_chain: rounds must be >= 1")
    current = (
        beliefs.select("subj", "pred", "obj", "confidence")
        .distinct()
        .localCheckpoint(eager=False)
    )
    out = None
    for k in range(1, rounds + 1):
        new = apply_rules(current, rules, min_confidence)
        tagged = new.select(
            "subj",
            "pred",
            "obj",
            F.lit(k).cast("long").alias("round"),
            "n_derivations",
            "confidence",
        )
        out = tagged if out is None else out.unionByName(tagged)
        current = current.unionByName(
            new.select("subj", "pred", "obj", "confidence")
        ).localCheckpoint(eager=False)
    return out


def disambiguate_by_coherence(
    mentions: DataFrame,
    candidates: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """(conv_id, surface, entity, coherence, n_candidates): collective
    entity disambiguation by LOCAL COHERENCE — for each ambiguous
    mention, pick the candidate entity most connected to the
    conversation's unambiguous entities (the AIDA rule, Hoffart et
    al., EMNLP 2011, reduced to its 1-hop deterministic core: the
    seed set is every surface with exactly one dictionary candidate,
    and a candidate's score is the summed edge weight to the seeds
    co-mentioned in the SAME conversation).  This is the stage after
    broadcast dictionary linking: the dictionary says "spark could be
    the engine or the plug"; the conversation's other entities say
    which.

    * ``mentions``: (conv_id, surface) — the detected mention table;
    * ``candidates``: (surface, entity) — the dictionary, 1..k rows
      per surface; single-candidate surfaces become seeds;
    * ``edges``: (a, b, weight) — any entity coherence graph
      (:func:`~coies_spark.operators.graph.pmi_edges` output, raw
      co-occurrence counts, alias confidences); treated undirected.

    Unambiguous mentions pass through with coherence NULL (nothing
    to decide).  Ambiguous candidates with NO seed support score
    NULL and lose to any scored sibling; an entirely unsupported
    mention resolves to its smallest candidate entity (deterministic,
    and honest: coherence NULL says the graph had no opinion).

    Plan: the candidate table is dictionary-sized → broadcast; the
    scoring join fans each ambiguous mention out to (candidates ×
    conversation seeds) and collapses immediately in a
    map-side-combinable sum — bounded by mention count × k × seeds
    per conversation, never corpus².
    """
    # dictionaries merged from several sources repeat rows; a
    # duplicate (surface, entity) must not fake ambiguity (it would
    # silently drain the seed set), so candidacy is set-valued
    cands = candidates.select("surface", "entity").distinct()
    k = cands.groupBy("surface").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    cand = cands.join(k, "surface")
    linked = mentions.select("conv_id", "surface").distinct().join(
        F.broadcast(cand), "surface"
    )
    seeds = (
        linked.where(F.col("n_candidates") == 1)
        .select("conv_id", F.col("entity").alias("__seed"))
        .distinct()
    )
    sym = edges.select(
        F.col("a").alias("__x"), F.col("b").alias("__y"), "weight"
    ).unionByName(
        edges.select(
            F.col("b").alias("__x"), F.col("a").alias("__y"), "weight"
        )
    )
    amb = linked.where(F.col("n_candidates") > 1)
    seeds_r = seeds.select(
        F.col("conv_id").alias("__sconv"), "__seed"
    )
    scored = (
        amb.join(sym, F.col("entity") == F.col("__x"))
        .join(
            seeds_r,
            (F.col("conv_id") == F.col("__sconv"))
            & (F.col("__y") == F.col("__seed")),
        )
        .groupBy("conv_id", "surface", "entity")
        .agg(F.round(F.sum("weight"), 6).alias("coherence"))
    )
    ranked = amb.join(
        scored,
        ["conv_id", "surface", "entity"],
        "left",
    )
    w = Window.partitionBy("conv_id", "surface").orderBy(
        F.desc_nulls_last("coherence"), F.asc("entity")
    )
    winners = (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "conv_id", "surface", "entity", "coherence", "n_candidates"
        )
    )
    passthrough = linked.where(F.col("n_candidates") == 1).select(
        "conv_id",
        "surface",
        "entity",
        F.lit(None).cast("double").alias("coherence"),
        "n_candidates",
    )
    return winners.unionByName(passthrough)


def mention_salience(evidence: DataFrame) -> DataFrame:
    """(conv_id, entity, n_mentions, tf, idf, salience): what is this
    conversation ABOUT — tf-idf over the mention evidence, the
    aboutness ranking that picks triple SUBJECTS and conversation
    topics (an entity mentioned five times in one conversation but
    everywhere in the corpus is background; one mentioned twice but
    rarely elsewhere is the subject).

    * tf = mentions of the entity in the conversation / total
      mentions in the conversation (round 6);
    * idf = ln(N_conversations / conversations containing the
      entity), natural log, round 6 — 0 for an entity present in
      every conversation (fully background);
    * salience = round(tf · idf, 6), computed from the ROUNDED
      factors so every engine derives the identical ranking.

    Two map-side-combinable groupBys ((conv, entity) then the two
    marginals), one broadcastable entity-side join, one 1-row N
    broadcast.  Input is any (subj, obj) evidence frame
    (:func:`mention_evidence` output: subj = conversation).
    """
    ce = evidence.select(
        F.col("subj").alias("conv_id"), F.col("obj").alias("entity")
    )
    counts = ce.groupBy("conv_id", "entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions")
    )
    conv_tot = counts.groupBy("conv_id").agg(
        F.sum("n_mentions").cast("long").alias("__tot")
    )
    ent_df = counts.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    n = counts.select("conv_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    return (
        counts.join(conv_tot, "conv_id")
        .join(F.broadcast(ent_df), "entity")
        .crossJoin(F.broadcast(n))
        .select(
            "conv_id",
            "entity",
            "n_mentions",
            F.round(F.col("n_mentions") / F.col("__tot"), 6).alias("tf"),
            F.round(F.log(F.col("__n") / F.col("__df")), 6).alias("idf"),
        )
        .withColumn(
            "salience", F.round(F.col("tf") * F.col("idf"), 6)
        )
    )


def _truth_rounds(
    claims: DataFrame,
    iters: int,
    prior: float,
    damp: float,
    init: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared fixed-point core of :func:`truth_discovery` /
    :func:`source_trust` (one builder, both faces — the
    ``em_linkage``/``linkage_scores`` pattern, so the two query faces
    can never drift apart).  Returns (facts, trust) after ``iters``
    alternations:

    * τ_s = round(-ln(1 - damp · min(t_s, 1-1e-6)), 9) — a source's
      "trust mass"; the clamp keeps a perfect-trust source finite on
      every engine (Spark NULL vs DuckDB -inf otherwise).  ``damp``
      is TruthFinder's independence dampening (γ, Yin et al. §4.3):
      without it a LONE source's claims come back with confidence
      equal to its own trust, so an uncorroborated feed certifies
      itself forever; with damp < 1 a lone wolf decays geometrically
      (t → damp·t → …) while corroborated sources converge to the
      positive fixed point t* = (2·damp − 1)/damp² (damp must exceed
      0.5 for that fixed point to exist — validated);
    * conf_f = round(1 - exp(-Σ τ_s), 9) over the fact's asserting
      sources — noisy-OR in log space, the same map-side-combinable
      SUM shape as :func:`triple_confidence`;
    * t_s' = round(Σ conf_f / n_claims_s, 9) — a source is as
      trustworthy as the average confidence of what it asserts.

    Every cross-source / cross-fact sum is taken in
    ``decimal(28,12)`` over terms already rounded to 9dp, so the sum
    is EXACT under any partitioning or visit order — the same trick
    that makes the classifier GD loop bit-identical on Spark and
    DuckDB (``ops/classify.py``).  Divisions and exp/ln run in
    doubles with a fixed operation order, re-rounded 9dp before
    feeding the next round.

    ``init`` warm-starts from a previously fitted (source, trust)
    table (:func:`source_trust` output) — the daily-refresh path:
    because every round is a deterministic function of (claims,
    trust), ``rounds(k, init=rounds(j))`` on the same claims IS
    ``rounds(j+k)`` exactly (pinned by test).  Sources absent from
    ``init`` (new feeds) start at the ``prior``; init sources absent
    from this batch's claims simply contribute nothing (their trust
    re-enters whenever they next assert).
    """
    if iters < 1:
        raise ValueError("truth_discovery: iters must be >= 1")
    if not 0.5 < damp <= 1.0:
        raise ValueError("truth_discovery: damp must be in (0.5, 1]")
    dec = "decimal(28,12)"
    # ONE upfront shuffle: claims live hash-partitioned on the triple
    # key for the whole fixed point.  Each round then costs (a) a
    # map-side broadcast join against the SOURCE-SIZED trust table
    # (sources are feeds/domains — broadcastable by construction; the
    # corpus-sized claims never move), (b) a fact aggregate that
    # reuses the existing triple partitioning (no exchange), and (c)
    # one source-sized aggregate exchange of map-combined partials —
    # the only per-round shuffle, and it is tiny.
    # Per-round cost: the claims⋈trust join is MAP-SIDE (trust is
    # source-sized — feeds/domains — and explicitly broadcast, so the
    # corpus never moves for it); the fact aggregate exchanges only
    # map-combined partials (≤ distinct triples per partition); the
    # trust update joins claims⋈facts on the triple key and folds to
    # a source-sized aggregate.  A pre-partitioned cache cannot
    # remove the remaining exchanges under AQE (cached-plan output
    # partitioning is not reusable — measured, not assumed), so the
    # claims frame simply localCheckpoints once, the repo convention.
    cl = (
        claims.select("source", "subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    srcs = cl.select("source").distinct()
    if init is None:
        trust = srcs.select("source", F.lit(float(prior)).alias("t"))
    else:
        trust = srcs.join(
            F.broadcast(
                init.select(
                    "source", F.col("trust").cast("double").alias("__t0")
                )
            ),
            "source",
            "left",
        ).select(
            "source",
            F.coalesce("__t0", F.lit(float(prior))).alias("t"),
        )
    facts = None
    for _ in range(iters):
        tau = (
            F.floor(
                -F.log(
                    F.lit(1.0)
                    - F.lit(float(damp))
                    * F.least(F.col("t"), F.lit(1.0 - 1e-6))
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        )
        facts = (
            cl.join(F.broadcast(trust), "source")
            .select("subj", "pred", "obj", tau.alias("tau"))
            .groupBy("subj", "pred", "obj")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sources"),
                (
                    F.floor(
                        (
                            F.lit(1.0)
                            - F.exp(
                                -F.sum(F.col("tau").cast(dec)).cast(
                                    "double"
                                )
                            )
                        )
                        * F.lit(1e9)
                        + F.lit(0.5)
                    )
                    / F.lit(1e9)
                ).alias("conf"),
            )
        )
        trust = (
            cl.join(facts, ["subj", "pred", "obj"])
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_claims"),
                (
                    F.floor(
                        F.sum(F.col("conf").cast(dec)).cast("double")
                        / F.count(F.lit(1))
                        * F.lit(1e9)
                        + F.lit(0.5)
                    )
                    / F.lit(1e9)
                ).alias("t"),
            )
        )
    return facts, trust


def truth_discovery(
    claims: DataFrame,
    iters: int = 4,
    prior: float = 0.8,
    damp: float = 0.8,
    init: DataFrame | None = None,
) -> DataFrame:
    """(subj, pred, obj, n_sources, confidence, is_winner): joint
    source-reliability / fact-confidence estimation over CONFLICTING
    claims — the Knowledge-Vault-style resolver (Dong et al., KDD'14)
    in its TruthFinder form (Yin, Han & Yu, TKDE 2008), simplified to
    the noisy-OR vote this module already uses for evidence
    (:func:`triple_confidence`): trusted sources lend more weight,
    and sources that keep asserting high-confidence facts earn trust.

    ``claims`` is (source, subj, pred, obj); duplicate assertions by
    one source collapse to one vote (DISTINCT) so a chatty source
    cannot out-shout the consensus.  ``is_winner`` marks, per
    (subj, pred), the resolved value: highest confidence, then more
    sources, then lexicographic ``obj`` — a pinned total order, so
    the resolved KG is byte-identical on any engine or partitioning.
    Unlike :func:`functional_conflicts`' latest-strongest rule (which
    trusts recency), this resolver trusts SOURCES — the right tool
    when the same unreliable feed keeps re-asserting a wrong value
    with fresh timestamps.

    Scale: ``iters`` (fixed, small) rounds of two map-side-combinable
    shuffles each — claims⋈trust on ``source``, then the fact
    aggregate on the triple key; the trust table is source-sized, the
    fact table triple-sized, and the claims frame is localCheckpointed
    once and re-read per round (lineage stays flat).  Head-heavy
    predicates spread because the aggregate key includes subj; no
    step is all-pairs and nothing collects to the driver.
    """
    facts, _ = _truth_rounds(claims, iters, prior, damp, init)
    w = Window.partitionBy("subj", "pred").orderBy(
        F.col("conf").desc(), F.col("n_sources").desc(), F.col("obj").asc()
    )
    return facts.select(
        "subj",
        "pred",
        "obj",
        "n_sources",
        F.round("conf", 6).alias("confidence"),
        (F.row_number().over(w) == 1).alias("is_winner"),
    )


def source_trust(
    claims: DataFrame,
    iters: int = 4,
    prior: float = 0.8,
    damp: float = 0.8,
    init: DataFrame | None = None,
) -> DataFrame:
    """(source, n_claims, trust): the source face of
    :func:`truth_discovery` — the fitted per-source reliability after
    the same ``iters`` alternations (shared core, so the two faces
    are always consistent).  This is the feed-health gauge: a source
    whose trust decays below the ``prior`` keeps asserting values the
    consensus rejects, the signal to quarantine the feed upstream.
    """
    _, trust = _truth_rounds(claims, iters, prior, damp, init)
    return trust.select(
        "source", "n_claims", F.round("t", 6).alias("trust")
    )


def kg_align(
    triples_a: DataFrame,
    triples_b: DataFrame,
    max_postings: int = 1000,
) -> DataFrame:
    """(entity_a, entity_b, n_shared, jaccard, is_aligned): one-to-one
    entity ALIGNMENT between two knowledge graphs with disjoint id
    spaces — the seed-alignment step of every KG-merge (acquiring a
    second KG, reconciling two extraction runs, entity linking into an
    external ontology).  Distinct from :mod:`linkage` (pairwise record
    ER inside ONE id space): here the signal is STRUCTURAL — two
    entities are alignable when they ground to the same literal
    attribute space — and the output is constrained one-to-one.

    * candidates: entities sharing ≥ 1 (pred, obj) attribute, found by
      an inverted-index equi-join on the attribute — never A×B;
    * jaccard = shared / (attrs_a + attrs_b - shared) over DISTINCT
      (pred, obj) sets, round 6;
    * ``is_aligned`` marks RECIPROCAL best matches: b is a's top
      candidate AND a is b's (ties: higher n_shared, then lexicographic
      partner id — a pinned total order), the standard high-precision
      alignment rule (mutual nearest neighbors).  Non-reciprocal
      candidates stay in the output as review rows.

    Scale: the inverted-index join fans out quadratically on hot
    attributes (a (pred, obj) held by 10⁶ entities per side is a
    stop-attribute, alignment-useless by the same tf-idf logic as
    :func:`mention_salience`); ``max_postings`` drops attributes held
    by more than that many entities on either side BEFORE the join —
    the two-phase document-frequency cap the dedup family uses.  The
    join then shuffles on the attribute key, the Jaccard aggregate on
    the candidate pair, and the two best-match windows partition by
    one entity each — head-heavy entities spread across their
    candidates, nothing is all-pairs.
    """
    if max_postings < 1:
        raise ValueError("kg_align: max_postings must be >= 1")

    # the candidate join fans out ~posting² rows per shared attribute
    # from a tiny probe input, so AQE (which sizes partitions from
    # JOIN INPUT bytes) would coalesce the probe side to ~1 task and
    # serialize the fan-out (guide §2.5: exploding join).  Instead,
    # hash-partition side A by entity ONCE, explicitly: the distinct,
    # the per-entity attr count, the fan-out join (broadcast build),
    # the (entity_a, entity_b) candidate aggregate, and the entity_a
    # best-match window ALL have their clustering requirement
    # satisfied by this single exchange (grouping keys are supersets
    # of entity_a), so the multi-million-row candidate table never
    # crosses an exchange until the entity_b window.  The partition
    # count scales with the cluster (defaultParallelism), with fan-out
    # headroom — never a constant tuned to one machine.
    n_part = (
        triples_a.sparkSession.sparkContext.defaultParallelism * 4
    )

    def _attrs(t: DataFrame, side: str) -> DataFrame:
        return (
            t.select(
                F.col("subj").alias(f"entity_{side}"), "pred", "obj"
            )
            .distinct()
        )

    a = (
        triples_a.select(
            F.col("subj").alias("entity_a"), "pred", "obj"
        )
        .repartition(n_part, "entity_a")
        .dropDuplicates()
    )
    b = _attrs(triples_b, "b")
    # per-side attribute set sizes (for the Jaccard denominator)
    na = a.groupBy("entity_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    nb = b.groupBy("entity_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    # stop-attribute cap: posting-list length per side
    fa = a.groupBy("pred", "obj").agg(F.count(F.lit(1)).alias("df_a"))
    fb = b.groupBy("pred", "obj").agg(F.count(F.lit(1)).alias("df_b"))
    keep = (
        fa.join(fb, ["pred", "obj"])
        .where(
            (F.col("df_a") <= max_postings)
            & (F.col("df_b") <= max_postings)
        )
        .select("pred", "obj")
    )
    shared = (
        a.join(keep, ["pred", "obj"])
        .join(b.join(keep, ["pred", "obj"]), ["pred", "obj"])
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    cand = (
        shared.join(na, "entity_a")
        .join(nb, "entity_b")
        .select(
            "entity_a",
            "entity_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
    wa = Window.partitionBy("entity_a").orderBy(
        F.col("jaccard").desc(),
        F.col("n_shared").desc(),
        F.col("entity_b").asc(),
    )
    wb = Window.partitionBy("entity_b").orderBy(
        F.col("jaccard").desc(),
        F.col("n_shared").desc(),
        F.col("entity_a").asc(),
    )
    return cand.select(
        "entity_a",
        "entity_b",
        "n_shared",
        "jaccard",
        (
            (F.row_number().over(wa) == 1)
            & (F.row_number().over(wb) == 1)
        ).alias("is_aligned"),
    )
