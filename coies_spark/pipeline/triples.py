"""Stage 5 + end-to-end runner: triple materialization.

Triples (subj, pred, obj) are deduplicated keeping the max detection
score, written partitioned by ``pred`` (predicate cardinality is tiny —
entity types — so partition-per-pred gives perfect pruning for
per-predicate consumers; head-heavy predicates are no hazard at write
time because rows within a partition spread across tasks).

``run_pipeline`` wires assemble → detect → link → canonicalize →
triples through a ``StageRunner`` so every stage checkpoints and the
whole pipeline resumes mid-run.
"""

from __future__ import annotations

from dataclasses import asdict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.oneshot import ExampleArtifacts
from ..operators.spread import spread_to_slots
from ..ops.kg import entity_degrees, temporal_triples, triple_confidence
from .canonicalize import canonicalize
from .checkpoint import MANIFEST, StageRunner
from .extract import assemble_docs, detect_mentions
from .linking import link_mentions


def materialize_triples(canonical: DataFrame) -> DataFrame:
    """(subj, pred, obj, score): subj = canonical entity id for linked
    comp-like predicates, else the conversation id; dedup keeps max
    score per triple."""
    return (
        canonical.select(
            F.col("canonical_id").alias("subj"),
            "pred",
            "obj",
            "score",
            "conv_id",
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("score").alias("score"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


def conv_triples(mentions: DataFrame) -> DataFrame:
    """Pre-canonicalization triples keyed by conversation —
    (subj=conv_id, pred, obj), the parity surface vs the reference
    (its extractions are per test file)."""
    return (
        mentions.select(
            F.col("conv_id").alias("subj"), "pred", "obj", "score"
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.max("score").alias("score"))
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    artifacts: ExampleArtifacts,
    work_dir: str,
    dictionary: Optional[DataFrame] = None,
    tagged_transcripts: Optional[DataFrame] = None,
    with_beliefs: bool = False,
) -> StageRunner:
    """Full checkpointed run; returns the StageRunner (stage dfs +
    metrics).  Fingerprint covers the extraction config so changing any
    parameter invalidates downstream snapshots.

    ``with_beliefs=True`` appends the evidence→belief stages
    (``ops.kg``): per-mention evidence rows timestamped with their
    conversation's last turn, noisy-OR triple confidences, SCD-2
    temporal validity intervals, and the entity-degree skew gauge —
    each its own resumable snapshot.
    """
    runner = StageRunner(
        spark,
        work_dir,
        fingerprint={
            "config": asdict(artifacts.config),
            "n_seeds": len(artifacts.seeds),
        },
    )
    docs = runner.stage(
        "s1_docs", lambda: assemble_docs(transcripts, tagged_transcripts)
    )
    # the s1 snapshot is often narrower than the task slots (AQE
    # coalesces a small assembly to one file); detection is the CPU of
    # the build, so spread it — on the snapshot read-back, which plans
    # without running a job
    mentions = runner.stage(
        "s2_mentions",
        lambda: detect_mentions(spread_to_slots(docs), artifacts),
    )
    if dictionary is not None:
        linked = runner.stage(
            "s3_linked", lambda: link_mentions(mentions, dictionary)
        )
        canonical = runner.stage(
            "s4_canonical", lambda: canonicalize(linked)
        )
        runner.stage(
            "s5_triples",
            lambda: materialize_triples(canonical),
            partition_by=["pred"],
        )
        subj_rows = canonical.select(
            F.col("canonical_id").alias("subj"),
            "pred",
            "obj",
            "score",
            "conv_id",
        )
    else:
        runner.stage(
            "s5_triples",
            lambda: conv_triples(mentions),
            partition_by=["pred"],
        )
        subj_rows = mentions.select(
            F.col("conv_id").alias("subj"), "pred", "obj", "score", "conv_id"
        )
    if with_beliefs:
        evidence = runner.stage(
            "s6_evidence", lambda: mention_evidence_rows(transcripts, subj_rows)
        )
        # with_state=True persists the unrounded lg_sum sufficient
        # statistic so upsert_beliefs can fold new batches EXACTLY
        runner.stage(
            "s7_beliefs",
            lambda: triple_confidence(evidence, with_state=True),
            partition_by=["pred"],
        )
        runner.stage(
            "s8_temporal",
            lambda: temporal_triples(evidence),
            partition_by=["pred"],
        )
        runner.stage(
            "s9_degrees",
            lambda: entity_degrees(evidence.select("subj", "pred", "obj")),
        )
    return runner


def mention_evidence_rows(
    transcripts: DataFrame, subj_rows: DataFrame
) -> DataFrame:
    """(subj, pred, obj, ts, score): detection rows timestamped with
    their conversation's LAST turn — the moment the conversation (and
    hence its evidence) completed.

    The per-conv timestamp aggregation and the evidence join both key
    on conv_id — the same exchange the upstream stages already use, so
    at 10¹²-turn scale this is one co-keyed shuffle join (the per-conv
    table has 10⁹-ish rows: never broadcast it)."""
    conv_ts = transcripts.groupBy("conv_id").agg(
        F.max(F.col("ts").cast("timestamp")).cast("long").alias("ts")
    )
    return subj_rows.join(conv_ts, "conv_id").select(
        "subj", "pred", "obj", "ts", "score"
    )


def upsert_beliefs(
    spark: SparkSession, work_dir: str, new_evidence: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold a NEW evidence batch into the s7_beliefs / s8_temporal
    snapshots of a prior ``run_pipeline(with_beliefs=True)`` run and
    write them back — the INCREMENTAL maintenance path of the belief
    store: cost scales with (snapshot size + new batch), never the
    historical evidence volume, which is the difference between a
    nightly touch-up and a full 10¹²-turn recompute.

    Mechanics: ``merge_beliefs(old ∪ triple_confidence(new,
    with_state=True))`` — both sides carry the unrounded ``lg_sum``
    log-miss-mass, so the merged confidence is
    ``round6(1 − exp(lg_sum_old + lg_sum_new))``: EQUAL to the full
    recompute over all evidence up to float summation order (which
    the 6dp rounding absorbs except at exact round-boundary ties;
    a pre-state-column snapshot degrades gracefully to the rounded-
    confidence fold, drift ≤ ~5e-7).  Temporal: ``merge_temporal(
    old_versions, new)`` (version-boundary replay; equal to the full
    recompute on append-only batches — the shape a watermarked ingest
    guarantees).

    Each snapshot is rewritten via tmp-write + atomic directory
    rename (one parquet encode, no read-back rewrite, no stale tmp
    left behind; Iceberg snapshot commit in the production profile),
    the merged frame is projected back to the stage's FRESH-RUN
    schema (so a resumed pipeline sees the same columns either way),
    and the stage's ``_MANIFEST.json`` row/partition counts are
    refreshed so ``StageRunner.metrics()`` and lineage describe the
    post-upsert store.

    Returns (beliefs, temporal) DataFrames of the upserted stores.
    """
    import json
    import os
    import shutil
    import time

    from ..ops.kg import merge_beliefs, merge_temporal

    new_ev = new_evidence.select("subj", "pred", "obj", "ts", "score")
    belief_cols = [
        "subj", "pred", "obj", "n_evidence", "first_ts", "last_ts",
        "confidence", "lg_sum",
    ]
    out = []
    for name, fold in (
        (
            "s7_beliefs",
            lambda old: merge_beliefs(
                old.unionByName(
                    triple_confidence(new_ev, with_state=True),
                    allowMissingColumns=True,
                )
            ).select(*belief_cols),
        ),
        (
            "s8_temporal",
            lambda old: merge_temporal(
                old, new_ev.select("subj", "pred", "obj", "ts")
            ),
        ),
    ):
        data = os.path.join(work_dir, name, "data")
        old = spark.read.parquet(data)
        merged = fold(old)
        tmp = os.path.join(work_dir, name, "data_upsert")
        merged.write.mode("overwrite").partitionBy("pred").parquet(tmp)
        shutil.rmtree(data)
        os.replace(tmp, data)
        refreshed = spark.read.parquet(data)
        manifest_path = os.path.join(work_dir, name, MANIFEST)
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
            manifest["rows"] = refreshed.count()
            manifest["partition_rows"] = {
                str(r["pred"]): r["count"]
                for r in refreshed.groupBy("pred").count().collect()
            }
            manifest["upserted_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
            with open(manifest_path, "w") as f:
                json.dump(manifest, f, indent=2)
        out.append(refreshed)
    return out[0], out[1]


def refresh_triple_partitions(
    spark: SparkSession, new_triples: DataFrame, path: str
) -> DataFrame:
    """Dynamic-partition refresh of the predicate-partitioned triple
    store: overwrite ONLY the predicates present in ``new_triples``,
    leaving every other predicate's partition byte-untouched — the
    parquet stand-in for Iceberg's ``overwritePartitions()`` and the
    sink-level half of the incremental-maintenance story
    (:func:`upsert_beliefs` is the table-level half).

    Uses the per-write ``DataFrameWriter.option("partitionOverwrite
    Mode", "dynamic")`` (write-scoped — it takes precedence over the
    session conf, so NO session-global mutation: concurrent writers
    in the same SparkSession keep whatever semantics they asked for),
    so a re-run of one predicate's extraction is idempotent: same
    input → same partition bytes, and a crashed write never clobbers
    predicates it wasn't touching.  Returns the refreshed store read
    back.
    """
    (
        new_triples.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pred")
        .parquet(path)
    )
    return spark.read.parquet(path)


def to_ntriples(
    triples: DataFrame, base: str = "http://example.org/kg"
) -> DataFrame:
    """(subj, pred, obj, line): the W3C N-Triples serialization of a
    (subj, pred, obj) table — ``<base/id/subj> <base/rel/pred>
    "obj" .`` — the interchange format that lets the materialized KG
    load into any RDF store (N-Triples is line-oriented precisely so
    it can be produced and consumed as a distributed text corpus, one
    independent triple per line; RDF spec: W3C N-Triples, 2014).

    Conformance choices:

    * subjects and predicates become IRIs under ``base`` with
      percent-encoding of the characters IRIs cannot carry (space,
      angle brackets, quote, backslash, percent itself first);
    * objects are emitted as string LITERALS with the four N-Triples
      string escapes (backslash first, then quote, newline, CR, tab)
      — KG objects here are surface text, not ids, so literal is the
      faithful typing;
    * NULL terms make a row unserializable → dropped, never emitted
      as an invalid line (count the drop upstream via
      ``constraint_violations``' null_term rule).  Likewise subjects
      or predicates carrying characters the IRI grammar forbids and
      the encoder does not map — controls (U+0000–1F, U+007F) and
      ``{ } | ^ `` ` — are dropped: a raw newline in an IRI position
      would split one triple into two corrupt lines, which is worse
      than omitting it.  Objects are literals, so their controls are
      covered by the string escapes.

    Scale: a pure string-expression projection — whole-stage codegen,
    zero shuffle; write the ``line`` column with ``text`` format
    partitioned however the sink wants.
    """

    def _iri(col: str) -> F.Column:
        c = F.col(col)
        for ch, repl in [
            ("%", "%25"),
            (" ", "%20"),
            ('"', "%22"),
            ("<", "%3C"),
            (">", "%3E"),
            ("\\", "%5C"),
        ]:
            c = F.replace(c, F.lit(ch), F.lit(repl))
        return c

    def _lit(col: str) -> F.Column:
        c = F.col(col)
        for ch, repl in [
            ("\\", "\\\\"),
            ('"', '\\"'),
            ("\n", "\\n"),
            ("\r", "\\r"),
            ("\t", "\\t"),
        ]:
            c = F.replace(c, F.lit(ch), F.lit(repl))
        return c

    bad_iri = "[\\x00-\\x1f\\x7f{}|^`]"
    return triples.where(
        F.col("subj").isNotNull()
        & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
        & ~F.col("subj").rlike(bad_iri)
        & ~F.col("pred").rlike(bad_iri)
    ).select(
        "subj",
        "pred",
        "obj",
        F.concat(
            F.lit(f"<{base}/id/"),
            _iri("subj"),
            F.lit(f"> <{base}/rel/"),
            _iri("pred"),
            F.lit('> "'),
            _lit("obj"),
            F.lit('" .'),
        ).alias("line"),
    )
