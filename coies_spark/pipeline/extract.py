"""Stages 1-2: turn assembly and vectorized mention detection.

Scale design (10^12 turns, SURVEY.md §7):

* ``assemble_docs`` holds the ONLY shuffles in the extraction path —
  a hash partition by ``conv_id``, one per input side (production
  reads the raw side only; fixture parity mode adds the tagged side
  and a left join that reuses that partitioning).  On tables bucketed
  by ``bucket(N, conv_id)`` this becomes shuffle-free (storage
  partitioned join semantics); on plain parquet AQE coalesces it.
* ``detect_mentions`` is shuffle-free: one row per conversation flows
  through ``mapInPandas`` with the example-side artifacts broadcast to
  every executor.  ``run_pipeline`` hands it the checkpointed s1
  snapshot, spread round-robin to ``defaultParallelism`` partitions
  only when that snapshot is narrower than the task slots (one
  exchange on small inputs that AQE coalesced to a file; none at
  scale); ``detect_mentions`` itself never repartitions.  Window
  vectors are computed with prefix sums inside the Arrow batch
  (O(tokens·dim)) and are never materialized into the shuffle —
  avoiding the ×context_size row blowup a naive windows-as-rows design
  would ship (SURVEY.md §7 risk 4).
* Output (conv_id, pred, obj, score) is tiny relative to input —
  detection is a massive reducer, so downstream stages are cheap.

Reference flow being distributed: oneshot_test.py:193-215 (per-file
loop) → conversations in Arrow batches.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.oneshot import ExampleArtifacts, detect_doc

DOC_SCHEMA = "conv_id string, raw_text string, context_text string"
MENTION_SCHEMA = (
    "conv_id string, pred string, obj string, score double, "
    "seed string"
)


MAX_TURNS_PER_DOC = 10_000


def assemble_docs(
    transcripts: DataFrame,
    tagged_transcripts: Optional[DataFrame] = None,
    max_turns: int = MAX_TURNS_PER_DOC,
) -> DataFrame:
    """(conv_id, raw_text, context_text): turns concatenated with '\\n'
    under stable (turn_idx, text) order; NULL turn texts are skipped.

    '\\n' is both a sentence and token delimiter (file_tools.py:67,75),
    so joined turns tokenize exactly like the reference's whole-file
    reads — and per-turn ``text`` is never modified (per-row invariant).

    ``max_turns`` (a positive int) bounds the assembled row: turns with
    ``turn_idx >= max_turns`` are dropped BEFORE the aggregation, so one
    pathological multi-GB conversation can neither blow the 2 GB row
    limit nor skew its reducer.  The filter is deterministic (turn_idx
    is the 0-based turn position) and shuffle-free; a deployment that
    needs longer docs raises the cap — there is no uncapped mode.

    ``tagged_transcripts``: optional tagged twins (fixture parity mode —
    the reference reads context windows from the tagged file and
    candidates from the raw one, file_tools.py:103-105).  Production
    passes None → context = raw.  Parity mode aggregates each side and
    left-joins on conv_id: rows are the conversations with >=1 raw
    turn, and context falls back to raw only when the conversation has
    NO tagged rows.  Every operator keys on conv_id, so over
    co-bucketed input tables (sources/bucketed.py) the whole plan runs
    with ZERO exchanges; unbucketed input pays one shuffle per side.
    """
    if type(max_turns) is not int or max_turns < 1:
        raise ValueError(
            f"assemble_docs: max_turns must be a positive int, got "
            f"{max_turns!r}"
        )

    def concat_turns(df: DataFrame, out: str) -> DataFrame:
        return (
            df.where(F.col("turn_idx") < max_turns)
            .groupBy("conv_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("turn_idx", "text"))
                ).alias("turns")
            )
            .select(
                "conv_id",
                F.concat_ws(
                    "\n", F.transform("turns", lambda s: s.text)
                ).alias(out),
            )
        )

    raw = concat_turns(transcripts, "raw_text")
    if tagged_transcripts is None:
        return raw.withColumn("context_text", F.col("raw_text"))
    tagged = concat_turns(tagged_transcripts, "context_text")
    return raw.join(tagged, "conv_id", "left").withColumn(
        "context_text", F.coalesce("context_text", "raw_text")
    )


def detect_mentions(docs: DataFrame, artifacts: ExampleArtifacts) -> DataFrame:
    """Run the one-shot kernel per conversation (Arrow batches).

    The artifacts (seed vectors + phrase table + embedding provider)
    go out as a new ``sc.broadcast`` on every call.  It is never
    unpersisted, so a stream holds one per epoch (ROADMAP item 4).  No
    shuffle: docs is already one row per conv_id.
    """
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(artifacts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        art = bc.value
        for pdf in batches:
            rows = []
            for conv_id, raw_text, context_text in zip(
                pdf["conv_id"], pdf["raw_text"], pdf["context_text"]
            ):
                for e in detect_doc(raw_text, context_text, art):
                    rows.append(
                        (
                            conv_id,
                            e.pred,
                            " ".join(e.gram),
                            float(e.score),
                            " ".join(e.seed_tokens),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["conv_id", "pred", "obj", "score", "seed"]
            )

    return docs.mapInPandas(run, schema=MENTION_SCHEMA)


def extract_mentions(
    transcripts: DataFrame,
    artifacts: ExampleArtifacts,
    tagged_transcripts: Optional[DataFrame] = None,
) -> DataFrame:
    """assemble → detect (the minimum end-to-end slice)."""
    return detect_mentions(
        assemble_docs(transcripts, tagged_transcripts), artifacts
    )


SPAN_SCHEMA = "doc_id long, span_idx int, entity_type string, mention string"


def extract_entity_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, span_idx, entity_type, mention): gold entity spans
    parsed from inline ``<type.>…</>`` tags (the P4/P5 tagged-file
    grammar, example_parsing.py:57-92,121-135) — distributed as a
    shuffle-free Arrow ``mapInPandas`` over the real single-node parser
    (core.textproc), one batch per Arrow chunk.
    """
    from ..core import textproc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                tagged = textproc.tagged_tokens_from_text(text)
                for idx, (typ, toks, _, _) in enumerate(
                    textproc.entity_spans(tagged)
                ):
                    rows.append((doc_id, idx, typ, " ".join(toks)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "span_idx", "entity_type", "mention"],
            )

    return docs.mapInPandas(run, schema=SPAN_SCHEMA)
