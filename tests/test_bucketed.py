"""Bucketed-input plan tests: with transcripts stored bucketed by
conv_id (the sandbox stand-in for Iceberg's bucket(N, conv_id) — see
coies_spark/sources/bucketed.py), the flagship assembly must plan with
ZERO exchanges and produce byte-identical results to the plain-parquet
path.  This demonstrates the 10^12-turn design claim that the
pipeline's only shuffle disappears when the input table is
pre-clustered."""

from __future__ import annotations

import pytest

from coies_spark.data import synth
from coies_spark.pipeline.extract import assemble_docs
from coies_spark.sources import read_transcripts, write_bucketed_transcripts

from test_plans import plan_of

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    corpus = synth.make_corpus(n_test=15, n_plain=15, seed=99)
    raw = spark.createDataFrame(synth.transcripts_frame(corpus.all_docs, use_raw=True))
    tagged = spark.createDataFrame(
        synth.transcripts_frame(corpus.all_docs, use_raw=False)
    )
    write_bucketed_transcripts(raw, "raw_b", buckets=8, path=str(base / "raw"))
    write_bucketed_transcripts(
        tagged, "tagged_b", buckets=8, path=str(base / "tagged")
    )
    yield raw, tagged
    spark.sql("DROP TABLE IF EXISTS raw_b")
    spark.sql("DROP TABLE IF EXISTS tagged_b")


def test_bucketed_assembly_zero_shuffles(spark, bucketed_tables):
    """Raw+tagged assembly over same-bucket-count tables: at scale both
    sides are huge, so pin the scale plan (no broadcast) and assert the
    sort-merge join rides the bucket partitioning with NO shuffle."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        doc = assemble_docs(
            read_transcripts(spark, "raw_b"),
            read_transcripts(spark, "tagged_b"),
        )
        p = plan_of(doc)
        assert "SortMergeJoin" in p, p
        assert "Exchange hashpartitioning" not in p, p
        # the scans really are bucketed reads, not a fallback full scan
        assert "Bucketed: true" in plan_of(doc, "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_bucketed_groupby_zero_exchanges(spark, bucketed_tables):
    p = plan_of(assemble_docs(read_transcripts(spark, "raw_b")))
    assert "Exchange" not in p, p
    assert "partial_collect_list" in p  # map-side combine still present


def test_bucketed_results_match_unbucketed(spark, bucketed_tables):
    raw, tagged = bucketed_tables
    want = sorted(map(tuple, assemble_docs(raw, tagged).collect()))
    got = sorted(
        map(
            tuple,
            assemble_docs(
                read_transcripts(spark, "raw_b"),
                read_transcripts(spark, "tagged_b"),
            ).collect(),
        )
    )
    assert got == want
