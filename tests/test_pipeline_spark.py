"""End-to-end Spark pipeline tests: parity vs the single-node oracle,
per-row invariant, resumability, linking, canonicalization."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from coies_spark.core.metrics import triple_prf
from coies_spark.core.oneshot import (
    detect_doc,
    emissions_to_triples,
    oracle_extract_doc,
)
from coies_spark.data import synth
from coies_spark.operators.spread import spread_to_slots
from coies_spark.pipeline.canonicalize import canonicalize
from coies_spark.pipeline.checkpoint import MANIFEST, StageRunner
from coies_spark.pipeline.extract import (
    assemble_docs,
    detect_mentions,
    extract_mentions,
)
from coies_spark.pipeline.linking import build_dictionary, link_mentions
from coies_spark.pipeline.triples import conv_triples, run_pipeline

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def frames(corpus):
    return (
        synth.transcripts_frame(corpus.all_docs, use_raw=True),
        synth.transcripts_frame(corpus.all_docs, use_raw=False),
    )


@pytest.fixture(scope="module")
def spark_transcripts(spark, frames):
    raw_pdf, tagged_pdf = frames
    raw = spark.createDataFrame(raw_pdf)
    tagged = spark.createDataFrame(tagged_pdf)
    return raw, tagged


def oracle_triples(corpus, artifacts):
    out = []
    for doc in corpus.all_docs:
        out += emissions_to_triples(
            doc.conv_id,
            oracle_extract_doc(doc.raw_text, doc.tagged_text, artifacts),
        )
    return sorted(set(out))


class TestAssembly:
    def test_turn_order_and_text_preserved(self, spark, spark_transcripts, corpus):
        raw, _ = spark_transcripts
        docs = assemble_docs(raw).toPandas().set_index("conv_id")
        for doc in corpus.all_docs[:5]:
            assert docs.loc[doc.conv_id, "raw_text"] == doc.raw_text

    def test_shuffled_input_still_ordered(self, spark, frames):
        raw_pdf, _ = frames
        shuffled = spark.createDataFrame(
            raw_pdf.sample(frac=1.0, random_state=0)
        )
        a = assemble_docs(shuffled).orderBy("conv_id").toPandas()
        b = assemble_docs(spark.createDataFrame(raw_pdf)).orderBy(
            "conv_id"
        ).toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_per_row_invariant(self, spark, spark_transcripts, frames):
        # the transcripts table is never mutated: re-reading rows after
        # assembly yields byte-equal text per (conv_id, turn_idx)
        raw, _ = spark_transcripts
        raw_pdf, _ = frames
        back = (
            raw.select("conv_id", "turn_idx", "text")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        want = raw_pdf[["conv_id", "turn_idx", "text"]].sort_values(
            ["conv_id", "turn_idx"]
        ).reset_index(drop=True)
        back["turn_idx"] = back["turn_idx"].astype("int32")
        pd.testing.assert_frame_equal(back, want)


class TestExtractionParity:
    def test_spark_matches_oracle(self, spark, spark_transcripts, corpus, artifacts):
        raw, tagged = spark_transcripts
        got = extract_mentions(raw, artifacts, tagged_transcripts=tagged)
        got_triples = sorted(
            {(r.conv_id, r.pred, r.obj) for r in got.collect()}
        )
        want = oracle_triples(corpus, artifacts)
        m = triple_prf(got_triples, want)
        assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m

    def test_conv_triples_schema(self, spark, spark_transcripts, artifacts):
        raw, tagged = spark_transcripts
        t = conv_triples(extract_mentions(raw, artifacts, tagged))
        assert [f.name for f in t.schema.fields] == [
            "subj", "pred", "obj", "score",
        ]


class TestLinking:
    def test_unlinked_get_surface_ids(self, spark, spark_transcripts, artifacts):
        raw, tagged = spark_transcripts
        mentions = extract_mentions(raw, artifacts, tagged)
        linked = link_mentions(
            mentions, build_dictionary(spark, [("acme holdings", "E1")])
        )
        rows = linked.collect()
        assert all(r.entity_id for r in rows)
        assert any(r.entity_id == "E1" for r in rows)
        assert any(r.entity_id.startswith("surface:") for r in rows)


class TestCanonicalize:
    def test_shared_surface_merges_ids(self, spark):
        linked = spark.createDataFrame(
            [
                ("c1", "comp", "acme holdings", 1.0, "E1"),
                ("c2", "comp", "acme holdings", 1.0, "E9"),
                ("c3", "comp", "zenith industrial", 1.0, "E5"),
            ],
            "conv_id string, pred string, obj string, score double, "
            "entity_id string",
        )
        out = canonicalize(linked).collect()
        by_id = {r.entity_id: r.canonical_id for r in out}
        assert by_id["E1"] == by_id["E9"] == "E1"
        assert by_id["E5"] == "E5"


class TestResumability:
    def test_second_run_skips_and_matches(self, spark, spark_transcripts,
                                          artifacts, tmp_path, corpus):
        raw, tagged = spark_transcripts
        work = str(tmp_path / "run")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        first = sorted(
            map(tuple, r1.results["s5_triples"].df.select(
                "subj", "pred", "obj").collect())
        )
        assert not any(r.skipped for r in r1.results.values())

        r2 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        assert all(r.skipped for r in r2.results.values())
        second = sorted(
            map(tuple, r2.results["s5_triples"].df.select(
                "subj", "pred", "obj").collect())
        )
        assert first == second
        # parity of the checkpointed output vs oracle
        want = oracle_triples(corpus, artifacts)
        m = triple_prf(second, want)
        assert m["f1"] >= 0.95, m

    def test_partial_resume_after_lost_stage(self, spark, spark_transcripts,
                                             artifacts, tmp_path):
        import shutil

        raw, tagged = spark_transcripts
        work = str(tmp_path / "run2")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        n1 = r1.results["s5_triples"].manifest["rows"]
        shutil.rmtree(f"{work}/s5_triples")
        r2 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        assert r2.results["s1_docs"].skipped
        assert r2.results["s2_mentions"].skipped
        assert not r2.results["s5_triples"].skipped
        assert r2.results["s5_triples"].manifest["rows"] == n1

    def test_config_change_invalidates(self, spark, spark_transcripts,
                                       artifacts, tmp_path):
        from dataclasses import replace

        raw, tagged = spark_transcripts
        work = str(tmp_path / "run3")
        run_pipeline(spark, raw, artifacts, work, tagged_transcripts=tagged)
        art2 = type(artifacts)(
            config=replace(artifacts.config, topn=3),
            seeds=artifacts.seeds,
            phrases=artifacts.phrases,
            emb=artifacts.emb,
        )
        r2 = run_pipeline(spark, raw, art2, work, tagged_transcripts=tagged)
        assert not any(r.skipped for r in r2.results.values())

    def test_lineage_recorded(self, spark, spark_transcripts, artifacts,
                              tmp_path):
        raw, tagged = spark_transcripts
        work = str(tmp_path / "run4")
        r = run_pipeline(spark, raw, artifacts, work,
                         tagged_transcripts=tagged)
        man = r.results["s5_triples"].manifest
        assert man["partition_rows"], "per-pred lineage counts expected"
        assert sum(man["partition_rows"].values()) == man["rows"]
        # the written schema is recorded, partition column last
        schema = StructType.fromJson(man["schema"])
        assert schema == r.results["s5_triples"].df.schema
        assert schema.fieldNames()[-1] == "pred"
        metrics = r.metrics().collect()
        assert {m.stage for m in metrics} >= {"s1_docs", "s2_mentions",
                                              "s5_triples"}


def jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = fn()
    bus.waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


class TestStageJobs:
    """A fresh stage is its write job (plus the lineage query when
    partitioned); a resumed stage runs no job."""

    def frame(self, spark):
        return spark.range(200).select(
            "id", (F.col("id") % 5).cast("string").alias("pred")
        )

    def test_unpartitioned_stage_is_one_job(self, spark, tmp_path):
        runner = StageRunner(spark, str(tmp_path), {"v": 1})
        out, n = jobs_run(
            spark, lambda: runner.stage("s", lambda: self.frame(spark))
        )
        assert n == 1
        assert runner.results["s"].manifest["rows"] == 200 == out.count()

    def test_partitioned_stage_adds_only_lineage(self, spark, tmp_path):
        runner = StageRunner(spark, str(tmp_path), {"v": 1})
        _, n = jobs_run(spark, lambda: runner.stage(
            "s", lambda: self.frame(spark), partition_by=["pred"]))
        # the write, then the lineage groupBy(...).count(): under AQE
        # its shuffle map stage and its result stage are separate jobs
        assert n == 3
        man = runner.results["s"].manifest
        assert man["rows"] == sum(man["partition_rows"].values()) == 200

    def test_resumed_stage_runs_no_job(self, spark, tmp_path):
        for sub, partition_by in (("flat", None), ("part", ["pred"])):
            work = str(tmp_path / sub)
            StageRunner(spark, work, {"v": 1}).stage(
                "s", lambda: self.frame(spark), partition_by=partition_by)
            again = StageRunner(spark, work, {"v": 1})
            _, n = jobs_run(spark, lambda: again.stage(
                "s", lambda: self.frame(spark),
                partition_by=partition_by))
            assert n == 0 and again.results["s"].skipped

    def test_string_partition_column_keeps_its_type(self, spark, tmp_path):
        work = str(tmp_path)
        fresh = StageRunner(spark, work, {"v": 1}).stage(
            "s", lambda: self.frame(spark), partition_by=["pred"])
        again = StageRunner(spark, work, {"v": 1})
        resumed = again.stage(
            "s", lambda: self.frame(spark), partition_by=["pred"])
        assert again.results["s"].skipped
        for df in (fresh, resumed):
            assert df.schema["pred"].dataType == StringType()
        assert sorted(fresh.collect()) == sorted(resumed.collect()) == \
            sorted(self.frame(spark).select("id", "pred").collect())

    def test_manifest_without_schema_rebuilds_once(self, spark, tmp_path):
        import json

        work = str(tmp_path)
        StageRunner(spark, work, {"v": 1}).stage(
            "s", lambda: self.frame(spark))
        path = tmp_path / "s" / MANIFEST
        man = json.loads(path.read_text())
        del man["schema"]
        path.write_text(json.dumps(man))
        rebuilt = StageRunner(spark, work, {"v": 1})
        rebuilt.stage("s", lambda: self.frame(spark))
        assert not rebuilt.results["s"].skipped
        resumed = StageRunner(spark, work, {"v": 1})
        resumed.stage("s", lambda: self.frame(spark))
        assert resumed.results["s"].skipped


    def test_torn_manifest_rebuilds(self, spark, tmp_path):
        """A manifest cut short mid-write reads as absent: the stage
        rebuilds with the same rows and leaves a whole manifest."""
        import json

        work = str(tmp_path)
        first = StageRunner(spark, work, {"v": 1}).stage(
            "s", lambda: self.frame(spark))
        want = sorted(first.collect())
        path = tmp_path / "s" / MANIFEST
        text = path.read_text()
        path.write_text(text[: len(text) // 2])
        rebuilt = StageRunner(spark, work, {"v": 1})
        out = rebuilt.stage("s", lambda: self.frame(spark))
        assert not rebuilt.results["s"].skipped
        assert sorted(out.collect()) == want
        assert json.loads(path.read_text())["rows"] == 200
        assert sorted(p.name for p in (tmp_path / "s").iterdir()) == \
            ["_MANIFEST.json", "data"]


class TestDetectionSpread:
    def test_one_file_snapshot_reaches_detection_spread(
            self, spark, spark_transcripts, artifacts, tmp_path,
            monkeypatch):
        import coies_spark.pipeline.triples as triples

        seen = []

        def detect(docs, art):
            seen.append(docs.rdd.getNumPartitions())
            return detect_mentions(docs, art)

        monkeypatch.setattr(triples, "detect_mentions", detect)
        raw, _ = spark_transcripts
        r = run_pipeline(spark, raw, artifacts, str(tmp_path))
        # AQE coalesces the small assembly into one snapshot file
        assert r.results["s1_docs"].df.rdd.getNumPartitions() == 1
        assert seen == [spark.sparkContext.defaultParallelism]

    def test_wide_snapshot_passes_through(self, spark, tmp_path):
        slots = spark.sparkContext.defaultParallelism
        for n_files in (1, 2 * slots):
            path = str(tmp_path / str(n_files))
            spark.range(1000).repartition(n_files).write.parquet(path)
            snap = spark.read.parquet(path)
            out = spread_to_slots(snap)
            plan = out._jdf.queryExecution().executedPlan().toString()
            if n_files < slots:
                assert out.rdd.getNumPartitions() == slots
                assert plan.count("Exchange RoundRobinPartitioning") == 1
            else:
                assert out is snap and "Exchange" not in plan

def test_assemble_docs_caps_oversized_conversations(spark):
    from coies_spark.pipeline.extract import assemble_docs

    rows = [("big", i, "u", f"turn {i}", None, None) for i in range(30)]
    rows += [("ok", 0, "u", "hello", None, None)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r.conv_id: r.raw_text for r in assemble_docs(df, max_turns=10).collect()}
    assert got["ok"] == "hello"
    assert got["big"] == "\n".join(f"turn {i}" for i in range(10))
    # default cap leaves normal conversations untouched
    full = {r.conv_id: r.raw_text for r in assemble_docs(df).collect()}
    assert full["big"] == "\n".join(f"turn {i}" for i in range(30))
    # no uncapped mode: a missing or non-positive cap is rejected, not
    # turned into a filter that silently drops every turn
    for bad in (None, 0):
        with pytest.raises(ValueError, match="max_turns"):
            assemble_docs(df, max_turns=bad)


TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# (conv_id, turn_idx, text) edge rows, each conv named after its shape
EDGE_RAW = [
    ("both", 0, "hello there"),
    ("raw_only", 0, "solo words"),
    ("empty_text", 0, ""),
    ("null_text", 0, None),
    ("null_text", 1, "after a null"),
    # duplicate turn_idx: the text breaks the tie
    ("dup_idx", 0, "zebra words"),
    ("dup_idx", 0, "apple words"),
    ("null_tagged", 0, "real raw words"),
]
EDGE_TAGGED = [
    ("both", 0, "hello there"),
    ("tagged_only", 0, "ghost"),
    ("empty_text", 0, ""),
    # twin present but all its texts NULL: context is "", NOT raw
    ("null_tagged", 0, None),
]


def reference_assembly(raw_rows, tagged_rows):
    """Pure-Python assemble_docs: sorted (conv_id, raw_text,
    context_text) rows.  Turns ordered by (turn_idx, text), NULL texts
    skipped, joined with '\\n'; tagged-only conversations dropped;
    context falls back to raw only when the conversation has no tagged
    rows at all."""

    def concat(rows):
        turns = {}
        for conv, idx, text in rows:
            kept = turns.setdefault(conv, [])
            if text is not None:
                kept.append((idx, text))
        return {c: "\n".join(t for _, t in sorted(ts))
                for c, ts in turns.items()}

    raw = concat(raw_rows)
    ctx = raw if tagged_rows is None else concat(tagged_rows)
    return sorted((c, r, ctx.get(c, r)) for c, r in raw.items())


def turns_frame(spark, rows):
    """Transcript turns from (conv_id, turn_idx, text) rows."""
    data = [(c, i, "u", t, None, None) for c, i, t in rows]
    return spark.createDataFrame(data, TURNS_SCHEMA)


def assembled(spark, raw_rows, tagged_rows):
    """assemble_docs as sorted (conv_id, raw_text, context_text)
    tuples; ``tagged_rows=None`` is production mode (no tagged twin)."""
    tagged = None if tagged_rows is None else turns_frame(spark, tagged_rows)
    docs = assemble_docs(turns_frame(spark, raw_rows), tagged)
    return sorted(map(tuple, docs.collect()))


def test_assemble_union_join_property(spark):
    """Randomized check of the raw/tagged left-join assembly against
    the pure-Python reference over arbitrary conv/turn structures
    (duplicate turn indices, empty and NULL texts, one-sided
    conversations, production mode without tagged twins)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row_st = st.tuples(
        st.sampled_from(["c0", "c1", "c2", "c3"]),
        st.integers(min_value=0, max_value=4),
        st.sampled_from([None, "", "a", "b b", "c words here"]),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        raw_rows=st.lists(row_st, min_size=1, max_size=12),
        tagged_rows=st.none() | st.lists(row_st, max_size=12),
    )
    def check(raw_rows, tagged_rows):
        assert assembled(spark, raw_rows, tagged_rows) == reference_assembly(
            raw_rows, tagged_rows
        )

    check()


def test_fused_extraction_edge_rows(spark, corpus, artifacts):
    """The named degenerate shapes through the one assemble -> detect
    path: the assembled rows are pinned explicitly, and extract_mentions
    emits exactly what detect_doc gives on the reference assembly (a
    corpus conversation rides along so the emission set is not empty;
    tagged-only conversations emit nothing)."""
    pinned = [
        ("both", "hello there", "hello there"),
        ("dup_idx", "apple words\nzebra words", "apple words\nzebra words"),
        ("empty_text", "", ""),
        ("null_tagged", "real raw words", ""),
        ("null_text", "after a null", "after a null"),
        ("raw_only", "solo words", "solo words"),
    ]
    assert assembled(spark, EDGE_RAW, EDGE_TAGGED) == pinned
    assert reference_assembly(EDGE_RAW, EDGE_TAGGED) == pinned

    doc = next(
        d for d in corpus.all_docs
        if detect_doc(d.raw_text, d.tagged_text, artifacts)
    )
    raw_rows = EDGE_RAW + [("corpus", 0, doc.raw_text)]
    tagged_rows = EDGE_TAGGED + [("corpus", 0, doc.tagged_text)]

    mentions = extract_mentions(
        turns_frame(spark, raw_rows), artifacts,
        turns_frame(spark, tagged_rows),
    )
    got = sorted(
        (r.conv_id, r.pred, r.obj, r.seed, round(r.score, 9))
        for r in mentions.collect()
    )
    want = sorted(
        (conv, e.pred, " ".join(e.gram), " ".join(e.seed_tokens),
         round(float(e.score), 9))
        for conv, raw_text, context_text in reference_assembly(
            raw_rows, tagged_rows
        )
        for e in detect_doc(raw_text, context_text, artifacts)
    )
    assert got == want
    convs = {m[0] for m in got}
    assert "corpus" in convs and "tagged_only" not in convs


def test_kg_digest_constants(spark):
    """The committed sf0.01 triple-set digests (the driver oracle for
    the two Arrow-kernel queries) must reproduce — any extraction-
    semantics drift trips this before the driver does."""
    import os

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("sf0.01 testdata not available")
    for name, fn in (
        ("kg_extract_digest", e._q_kg_extract_digest),
        ("kg_linked_digest", e._q_kg_linked_digest),
    ):
        r = fn(spark, sf_dir).collect()[0]
        assert (r.digest_sum, r.n_triples) == e.KG_DIGEST_SF001[name], name


class TestCurationRun:
    def test_checkpoint_lineage_and_resume(self, spark, tmp_path):
        from coies_spark.pipeline.curate_run import run_curation

        docs_path = "/root/testdata/sf0.001/documents.parquet"
        out = str(tmp_path / "curation")
        curated, report, runner = run_curation(
            spark, docs_path, out, fractions={"en": 0.5}
        )
        n1 = curated.count()
        assert n1 > 0 and not runner.results["curated"].skipped
        # per-language lineage recorded in the manifest
        lineage = runner.results["curated"].manifest["partition_rows"]
        assert lineage and sum(lineage.values()) == n1
        langs = {r.lang for r in report.collect()}
        assert set(lineage) == langs

        # resume: same config -> both stages skip, identical rows
        c2, r2, runner2 = run_curation(
            spark, docs_path, out, fractions={"en": 0.5}
        )
        assert runner2.results["curated"].skipped
        assert runner2.results["report"].skipped
        assert c2.count() == n1

        # config change -> fingerprint mismatch -> recompute
        c3, _, runner3 = run_curation(
            spark, docs_path, out, min_quality=0.64, fractions={"en": 0.5}
        )
        assert not runner3.results["curated"].skipped
        assert c3.count() < n1  # tighter floor keeps fewer docs


class TestBeliefStages:
    def test_belief_stages_run_and_resume(self, spark, spark_transcripts,
                                          artifacts, tmp_path):
        from pyspark.sql import functions as F

        from coies_spark.data import synth

        raw, tagged = spark_transcripts
        dictionary = build_dictionary(
            spark,
            [(m, f"E{c}") for c, m in enumerate(synth.COMP_POOL)]
            + [(m, f"I{c}") for c, m in enumerate(synth.ITEM_POOL)],
        )
        work = str(tmp_path / "beliefs")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          dictionary=dictionary,
                          tagged_transcripts=tagged, with_beliefs=True)
        for st in ("s6_evidence", "s7_beliefs", "s8_temporal",
                   "s9_degrees"):
            assert st in r1.results and not r1.results[st].skipped

        beliefs = r1.results["s7_beliefs"].df
        rows = beliefs.collect()
        assert rows and all(
            r.confidence is not None and 0.0 < r.confidence <= 1.0
            for r in rows
        )
        # n_evidence sums to the evidence row count
        n_ev = r1.results["s6_evidence"].df.count()
        assert sum(r.n_evidence for r in rows) == n_ev

        temporal = r1.results["s8_temporal"].df
        # SCD-2 invariant: exactly one open (current) version per
        # (subj, pred), and versions are contiguous from 1
        per_key = (
            temporal.groupBy("subj", "pred")
            .agg(
                F.sum(F.col("is_current").cast("int")).alias("n_open"),
                F.max("version").alias("vmax"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert per_key and all(
            r.n_open == 1 and r.vmax == r.n for r in per_key
        )

        degrees = {r.entity: r for r in
                   r1.results["s9_degrees"].df.collect()}
        # every evidence subject appears with out-degree > 0
        subjs = {r.subj for r in
                 r1.results["s6_evidence"].df.select("subj").collect()}
        assert all(degrees[s].out_degree > 0 for s in subjs)

        # second run resumes every stage from its snapshot
        r2 = run_pipeline(spark, raw, artifacts, work,
                          dictionary=dictionary,
                          tagged_transcripts=tagged, with_beliefs=True)
        assert all(r.skipped for r in r2.results.values())
        assert sorted(map(tuple, r2.results["s7_beliefs"].df.collect())) \
            == sorted(map(tuple, beliefs.collect()))


class TestBeliefUpsert:
    def test_upsert_matches_full_recompute(self, spark, spark_transcripts,
                                           artifacts, tmp_path):
        from pyspark.sql import functions as F

        from coies_spark.pipeline.triples import upsert_beliefs

        raw, _tagged = spark_transcripts
        convs = sorted(
            r.conv_id for r in raw.select("conv_id").distinct().collect()
        )
        half = convs[: len(convs) // 2]
        b1 = raw.where(F.col("conv_id").isin(half))
        b2 = raw.where(~F.col("conv_id").isin(half))

        w1 = str(tmp_path / "w1")
        run_pipeline(spark, b1, artifacts, w1, with_beliefs=True)
        # batch 2's evidence from its own (throwaway) run
        r2 = run_pipeline(spark, b2, artifacts, str(tmp_path / "w2"),
                          with_beliefs=True)
        ev2 = r2.results["s6_evidence"].df
        up_beliefs, up_temporal = upsert_beliefs(spark, w1, ev2)

        rf = run_pipeline(spark, raw, artifacts, str(tmp_path / "wf"),
                          with_beliefs=True)

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        bcols = ["subj", "pred", "obj", "n_evidence", "first_ts",
                 "last_ts", "confidence"]
        assert rows(up_beliefs, bcols) == rows(
            rf.results["s7_beliefs"].df, bcols)
        tcols = ["subj", "pred", "obj", "version", "valid_from",
                 "valid_to", "is_current"]
        assert rows(up_temporal, tcols) == rows(
            rf.results["s8_temporal"].df, tcols)
        # the upsert REWRITES the snapshots in place: re-reading the
        # store sees the merged view (the resume contract)
        again = spark.read.parquet(f"{w1}/s7_beliefs/data")
        assert rows(again, bcols) == rows(up_beliefs, bcols)
        # no stale tmp dir; manifest row counts describe the
        # POST-upsert store (metrics()/lineage stay truthful)
        import json
        import os

        assert not os.path.exists(f"{w1}/s7_beliefs/data_upsert")
        with open(f"{w1}/s7_beliefs/_MANIFEST.json") as f:
            man = json.load(f)
        assert man["rows"] == up_beliefs.count()
        assert "upserted_at" in man
        assert sum(man["partition_rows"].values()) == man["rows"]
        # fresh-run and upserted snapshots have the SAME schema (the
        # merge's n_windows bookkeeping column is projected away)
        assert again.columns == rf.results["s7_beliefs"].df.columns

    def test_upsert_exact_on_overlapping_keys(self, spark, tmp_path):
        """The drift counterexample: the same (subj, pred, obj) key
        receives evidence in BOTH the old snapshot and the new batch,
        with scores whose rounded-confidence merge lands on the wrong
        side of the 6dp boundary (0.944445) while the full recompute
        gives 0.944444 — the persisted lg_sum state must make the
        incremental path exact."""
        import os

        from coies_spark.ops.kg import temporal_triples, triple_confidence
        from coies_spark.pipeline.triples import upsert_beliefs

        schema = ("subj string, pred string, obj string, "
                  "ts long, score double")
        b1 = spark.createDataFrame(
            [("s1", "comp", "acme", 100, 0.5),
             ("s1", "comp", "acme", 110, 0.5),
             ("s1", "comp", "acme", 120, 0.5),
             ("s2", "date", "2001", 100, 0.25)], schema)
        b2 = spark.createDataFrame(
            [("s1", "comp", "acme", 200, 0.5),
             ("s1", "comp", "acme", 210, 0.111111),
             ("s3", "item", "revenue", 220, 0.9)], schema)
        w = str(tmp_path / "w")
        triple_confidence(b1, with_state=True).write.partitionBy(
            "pred").parquet(f"{w}/s7_beliefs/data")
        temporal_triples(b1).write.partitionBy("pred").parquet(
            f"{w}/s8_temporal/data")

        up_b, up_t = upsert_beliefs(spark, w, b2)

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        bcols = ["subj", "pred", "obj", "n_evidence", "first_ts",
                 "last_ts", "confidence"]
        full_b = triple_confidence(b1.unionByName(b2), with_state=True)
        assert rows(up_b, bcols) == rows(full_b, bcols)
        # the overlapping key really hit the boundary case
        got = {(r.subj, r.pred, r.obj): r.confidence
               for r in up_b.collect()}
        assert got[("s1", "comp", "acme")] == 0.944444
        # upserted snapshot keeps the fresh-run schema (incl. lg_sum)
        assert sorted(up_b.columns) == sorted(full_b.columns)
        assert not os.path.exists(f"{w}/s7_beliefs/data_upsert")
        tcols = ["subj", "pred", "obj", "version", "valid_from",
                 "valid_to", "is_current"]
        full_t = temporal_triples(
            b1.unionByName(b2).select("subj", "pred", "obj", "ts",
                                      "score"))
        assert rows(up_t, tcols) == rows(full_t, tcols)
        # a second overlapping upsert stays exact (state round-trips
        # through parquet at full double fidelity)
        b3 = spark.createDataFrame(
            [("s1", "comp", "acme", 300, 0.111111)], schema)
        up_b2, _ = upsert_beliefs(spark, w, b3)
        full_b2 = triple_confidence(
            b1.unionByName(b2).unionByName(b3), with_state=True)
        assert rows(up_b2, bcols) == rows(full_b2, bcols)


class TestTripleRefresh:
    def test_dynamic_partition_refresh_preserves_untouched_preds(
            self, spark, tmp_path):
        from pyspark.sql import functions as F

        from coies_spark.pipeline.triples import refresh_triple_partitions

        path = str(tmp_path / "triples")
        base = spark.createDataFrame(
            [("s1", "comp", "acme", 0.9), ("s2", "date", "2000", 0.8),
             ("s3", "item", "revenues", 0.7)],
            "subj string, pred string, obj string, score double",
        )
        base.write.partitionBy("pred").parquet(path)
        # refresh ONLY pred=comp with new rows
        new = spark.createDataFrame(
            [("s9", "comp", "zorg", 0.95)],
            "subj string, pred string, obj string, score double",
        )
        out = refresh_triple_partitions(spark, new, path)
        got = {(r.pred, r.subj, r.obj) for r in out.collect()}
        # comp replaced; date/item partitions untouched
        assert got == {("comp", "s9", "zorg"), ("date", "s2", "2000"),
                       ("item", "s3", "revenues")}
        # the session conf is restored (scoped override)
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode") != "dynamic"
        # idempotent: same batch again -> same store
        again = refresh_triple_partitions(spark, new, path)
        assert {(r.pred, r.subj, r.obj) for r in again.collect()} == got


def test_to_ntriples_escapes_and_null_drop(spark):
    from coies_spark.pipeline.triples import to_ntriples

    t = spark.createDataFrame(
        [
            ('c"1 x', "rel\\x%", 'l1\nl2\r\tq:"\\" <end>'),
            ("s", "p", None),  # unserializable -> dropped
            ("bad\nsubj", "p", "o"),  # control char in IRI -> dropped
            ("curly{brace}", "p", "o"),  # IRI-forbidden -> dropped
            ("conv-1", "mentions", "spark"),
        ],
        "subj string, pred string, obj string",
    )
    rows = {r.subj: r.line for r in to_ntriples(t).collect()}
    assert set(rows) == {'c"1 x', "conv-1"}

    # clean row: exact canonical line
    assert rows["conv-1"] == (
        "<http://example.org/kg/id/conv-1> "
        '<http://example.org/kg/rel/mentions> "spark" .'
    )

    # dirty row: replica of the spec'd escape chains (IRI percent-
    # encoding % first; literal escapes backslash first)
    def iri(s):
        for a, b in [("%", "%25"), (" ", "%20"), ('"', "%22"),
                     ("<", "%3C"), (">", "%3E"), ("\\", "%5C")]:
            s = s.replace(a, b)
        return s

    def lit(s):
        for a, b in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")]:
            s = s.replace(a, b)
        return s

    dirty_subj = 'c"1 x'
    dirty_pred = "rel\\x%"
    dirty_obj = 'l1\nl2\r\tq:"\\" <end>'
    want = (
        "<http://example.org/kg/id/" + iri(dirty_subj) + "> "
        "<http://example.org/kg/rel/" + iri(dirty_pred) + '> "'
        + lit(dirty_obj) + '" .'
    )
    assert rows['c"1 x'] == want
    # a valid N-Triples line never carries a raw newline/CR/tab
    assert not any(c in rows['c"1 x'] for c in "\n\r\t")
