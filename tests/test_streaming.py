"""Structured Streaming ingestion tests: file-source micro-batches,
watermarked windows, foreachBatch extraction with exactly-once resume."""

from __future__ import annotations

import os

import pytest

from coies_spark.data import synth
from coies_spark.streaming import ingest

pytestmark = pytest.mark.spark


@pytest.fixture()
def drops(spark, corpus, tmp_path):
    """Two parquet 'commits' of raw transcripts, split by conversation."""
    pdf = synth.transcripts_frame(corpus.all_docs, use_raw=True)
    convs = sorted(pdf["conv_id"].unique())
    half = len(convs) // 2
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, subset in enumerate((convs[:half], convs[half:])):
        spark.createDataFrame(pdf[pdf["conv_id"].isin(subset)]).coalesce(
            1
        ).write.parquet(str(in_dir / f"drop{i}"))
    # file source reads a flat dir of files
    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for root, _, files in os.walk(in_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                os.link(os.path.join(root, fn), flat / f"part{n}.parquet")
                n += 1
    assert n == 2
    return str(flat)


def test_windowed_counts(spark, drops, tmp_path, corpus):
    stream = ingest.stream_transcripts(spark, drops)
    assert stream.isStreaming
    # complete mode: append would withhold windows the watermark has not
    # closed (availableNow ends before a later batch can advance it)
    q = (
        ingest.windowed_turn_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts").collect()
    total = sum(r.n_turns for r in got)
    want = sum(len(d.tagged_turns) for d in corpus.all_docs)
    assert total == want
    assert {r.role for r in got} == {"user", "assistant", "tool"}


def test_stream_extract_matches_batch(spark, drops, tmp_path, corpus, artifacts):
    out = str(tmp_path / "triples")
    ck = str(tmp_path / "ck2")
    stream = ingest.stream_transcripts(spark, drops, max_files_per_trigger=1)
    q = ingest.stream_extract(stream, artifacts, out, ck)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() >= 2  # ≥2 micro-batches
    # streaming result == batch result on the same data
    from coies_spark.pipeline.extract import extract_mentions
    from coies_spark.pipeline.triples import conv_triples

    batch_df = spark.createDataFrame(
        synth.transcripts_frame(corpus.all_docs, use_raw=True)
    )
    want = {
        (r.subj, r.pred, r.obj)
        for r in conv_triples(extract_mentions(batch_df, artifacts)).collect()
    }
    have = {(r.subj, r.pred, r.obj) for r in got.collect()}
    assert have == want

    # exactly-once resume: restarting the finished query adds nothing
    q2 = ingest.stream_extract(
        ingest.stream_transcripts(spark, drops), artifacts, out, ck
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == got.count()


def _one_drop(spark, pdf, in_dir):
    """A stream source dir holding ``pdf`` as one parquet drop."""
    spark.createDataFrame(pdf, ingest.TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(
        str(in_dir)
    )
    return str(in_dir)


def test_stream_extract_reads_each_drop_once(spark, tmp_path, corpus, artifacts):
    """An epoch reads its micro-batch once: the query reports the drop's
    rows, not twice them, and runs only the extraction's own jobs."""
    pdf = synth.transcripts_frame(corpus.all_docs, use_raw=True)
    src = _one_drop(spark, pdf, tmp_path / "in")
    out = str(tmp_path / "triples")
    q = ingest.stream_extract(
        ingest.stream_transcripts(spark, src), artifacts, out, str(tmp_path / "ck")
    )
    q.awaitTermination(180)
    assert [p.numInputRows for p in q.recentProgress] == [len(pdf)]
    # a streaming query tags its jobs with its run id; the epoch's jobs
    # are its triple write's, with no emptiness probe beside them
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 3
    assert spark.read.parquet(out).count() > 0


def test_stream_extract_empty_drop(spark, tmp_path, corpus, artifacts):
    """A zero-row drop is one epoch that writes no triples and fails nothing."""
    pdf = synth.transcripts_frame(corpus.all_docs, use_raw=True).iloc[:0]
    src = _one_drop(spark, pdf, tmp_path / "in")
    out = str(tmp_path / "triples")
    q = ingest.stream_extract(
        ingest.stream_transcripts(spark, src), artifacts, out, str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [p.numInputRows for p in q.recentProgress] == [0]
    assert [f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")] == []


def test_write_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch must replace
    its own partition, not append duplicates; other epochs untouched."""
    out = str(tmp_path / "epochs")
    t1 = spark.createDataFrame(
        [("c1", "comp", "acme", 1.0)], "subj string, pred string, obj string, score double"
    )
    t2 = spark.createDataFrame(
        [("c2", "item", "revenue", 0.9), ("c3", "date", "2001", 0.8)],
        "subj string, pred string, obj string, score double",
    )
    ingest.write_epoch(t1, 0, out)
    ingest.write_epoch(t2, 1, out)
    assert spark.read.parquet(out).count() == 3
    # replay epoch 1 (same payload) → still 3 rows, not 5
    ingest.write_epoch(t2, 1, out)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.where("batch_id = 0").count() == 1


def test_stream_dedup_exact_matches_batch(spark, tmp_path, corpus):
    """Streamed exact dedup keeps exactly one row per text digest —
    the same survivor set size as the batch operator — with state
    bounded by the watermark."""
    from pyspark.sql import functions as F

    from coies_spark.streaming.dedup import stream_dedup_exact

    pdf = synth.transcripts_frame(corpus.all_docs, use_raw=True)
    df = spark.createDataFrame(pdf)
    # duplicate every row under a shifted conv_id: every text now
    # appears at least twice inside the watermark horizon
    doubled = df.unionByName(
        df.withColumn("conv_id", F.concat_ws("-", "conv_id", F.lit("dup")))
    )
    in_dir = tmp_path / "dupdrops"
    doubled.coalesce(2).write.parquet(str(in_dir))

    stream = ingest.stream_transcripts(spark, str(in_dir))
    q = (
        stream_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("select * from deduped")
    n_digests = doubled.select(
        F.md5(F.encode(F.col("text"), "utf-8"))
    ).distinct().count()
    assert kept.count() == n_digests  # exactly one survivor per digest
    assert (
        kept.select(F.md5(F.encode(F.col("text"), "utf-8")))
        .distinct()
        .count()
        == n_digests
    )
    assert "digest" not in kept.columns


def test_stream_dedup_minhash_matches_batch_signatures(spark, tmp_path, corpus):
    """(a) the per-row signature expression equals the batch
    minhash_signatures_wide aggregation bit-for-bit; (b) the streamed
    near-dup filter keeps exactly one survivor per full signature."""
    from pyspark.sql import functions as F

    from coies_spark.ops.dedup import minhash_signatures_wide
    from coies_spark.streaming.dedup import (
        minhash_signature_col,
        stream_dedup_minhash,
    )

    pdf = synth.transcripts_frame(corpus.all_docs, use_raw=True)
    df = spark.createDataFrame(pdf)

    # (a) signature parity on a batch frame (doc_id := conv_id+turn)
    docs = df.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
            "doc_id"
        ),
        "text",
    ).where(F.length("text") > 0)
    want = {
        r.doc_id: ",".join([r[f"m{i}"] for i in range(8)])
        for r in minhash_signatures_wide(docs).collect()
    }
    got = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", minhash_signature_col("text").alias("sig")
        ).collect()
    }
    assert got == want

    # (b) streamed near-dup filter: duplicate every row, survivors ==
    # distinct full signatures
    doubled = df.unionByName(
        df.withColumn("conv_id", F.concat_ws("-", "conv_id", F.lit("dup")))
    )
    in_dir = tmp_path / "mhdrops"
    doubled.coalesce(2).write.parquet(str(in_dir))
    stream = ingest.stream_transcripts(spark, str(in_dir))
    q = (
        stream_dedup_minhash(stream)
        .writeStream.format("memory")
        .queryName("mh_deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckmh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("select * from mh_deduped")
    n_sigs = (
        doubled.select(minhash_signature_col("text").alias("s"))
        .distinct()
        .count()
    )
    assert kept.count() == n_sigs
    assert "mh_sig" not in kept.columns


def test_top2gram_array_col_matches_batch(spark):
    """The row-local modal-2-gram column (streaming path) must equal
    repetition_stats' aggregated top_2gram_frac on every doc."""
    from pyspark.sql import functions as F

    from coies_spark.functions.tokenize import tokens_col
    from coies_spark.ops.textstats import repetition_stats
    from coies_spark.streaming.curate import top_2gram_frac_col

    rows = [
        (0, "the quick fox the quick fox jumps", "en", "s", 1),
        (1, " ".join(["buy", "now"] * 10), "en", "s", 1),
        (2, "", "en", "s", 1),
        (3, "one two three four five", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    arr = {
        r.doc_id: r.f
        for r in docs.select(
            "doc_id",
            top_2gram_frac_col(tokens_col("text")).alias("f"),
        ).collect()
    }
    agg = {
        r.doc_id: r.top_2gram_frac for r in repetition_stats(docs).collect()
    }
    assert arr == agg


def test_stream_curate_matches_batch_gates(spark, tmp_path):
    """Streamed curation keeps exactly the batch-gated rows, one per
    MinHash signature (first arrival), with PII scrubbed."""
    import datetime

    from pyspark.sql import functions as F

    from coies_spark.functions.tokenize import tokens_col
    from coies_spark.ops.textstats import quality_feature_cols, shingles_col
    from coies_spark.streaming.curate import stream_curate, top_2gram_frac_col
    from coies_spark.streaming.dedup import minhash_signature_col

    base = datetime.datetime(2026, 1, 1)
    rows = []
    for i in range(40):
        text = (
            f"the report number {i} of the series is it ready to go in "
            f"time for the review of the team at mail{i}@example.com"
        )
        rows.append((i, text, "en", "s", 1, base + datetime.timedelta(seconds=i)))
    # near-duplicate pair (identical text, later arrival) + junk doc
    rows.append((100, rows[0][1], "en", "s", 1, base + datetime.timedelta(seconds=50)))
    rows.append((101, " ".join(["spam"] * 30), "en", "s", 1, base))
    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint, ts timestamp"
    )
    df = spark.createDataFrame(rows, schema)
    in_dir = tmp_path / "docs_stream"
    df.coalesce(1).write.parquet(str(in_dir))

    stream = spark.readStream.schema(df.schema).parquet(str(in_dir))
    q = (
        stream_curate(stream, min_quality=0.0)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("select * from curated_stream")
    got = {r.doc_id: r for r in kept.collect()}

    # batch comparator: same gates via the same column builders, one
    # survivor per minhash signature
    feats = quality_feature_cols("toks")
    sh3 = shingles_col(3)
    gated = (
        df.withColumn("toks", tokens_col("text"))
        .where(
            (feats["quality"] >= 0.0)
            & (top_2gram_frac_col("toks") <= 0.20)
            & (
                F.round(
                    1
                    - F.try_divide(
                        F.size(F.array_distinct(sh3)), F.size(sh3)
                    ),
                    6,
                )
                <= 0.18
            )
        )
        .withColumn("sig", minhash_signature_col())
    )
    n_sigs = gated.select("sig").distinct().count()
    assert len(got) == n_sigs
    assert 101 not in got            # repetition gate
    assert 100 not in got and 0 in got  # first arrival survives
    assert all("<EMAIL>" in r.scrubbed for r in got.values())
    assert all("example.com" not in r.scrubbed for r in got.values())


def test_stream_triple_confidence_matches_batch(spark, tmp_path):
    """Windowed streaming noisy-OR equals the batch triple_confidence
    run per window bucket: same clamp, same sum-of-logs expression."""
    from pyspark.sql import functions as F

    from coies_spark.ops import kg
    from coies_spark.streaming.kg import stream_triple_confidence

    rows = []
    for i in range(40):
        # two one-hour windows; triples repeat within and across
        rows.append((
            f"s{i % 3}", "p", f"o{i % 4}",
            f"2024-01-01 {i // 20:02d}:{i % 20:02d}:00",
            0.1 + 0.02 * (i % 9),
        ))
    rows.append(("s0", "p", "o0", "2024-01-01 00:05:00", 1.0))  # clamp
    # late sentinel: advances the watermark so both data windows close
    # before availableNow terminates (its own window never emits)
    rows.append(("zz", "p", "zz", "2024-01-01 05:00:00", 0.5))
    ev = spark.createDataFrame(
        rows, "subj string, pred string, obj string, ts string, "
              "score double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    in_dir = tmp_path / "evdrops"
    ev.coalesce(2).write.parquet(str(in_dir))

    stream = spark.readStream.schema(ev.schema).parquet(str(in_dir))
    q = (
        stream_triple_confidence(stream, watermark="0 seconds",
                                 window="1 hour")
        .writeStream.format("memory")
        .queryName("beliefs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.subj, r.obj): (r.n_evidence, r.confidence)
        for r in spark.sql("select * from beliefs").collect()
    }

    # batch twin: fold the window bucket into subj, run the batch op
    bucketed = (
        ev.withColumn("w", F.window("ts", "1 hour"))
        .select(
            F.concat_ws("|", F.col("w.start").cast("string"), "subj")
            .alias("subj"),
            "pred",
            "obj",
            F.unix_timestamp("ts").alias("ts"),
            "score",
        )
    )
    want = {}
    for r in kg.triple_confidence(bucketed).collect():
        ws, subj = r.subj.split("|")
        if subj != "zz":  # sentinel window stays open, never emits
            want[(ws, subj, r.obj)] = (r.n_evidence, r.confidence)
    assert got == want
    # the clamped perfect-score row (window 00) stayed finite
    key = ("2024-01-01 00:00:00", "s0", "o0")
    assert got[key][1] is not None and got[key][1] >= 0.999999


def test_stream_classify_matches_batch_scores(spark, tmp_path):
    """Stream scoring under frozen trained weights is bit-identical
    to batch classify_docs — the train-batch / score-stream deploy
    shape."""
    from coies_spark.ops import classify
    from coies_spark.streaming.classify import stream_classify

    rows = [
        (i, f"alpha w{i % 7} beta w{i % 3} gamma " * (1 + i % 4))
        for i in range(30)
    ]
    rows.append((100, ""))  # bias-only doc
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    labels = df.selectExpr(
        "doc_id", "CAST(doc_id % 2 AS DOUBLE) AS y"
    )
    w = {r.b: r.w for r in classify.train_text_classifier(
        df, labels, iters=3).collect()}
    batch = {r.doc_id: (r.p, r.predicted) for r in
             classify.classify_docs(df, labels, iters=3).collect()}

    in_dir = tmp_path / "clf_stream"
    df.coalesce(1).write.parquet(str(in_dir))
    stream = spark.readStream.schema(df.schema).parquet(str(in_dir))
    q = (
        stream_classify(stream, w)
        .writeStream.format("memory")
        .queryName("scored_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckclf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: (r.p, r.predicted) for r in
           spark.sql("select * from scored_stream").collect()}
    assert got == batch


def test_stream_sketch_registers_match_batch(spark, tmp_path):
    """HLL and CMS register builds run UNCHANGED as streaming
    aggregations (complete mode, no watermark — sketch state is
    bounded by construction) and produce the exact batch tables."""
    from pyspark.sql import functions as F

    from coies_spark.ops import sketch

    docs = spark.range(400).select(
        F.concat(F.lit("doc "), (F.col("id") % 150).cast("string")).alias(
            "text"
        )
    )
    in_dir = tmp_path / "sketchdrops"
    docs.coalesce(3).write.parquet(str(in_dir))
    batch = spark.read.parquet(str(in_dir))
    stream = spark.readStream.schema("text string").parquet(str(in_dir))

    qh = (
        sketch.hll_registers(stream, "text", p=8)
        .writeStream.format("memory")
        .queryName("hll_regs_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckhll"))
        .trigger(availableNow=True)
        .start()
    )
    qc = (
        sketch.cms_registers(stream, "text", depth=2, width=64)
        .writeStream.format("memory")
        .queryName("cms_regs_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckcms"))
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination(120)
    qc.awaitTermination(120)
    assert sorted(
        tuple(r) for r in spark.sql("select * from hll_regs_stream").collect()
    ) == sorted(
        tuple(r) for r in sketch.hll_registers(batch, "text", p=8).collect()
    )
    assert sorted(
        tuple(r) for r in spark.sql("select * from cms_regs_stream").collect()
    ) == sorted(
        tuple(r)
        for r in sketch.cms_registers(
            batch, "text", depth=2, width=64
        ).collect()
    )


def test_stream_histogram_registers_match_batch(spark, tmp_path):
    """The fixed-grid histogram sketch (the family's quantile member)
    is the same streamable shape: one groupBy over grid-derived keys,
    complete mode, state bounded at n_bins rows.  The FIXED grid is
    the streaming contract — the auto-grid path needs a data-derived
    min/max and is batch-only by design."""
    from pyspark.sql import functions as F

    from coies_spark.ops import sketch

    vals = spark.range(1, 501).select(
        (F.col("id") % 97).cast("double").alias("value")
    )
    in_dir = tmp_path / "histdrops"
    vals.coalesce(3).write.parquet(str(in_dir))
    batch = spark.read.parquet(str(in_dir))
    stream = spark.readStream.schema("value double").parquet(str(in_dir))

    grid = dict(n_bins=16, lo=0.0, hi=100.0)
    q = (
        sketch.histogram_registers(stream, "value", **grid)
        .writeStream.format("memory")
        .queryName("hist_regs_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckhist"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        tuple(r)
        for r in spark.sql("select * from hist_regs_stream").collect()
    )
    assert streamed == sorted(
        tuple(r)
        for r in sketch.histogram_registers(batch, "value", **grid).collect()
    )
    # and the quantile face reads the streamed registers directly
    est = sketch.histogram_quantiles(
        spark.sql("select * from hist_regs_stream"), [0.5]
    ).first()
    assert abs(est.estimate - 48.0) <= est.err_bound + 1e-9


def test_stream_mentions_matches_batch(spark, tmp_path):
    """The stateless in-row mention feed is row-identical to the batch
    gazetteer_mentions over the same turns: same tokenizer, same
    longest-match-per-start rule, same ambiguity fan-out."""
    from coies_spark.ops.kg import gazetteer_mentions
    from coies_spark.streaming.mentions import stream_mentions

    rows = []
    for c in range(20):
        rows.append((f"c{c}", 0, "user",
                     f"please scan the table hash for batch {c}", None))
        rows.append((f"c{c}", 1, "agent",
                     "merge join consumes the hash output", None))
    rows.append(("cx", 0, "user", "", None))            # empty turn
    rows.append(("cy", 0, "user", "Table HASH, scan!", None))  # case+punct
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    d = spark.createDataFrame(
        [("table", "obj:table"), ("hash", "obj:hash"),
         ("table hash", "obj:table-hash"),
         ("table hash", "obj:table-hash2"),   # ambiguous surface
         ("merge join", "act:merge-join"), ("scan", "act:scan")],
        ["surface", "entity"],
    )
    in_dir = tmp_path / "turns"
    t.coalesce(2).write.parquet(str(in_dir))

    stream = spark.readStream.schema(t.schema).parquet(str(in_dir))
    q = (
        stream_mentions(stream, d, max_len=2)
        .writeStream.format("memory")
        .queryName("mentions_feed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from mentions_feed").collect())
    )
    want = sorted(
        map(tuple, gazetteer_mentions(t, d, max_len=2).collect())
    )
    assert got == want and len(got) > 0


def test_stream_comentions_matches_batch_pairs(spark, tmp_path):
    """The in-row co-mention pairing equals the batch
    _comention_pairs self-join over the same turns — including the
    ambiguity fan-out and per-position pairing semantics."""
    from coies_spark.ops.kg import _comention_pairs
    from coies_spark.streaming.mentions import stream_comentions

    rows = []
    for c in range(15):
        rows.append((f"c{c}", 0, "user",
                     f"scan the table hash in batch {c}", None))
        rows.append((f"c{c}", 1, "agent",
                     "merge join consumes the hash and the table", None))
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    d = spark.createDataFrame(
        [("table", "obj:table"), ("hash", "obj:hash"),
         ("table hash", "obj:table-hash"),
         ("merge join", "act:merge-join"), ("scan", "act:scan")],
        ["surface", "entity"],
    )
    in_dir = tmp_path / "turns2"
    t.coalesce(2).write.parquet(str(in_dir))
    stream = spark.readStream.schema(t.schema).parquet(str(in_dir))
    q = (
        stream_comentions(stream, d, max_len=2)
        .writeStream.format("memory")
        .queryName("comention_feed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from comention_feed").collect())
    )
    want = sorted(
        map(
            tuple,
            _comention_pairs(t, d, 2, True).select(
                "conv_id", "turn_idx", "subj", "subj_pos", "obj",
                "obj_pos",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_assertion_clauses_matches_batch(spark, tmp_path):
    """The assertion-scoping feed is a certified stateless
    projection: row-identical to batch assertion_clauses over the
    same streamed turns, append mode, no state."""
    from coies_spark.ops.kg import assertion_clauses
    from coies_spark.streaming.mentions import stream_assertion_clauses

    rows = []
    for c in range(15):
        rows.append((f"c{c}", 0, "user",
                     f"run batch {c}. the job did not fail; "
                     "if it stalls, page me!", None))
        rows.append((f"c{c}", 1, "agent", "maybe retry. done", None))
    rows.append(("cx", 0, "user", None, None))   # null turn
    rows.append(("cy", 0, "user", "...", None))  # empty clauses only
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    in_dir = tmp_path / "turns_ac"
    t.coalesce(2).write.parquet(str(in_dir))

    stream = spark.readStream.schema(t.schema).parquet(str(in_dir))
    q = (
        stream_assertion_clauses(stream)
        .writeStream.format("memory")
        .queryName("assertion_feed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cka"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from assertion_feed").collect())
    )
    want = sorted(map(tuple, assertion_clauses(t).collect()))
    assert got == want and len(got) > 0


def test_stream_asserted_triples_matches_batch(spark, tmp_path):
    """The assertion-GATED pattern extraction feed emits
    batch-identical triples: negated/hedged clauses contribute
    nothing on either path."""
    from coies_spark.ops.kg import pattern_triples_asserted
    from coies_spark.streaming.mentions import stream_asserted_triples

    rules = [("scans", r"(\w+) scan (\w+)")]
    rows = []
    for c in range(15):
        rows.append((f"c{c}", 0, "user",
                     f"alice scan t{c}. bob did not scan idx; "
                     "if carol scan log!", None))
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    in_dir = tmp_path / "turns_at"
    t.coalesce(2).write.parquet(str(in_dir))

    stream = spark.readStream.schema(t.schema).parquet(str(in_dir))
    q = (
        stream_asserted_triples(stream, rules)
        .writeStream.format("memory")
        .queryName("asserted_feed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from asserted_feed").collect())
    )
    want = sorted(
        map(tuple, pattern_triples_asserted(t, rules).collect())
    )
    assert got == want and len(got) > 0
    # only the assertive clause's fact per conversation
    assert {g[3] for g in got} == {"alice"}
