"""Physical-plan regression tests: the properties that keep these
operators viable at 100 TB — column pruning into the scan, broadcast
join selection, map-side partial aggregation, single-shuffle assembly —
asserted on the actual Catalyst plans so they can't silently regress."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from coies_spark.ops import dedup, similarity, textstats
from coies_spark.pipeline.extract import assemble_docs

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "simple") -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_token_stats_prunes_columns(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(textstats.token_stats(docs), "formatted")
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read, p
    # only the two needed columns reach the parquet scan
    assert "doc_id" in read[0] and "text" in read[0]
    assert "lang" not in read[0] and "source" not in read[0]


def test_join_revenue_broadcasts_dim(spark):
    p = plan_of(entrymod._q_join_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_brute_topk_broadcasts_queries(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(similarity.brute_topk(emb))
    # small query side broadcast → corpus side streams with no shuffle
    assert "BroadcastNestedLoopJoin" in p


def test_agg_pricing_partial_aggregation(spark):
    p = plan_of(entrymod._q_agg_pricing(spark, SF_DIR))
    assert "partial_sum" in p  # map-side combine before the shuffle


def test_assemble_single_shuffle(spark):
    raw = spark.createDataFrame(
        [("c1", 0, "u", "hello world", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    p = plan_of(assemble_docs(raw))
    assert p.count("Exchange") == 1  # exactly one hash partition by conv_id
    assert "partial_collect_list" in p  # map-side partial aggregation


def test_tfidf_construction_runs_no_job(spark, monkeypatch):
    """The corpus-size scalar N must be computed inside the query plan
    (broadcast 1-row aggregate), not by a driver-side collect."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - should never fire
        raise AssertionError("driver-side action during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = textstats.tfidf_keywords(docs)  # must not trigger an action
    monkeypatch.undo()
    assert df.count() > 0


def test_lsh_buckets_with_dim_runs_no_job(spark, monkeypatch):
    """With dim supplied, bucket construction must not probe the data."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - should never fire
        raise AssertionError("driver-side action during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = similarity.lsh_ann_pairs(emb, n_planes=8, dim=64)
    monkeypatch.undo()
    assert df.count() >= 0


def test_embedding_neardup_no_cross_join(spark):
    """The shipped near-dup plan must be the banded-LSH equality join —
    never an all-pairs cross join (the round-1 scale-killer)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(similarity.embedding_neardup(emb, dim=64))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_jaccard_df_cap_partial_aggregation(spark):
    """The df cap must be a two-phase groupBy (map-side partial count)
    joined back — never a count window over partitionBy(shingle), which
    funnels every row of a web-scale stop-shingle through ONE task
    before the cap filters it."""
    from coies_spark.ops import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(dedup.jaccard_pairs(docs))
    assert "Window" not in p
    assert "partial_count" in p  # df computed with map-side combine


def test_language_id_no_per_lang_vocab_window(spark):
    """Profile build ranks within (lang, salt) shards before the per-
    lang rank, so no window task sees a language's full vocabulary."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(textstats.language_id(docs), "formatted")
    # the shard stage exists: a window partitioned by (lang, salt)
    assert "salt" in p
    out = textstats.language_id(docs)
    # and the output is unchanged vs the known oracle property: every
    # doc classified, prediction non-null
    assert out.where(F.col("pred_lang").isNull()).count() == 0


def test_kmeans_join_mode_no_centroid_broadcast(spark):
    """centroid_mode='join' must keep the centroid side out of any
    BroadcastExchange (the k-beyond-broadcast-size path) and emit the
    same labels as broadcast mode."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bcast = similarity.kmeans_labels(emb, k=4, iters=1)
    joined = similarity.kmeans_labels(emb, k=4, iters=1, centroid_mode="join")
    p = plan_of(joined)
    assert "CartesianProduct" in p
    assert "BroadcastExchange" not in p
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, joined.collect())
    )


def test_lsh_buckets_empty_frame_raises(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("false")
    with pytest.raises(ValueError, match="pass\\s+.?dim"):
        similarity.hyperplane_lsh_buckets(emb)


def test_triples_partition_pruning(spark, tmp_path):
    """Triples materialize partitioned by pred (pipeline/triples.py);
    a per-predicate consumer's filter must prune to that partition at
    the scan (PartitionFilters), not post-filter a full read."""
    triples = spark.createDataFrame(
        [("c1", "comp", "acme", 0.9), ("c1", "date", "2001", 0.8),
         ("c2", "comp", "globex", 0.7), ("c2", "item", "profits", 0.6)],
        "subj string, pred string, obj string, score double",
    )
    out = str(tmp_path / "triples")
    triples.write.partitionBy("pred").parquet(out)
    back = spark.read.parquet(out).where(F.col("pred") == "comp")
    p = plan_of(back, "formatted")
    assert "PartitionFilters" in p
    pf = [l for l in p.splitlines() if "PartitionFilters" in l][0]
    assert "pred" in pf and "comp" in pf, pf
    assert back.count() == 2


def test_ivf_pq_probe_partition_pruned(spark, tmp_path):
    """build_ivf_pq_index writes codes partitionBy(label);
    ivf_pq_probe must read ONLY the probed label partitions (an IN
    partition filter strictly smaller than n_clusters), and its result
    must be bit-identical to the in-memory ivf_pq_topk composition."""
    import re

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    similarity.build_ivf_pq_index(emb, idx, dim=64)
    probe = similarity.ivf_pq_probe(
        spark, idx, emb, dim=64, n_queries=2, nprobe=1
    )
    p = plan_of(probe, "formatted")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf, p
    m = re.search(r"label#\d+ IN \(([^)]*)\)", pf[0])
    assert m, pf[0]
    probed = m.group(1).split(",")
    # 2 queries × nprobe=1 → at most 2 of the 8 partitions are read
    assert len(probed) <= 2, pf[0]
    base = similarity.ivf_pq_topk(emb, dim=64, n_queries=2, nprobe=1)
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_extraction_path_shuffle_count(spark):
    """Raw + tagged assembly on unbucketed input: each side shuffles
    once by conv_id for its aggregation and the sort-merge join reuses
    that partitioning, so exactly two hash exchanges, no third for the
    join (over co-bucketed tables it drops to zero —
    tests/test_bucketed.py)."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    raw = spark.createDataFrame([("c1", 0, "u", "hello", None, None)], schema)
    tagged = spark.createDataFrame(
        [("c1", 0, "u", "<comp.>hello</>", None, None)], schema
    )
    p = plan_of(assemble_docs(raw, tagged))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "SortMergeJoin" in p, p


def test_assemble_strategies_agree_on_edge_cases(spark):
    """The raw/tagged left join emits identical rows whichever join
    strategy adaptive execution settles on (sort-merge, or a runtime
    broadcast of the small tagged side), including: conversation only
    in tagged (dropped), no tagged twin (context falls back to raw),
    twin whose texts are all NULL (context "", not raw), all-empty-text
    turns (kept)."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    raw = spark.createDataFrame(
        [
            ("both", 0, "u", "hello", None, None),
            ("both", 1, "a", "world", None, None),
            ("raw_only", 0, "u", "solo", None, None),
            ("empty_text", 0, "u", "", None, None),
            ("null_tagged", 0, "u", "real raw words", None, None),
        ],
        schema,
    )
    tagged = spark.createDataFrame(
        [
            ("both", 0, "u", "<comp.>hello</>", None, None),
            ("both", 1, "a", "world", None, None),
            ("tagged_only", 0, "u", "ghost", None, None),
            ("empty_text", 0, "u", "", None, None),
            ("null_tagged", 0, "u", None, None, None),
        ],
        schema,
    )
    want = [
        ("both", "hello\nworld", "<comp.>hello</>\nworld"),
        ("empty_text", "", ""),
        ("null_tagged", "real raw words", ""),
        ("raw_only", "solo", "solo"),
    ]
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    try:
        for threshold, join in (("-1", "SortMergeJoin"),
                                ("10485760", "BroadcastHashJoin")):
            spark.conf.set(key, threshold)
            docs = assemble_docs(raw, tagged)
            assert sorted(map(tuple, docs.collect())) == want
            final = plan_of(docs)
            assert "isFinalPlan=true" in final, final
            assert f"{join} [conv_id" in final, final
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark's inverted shingle index and sizes must be
    broadcast — the corpus side must never shuffle for the probe join
    (benchmark suites are tiny next to a pretraining corpus)."""
    from coies_spark.ops import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where("doc_id % 43 = 0")
    p = plan_of(dedup.contamination_pairs(docs, bench, n=3))
    assert p.count("BroadcastHashJoin") == 2  # shingle probe + sizes
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_curate_corpus_two_scans(spark):
    """The fused curation pass must read the corpus exactly twice:
    the projection pass (quality + scrub + array repetition ratio +
    dedup digest) and the modal-2-gram aggregate branch — never one
    scan per feature family (5+ under naive composition).  Dedup is a
    min-over-window on the gated rows, so it adds no scan and no
    self-join."""
    from coies_spark.ops import curate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(curate.curate_corpus(docs, fractions={"en": 0.5}))
    assert p.count("FileScan") == 2, p
    assert "CartesianProduct" not in p


def test_semdedup_pair_join_is_label_equi_join(spark):
    """SemDeDup's whole scale story is that the O(n²) cosine matrix
    becomes k independent blocks: the pair generation must be an
    equi-join on the cluster label — never a cartesian across
    clusters.  (The k-means stage's centroid broadcast is the one
    sanctioned nested-loop join; the pair join itself must hash or
    sort-merge on label.)"""
    from coies_spark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    p = plan_of(similarity.semdedup(emb))
    assert "CartesianProduct" not in p
    # exactly the kmeans centroid broadcasts, no pair-stage NL join:
    # every BroadcastNestedLoopJoin in the plan carries the tiny
    # centroid table (BuildRight), never two corpus sides
    import re

    pair_joins = [
        ln
        for ln in p.splitlines()
        if "Join" in ln and "label" in ln.lower()
    ]
    assert any(
        "SortMergeJoin" in ln
        or "ShuffledHashJoin" in ln
        or "BroadcastHashJoin" in ln
        for ln in pair_joins
    ), p


def test_scrub_boilerplate_is_anti_join_on_digest(spark):
    """The scrub pass must LEFT ANTI join the corpus against the tiny
    boilerplate dictionary on the 32-byte digest — the corpus body
    must never be the join key and the corpus must never be joined to
    itself row-by-row."""
    from coies_spark.ops import transcripts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = transcripts.synthesize_transcripts(docs)
    p = plan_of(transcripts.scrub_boilerplate_turns(t))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_token_budget_sample_single_exchange(spark):
    """One exchange on the stratum key feeding an in-partition
    prefix-sum window — no join, no second shuffle."""
    from coies_spark.functions.tokenize import tokens_col
    from coies_spark.ops import sampling

    sized = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            "lang",
            F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        )
    )
    p = plan_of(
        sampling.token_budget_sample(sized, 1000, strata_col="lang")
    )
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_triangle_counts_no_cartesian(spark):
    from coies_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    p = plan_of(triangle_counts(edges))
    # every join is keyed (wedge pivot / closure pair / degree node);
    # a cartesian or unkeyed nested loop would be the O(n^2) failure
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_winnow_fingerprints_zero_shuffles(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(textstats.winnow_fingerprints(docs))
    # the whole selection is array-side per row: no exchange at all,
    # and only (doc_id, text) reach the scan
    assert "Exchange" not in p
    pf = plan_of(textstats.winnow_fingerprints(docs), "formatted")
    read = [l for l in pf.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" in read[0] and "text" in read[0]
    assert "lang" not in read[0]


def test_resolve_pronouns_single_exchange(spark):
    from coies_spark.ops import kg, transcripts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tr = transcripts.synthesize_transcripts(docs)
    d = spark.createDataFrame(
        [("spark", "eng:spark")], ["surface", "entity"]
    )
    p = plan_of(kg.resolve_pronouns(tr, d, pronouns=("the", "a")))
    # the dictionary side broadcasts; the only data exchange is the
    # conv_id window partitioning (satisfied by bucketed storage in
    # production) — a second hashpartitioning would mean a self-join
    # resolver crept in
    assert "BroadcastExchange" in p
    shuffles = [
        l for l in p.splitlines()
        if "Exchange hashpartitioning" in l or "Exchange rangepartitioning" in l
    ]
    assert len(shuffles) == 1, p
    assert "conv_id" in shuffles[0]


def test_incremental_neardup_keyed_join_no_cartesian(spark):
    from coies_spark.ops import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.incremental_neardup(
        docs.where("doc_id % 4 != 0"), docs.where("doc_id % 4 = 0")
    )
    p = plan_of(out)
    # probe joins the index on (band, band_key) — keyed, never a
    # cartesian/unkeyed loop; the min agg partially aggregates
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p or "partial_" in p


def test_bm25_topk_is_take_ordered_and_prunes(spark):
    from coies_spark.ops import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = textstats.bm25_topk(docs, ["scan", "vector"], topk=5)
    p = plan_of(out)
    assert "TakeOrderedAndProject" in p
    pf = plan_of(out, "formatted")
    read = [l for l in pf.splitlines() if "ReadSchema" in l]
    assert read and all("lang" not in l for l in read)


def test_kcore_semi_joins_no_cartesian(spark):
    from coies_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    # rounds=1: the every-other-round localCheckpoint would otherwise
    # cut lineage and hide the joins behind an ExistingRDD scan
    p = plan_of(kcore(edges, k=2, rounds=1))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p


def test_agent_loops_single_exchange(spark):
    """agent_loops' whole dataflow (digest lags -> unpivot -> islands
    -> chains -> per-conv argmax) must ride ONE hash exchange on
    conv_id: every downstream window/groupBy keys on a superset of
    conv_id, which the first partitioning already satisfies."""
    from coies_spark.ops import transcripts as tr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = tr.synthesize_transcripts(docs)
    p = plan_of(tr.agent_loops(t))
    assert p.count("Exchange") == 1, p


def test_kg_negatives_domain_joins_no_cartesian(spark):
    """kg_negatives' candidate lookups are (pred, idx) equi-joins —
    never a cross join of positives x domain."""
    from coies_spark.ops import kg

    tr = spark.createDataFrame(
        [("s%d" % i, "p%d" % (i % 3), "o%d" % (i % 7))
         for i in range(40)],
        "subj string, pred string, obj string",
    )
    p = plan_of(kg.kg_negatives(tr, k=2))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_cosine_pairs_df_capped_no_cartesian(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(dedup.cosine_pairs(docs))
    # postings self-join is keyed on the shingle; the df cap is a
    # two-phase aggregate+join, never a count window over
    # partitionBy(shingle)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partitionBy(shingle" not in p.replace(" ", "")


def test_rrf_fuse_take_ordered(spark):
    routes = [
        spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long"),
        spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank long"),
    ]
    p = plan_of(textstats.rrf_fuse(routes))
    # the fused top-k must be distributed TakeOrdered, not a
    # single-partition global rank window over the union
    assert "TakeOrderedAndProject" in p


def test_classifier_training_is_broadcast_shaped(spark):
    """The GD loop's weight table (<=257 rows) must ride broadcast
    joins — never a shuffled join keyed on the tiny side — and the
    only nested-loop is the 1-row N scalar (the pagerank pattern)."""
    from coies_spark.ops import classify

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = docs.selectExpr("doc_id", "0.5 AS y")
    p = plan_of(classify.classify_docs(docs, labels, iters=2))
    assert "CartesianProduct" not in p
    # every weights->feats join is broadcast (one per margin pass)
    assert p.count("BroadcastHashJoin") >= 3


def test_adamic_adar_no_cartesian(spark):
    from coies_spark.operators.graph import adamic_adar

    e = spark.createDataFrame(
        [("a", "z"), ("z", "b")], "src string, dst string"
    )
    p = plan_of(adamic_adar(e))
    # wedge join is keyed on the middle node; weight join keyed on z
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_em_linkage_pattern_agg_is_partial(spark):
    from coies_spark.ops.linkage import comparison_patterns

    pairs = spark.createDataFrame([(1, 0)], "f1 int, f2 int")
    p = plan_of(comparison_patterns(pairs, ["f1", "f2"]))
    # any number of candidate pairs collapses map-side to <= 2^f rows
    assert "partial_count" in p


def test_weighted_sample_two_phase_windows(spark):
    from coies_spark.ops.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(
        weighted_sample(
            docs, k=5, weight_col="n_chars", strata_col="lang",
            salt_buckets=8,
        )
    )
    # phase 1 partitions by (stratum, salt) — a hot stratum spreads
    # over salt_buckets tasks; phase 2 ranks only the <= buckets*k
    # survivors.  Assert both exchanges key as designed.
    assert p.count("Window") >= 2
    assert "hashpartitioning(lang" in p
    # no global single-partition sort anywhere
    assert "SinglePartition" not in p


def test_compaction_plan_partition_keyed_windows(spark):
    from coies_spark.ops.maintenance import compaction_plan

    m = spark.createDataFrame(
        [("p1", "f1", 10)], "partition string, path string, bytes long"
    )
    p = plan_of(compaction_plan(m, 100))
    # all three windows key on the table partition — never global
    assert "SinglePartition" not in p


def test_token_drift_counts_are_partial(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(
        textstats.token_drift(
            docs.where("lang = 'en'"), docs.where("lang = 'fr'")
        )
    )
    # token counts combine map-side; totals ride an in-plan broadcast
    assert "partial_count" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row totals crossJoin
    assert "CartesianProduct" not in p


def test_training_pairs_single_exchange(spark):
    """training_pairs is ONE window pass on conv_id + a filtered
    projection — a single hash exchange, satisfied by the bucketed
    transcript layout in production."""
    from coies_spark.ops import transcripts as tr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = tr.synthesize_transcripts(docs)
    p = plan_of(tr.training_pairs(t))
    assert p.count("Exchange") == 1, p


def test_bgp_query_pushes_constants_to_scan(spark, tmp_path):
    """bgp_query's constant terms must reach the triple-sink scan:
    the constant pred partition-prunes the pred-partitioned read, and
    the constant obj lands in PushedFilters — the 'Catalyst is the
    BGP optimizer' claim, asserted on the physical plan."""
    from coies_spark.ops.kg import bgp_query

    triples = spark.createDataFrame(
        [("c1", "uses", "spark", 0.9), ("c1", "calls", "scan", 0.8),
         ("c2", "uses", "flink", 0.7), ("c2", "calls", "join", 0.6)],
        "subj string, pred string, obj string, score double",
    )
    out = str(tmp_path / "triples")
    triples.write.partitionBy("pred").parquet(out)
    back = spark.read.parquet(out)
    q = bgp_query(back, [("?c", "uses", "spark"), ("?c", "calls", "?o")])
    p = plan_of(q, "formatted")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("uses" in l for l in pf), p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("spark" in l for l in pushed), p
    got = {(r.c, r.o) for r in q.collect()}
    assert got == {("c1", "scan")}


def test_truth_discovery_aggs_are_partial(spark):
    from coies_spark.ops.kg import truth_discovery

    cl = spark.createDataFrame(
        [("s1", "x", "p", "a"), ("s2", "x", "p", "b")],
        "source string, subj string, pred string, obj string",
    )
    p = plan_of(truth_discovery(cl, iters=2))
    # every round's noisy-OR and trust-mean aggregates combine
    # map-side before their shuffles; nothing is all-pairs
    assert "partial_sum" in p or "partial_count" in p
    assert "CartesianProduct" not in p


def test_kg_align_inverted_index_no_cartesian(spark):
    from coies_spark.ops.kg import kg_align

    a = spark.createDataFrame(
        [("a1", "name", "x"), ("a2", "name", "y")],
        "subj string, pred string, obj string",
    )
    b = spark.createDataFrame(
        [("b1", "name", "x"), ("b2", "name", "y")],
        "subj string, pred string, obj string",
    )
    p = plan_of(kg_align(a, b))
    # candidates come from the (pred, obj) equi-join — never A×B
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_transe_epoch_joins_are_keyed(spark):
    # the published faces sit behind localCheckpoints, so inspect one
    # epoch's internals directly: four entity-keyed equi-joins
    # (broadcast for a vocabulary-sized state) whose residual arrays,
    # energies and violation flag live on the SAME row — no cross
    # join, and no per-(triple, dimension) fan-out aggregate at all
    from coies_spark.ops.kge import (
        _epoch_rows,
        _init_state,
        _negatives,
    )

    tr = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")],
        "subj string, pred string, obj string",
    )
    ents = (
        tr.select(F.col("subj").alias("id"))
        .unionByName(tr.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = tr.select(F.col("pred").alias("id")).distinct()
    df = _epoch_rows(
        _negatives(tr, ents),
        _init_state(ents, "entity", 2),
        _init_state(rels, "relation", 2),
        1.0,
        True,
        True,
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the state sides join broadcast; the energies are per-row array
    # folds, so no HashAggregate sits between the joins and the output
    assert "BroadcastHashJoin" in p


def test_kge_entity_index_hub_safe(spark, monkeypatch):
    # verdict r5 #1: above _INDEX_WINDOW_MAX the sorted-entity index
    # must come from the two-phase quantile-bucketed rank (per-bucket
    # windows + a <=B-row offset table), never one vocabulary-sized
    # window task — and the ranks must be IDENTICAL to the
    # single-window build so every downstream oracle is branch-blind
    from coies_spark.ops import kge

    ents = spark.range(400).select(
        F.concat(F.lit("ent:"), F.col("id")).alias("id")
    )
    base = {
        r.id: r.idx for r in kge._entity_index(ents, 400).collect()
    }
    monkeypatch.setattr(kge, "_INDEX_WINDOW_MAX", 0)
    bucketed = kge._entity_index(ents, 400)
    assert {r.id: r.idx for r in bucketed.collect()} == base
    p = plan_of(bucketed)
    # the per-id rank window is partitioned by the quantile bucket
    assert "__bkt" in p


def test_histogram_registers_partial_and_pruned(spark):
    from coies_spark.ops.sketch import histogram_registers

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = histogram_registers(docs, "n_chars", n_bins=64, lo=0.0, hi=640.0)
    p = plan_of(df, "formatted")
    # register build: one map-side-combinable groupBy over a scan
    # that reads ONLY the sketched column
    assert "partial_count" in p or "partial_sum" in p
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and "n_chars" in read[0] and "text" not in read[0]


def test_complex_epoch_joins_are_keyed(spark):
    # the ComplEx epoch is the TransE shape with two channels riding
    # the same rows: four entity-keyed equi-joins, per-row score
    # folds, no cross join
    from coies_spark.ops.kge import (
        _cx_init_state,
        _cx_rows,
        _negatives,
    )

    tr = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")],
        "subj string, pred string, obj string",
    )
    ents = (
        tr.select(F.col("subj").alias("id"))
        .unionByName(tr.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = tr.select(F.col("pred").alias("id")).distinct()
    p = plan_of(
        _cx_rows(
            _negatives(tr, ents),
            _cx_init_state(ents, "entity", 2),
            _cx_init_state(rels, "relation", 2),
            1.0,
            True,
            True,
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_rotate_epoch_joins_are_keyed(spark):
    # the RotatE epoch rides the ComplEx core verbatim (four
    # entity-keyed equi-joins, two channels on the same rows); the
    # rotation energy folds per-row, no cross join — and the
    # relation unit-modulus projection is a pure per-row projection
    # (no exchange of its own)
    from coies_spark.ops.kge import (
        _cx_init_state,
        _negatives,
        _rt_rel_normalize,
        _rt_rows,
    )

    tr = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")],
        "subj string, pred string, obj string",
    )
    ents = (
        tr.select(F.col("subj").alias("id"))
        .unionByName(tr.select(F.col("obj").alias("id")))
        .distinct()
    )
    rels = tr.select(F.col("pred").alias("id")).distinct()
    p = plan_of(
        _rt_rows(
            _negatives(tr, ents),
            _cx_init_state(ents, "entity", 2),
            _rt_rel_normalize(_cx_init_state(rels, "relation", 2)),
            1.0,
            True,
            True,
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    # the unit-modulus projection is a pure per-row projection — it
    # adds NO aggregate; its plan on top of a plain state has no
    # SortAggregate/HashAggregate of its own
    base = plan_of(_cx_init_state(rels, "relation", 2))
    proj = plan_of(_rt_rel_normalize(_cx_init_state(rels, "relation", 2)))
    assert proj.count("Aggregate") == base.count("Aggregate")


def test_relation_proposals_broadcast_weights_no_cartesian(spark):
    # the propose face: mention pass + pair self-join (keyed on
    # (conv_id, turn_idx)) + broadcast weight join + two partial
    # aggregates — no cross join anywhere in the full bootstrap
    from coies_spark.ops.relext import relation_proposals

    t = spark.createDataFrame(
        [("c1", 0, "u", "scan the table then hash it", None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    d = spark.createDataFrame(
        [("table", "obj:table"), ("hash", "obj:hash"),
         ("scan", "act:scan")],
        ["surface", "entity"],
    )
    s = spark.createDataFrame(
        [("act:scan", "reads", "obj:table")], ["subj", "pred", "obj"]
    )
    p = plan_of(relation_proposals(t, d, s, max_len=2))
    assert "CartesianProduct" not in p
    # the ≤257-row weight table joins broadcast onto the counts
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_textrank_terms_plan_shape(spark):
    # co-occurrence edges via the (doc_id, pos+delta) equi-join —
    # no cartesian, partial aggregation before the edge distinct and
    # the pagerank contribution sums
    d = spark.createDataFrame(
        [(0, "spark shuffles data fast"), (1, "spark joins tables")],
        "doc_id long, text string",
    )
    p = plan_of(textstats.textrank_terms(d, topk=5))
    assert "CartesianProduct" not in p
    # the only nested-loop joins are pagerank's deliberate 1-row
    # corpus-size broadcasts (BuildRight, Cross — the tf-idf
    # pattern), never a data-vs-data cross
    import re as _re

    for m in _re.finditer(r"BroadcastNestedLoopJoin.*", p):
        assert "BuildRight, Cross" in m.group(0)
    assert "partial_count" in p and "partial_sum" in p


def test_textrank_sentences_plan_shape(spark):
    # sentence overlap via the (doc_id, token) inverted-index join;
    # the top-k window partitions by doc_id (no global single-task
    # Window), no cartesian anywhere
    d = spark.createDataFrame(
        [(0, "alpha beta gamma. alpha beta delta. epsilon zeta")],
        "doc_id long, text string",
    )
    p = plan_of(textstats.textrank_sentences(d, topk=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # every Window in the plan is doc_id-partitioned
    import re as _re

    for m in _re.finditer(r"Window .*", p):
        assert "doc_id" in m.group(0)


def test_pra_path_features_plan_shape(spark):
    # one midpoint-keyed self-join + partial-aggregated path counts;
    # the degree gate is a semi-join, never a cartesian
    from coies_spark.ops.kg import pra_path_features

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c")],
        "subj string, pred string, obj string",
    )
    p = plan_of(pra_path_features(t, max_degree=10))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


def test_connected_components_is_one_exchange_no_job(spark):
    """Building the CC plan runs no Spark job, and the plan is the one
    union-find pass: exactly one exchange, the gather into a single
    partition, with no localCheckpoint scan (LogicalRDD) for rounds or
    probes."""
    from coies_spark.operators.graph import connected_components

    edges = spark.range(40).select(
        (F.col("id") % 13).cast("string").alias("src"),
        ((F.col("id") * 7) % 19).cast("string").alias("dst"),
    )
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    cc = connected_components(edges)
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    p = plan_of(cc, "extended")
    physical = p[p.index("== Physical Plan =="):]
    exchanges = [l for l in physical.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1 and "SinglePartition" in exchanges[0]
    assert "LogicalRDD" not in p and "ExistingRDD" not in p
