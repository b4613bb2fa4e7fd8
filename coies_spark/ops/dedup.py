"""Deduplication family over a documents table.

Exact (hash groupBy), bag-of-words, n-gram Jaccard, MinHash+LSH, and
SimHash — each designed for the 100 TB regime:

* Exact / bag dedup: one shuffle on a 32-hex-char digest — the classic
  map-side-combine-friendly groupBy.
* Jaccard: candidate pairs come from an inverted shingle index with a
  **document-frequency cap** (``max_df``) so the self-join on shingle
  never quadratically explodes on stop-shingles; the exact Jaccard is
  then computed only for candidate pairs.
* MinHash+LSH: signature = per-(doc, hash-seed) min of a seeded md5
  digest (md5 hex strings order-compare portably across engines);
  banding turns near-dup search into an equality join on band keys —
  the standard shingle→minhash→band→bucket-join pipeline (Broder '97).
* SimHash: 16-bit md5-derived token hashes, per-bit majority vote
  (Charikar '02); one explode × 16 bits, one groupBy.

All digests are md5-based so DuckDB oracles reproduce them bit-for-bit.
No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokens_col
from .textstats import doc_shingles, shingles_col


def _md5(col) -> F.Column:
    return F.md5(F.encode(col, "utf-8"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, exact_rep): canonical representative (min doc_id) of
    each byte-identical-text group.  One shuffle on the text digest."""
    h = docs.select("doc_id", _md5(F.col("text")).alias("h"))
    reps = h.groupBy("h").agg(F.min("doc_id").alias("exact_rep"))
    return h.join(reps, "h").select("doc_id", "exact_rep")


def bag_digest_col(text_col: str = "text") -> F.Column:
    """md5 of the sorted distinct token list — the bag-dedup group
    key, shared with the curation pass so the two can't drift."""
    return _md5(
        F.array_join(
            F.array_sort(F.array_distinct(tokens_col(text_col))), " "
        )
    )


def bag_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, bag_rep): representative of each equal-token-multiset-
    ignoring-order-and-dups group (catches shuffled near-copies).
    Digest = md5 of the sorted distinct token list."""
    h = docs.select("doc_id", bag_digest_col().alias("h"))
    reps = h.groupBy("h").agg(F.min("doc_id").alias("bag_rep"))
    return h.join(reps, "h").select("doc_id", "bag_rep")


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.3,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): document pairs whose distinct-n-shingle
    Jaccard similarity is ≥ ``threshold``.

    Candidate generation joins the inverted index with itself **only on
    shingles with document frequency ≤ max_df** — at web scale the df
    cap is what keeps the join linear (stop-shingles would otherwise
    contribute df² pair rows).  Pairs are deduplicated as (a < b).
    """
    sh = doc_shingles(docs, n)
    # Universe = shingles with df <= max_df (stop-shingles excluded from
    # both numerator and denominator, keeping the measure symmetric).
    # The df count is a two-phase groupBy (map-side partial aggregation)
    # joined back onto the index — NOT a count window over
    # partitionBy(shingle): a window must co-locate ALL rows of a
    # stop-shingle (df=10⁸ at web scale) in ONE task before the cap can
    # drop them, while the partial agg reduces them map-side and AQE
    # splits any residual join skew.  Same rows out.
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    indexed = sh.join(keep, "shingle")
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = indexed.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = indexed.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
    )
    # No broadcast hint on the per-doc sizes: they are O(corpus) rows,
    # which would OOM a forced broadcast at the 100 TB design point —
    # AQE picks broadcast at bench scale and sort-merge at scale.
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures_wide(
    docs: DataFrame, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """(doc_id, m0..m{num_hashes-1}): the full MinHash signature in ONE
    map-side-combinable aggregation.  Each ``mi`` is the lexicographic
    min of seed-``i`` md5 hex digests over the doc's shingles — string
    ordering is identical across engines, so signatures are portable.

    Shape matters at 100 TB: all ``num_hashes`` digests are computed as
    sibling expressions on the un-exploded shingle rows and reduced by
    ``num_hashes`` parallel ``min`` aggregates, so the shingle stream
    passes the hash aggregate ONCE (vs the naive explode-by-seed which
    multiplies it by ``num_hashes``) and the shuffle carries one
    partially-aggregated row per (doc, map partition)."""
    sh = doc_shingles(docs, n)
    mins = [
        F.min(
            _md5(F.concat_ws(":", F.lit(str(i)), "shingle"))
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """(doc_id, h, minhash): long-format view of the wide signature —
    a driver-side-free unpivot, kept for oracle SQL twins and callers
    that want one row per (doc, seed)."""
    wide = minhash_signatures_wide(docs, n, num_hashes)
    stack = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.select(
        "doc_id",
        F.expr(f"stack({num_hashes}, {stack}) as (h, minhash)"),
    )


def oph_signatures_wide(
    docs: DataFrame, n: int = 3, num_buckets: int = 8
) -> DataFrame:
    """(doc_id, m0..m{k-1}): One-Permutation-Hashing MinHash (Li,
    Owen & Zhang, NIPS'12) with rotation densification (Shrivastava
    & Li, ICML'14) — the signature-BUILD cost lever.  Classic k-hash
    MinHash evaluates k digests per shingle (``minhash_signatures_
    wide`` computes 8 sibling md5s); OPH hashes each shingle ONCE,
    routes it to bucket ``hash % k``, and takes the per-bucket min —
    at web scale (10¹¹ docs × 10² shingles) that divides the
    signature pass's dominant cost by k while estimating the same
    Jaccard.

    Empty buckets (a short doc may hit < k buckets) are densified by
    cyclic rotation: bucket i borrows the nearest non-empty bucket to
    its right, with the borrow DISTANCE appended (``"<hex>:j"``, the
    ICML'14 offset trick in string form) so two docs that borrowed
    from different distances don't spuriously agree.  A doc with at
    least one shingle always densifies fully; the coalesce chain is
    k² column references — constant, in-plan, zero extra passes.

    Engine-portable: one md5 per shingle, bucket = first-8-hex int
    mod k (both operands non-negative, so ``pmod`` ≡ ``%``), mins
    compare lexicographically — identical in any engine.  Same
    single-pass map-side-combinable aggregate shape as the classic
    signature (k sibling conditional mins).
    """
    if num_buckets < 2:
        raise ValueError("oph_signatures_wide: num_buckets must be >= 2")
    sh = doc_shingles(docs, n)
    h = _md5(F.col("shingle"))
    rows = sh.select(
        "doc_id",
        h.alias("h"),
        F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
            F.lit(num_buckets),
        ).alias("b"),
    )
    mins = [
        F.min(F.when(F.col("b") == i, F.col("h"))).alias(f"r{i}")
        for i in range(num_buckets)
    ]
    raw = rows.groupBy("doc_id").agg(*mins)
    dense = [
        F.coalesce(
            *[
                # concat (NOT concat_ws: it skips NULLs and would
                # promote an empty bucket's bare distance marker)
                F.concat(
                    F.col(f"r{(i + j) % num_buckets}"),
                    F.lit(":"),
                    F.lit(str(j)),
                )
                for j in range(num_buckets)
            ]
        ).alias(f"m{i}")
        for i in range(num_buckets)
    ]
    return raw.select("doc_id", *dense)


def oph_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    num_buckets: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_a, doc_b): the LSH band join of :func:`lsh_candidate_
    pairs` run over OPH signatures — same banding, same bucket
    equality join, same verify composition downstream, 1/k the
    signature hashing cost."""
    wide = oph_signatures_wide(docs, n, num_buckets)
    return _pairs_from_bands(_band_rows(wide, num_buckets, band_size))


def band_keys(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_id, band, band_key): the LSH band index rows — band =
    ``band_size`` consecutive minhashes comma-joined in seed order,
    assembled from the wide signature (one row per doc per band).

    This IS the persistable index: at production scale it is written
    once, bucketed by (band, band_key), and reused by both the batch
    self-join (:func:`lsh_candidate_pairs`) and the ingest screen
    (:func:`incremental_neardup`) — signatures are never recomputed
    for the accepted corpus.
    """
    wide = minhash_signatures_wide(docs, n, num_hashes)
    return _band_rows(wide, num_hashes, band_size)


def _band_rows(
    wide: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """Band assembly over an ALREADY-BUILT wide-signature frame —
    shared by :func:`band_keys` and any caller that needs both the
    signatures and their bands without recomputing the signature
    aggregation (the corpus scan + per-seed-min groupBy that must run
    only once)."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{i}")
                    for i in range(
                        b * band_size,
                        min((b + 1) * band_size, num_hashes),
                    )
                ],
            ).alias("band_key"),
        )
        for b in range((num_hashes + band_size - 1) // band_size)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_key").alias("band_key"),
    )


def _pairs_from_bands(banded: DataFrame) -> DataFrame:
    """Canonical (doc_a < doc_b) distinct pairs agreeing on ≥ 1 band."""
    x = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    y = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        x.join(y, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def incremental_neardup(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_id, is_new, dup_of): screen an ingest BATCH against the
    already-accepted CORPUS — the incremental form of MinHash+LSH
    dedup that continuous 100-TB ingestion needs.  A batch doc is a
    near-dup when it agrees with any corpus doc on at least one LSH
    band; ``dup_of`` is the smallest such corpus doc_id (NULL when
    new), so re-screens are deterministic on any engine/partitioning.

    Why incremental beats re-running the self-join: the probe costs
    O(|batch| + collisions) — the corpus contributes only its
    (persisted) band index rows, and corpus×corpus pairs are never
    formed.  At production the index is written once bucketed by
    (band, band_key) (see :func:`band_keys`), so the probe join's
    corpus side needs no exchange; template/boilerplate band keys
    make the join skew-prone, which AQE skew split handles (the min
    aggregate is map-side combinable regardless).  Intra-batch
    duplicates are NOT flagged here — run the standard self-join
    within the (much smaller) batch for that.

    Every batch doc appears in the output exactly once — docs shorter
    than ``n`` tokens carry one truncated shingle (the
    :func:`~coies_spark.ops.textstats.shingles_col` convention), so
    even they get a signature row.
    """
    idx = band_keys(corpus, n, num_hashes, band_size).select(
        "band", "band_key", F.col("doc_id").alias("__corpus_doc")
    )
    probe = band_keys(batch, n, num_hashes, band_size)
    return (
        probe.join(idx, ["band", "band_key"], "left")
        .groupBy("doc_id")
        .agg(F.min("__corpus_doc").alias("dup_of"))
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("is_new"),
            "dup_of",
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_a, doc_b): near-duplicate candidates — pairs agreeing on at
    least one LSH band (band = ``band_size`` consecutive minhashes).

    The banded-signature equality join replaces the all-pairs cross
    join: cost is Σ bucket² over buckets, bounded in practice because a
    full band collision already implies high similarity.  Band keys are
    assembled from the wide signature row (comma-joined minhashes in
    seed order), so the whole candidate generation is one shuffle (the
    signature aggregation) plus the bucket self-join.
    """
    return _pairs_from_bands(band_keys(docs, n, num_hashes, band_size))


def _simhash_token_hash(bits: int):
    """md5-derived ``bits``-wide token hash column, engine-portable.

    ``bits <= 32``: the first ``bits/4`` md5 hex chars as a
    non-negative int.  ``bits == 64``: the first two 32-bit hex
    halves reassembled into the signed two's-complement BIGINT —
    ``(hi - 2^32·[hi ≥ 2^31]) · 2^32 + lo`` — exactly the arithmetic
    the DuckDB oracle runs, so fingerprints agree across engines at
    every width (no engine-specific xxhash64 in the portable path).
    """
    if bits == 64:
        hi = F.conv(F.substring(_md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(_md5(F.col("tok")), 9, 8), 16, 10).cast("long")
        return (
            hi - F.when(hi >= F.lit(2**31), F.lit(2**32)).otherwise(F.lit(0))
        ) * F.lit(2**32) + lo
    return F.conv(
        F.substring(_md5(F.col("tok")), 1, bits // 4), 16, 10
    ).cast("long")


def _bit_term(b: int):
    """Long literal with only bit ``b`` set (two's complement: bit 63
    is the sign bit, so its term is MIN_LONG, not an overflowing
    ``1 << 63``)."""
    return F.lit(-(2**63)) if b == 63 else F.lit(1 << b)


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash): Charikar fingerprint over distinct tokens.

    ``bits = 64`` is the production default — the Manku et al.
    (WWW'07) configuration.  A 16-bit print has a 65,536-point
    fingerprint space: beyond ~10⁵ docs distinct documents collide at
    hamming=0 and the pigeonhole blocks of :func:`simhash_pairs` stop
    pruning (every 4-bit block bucket holds ~n/16 docs).  16/32 stay
    supported for compatibility and small corpora.

    Token hash = md5-derived (see :func:`_simhash_token_hash` for the
    portable 64-bit assembly); simhash bit b = majority vote of token
    bit b.  All ``bits`` vote sums are sibling aggregates in ONE
    map-side-combinable groupBy on the un-exploded token rows (same
    shape as the wide MinHash signature) — the token stream passes
    the aggregate once and the shuffle carries one partial row per
    (doc, map partition).
    """
    if bits not in (16, 32, 64):
        raise ValueError(f"simhash: bits must be 16, 32 or 64, got {bits}")
    tok = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .distinct()
        .select("doc_id", _simhash_token_hash(bits).alias("th"))
    )
    # (th >> b) & 1 recovers original bit b regardless of arithmetic
    # sign extension: the extension only touches bits above 63-b
    votes = [
        F.sum(
            F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    wide = tok.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, _bit_term(b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return wide.select(
        "doc_id", fingerprint.cast("long").alias("simhash")
    )


def contamination_pairs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: float = 0.5,
    benchmark_in_docs: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination: (doc_id, bench_id, n_shared, n_bench,
    overlap, contaminated) for every (document, benchmark item) pair
    sharing at least one distinct ``n``-token shingle.  ``overlap`` is
    the fraction of the benchmark item's distinct shingles that appear
    in the document — the train-side contamination rule used by GPT-3
    (13-gram) and PaLM (8-gram) eval decontamination; ``contaminated``
    flags overlap ≥ ``min_overlap``.

    ``benchmark`` is any frame with (doc_id, text); its ids are
    reported as ``bench_id``.  Set ``benchmark_in_docs=True`` ONLY
    when the benchmark rows really are a subset of ``docs`` sharing
    its id space: it excludes same-id self-pairs.  Leave it False for
    an independently-loaded benchmark — there an id collision is
    coincidence, and excluding it would silently hide a genuine
    contamination hit.

    Scale: benchmark suites are small next to a pretraining corpus,
    so by default the benchmark's inverted shingle index and per-item
    sizes are BROADCAST — the corpus-side probe is a map-side hash
    join with no shuffle of the big side; the only big-side shuffle
    is the (doc_id, bench_id) pair count, whose cardinality is
    bounded by true collisions.  The forced broadcast is sized for
    suites up to ~10⁵ items (~10⁶-10⁷ shingle rows); for larger
    suites pass ``broadcast=False`` and let AQE pick the join (a
    10⁶-item suite's exploded index is GBs — force-broadcasting it
    bypasses AQE's size check and times out / OOMs).  Collision
    frequency is governed by ``n``: at the production default n=8
    random n-gram collisions are vanishingly rare (the PaLM choice),
    so no df cap is needed; short n on small corpora (tests use n=3)
    trades that guard for recall.
    """
    hint = F.broadcast if broadcast else (lambda df: df)
    d_sh = doc_shingles(docs, n)
    b_sh = (
        doc_shingles(benchmark, n)
        .withColumnRenamed("doc_id", "bench_id")
    )
    b_sizes = b_sh.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_bench")
    )
    shared = d_sh.join(hint(b_sh), "shingle")
    if benchmark_in_docs:
        shared = shared.where(F.col("doc_id") != F.col("bench_id"))
    shared = shared.groupBy("doc_id", "bench_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return (
        shared.join(hint(b_sizes), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            "n_bench",
            F.round(F.try_divide("n_shared", "n_bench"), 6).alias("overlap"),
            (
                F.try_divide("n_shared", "n_bench") >= F.lit(min_overlap)
            ).alias("contaminated"),
        )
    )


def dedup_cluster_sizes(docs: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters): histogram of bag-dedup group sizes
    — the dedup monitoring table (how much of the corpus is
    duplicated, and in how large clusters).  Two map-side-combinable
    groupBys over the digest; the second input is one row per group,
    so the histogram costs one tiny shuffle beyond the digest count.
    """
    return (
        docs.select(bag_digest_col().alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def simhash_blocks(
    sh: DataFrame, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """(doc_id, simhash, blk, bv): the pigeonhole block explode of a
    :func:`simhash` table — the bucketing stage of
    :func:`simhash_pairs`, exposed so bucket-size distributions can be
    audited directly (the blocking only prunes when buckets stay
    small; see the ``bits`` discussion on :func:`simhash`)."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    if width == 0:
        # every non-final block mask would be 0: all docs collide in
        # one bucket and the "blocked" join silently degenerates to
        # the all-pairs O(n²) scan the algorithm exists to avoid
        raise ValueError(
            f"simhash_blocks: bits ({bits}) must be >= max_hamming+1 "
            f"({n_blocks}) so each pigeonhole block has >= 1 bit"
        )

    def _bv(i: int):
        shifted = F.shiftright(F.col("simhash"), i * width)
        if i == n_blocks - 1 and bits - i * width >= 64:
            # final block reaches the sign bit: the sign-extended
            # shift is injective in the block bits, so equality
            # bucketing works unmasked (a (1<<64)-1 mask would
            # overflow the long literal)
            return shifted
        mask = (1 << (bits - i * width if i == n_blocks - 1 else width)) - 1
        return shifted.bitwiseAND(F.lit(mask))

    blocks = F.array(
        *[
            F.struct(F.lit(i).alias("blk"), _bv(i).alias("bv"))
            for i in range(n_blocks)
        ]
    )
    return sh.select(
        "doc_id", "simhash", F.explode(blocks).alias("bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.blk").alias("blk"),
        F.col("bb.bv").alias("bv"),
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """(doc_a, doc_b, hamming): document pairs whose SimHash
    fingerprints differ in ≤ ``max_hamming`` bits — the blocked
    near-dup search of Manku et al. (WWW'07, "Detecting
    Near-Duplicates for Web Crawling"), at its 64-bit production
    configuration by default (16-bit blocks at the default
    ``max_hamming=3``).

    Pigeonhole blocking: the fingerprint splits into ``max_hamming+1``
    contiguous bit blocks; two prints within Hamming distance d must
    agree EXACTLY on at least one block, so candidates come from
    ``d+1`` equality self-joins on (block index, block value) — never
    an all-pairs scan — and are then verified with an exact
    ``bit_count(a XOR b)``.  Shuffle cost: one fingerprint pass plus a
    (d+1)-way block explode and the bucket self-join, the same shape
    as MinHash banding.

    Block width = ``bits // (max_hamming+1)`` bounds the blocking's
    pruning power: expected bucket size is n / 2^width per block, so
    64-bit prints with 16-bit blocks keep buckets near-singleton to
    n ≈ 10⁵ docs, while the old 16-bit default (4-bit blocks, only 16
    bucket values) degenerates to O(n²/16) candidate pairs — measured
    in tests/test_ops_edge_cases (bucket-shrink test).
    """
    sh = simhash(docs, bits)
    banded = simhash_blocks(sh, max_hamming, bits)
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
        "blk",
        "bv",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
        "blk",
        "bv",
    )
    return (
        a.join(b, ["blk", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def duplicate_spans(docs: DataFrame, span_tokens: int = 50) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal duplicated
    token spans — every run of text whose ``span_tokens``-token windows
    all occur more than once in the corpus (ExactSubstr dedup, Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models
    Better"; 50 tokens is that paper's production threshold).  Their
    suffix-array formulation is single-machine; the distributed
    equivalent used here: a window is duplicated iff its stride-1
    ``span_tokens``-token shingle occurs >= 2 times globally (same or
    different doc), and overlapping / exactly-adjacent duplicated
    windows per doc merge into maximal spans.  ``span_start`` /
    ``span_end`` are inclusive 0-based token offsets.

    Plan shape (100 TB): positions carry a 32-hex md5 of the shingle,
    not the text; the global count is a map-side-combinable groupBy
    filtered to duplicates BEFORE the equality join back onto the
    position list (the same inverted-index-then-join shape as
    ``jaccard_pairs``); the island merge is one per-doc window pass.
    Docs shorter than ``span_tokens`` cannot contain a duplicated span
    and are pruned before shingling.
    """
    k = span_tokens
    pos = (
        docs.select("doc_id", tokens_col("text").alias("toks"))
        .where(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(shingles_col(k), lambda s: F.md5(F.encode(s, "utf-8")))
            ).alias("pos", "h"),
        )
    )
    dup = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("h")
    )
    flagged = pos.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    islands = flagged.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
        )
        .over(w)
        .alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + k - 1).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
    ).drop("island")


def scrub_duplicate_spans(docs: DataFrame, span_tokens: int = 50) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): the corpus with every
    :func:`duplicate_spans` span CUT OUT — the apply step of Lee et
    al. 2022's ExactSubstr dedup (they delete one copy of each
    duplicated byte range; here every occurrence of a duplicated span
    is dropped, the stricter variant, and ``clean_text`` is the
    space-joined surviving tokens — span accounting is token-level, so
    reconstruction is too).

    Plan shape: spans explode into covered (doc_id, pos) pairs — an
    equality anti-join key, NOT a range join, so no per-token interval
    probe; surviving tokens reassemble per doc with an order-stable
    sort_array over (pos, token) structs (collect_list order after a
    shuffle is undefined; the sort pins it).  Docs with no duplicated
    span pass through with ``n_removed = 0``.
    """
    k = span_tokens
    toks = docs.select("doc_id", tokens_col("text").alias("toks")).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    covered = duplicate_spans(docs, k).select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .join(
            docs.select(
                "doc_id", F.size(tokens_col("text")).alias("__orig")
            ),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            (F.col("__orig") - F.coalesce("n_tokens", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def hard_negative_pairs(
    docs: DataFrame,
    lo: float = 0.3,
    hi: float = 0.8,
    n: int = 3,
    max_df: int = 10,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): contrastive-training hard negatives —
    document pairs that are lexically CLOSE (jaccard ≥ ``lo``) but
    NOT near-duplicates (jaccard < ``hi``).  The mid-similarity band
    is exactly what retrieval/embedding training wants as hard
    negatives (ANCE-style lexical mining): random pairs are trivially
    separable and near-dups are false negatives, so the band between
    them carries the gradient signal.

    Pure composition of :func:`jaccard_pairs` (inverted index with
    the df cap, (a<b) canonical pairs) plus the upper cut — same
    web-scale plan, and the DuckDB twin nests the jaccard oracle
    verbatim so the band can never drift from the dedup measure it
    complements.
    """
    if not (0.0 <= lo < hi):
        raise ValueError("hard_negative_pairs: need 0 <= lo < hi")
    pairs = jaccard_pairs(docs, n=n, max_df=max_df, threshold=lo)
    return pairs.where(F.col("jaccard") < hi)


def minhash_estimate_error(
    docs: DataFrame, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """(n_pairs, mae, max_err, mean_est, mean_exact): the MinHash
    signature-quality gauge — for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (matching slots /
    num_hashes, the Broder estimator whose per-slot match probability
    IS the Jaccard) against the EXACT distinct-shingle Jaccard, and
    the aggregate error.  This is the "measure, don't guess" dial for
    sizing ``num_hashes``: if MAE at 8 hashes is already below the
    dedup threshold margin, more hashes buy nothing; if max_err
    crosses the band edge, near-dups are being mis-binned and the
    signature is too short.

    Scale: the wide-signature frame is built ONCE and reused for both
    the candidate generation (band assembly via :func:`_band_rows`)
    and the estimate columns — the signature aggregation (the corpus
    tokenize + per-seed-min groupBy, the dominant shuffle) appears as
    one subtree the three consumers share, so Spark's exchange reuse
    runs it once instead of the naive three times.  Exact Jaccard is
    computed ONLY for the candidate pairs (two semi-ish joins of the
    pair list into the distinct-shingle index — bounded by candidates
    × shingles-per-doc, never corpus²).  Output is one row.
    """
    wide = minhash_signatures_wide(docs, n=n, num_hashes=num_hashes)
    pairs = _pairs_from_bands(_band_rows(wide, num_hashes, band_size=2))
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(num_hashes)
    )
    est = (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(num_hashes)).alias("est"),
        )
    )
    sh = doc_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    exact = (
        common.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("exact"),
        )
    )
    per_pair = est.join(exact, ["doc_a", "doc_b"]).select(
        "est", "exact", F.abs(F.col("est") - F.col("exact")).alias("err")
    )
    return per_pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("err"), 6).alias("mae"),
        F.round(F.max("err"), 6).alias("max_err"),
        F.round(F.avg("est"), 6).alias("mean_est"),
        F.round(F.avg("exact"), 6).alias("mean_exact"),
    )


def cosine_pairs(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_a, doc_b, cosine): document pairs whose n-shingle
    count-vector cosine similarity is ≥ ``threshold`` — the WEIGHTED
    complement of :func:`jaccard_pairs` (shingle MULTIPLICITY counts,
    where Jaccard sees only set membership; Elsayed/Lin/Oard ACL'08
    pairwise-similarity postings design).  ``n=1`` degrades to plain
    bag-of-words cosine.

    Exactness across engines: the dot product and the squared norms
    are INTEGER aggregates (Σ tf_a·tf_b, Σ tf²), so the only float
    arithmetic is the single final ``dot / sqrt(na2·nb2)`` expression
    — no float-summation-order dependence at all (stronger than the
    rounding convention the float-sum operators need).

    Scale: identical inverted-index shape to :func:`jaccard_pairs` —
    postings self-join ONLY on shingles with document frequency ≤
    ``max_df`` (the two-phase df cap: map-side-combinable count, join
    back — never a count window that would co-locate a stop-shingle's
    10⁸ postings in one task).  Norms are computed over the SAME
    capped vocabulary so the measure stays symmetric: dropped
    stop-shingles vanish from numerator and denominator alike (unit
    vectors over the surviving vocabulary).  No broadcast hint on the
    per-doc norms — O(corpus) rows, AQE picks the strategy.
    """
    toks = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).select("doc_id", F.explode(shingles_col(n)).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    keep = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("tok")
    )
    indexed = tf.join(keep, "tok")
    norms = indexed.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = indexed.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("tf").alias("tfa")
    )
    b = indexed.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("tf").alias("tfb")
    )
    dot = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")
    )
    # the n2 product is cast to double BEFORE the multiply: two
    # long sums each fit, but their product overflows int64 for
    # ~10⁶-token documents
    cos = F.round(
        F.col("dot")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.8,
) -> DataFrame:
    """(doc_a, doc_b, containment): DIRECTED pairs where doc_a's
    distinct n-shingles are mostly inside doc_b's —
    ``containment = |Sh(a) ∩ Sh(b)| / |Sh(a)| ≥ threshold`` (Broder
    1997's containment, the asymmetric twin of resemblance/Jaccard).

    Jaccard misses subset documents: a 100-shingle doc fully contained
    in a 10,000-shingle doc scores J ≈ 0.01 but containment 1.0.  In
    a transcript corpus that is the RETRY shape — an agent run
    re-emitted with a longer continuation — and the quote/boilerplate
    shape in web corpora, so the dedup policy "drop the contained
    side, keep the superset" needs this measure, not Jaccard.

    Both directions are evaluated per candidate pair and emitted
    independently (two rows when two near-equal docs contain each
    other) — doc_a is always the CONTAINED side.

    Scale: the same df-capped inverted-index self-join as
    :func:`jaccard_pairs` — candidate generation touches only
    shingles with document frequency ≤ ``max_df`` (two-phase cap:
    map-side-combinable count joined back, never a count window), and
    the shingle-set sizes are computed over the SAME capped
    vocabulary, so containment stays a ratio of like terms.  One
    intersection groupBy serves both directions.
    """
    sh = doc_shingles(docs, n)
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    indexed = sh.join(keep, "shingle")
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = indexed.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = indexed.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    both = common.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(
        "doc_a",
        "doc_b",
        F.round(F.col("common") / F.col("na"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        F.round(F.col("common") / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


def bloom_positions(key: F.Column, m_bits: int, k: int) -> F.Column:
    """array<long> of ``k`` bit positions for ``key`` — position i is
    the first-32-bits-of-md5 of ``key || ':' || i`` mod ``m_bits``
    (independent-enough hashes via domain separation; engine-portable
    because md5 and string concat agree everywhere).  Duplicate
    positions across the k draws are legal Bloom semantics."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                key.cast("string"), F.lit(f":{i}")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for i in range(k)
        ]
    )


def _bit_mask() -> F.Column:
    """int64 word mask for a bit position ``pos`` — shiftleft needs
    its bit count as a column here, which the SQL form accepts (built
    lazily: F.expr requires an active session)."""
    return F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")


def bloom_build(
    docs: DataFrame, m_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """(word_idx, bits): an ``m_bits``-bit Bloom filter over the
    corpus's exact-dedup text digests, packed as int64 words — only
    non-zero words materialize, so an underfilled filter is sparse.

    This is the accepted-corpus MEMBERSHIP SUMMARY for continuous
    ingestion: new batches probe it (:func:`bloom_probe`) and only
    probable members pay the exact verify join —
    :func:`incremental_neardup`'s cheap exact-duplicate front door.
    At 10⁹ accepted docs, a 1%-FP filter is ~1.2 GB packed (9.6 bits/
    key, k=7) — broadcastable where the digest table itself is not;
    the word-packed form here shuffles only (word_idx, mask) pairs
    and reduces map-side (``bit_or`` is commutative-associative).

    Determinism: positions are md5-derived (engine-portable, see
    :func:`bloom_positions`), packing is pure integer arithmetic —
    the filter bits are bit-identical on any engine or partitioning.
    """
    if m_bits < 64 or m_bits % 64:
        raise ValueError("bloom_build: m_bits must be a multiple of 64")
    if k < 1:
        raise ValueError("bloom_build: k must be >= 1")
    pos = docs.select(
        F.explode(
            bloom_positions(_md5(F.col("text")), m_bits, k)
        ).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        _bit_mask().alias("mask"),
    )
    return pos.groupBy("word_idx").agg(F.bit_or("mask").alias("bits"))


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """(doc_id, maybe_member): probe a batch against a packed Bloom
    filter — ``maybe_member`` is true iff ALL k bit positions of the
    doc's text digest are set (Bloom guarantee: no false negatives;
    false positives at the filter's design rate).

    Scale: the batch explodes to k rows per doc, LEFT-joins the
    filter on ``word_idx`` (broadcast — the filter is ≤ m_bits/64
    rows by construction), and reduces back with ``min(hit)``; an
    absent word means those bits are 0.  The probe never touches the
    accepted corpus itself — that is the point.
    """
    probe = batch.select(
        "doc_id",
        F.explode(
            bloom_positions(_md5(F.col("text")), m_bits, k)
        ).alias("pos"),
    ).select(
        "doc_id",
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        _bit_mask().alias("mask"),
    )
    hit = (
        probe.join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
                    F.col("mask")
                )
                != 0
            )
            .cast("int")
            .alias("hit"),
        )
    )
    return hit.groupBy("doc_id").agg(
        (F.min("hit") == 1).alias("maybe_member")
    )


def ingest_screen(
    corpus: DataFrame,
    batch: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 4,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_id, status, dup_of): the COMPOSED continuous-ingestion
    screen — every batch doc classified ``exact`` (byte-identical text
    already accepted), ``near`` (agrees with an accepted doc on ≥ 1
    LSH band), or ``new``, with ``dup_of`` the smallest matching
    corpus doc_id (NULL for ``new``).  Each doc appears exactly once;
    ``exact`` wins over ``near``.

    The staging is the point.  Tier 1: a packed Bloom filter over the
    corpus digests (:func:`bloom_build`) gates the batch — docs the
    filter rejects are PROVABLY not exact duplicates (no false
    negatives), so only the ``maybe_member`` slice pays the exact
    digest-verify join against the corpus.  In steady-state ingestion
    most arrivals are fresh, so the broadcast-sized filter absorbs
    the corpus-sized join for the majority of the batch; Bloom false
    positives merely pay the verify and come out clean — the OUTPUT
    is bit-identical to running the verify join on everything, which
    is exactly what the DuckDB oracle twin checks.  Tier 2: exact
    dups exit; only the survivors run the LSH band probe
    (:func:`incremental_neardup`).

    At production the three corpus-side artifacts — Bloom words,
    digest→min-doc table, band index — are persisted once per
    accepted-corpus snapshot (the band index bucketed by (band,
    band_key), see :func:`band_keys`) and only the batch side is
    computed per arrival; here they are derived inline so the
    operator is self-contained.
    """
    bloom = bloom_build(corpus, m_bits, k)
    probed = bloom_probe(batch, bloom, m_bits, k)
    maybe = (
        batch.join(probed.where("maybe_member"), "doc_id")
        .select("doc_id", _md5(F.col("text")).alias("h"))
    )
    corp_min = (
        corpus.select(_md5(F.col("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("__exact_of"))
    )
    exact_map = maybe.join(corp_min, "h").select("doc_id", "__exact_of")
    flagged = batch.join(exact_map, "doc_id", "left")
    exact_rows = flagged.where(F.col("__exact_of").isNotNull()).select(
        "doc_id",
        F.lit("exact").alias("status"),
        F.col("__exact_of").alias("dup_of"),
    )
    survivors = flagged.where(F.col("__exact_of").isNull()).select(
        *batch.columns
    )
    near = incremental_neardup(corpus, survivors, n, num_hashes, band_size)
    near_rows = near.select(
        "doc_id",
        F.when(F.col("is_new"), "new").otherwise("near").alias("status"),
        "dup_of",
    )
    return exact_rows.unionByName(near_rows)


def pair_recall(
    truth: DataFrame, candidates: DataFrame
) -> DataFrame:
    """(n_true, n_candidates, n_hit, recall, precision): the dedup
    ROUTE-quality gauge — how much of the exact ground-truth pair set
    an approximate candidate route (LSH bands, OPH bands, SimHash
    blocks, containment index) recovers, and how much of what it
    emits is real.  The :func:`~coies_spark.ops.similarity.ann_recall`
    move applied to dedup: the number that decides num_hashes /
    band_size / bits, instead of guessing.

    Both inputs are (doc_a, doc_b) frames; pairs are canonicalized
    (min, max) before comparison so either orientation counts.
    Integer-exact: recall = n_hit / n_true, precision = n_hit /
    n_candidates (rounded 6; 0-denominator reports NULL via ANSI-safe
    ``try_divide``-equivalent CASE).  One inner join on the pair key
    plus three map-side-combinable counts.
    """

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col("doc_a"), F.col("doc_b")).alias("a"),
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("b"),
        ).distinct()

    t, c = canon(truth), canon(candidates)
    hit = t.join(c, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    nt = t.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return (
        nt.crossJoin(nc)
        .crossJoin(hit)
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hit") / F.col("n_true"), 6),
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_hit") / F.col("n_candidates"), 6),
            ).alias("precision"),
        )
    )



def _component_labels(
    docs: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """docs columns + ``component``: connected components of the
    near-dup pair graph, every unpaired doc its own singleton
    (min-string-id labels — the CC convention).  Shared by
    :func:`dedup_representatives` and :func:`soft_dedup_weights` so
    the edge projection / labeling conventions cannot drift."""
    from ..operators.graph import connected_components

    edges = pairs.select(
        F.col("doc_a").cast("string").alias("src"),
        F.col("doc_b").cast("string").alias("dst"),
    )
    cc = connected_components(edges).withColumnRenamed(
        "node", "__node"
    )
    return (
        docs.join(
            cc, F.col(id_col).cast("string") == F.col("__node"), "left"
        )
        .select(
            *docs.columns,
            F.coalesce(
                F.col("component"), F.col(id_col).cast("string")
            ).alias("__component"),
        )
        .withColumnRenamed("__component", "component")
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, component, rep_id, kept): quality-aware near-dup
    canonicalization — connected components over any near-dup pair
    frame (LSH candidates, verified Jaccard, containment), then each
    cluster keeps its HIGHEST-``score_col`` member (ties → smallest
    id in STRING order — the component-label convention, identical
    on every engine) instead of the arbitrary min-id representative
    :func:`bag_dedup` uses.  When near-copies differ (one is
    truncated, one is boilerplate-wrapped, one is the clean
    original), min-id keeps a random-quality copy; keep-best is the
    curation rule that preserves corpus quality while removing the
    same number of rows.

    Unpaired docs are their own singleton component (kept).  The
    component key is the cluster min-id (string, the
    connected-components convention); ``rep_id`` is the winner's id
    as a string; filter ``kept`` for the deduped corpus, or join
    ``rep_id`` back for provenance.

    Scale: one left join + one component-keyed window, no step
    all-pairs; the CC is union-find, so the chaining of near-dup
    candidate graphs (diameter not bounded by construction) costs
    no rounds.  Bound: the CC's gathering pass holds one entry per
    distinct PAIRED doc id in a single Python worker (unpaired docs
    never reach it), so the paired id set must fit one worker's
    memory.
    """
    labeled = _component_labels(
        docs.select(F.col(id_col), F.col(score_col).alias("__score")),
        pairs,
        id_col,
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("__score"), F.asc(F.col(id_col).cast("string"))
    )
    return (
        labeled.withColumn(
            "__rep",
            F.first(F.col(id_col).cast("string")).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select(
            id_col,
            "component",
            F.col("__rep").alias("rep_id"),
            (F.col(id_col).cast("string") == F.col("__rep")).alias(
                "kept"
            ),
        )
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, component, cluster_size, weight): SOFT deduplication
    — instead of dropping near-duplicates, every document gets
    sampling weight 1/cluster_size, so each duplicate CLUSTER
    contributes one document's worth of expected training mass while
    every variant stays available (the soft-dedup/commonality
    reweighting idea: hard removal loses the variation between
    near-copies; down-weighting keeps it at unchanged effective
    epochs).  Feed ``weight`` into
    :func:`~coies_spark.ops.sampling.weighted_sample` (or multiply
    into a mixture rate) — the two-op composition IS the method.

    Same cluster machinery as :func:`dedup_representatives`
    (union-find components over any near-dup pair frame, singletons
    weight 1.0); weight = round(1/size, 6).

    Scale: the CC + one size groupBy + one component-keyed join —
    nothing all-pairs, output corpus-sized but only 4 columns.  The
    CC's bound is :func:`dedup_representatives`': every distinct
    paired doc id in one Python worker.
    """
    labeled = _component_labels(docs.select(F.col(id_col)), pairs, id_col)
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labeled.join(sizes, "component").select(
        id_col,
        "component",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )
