"""Context-based one-shot mention extraction — reference semantics.

This module holds the algorithm of the reference's flagship model
``OneShotTestWVSumWVPhraseBi`` (main.py:94; oneshot_test.py:470-475,
217-263) in two independent forms:

* ``oracle_extract_doc`` — a faithful, dict-based, single-node
  re-implementation mirroring the reference's control flow (including
  its insertion-order tie-breaking and string-containment membership).
  Used as the parity oracle in tests — never on the cluster.

* ``detect_doc`` — a numpy-vectorized kernel with pinned deterministic
  tie-breaking and positional window membership.  This is what the
  Spark pipeline runs per conversation inside Arrow ``mapInPandas``
  batches (pipeline/extract.py), with the example-side artifacts
  broadcast.

Algorithm per (document, example mention m of type k) — citations into
/root/reference/:

1. Example context vectors: embeddings (word-vector SUM,
   context_based_models.py:177-180) of every ``context_size``-token
   stride-1 window of the example that contains m
   (context_based_models.py:70-81, oneshot_test.py:400-415).
2. Candidate contexts: all ``context_size`` windows of the test doc,
   embedded the same way (oneshot_test.py:417-423, 542-548).
3. For each example vector: rank all test windows by |cosine|, keep the
   top ``2*topn`` (oneshot_test.py:433), cut with ``top_group`` at
   ``context_threshold`` (utilities.py:64-82); merge across example
   vectors keeping the max similarity per window (oneshot_test.py:50-63).
4. Candidate grams: bigram-phrased tokens of the RAW document text,
   split on the phrase delimiter (oneshot_test.py:160-165); keep grams
   occurring inside a matched window (utilities.py:98-107, 156-165).
5. Rank candidates by ``(1 + ctx_sim) * |cos(gram_vec(m), gram_vec)|``
   maxed over containing windows (oneshot_test.py:225-236); take the
   top ``topn``; cut with ``top_group`` at ``2*word_threshold``
   (oneshot_test.py:237-241).
6. Emit the surviving grams as the extractions (oneshot_test.py:248).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

import numpy as np

from . import textproc
from .embed import (
    HashEmbedding,
    PhraseTable,
    cosine,
    doc_vector,
    gram_vector,
    gram_vectors_batch,
    unit_rows,
)
from .grams import windows as make_windows
from .ranking import rank_desc, top_group

# Worker-memo bound: gram vectors are d floats each (~4 KB at d=512 →
# ~800 MB at cap).  Clear-on-cap keeps a long-lived executor's Python
# workers flat over open vocabularies.
GRAM_VEC_CACHE_CAP = 200_000


@dataclass(frozen=True)
class ExtractionConfig:
    """Flagship parameters (oneshot_test.py:16-21 ``base_conf_dict``)."""

    topn: int = 5
    context_threshold: float = 0.9
    word_threshold: float = 0.6
    context_size: int = 100
    dim: int = 16
    salt: str = "coies"
    phrase_min_count: int = 5
    phrase_threshold: float = 10.0


@dataclass
class MentionSeed:
    """One tagged example mention with its broadcastable artifacts."""

    pred: str
    tokens: tuple[str, ...]
    gram_vec: np.ndarray          # (d,)  — gram-model vector of the mention
    context_vecs: np.ndarray      # (k,d) — context vectors of windows containing it
    # unit-normalized copies, computed ONCE at build time — the kernel
    # reuses them for every document instead of renormalizing per doc
    context_units: np.ndarray = None  # type: ignore[assignment]
    gram_unit: np.ndarray = None      # type: ignore[assignment]

    def __post_init__(self):
        if self.context_units is None:
            self.context_units = unit_rows(self.context_vecs)
        if self.gram_unit is None:
            self.gram_unit = unit_rows(self.gram_vec[None, :])


@dataclass
class ExampleArtifacts:
    """Everything derived from the one-shot example (driver-side, tiny)."""

    config: ExtractionConfig
    seeds: list[MentionSeed]
    phrases: PhraseTable
    emb: HashEmbedding = field(repr=False)
    # gram model (reference: phrased-corpus word2vec, see
    # build_example_artifacts); None → emb serves both roles
    gram_emb: Optional[HashEmbedding] = field(default=None, repr=False)
    # per-process memo (vocabulary repeats heavily across documents, so
    # this amortizes; it grows worker-locally like emb's cache):
    # gram → unit-normalized float64 vector (gram model output).
    # Size-capped (clear-on-cap) so an open vocabulary — numbers,
    # typos — cannot leak memory in a long-lived executor.
    gram_vec_cache: dict = field(default_factory=dict, repr=False, compare=False)


def build_example_artifacts(
    example_tagged_text: str,
    corpus_sentences: Sequence[Sequence[str]],
    config: ExtractionConfig,
    phrases: Optional[PhraseTable] = None,
    emb: Optional[HashEmbedding] = None,
    gram_emb: Optional[HashEmbedding] = None,
) -> ExampleArtifacts:
    """Parse the tagged example and precompute per-mention seed vectors.

    ``corpus_sentences`` is the (sampled) corpus used to train the
    phrase table (reference trains on the full AAER corpus,
    aaer_corpus.py:105-134).  ``emb`` swaps in a trained embedding
    table (core.embed.MappedEmbedding over ops/embedding_train.py
    output); default is the deterministic hash embedding.

    ``gram_emb``: the GRAM model — the reference flagship uses TWO
    word2vec models (OneShotTestWVSumWVPhraseBi, oneshot_test.py:
    470-475): context windows score under a raw-corpus model
    (DocVecByWESum over AAERParserSentences, context_based_models.py:
    136-180) while candidate/seed grams score under a model trained on
    the bigram-PHRASED corpus (PhraseVecBigrams → AAERExParser-
    PhrasesBigrams, context_based_models.py:203-218 + aaer_corpus.py:
    149-160), so phrase tokens like ``esafetyworld_inc`` carry real
    trained vectors.  Defaults to ``emb`` (single-model setting).
    """
    if emb is None:
        emb = HashEmbedding(config.dim, config.salt)
    if gram_emb is None:
        gram_emb = emb
    if phrases is None:
        phrases = PhraseTable.train(
            corpus_sentences,
            min_count=config.phrase_min_count,
            threshold=config.phrase_threshold,
        )
    tagged = textproc.tagged_tokens_from_text(example_tagged_text)
    tokens = [t for t, _ in tagged]
    spans = textproc.entity_spans(tagged)

    win = make_windows(tokens, config.context_size)
    seeds: list[MentionSeed] = []
    for pred, mention_tokens, start, end in spans:
        # Reference semantics (find_ngrams_by_tagged_words,
        # context_based_models.py:70-81): a seed's context set is every
        # window whose CONTENT contains the mention as a contiguous
        # sublist (including the is_sublist_of suffix quirk on the
        # first token) — NOT just the windows positionally covering
        # this occurrence.  Duplicate tagged mentions therefore share
        # the union of windows across all their occurrences, and a doc
        # shorter than context_size yields ZERO windows (and so no
        # extractions for the seed), exactly like ngram_from_list.
        ctx_vecs = [
            doc_vector(emb, wtoks, "sum")
            for _, wtoks in win
            if textproc.is_contiguous_sublist(mention_tokens, wtoks)
        ]
        seeds.append(
            MentionSeed(
                pred=pred,
                tokens=tuple(mention_tokens),
                gram_vec=gram_vector(gram_emb, phrases, mention_tokens),
                context_vecs=(
                    np.stack(ctx_vecs)
                    if ctx_vecs
                    else np.zeros((0, config.dim), np.float32)
                ),
            )
        )
    return ExampleArtifacts(
        config=config,
        seeds=seeds,
        phrases=phrases,
        emb=emb,
        gram_emb=gram_emb,
    )


@dataclass(frozen=True)
class Emission:
    pred: str
    gram: tuple[str, ...]
    score: float
    seed_tokens: tuple[str, ...]


# --------------------------------------------------------------------------
# Faithful single-node oracle (dict-based, reference control flow)
# --------------------------------------------------------------------------

def oracle_extract_doc(
    raw_text: str,
    context_text: str,
    artifacts: ExampleArtifacts,
) -> list[Emission]:
    """Reference-faithful extraction for one document.

    ``raw_text``: untagged source text → candidate grams
    (oneshot_test.py:160-165 reads the raw twin via
    file_tools.py:103-105).  ``context_text``: text whose token stream
    forms the context windows (the tagged file in the reference; tags
    are stripped to tokens — oneshot_test.py:417-423).
    """
    cfg = artifacts.config
    emb, phrases = artifacts.emb, artifacts.phrases
    gram_emb = artifacts.gram_emb or emb

    # Candidate gram dict: phrased raw sentences → flatten → split on '_'
    # → first-occurrence-ordered unique tuples (oneshot_test.py:160-165).
    # Gram vectors come from the GRAM model (phrased-corpus word2vec in
    # the reference flagship), context vectors below from ``emb``.
    sent_tokens = textproc.sentence_tokens(raw_text)
    wv_dict: dict[tuple[str, ...], np.ndarray] = {}
    for sent in sent_tokens:
        for phrased_tok in phrases.merge(sent):
            gram = tuple(phrased_tok.split("_"))
            if gram not in wv_dict:
                wv_dict[gram] = gram_vector(gram_emb, phrases, gram)

    # Context windows over the (tag-stripped) context token stream,
    # deduped by content with first-occurrence order (dict semantics of
    # oneshot_test.py:544-548).
    ctx_tokens = [t for t, _ in textproc.tagged_tokens_from_text(context_text)]
    ctx_dict: dict[tuple[str, ...], np.ndarray] = {}
    for _, wtoks in make_windows(ctx_tokens, cfg.context_size):
        if wtoks not in ctx_dict:
            ctx_dict[wtoks] = doc_vector(emb, wtoks, "sum")
    # a doc shorter than context_size has ZERO windows (reference
    # ngram_from_list returns [] → no matched contexts, no extractions)

    out: list[Emission] = []
    for seed in artifacts.seeds:
        # Step 3: matched contexts, max-merged across example vectors.
        ctx_sim: dict[tuple[str, ...], float] = {}
        for ev in seed.context_vecs:
            sims = [
                (wtoks, abs(cosine(ev, vec))) for wtoks, vec in ctx_dict.items()
            ]
            ranked = rank_desc(sims, topn=cfg.topn * 2)
            for wtoks, s in top_group(ranked, cfg.context_threshold):
                if wtoks not in ctx_sim or s > ctx_sim[wtoks]:
                    ctx_sim[wtoks] = s

        # Step 4: grams inside the concatenation of matched windows
        # (utilities.py:98-107 flattens all matched keys into one list).
        flat_ctx = [tok for wtoks in ctx_sim for tok in wtoks]
        context_wv = {
            g: v
            for g, v in wv_dict.items()
            if textproc.is_contiguous_sublist(g, flat_ctx)
        }

        # Step 5: weighted ranking, max over containing windows.
        sim_dict = {
            g: abs(cosine(seed.gram_vec, v)) for g, v in context_wv.items()
        }
        weighted: dict[tuple[str, ...], float] = {}
        for wtoks, csim in ctx_sim.items():
            for g, gsim in sim_dict.items():
                if textproc.is_contiguous_sublist(g, wtoks):
                    val = (1.0 + csim) * gsim
                    if g not in weighted or val > weighted[g]:
                        weighted[g] = val
        ranked = rank_desc(list(weighted.items()), topn=cfg.topn)
        for g, val in top_group(ranked, cfg.word_threshold * 2):
            out.append(
                Emission(pred=seed.pred, gram=g, score=val,
                         seed_tokens=seed.tokens)
            )
    return out


# --------------------------------------------------------------------------
# Vectorized kernel (the production path run inside Spark Arrow groups)
# --------------------------------------------------------------------------

_HASH_BASE = np.uint64(1099511628211)


def _window_content_hashes(ids: np.ndarray, n: int) -> np.ndarray:
    """64-bit content hash of every stride-1 window (dedup surrogate)."""
    with np.errstate(over="ignore"):
        powers = np.empty(n, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for i in range(1, n):
            powers[i] = powers[i - 1] * _HASH_BASE
        w = len(ids) - n + 1
        acc = np.zeros(w, dtype=np.uint64)
        for j in range(n):
            acc += ids[j : j + w].astype(np.uint64) * powers[n - 1 - j]
    return acc


def detect_doc(
    raw_text: str,
    context_text: Optional[str],
    artifacts: ExampleArtifacts,
) -> list[Emission]:
    """Vectorized extraction for one document (same emissions as the
    oracle, including the reference's suffix-loose membership quirk —
    utilities.py:156-165 — reproduced positionally).

    Tie-breaking is pinned to (score desc, first-occurrence asc) — the
    reference relies on dict insertion order, which first-occurrence
    order reproduces on non-degenerate similarities (SURVEY.md §4.4).

    Float contract: window vectors accumulate in float64 prefix sums
    while the oracle mirrors the reference's float32 per-window sums,
    so similarities agree to ~1e-7, not bitwise.  Emissions only
    diverge if a similarity lands within that band of a threshold or
    an adaptive-cluster gap — degenerate by construction and absent
    from every parity corpus; scores in emitted rows carry the same
    ~1e-7 tolerance.
    """
    cfg = artifacts.config
    emb, phrases = artifacts.emb, artifacts.phrases
    gram_emb = artifacts.gram_emb or emb
    if context_text is None:
        context_text = raw_text

    # ---- token streams -> integer ids ------------------------------------
    sent_tokens = textproc.sentence_tokens(raw_text)
    ctx_tokens = [t for t, _ in textproc.tagged_tokens_from_text(context_text)]
    if len(ctx_tokens) < cfg.context_size:
        # reference parity: ngram_from_list yields no windows for a doc
        # shorter than the window size → no matched contexts anywhere
        return []

    token_ids: dict[str, int] = {}

    def tid(tok: str) -> int:
        i = token_ids.get(tok)
        if i is None:
            i = len(token_ids)
            token_ids[tok] = i
        return i

    ctx_ids = np.fromiter((tid(t) for t in ctx_tokens), dtype=np.int64)

    # ---- context window vectors via prefix sums --------------------------
    n = cfg.context_size
    uniq_tokens = list(token_ids)
    emb_mat = emb.matrix(uniq_tokens)  # (V,d) gather, cached inside emb
    tok_vecs = emb_mat[ctx_ids]        # (N,d)
    prefix = np.concatenate(
        [np.zeros((1, cfg.dim), np.float64), np.cumsum(tok_vecs, 0, np.float64)]
    )
    win_vecs = prefix[n:] - prefix[:-n]          # (W,d) sums of n-token windows
    win_starts = np.arange(len(win_vecs))

    # dedup identical windows (dict-collapse parity), keep first occurrence
    hashes = _window_content_hashes(ctx_ids, n)
    _, first_idx = np.unique(hashes, return_index=True)
    keep = np.sort(first_idx)
    win_vecs, win_starts = win_vecs[keep], win_starts[keep]

    # ---- candidate grams --------------------------------------------------
    # first-occurrence-ordered unique grams with their occurrence positions
    # in the *context* token stream (positional membership).
    gram_index: dict[tuple[str, ...], int] = {}
    gram_list: list[tuple[str, ...]] = []
    for sent in sent_tokens:
        for phrased_tok in phrases.merge(sent):
            g = tuple(phrased_tok.split("_"))
            if g not in gram_index:
                gram_index[g] = len(gram_list)
                gram_list.append(g)
    if not gram_list:
        return []
    # unit gram vectors, memoized across documents (pure function of
    # the gram under the fixed phrase table + embedding)
    gcache = artifacts.gram_vec_cache
    missing = [g for g in gram_list if g not in gcache]
    if missing:
        if len(gcache) + len(missing) > GRAM_VEC_CACHE_CAP:
            gcache.clear()  # clear-on-cap: bounded worker memory
        fresh = unit_rows(gram_vectors_batch(gram_emb, phrases, missing))
        for g, v in zip(missing, fresh):
            gcache[g] = v
    gram_unit = np.stack([gcache[g] for g in gram_list])

    # occurrence table: (position, gram_id, gram_len) over ctx_ids.
    # A per-token-id position index turns each gram's scan into a few
    # fancy-index probes instead of full-stream boolean masks.
    sort_order = np.argsort(ctx_ids, kind="stable")
    sorted_ids = ctx_ids[sort_order]
    N = len(ctx_ids)

    def positions_of(tid: int) -> np.ndarray:
        lo = np.searchsorted(sorted_ids, tid, "left")
        hi = np.searchsorted(sorted_ids, tid, "right")
        # stable argsort keeps equal keys in stream order → already sorted
        return sort_order[lo:hi]

    # Reference membership quirk (utilities.py:156-165): containment is
    # checked on ':'-joined strings, so the FIRST gram token also
    # matches as a strict SUFFIX of a window token ("3:" ⊂ "33:"),
    # while later tokens and the gram end must align to boundaries.
    # Only suffixes whose LENGTH equals some gram-head length can ever
    # match, so probe tok[-len(head):] per distinct head length —
    # O(V × #head_lengths) total, instead of enumerating every proper
    # suffix (O(len²) characters per token: one pathological 100k-char
    # unbroken token would otherwise build ~5 GB of suffix strings).
    head_set = {g[0] for g in gram_index}
    head_lens = sorted({len(h) for h in head_set})
    head_alias: dict[str, list[int]] = {}
    for tok, tid in token_ids.items():
        for hl in head_lens:
            if hl < len(tok):
                suf = tok[-hl:]
                if suf in head_set:
                    head_alias.setdefault(suf, []).append(tid)

    pos_arrays: list[np.ndarray] = []
    gids: list[int] = []
    lens: list[int] = []
    for g, gi in gram_index.items():
        L = len(g)
        if L > N:
            continue
        t0 = token_ids.get(g[0])
        alias = head_alias.get(g[0], ())
        heads = ([] if t0 is None else [t0]) + list(alias)
        if not heads:
            continue
        if len(heads) == 1:
            pos = positions_of(heads[0])
        else:
            pos = np.sort(
                np.concatenate([positions_of(t) for t in heads])
            )
        for j in range(1, L):
            if not len(pos):
                break
            tj = token_ids.get(g[j])
            if tj is None:
                pos = pos[:0]
                break
            pos = pos[pos + j < N]
            pos = pos[ctx_ids[pos + j] == tj]
        if len(pos):
            pos_arrays.append(pos)
            gids.append(gi)
            lens.append(L)
    if not pos_arrays:
        return []
    counts = [len(p) for p in pos_arrays]
    occ_pos_a = np.concatenate(pos_arrays)
    occ_gid_a = np.repeat(np.array(gids), counts)
    occ_len_a = np.repeat(np.array(lens), counts)

    # ---- per-seed matching ------------------------------------------------
    # window/gram units are per-doc; seed units were normalized once at
    # build time (MentionSeed.context_units / .gram_unit)
    win_unit = unit_rows(win_vecs)
    out: list[Emission] = []
    n_grams = len(gram_list)
    k2 = cfg.topn * 2
    W = len(win_vecs)
    for seed in artifacts.seeds:
        sims = np.abs(seed.context_units @ win_unit.T)  # (k,W)
        matched: dict[int, float] = {}  # window row -> max ctx sim
        for row in sims:
            # top-k2 by (sim desc, win_start asc): argpartition narrows
            # to the candidate slice, then an exact small lexsort —
            # equivalent to the full sort (ties at the kth value are all
            # included in the slice before the tie-break)
            if W > 8 * k2:
                kth = np.partition(row, W - k2)[W - k2]
                cand = np.nonzero(row >= kth)[0]
                order = cand[np.lexsort((win_starts[cand], -row[cand]))][:k2]
            else:
                order = np.lexsort((win_starts, -row))[:k2]
            pairs = [(int(i), float(row[i])) for i in order]
            for wi, s in top_group(pairs, cfg.context_threshold):
                if wi not in matched or s > matched[wi]:
                    matched[wi] = s
        if not matched:
            continue

        gram_sims = np.abs(seed.gram_unit @ gram_unit.T)[0]
        # max ctx sim per occurrence over containing windows, then per
        # gram (gram_sims >= 0, so max over windows of (1+csim)*gsim
        # factors into gsim * (1 + max containing csim)).
        w0s = win_starts[np.fromiter(matched, dtype=np.int64)]
        csims = np.fromiter(matched.values(), dtype=np.float64)
        # max containing csim per occurrence: visit windows in csim-desc
        # order and fill unset occurrences — no (windows × occurrences)
        # matrix materialized
        occ_end = occ_pos_a + occ_len_a
        if len(w0s) * len(occ_pos_a) <= 262_144:
            # small problem: one broadcasted matrix beats the loop
            inside = (occ_pos_a[None, :] >= w0s[:, None]) & (
                occ_end[None, :] <= (w0s + n)[:, None]
            )
            occ_best = np.where(inside, csims[:, None], -np.inf).max(axis=0)
        else:
            occ_best = np.full(len(occ_pos_a), -np.inf)
            for oi in np.argsort(-csims, kind="stable"):
                w0 = int(w0s[oi])
                mask = (
                    (occ_best == -np.inf)
                    & (occ_pos_a >= w0)
                    & (occ_end <= w0 + n)
                )
                occ_best[mask] = csims[oi]
        best_csim = np.full(n_grams, -np.inf)
        np.maximum.at(best_csim, occ_gid_a, occ_best)
        weighted = np.where(
            best_csim > -np.inf, (1.0 + best_csim) * gram_sims, -np.inf
        )

        cand = np.nonzero(weighted > -np.inf)[0]
        if not len(cand):
            continue
        order = np.lexsort((cand, -weighted[cand]))[: cfg.topn]
        ranked = [(int(cand[i]), float(weighted[cand[i]])) for i in order]
        for gi, val in top_group(ranked, cfg.word_threshold * 2):
            out.append(
                Emission(pred=seed.pred, gram=gram_list[gi], score=val,
                         seed_tokens=seed.tokens)
            )
    return out


def emissions_to_triples(
    doc_id: str, emissions: Sequence[Emission]
) -> list[tuple[str, str, str]]:
    """(subj, pred, obj) rows; obj = space-joined gram tokens."""
    return [(doc_id, e.pred, " ".join(e.gram)) for e in emissions]
