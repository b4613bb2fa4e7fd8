"""Seeded input generation for the three workloads.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical tables.  The program under test only ever receives
the generated tables (parquet files, a dictionary, an alias table),
never the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from coies_spark.core.oneshot import ExtractionConfig
from coies_spark.data import synth

# Small-corpus extraction config (the repo's fixture scale): the
# defaults are reference-scale and emit nothing on the synthetic corpus.
CONFIG = ExtractionConfig(
    context_size=10,
    dim=64,
    context_threshold=0.7,
    phrase_min_count=4,
    phrase_threshold=1.0,
)

PREDS = ("comp", "date", "item")
_SURFACE_WORDS = ("acme", "zenith", "orchard", "helix", "summit",
                  "northgate", "pinnacle", "bluewater", "harbor", "granite")


@dataclass
class Corpus:
    corpus: synth.SynthCorpus
    raw: pd.DataFrame  # transcripts, tags stripped

    @property
    def turns(self) -> int:
        return len(self.raw)


def make_transcripts(seed: int, n_convs: int, hot_frac: float) -> Corpus:
    """``data.synth`` corpus in which ``hot_frac`` of the conversations
    mention the head company, and its transcript table, tags stripped."""
    corpus = synth.make_corpus(
        n_test=n_convs // 2, n_plain=n_convs - n_convs // 2, seed=seed,
        hot_mention_frac=hot_frac,
    )
    docs = corpus.test_docs + corpus.plain_docs
    return Corpus(corpus, synth.transcripts_frame(docs, use_raw=True))


def pool_dictionary() -> pd.DataFrame:
    """(surface, entity_id) for every synth pool surface: the candidate
    dictionary the batch build links against."""
    rows = [
        (surface, f"E{pred}{i:03d}")
        for pred, pool in (("comp", synth.COMP_POOL),
                           ("date", synth.DATE_POOL),
                           ("item", synth.ITEM_POOL))
        for i, surface in enumerate(pool)
    ]
    return pd.DataFrame(rows, columns=["surface", "entity_id"])


@dataclass
class RelinkTables:
    mentions: pd.DataFrame    # (conv_id, pred, obj, score)
    dictionary: pd.DataFrame  # (surface, entity_id)
    aliases: pd.DataFrame     # (src, dst) entity-id merge edges
    turns: int                # transcript turns behind the mention snapshot


def make_relink(
    seed: int,
    n_mentions: int,
    n_surfaces: int,
    max_chain: int = 4,
    zipf_s: float = 1.1,
    dict_frac: float = 0.8,
    alias_frac: float = 0.6,
) -> RelinkTables:
    """Head-heavy mention snapshot plus a dictionary and an alias table.

    * surfaces are drawn Zipf(``zipf_s``) over ``n_surfaces`` ranks, so a
      few surfaces carry most mentions (the hot-key shape linking sees);
    * ``dict_frac`` of surfaces have a dictionary entry, the rest fall
      back to surface-derived ids;
    * ``alias_frac`` of the entity ids are cut into chains of 2 to
      ``max_chain`` ids, each chain emitted as shuffled, randomly
      oriented edges, so a component's diameter is at most
      ``max_chain - 1``.
    """
    rng = np.random.RandomState(seed)
    ranks = np.arange(1, n_surfaces + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    surface_of = rng.choice(n_surfaces, size=n_mentions, p=p)
    n_convs = max(1, n_mentions // 5)
    conv_of = rng.randint(0, n_convs, size=n_mentions)
    turns = int(rng.randint(5, 14, size=n_convs).sum())
    words = np.array(_SURFACE_WORDS)
    surfaces = np.array([
        f"{words[j % len(words)]} {j:06d}" for j in range(n_surfaces)
    ])
    preds = np.array(PREDS)[np.arange(n_surfaces) % len(PREDS)]
    mentions = pd.DataFrame({
        "conv_id": np.char.add("conv-", np.char.zfill(
            conv_of.astype(str), 7)),
        "pred": preds[surface_of],
        "obj": surfaces[surface_of],
        "score": np.round(rng.uniform(0.5, 1.0, size=n_mentions), 6),
    })

    in_dict = np.flatnonzero(rng.rand(n_surfaces) < dict_frac)
    entity_ids = np.array([f"E{j:07d}" for j in range(len(in_dict))])
    dictionary = pd.DataFrame({
        "surface": surfaces[in_dict], "entity_id": entity_ids,
    })

    chained = rng.permutation(len(entity_ids))[
        : int(alias_frac * len(entity_ids))
    ]
    edges = []
    i = 0
    while i + 1 < len(chained):
        n = int(rng.randint(2, max_chain + 1))
        chain = entity_ids[chained[i:i + n]]
        for a, b in zip(chain[:-1], chain[1:]):
            edges.append((a, b) if rng.rand() < 0.5 else (b, a))
        i += n
    order = rng.permutation(len(edges))
    aliases = pd.DataFrame(
        [edges[k] for k in order], columns=["src", "dst"]
    )
    return RelinkTables(mentions, dictionary, aliases, turns)


def union_find_min(edges) -> dict[str, str]:
    """node → smallest node id of its component (string order), from a
    plain driver-side union-find: the reference for canonical ids."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller id becomes the root, so every root is its
            # component's minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in list(parent)}
