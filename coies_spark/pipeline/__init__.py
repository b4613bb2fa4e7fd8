"""KG-construction pipeline stages (north_star decomposition):

1. assemble  — windowed turn assembly per conv_id (stable turn order)
2. detect    — vectorized one-shot mention detection (Arrow kernel,
               broadcast example artifacts)
3. link      — entity linking: broadcast candidate-dictionary join
4. canonical — connected-components canonicalization (union-find
               over the gathered alias edges)
5. triples   — (subj, pred, obj) materialization partitioned by pred,
               with metrics + lineage
Orchestrated by ``checkpoint.StageRunner`` (resumable snapshots).
"""
