"""Thirteenth batch: incremental connected components
(operators.graph), predicate-signature type inference (ops.kg), and
the DeepWalk -> CBOW node-embedding integration."""

import pytest
from pyspark.sql import functions as F

from coies_spark.operators.graph import (
    connected_components,
    incremental_components,
    random_walks,
)
from coies_spark.ops.kg import entity_types

pytestmark = pytest.mark.spark


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


class TestIncrementalComponents:
    def _full(self, spark, rows):
        return {
            (r.node, r.component)
            for r in connected_components(
                _edges(spark, rows)
            ).collect()
        }

    def _inc(self, spark, old, new):
        labels = connected_components(_edges(spark, old))
        return {
            (r.node, r.component)
            for r in incremental_components(
                labels, _edges(spark, new)
            ).collect()
        }

    def test_new_edge_merges_two_old_components(self, spark):
        old = [("a", "b"), ("c", "d")]
        new = [("b", "c")]
        assert self._inc(spark, old, new) == self._full(
            spark, old + new
        )
        # and the merged component is labeled by the global min
        got = dict(self._inc(spark, old, new))
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}

    def test_untouched_singletons_survive(self, spark):
        old = [("a", "b"), ("z", "z")]  # z: self-loop singleton
        new = [("m", "n")]
        got = self._inc(spark, old, new)
        assert got == self._full(spark, old + new)
        assert ("z", "z") in got

    def test_new_nodes_join_old_components(self, spark):
        old = [("a", "b")]
        new = [("b", "x"), ("y", "y2")]
        assert self._inc(spark, old, new) == self._full(
            spark, old + new
        )

    def test_chained_increments_equal_full(self, spark):
        e1 = [("a", "b"), ("c", "d"), ("e", "f")]
        e2 = [("b", "c")]
        e3 = [("d", "e"), ("g", "h")]
        l1 = connected_components(_edges(spark, e1))
        l2 = incremental_components(l1, _edges(spark, e2))
        l3 = incremental_components(l2, _edges(spark, e3))
        got = {(r.node, r.component) for r in l3.collect()}
        assert got == self._full(spark, e1 + e2 + e3)


class TestEntityTypes:
    def _pt(self, spark):
        return spark.createDataFrame(
            [("works_at", "org"), ("born_in", "place"),
             ("ceo_of", "org")],
            ["pred", "obj_type"],
        )

    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string, ts long"
        )

    def test_modal_type_wins(self, spark):
        ev = self._ev(spark, [
            ("c1", "works_at", "e1", 1),
            ("c2", "ceo_of", "e1", 2),
            ("c3", "born_in", "e1", 3),
        ])
        r = entity_types(ev, self._pt(spark)).collect()[0]
        assert (r.entity, r.entity_type, r.votes, r.total) == (
            "e1", "org", 2, 3,
        )
        assert r.confidence == round(2 / 3, 6)

    def test_tie_breaks_to_smallest_type(self, spark):
        ev = self._ev(spark, [
            ("c1", "works_at", "e", 1),
            ("c2", "born_in", "e", 2),
        ])
        r = entity_types(ev, self._pt(spark)).collect()[0]
        assert r.entity_type == "org"  # 'org' < 'place'

    def test_untyped_predicates_abstain(self, spark):
        ev = self._ev(spark, [
            ("c1", "mystery_rel", "e", 1),
        ])
        assert entity_types(ev, self._pt(spark)).count() == 0

    def test_subj_keyed_votes(self, spark):
        ev = self._ev(spark, [
            ("conv", "works_at", "a", 1),
            ("conv", "works_at", "b", 2),
            ("conv", "born_in", "c", 3),
        ])
        r = entity_types(
            ev, self._pt(spark), key_col="subj"
        ).collect()[0]
        assert (r.entity, r.entity_type, r.votes) == ("conv", "org", 2)


class TestDeepWalkEmbeddings:
    def test_walks_train_node_embeddings(self, spark):
        """The full node-embedding recipe: random walks over a graph
        with two well-separated cliques -> walk rows reassembled to
        sentences -> the engine's own CBOW trainer.  Nodes never
        co-walk across cliques, so trained vectors must place
        same-clique nodes nearer than cross-clique nodes."""
        from coies_spark.ops.cbow import train_cbow

        rows = []
        for grp, names in [("l", "abcde"), ("r", "vwxyz")]:
            ns = [f"{grp}{c}" for c in names]
            rows += [
                (ns[i], ns[j])
                for i in range(len(ns))
                for j in range(i + 1, len(ns))
            ]
        walks = random_walks(
            _edges(spark, rows), length=6, walks_per_node=10
        )
        sentences = (
            walks.groupBy("start", "walk")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("step", "node"))
                    ),
                    lambda s: s["node"],
                ).alias("sentence")
            )
            .select("sentence")
        )
        vecs = {
            r.token: list(r.vector)
            # sample=0: frequency subsampling assumes a natural-
            # language head — on a 10-token graph vocab EVERY token
            # is hyper-frequent and 1e-3 would delete the corpus
            for r in train_cbow(
                sentences, dim=16, window=3, epochs=20, seed=7,
                sample=0.0, alpha=0.05,
            ).collect()
        }
        assert set(vecs) == {
            f"{g}{c}" for g, cs in [("l", "abcde"), ("r", "vwxyz")]
            for c in cs
        }

        def cos(a, b):
            import math

            num = sum(x * y for x, y in zip(a, b))
            den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
                sum(y * y for y in b)
            )
            return num / den

        within = cos(vecs["la"], vecs["lc"])
        across = cos(vecs["la"], vecs["rx"])
        assert within > across, (within, across)
