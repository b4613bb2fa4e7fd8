"""Operator-level Spark tests: salted equivalence, connected components,
JVM tokenizer parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coies_spark.core.textproc import tokenize
from coies_spark.functions.tokenize import tokenize_udf, tokens_col
from coies_spark.operators.graph import connected_components
from coies_spark.operators.salted import salted_count

pytestmark = pytest.mark.spark


class TestSalted:
    def test_salted_count_equals_plain(self, spark):
        df = spark.range(0, 5000).withColumn(
            "k", F.when(F.col("id") % 10 < 8, "hot").otherwise(
                F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
        )
        plain = {
            (r.k): r["count"] for r in df.groupBy("k").count().collect()
        }
        salted = {
            (r.k): r["count"] for r in salted_count(df, ["k"]).collect()
        }
        assert plain == salted

    def test_salt_on_discriminator_spreads_duplicate_rows(self, spark):
        """Byte-identical hot-key rows collapse into ONE bucket under
        the default full-row salt (the documented straggler limitation);
        salting on a stable row-id discriminator spreads them across
        buckets (``salted_count``'s ``salt_on``)."""
        from coies_spark.operators.salted import _salt_col

        # 1000 rows of the hot key, identical in every business column
        dup = spark.range(0, 1000).select(
            F.lit("hot").alias("k"), F.lit("same").alias("payload"),
            F.col("id").alias("row_id"),
        )
        business = dup.drop("row_id")
        n_default = (
            business.select(_salt_col(business, 8).alias("s"))
            .distinct().count()
        )
        assert n_default == 1  # the limitation, pinned
        n_disc = (
            dup.select(_salt_col(dup, 8, salt_on="row_id").alias("s"))
            .distinct().count()
        )
        assert n_disc == 8  # full spread across buckets

    def test_salted_count_salt_on_equals_plain(self, spark):
        df = spark.range(0, 3000).select(
            F.when(F.col("id") % 5 < 4, "hot")
            .otherwise((F.col("id") % 7).cast("string")).alias("k"),
            F.col("id").alias("row_id"),
        )
        plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
        salted = {
            r.k: r["count"]
            for r in salted_count(df, ["k"], salt_on="row_id").collect()
        }
        assert plain == salted


def cc_oracle(edges):
    """Driver-side union-find: {node: min id of its component} over
    every non-null endpoint, plus {None: None} when an endpoint is null
    (the null node of the edge-list union)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: None if x is None else find(x) for x in parent}


def cc_of(spark, edges, n_slices=None):
    df = spark.createDataFrame(edges, "src string, dst string")
    if n_slices:
        df = df.repartition(n_slices)
    rows = connected_components(df).collect()
    got = {r.node: r.component for r in rows}
    assert len(got) == len(rows), "one row per node"
    return got


class TestConnectedComponents:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
        )
        got = {r.node: r.component
               for r in connected_components(edges).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_chain_converges(self, spark):
        # a chain: the worst case for round-based propagation, one
        # component for the union-find
        n = 12
        edges = spark.createDataFrame(
            [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)],
            "src string, dst string",
        )
        got = {r.node: r.component
               for r in connected_components(edges).collect()}
        assert set(got.values()) == {"n00"}
        assert len(got) == n + 1

    def test_star_matches_simple_on_random_graphs(self, spark):
        """Random graphs, a long chain and singleton edges, each equal
        to the driver-side union-find."""
        import random

        rnd = random.Random(5)
        n = 24
        edges = [
            (f"v{rnd.randrange(n):03d}", f"v{rnd.randrange(n):03d}")
            for _ in range(28)
        ]
        cases = [
            [(a, b) for a, b in edges if a != b],
            [(f"c{i:03d}", f"c{i+1:03d}") for i in range(10)],
            [("s1", "t1"), ("s2", "t2"), ("u", "u")],
        ]
        for edges in cases:
            assert cc_of(spark, edges, n_slices=3) == cc_oracle(edges)

    def test_star_two_components(self, spark):
        """Two stars whose hubs are not their minima, leaves listed as
        both sources and destinations."""
        edges = [("hub1", f"a{i}") for i in range(5)] + \
            [(f"b{i}", "hub2") for i in range(5)]
        got = cc_of(spark, edges)
        assert got == cc_oracle(edges)
        assert set(got.values()) == {"a0", "b0"}

    def test_self_loop_only_nodes_are_labeled(self, spark):
        """A node appearing only in self-loop edges still gets a
        (node, component=node) row."""
        edges = [("a", "b"), ("z", "z"), ("b", "b")]
        want = {"a": "a", "b": "a", "z": "z"}
        assert cc_oracle(edges) == want
        assert cc_of(spark, edges) == want

    def test_shuffled_path_across_partitions(self, spark):
        """A 300-node path with its node ids in random order along the
        path and its edges shuffled over input partitions: the gather
        receives the path's pieces from every partition in any order."""
        import random

        rnd = random.Random(11)
        ids = [f"p{i:03d}" for i in range(300)]
        rnd.shuffle(ids)
        edges = [
            (ids[i], ids[i + 1]) if rnd.random() < 0.5
            else (ids[i + 1], ids[i])
            for i in range(299)
        ]
        rnd.shuffle(edges)
        got = cc_of(spark, edges, n_slices=7)
        assert got == cc_oracle(edges)
        assert set(got.values()) == {"p000"}

    def test_giant_star_skew(self, spark):
        """One hub and 20k leaves (the skew case: the hub is an endpoint
        of every edge), half the edges hub → leaf, half leaf → hub."""
        import pandas as pd

        n = 20_000
        leaves = [f"l{i:05d}" for i in range(n)]
        edges = [("hub", x) if i % 2 else (x, "hub")
                 for i, x in enumerate(leaves)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"]))
        rows = connected_components(df).collect()
        assert len(rows) == n + 1
        assert {(r.node, r.component) for r in rows} == set(
            cc_oracle(edges).items())

    def test_output_spans_several_slices(self, spark, monkeypatch):
        """More nodes than one output frame holds: the labeling is still
        exact, and each frame the union-find yields is at most
        ``_SLICE_ROWS`` rows, the last one carrying the null node."""
        import pandas as pd

        from coies_spark.operators import graph

        n = graph._SLICE_ROWS + 4_000
        ids = [f"n{i:06d}" for i in range(n)]
        edges = [(ids[i], ids[i + 1]) for i in range(0, n, 2)]
        edges += [(ids[i + 3], ids[i]) for i in range(0, n - 3, 10)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"]))
        rows = connected_components(df).collect()
        assert len(rows) == n
        assert {(r.node, r.component) for r in rows} == set(
            cc_oracle(edges).items())

        monkeypatch.setattr(graph, "_SLICE_ROWS", 3)
        small = [("b", "a"), ("c", "d"), ("e", None), ("d", "b")]
        frames = list(graph._union_find(
            iter([pd.DataFrame(small, columns=["src", "dst"])])))
        assert [len(f) for f in frames] == [3, 3]
        got = pd.concat(frames)
        assert dict(zip(got.node, got.component)) == cc_oracle(small)
        assert got.node.iloc[-1] is None

    def test_matches_oracle_property(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        node = st.sampled_from(
            ["a", "b", "B", "c", "aa", "é", "z", "10", "9", None])

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(edges=st.lists(st.tuples(node, node), max_size=14))
        def check(edges):
            assert cc_of(spark, edges, n_slices=2) == cc_oracle(edges)

        check()

    def test_non_ascii_and_mixed_case_ids(self, spark):
        """Ids order by code point (Python str order), which is Spark's
        UTF-8 byte order: upper case before lower case, and a non-BMP
        id after a high-BMP one (UTF-16 order, Java's, would flip the
        last pair)."""
        edges = [("b", "B"), ("é", "e"), ("Zed", "alpha"),
                 ("\U0001d518", "\ufb01"), ("日本", "Äpfel"),
                 ("Äpfel", "ärger")]
        got = cc_of(spark, edges)
        assert got == cc_oracle(edges)
        assert got["b"] == "B" and got["é"] == "e" and got["alpha"] == "Zed"
        assert got["\U0001d518"] == "\ufb01" and got["ärger"] == "Äpfel"
        # the labels equal Spark's own min over each component's ids
        spark_min = {
            r.component: r.m for r in spark.createDataFrame(
                list(got.items()), "node string, component string"
            ).groupBy("component").agg(F.min("node").alias("m")).collect()
        }
        assert all(c == m for c, m in spark_min.items())

    def test_null_endpoint_rows(self, spark):
        """A null endpoint is no node but its partner is one, and the
        output carries exactly one (null, null) row."""
        edges = [("a", None), (None, None), ("b", "c"), (None, "c"),
                 ("d", None)]
        df = spark.createDataFrame(edges, "src string, dst string")
        rows = sorted(
            (tuple(r) for r in connected_components(df).collect()),
            key=str,
        )
        assert rows == [
            ("a", "a"), ("b", "b"), ("c", "b"), ("d", "d"), (None, None)
        ]
        assert dict(rows) == cc_oracle(edges)


class TestTokenizerParity:
    CASES = [
        "Hello, world! It's a test.",
        "rule 102(e)(3)(i) of 1934",
        "a.b,c;d:e(f)g[h]i{j}k",
        "multi   space\tand\nnewline\r lines",
        "UPPER lower MiXeD",
        "trailing punct...",
        "",
    ]

    def test_jvm_equals_python(self, spark):
        df = spark.createDataFrame([(c,) for c in self.CASES], "text string")
        got = df.select(tokens_col("text").alias("toks")).collect()
        for row, case in zip(got, self.CASES):
            assert row.toks == tokenize(case.lower()), case

    def test_udf_equals_python(self, spark):
        df = spark.createDataFrame([(c,) for c in self.CASES], "text string")
        got = df.select(tokenize_udf("text").alias("toks")).collect()
        for row, case in zip(got, self.CASES):
            assert list(row.toks) == tokenize(case.lower()), case


class TestPageRank:
    def test_star_graph_center_dominates(self, spark):
        from coies_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (0, 4)], "src bigint, dst bigint"
        )
        pr = {r.node: r.pr for r in pagerank(edges, iters=5).collect()}
        assert set(pr) == {0, 1, 2, 3, 4}
        assert all(pr[0] > pr[i] for i in (1, 2, 3, 4))
        assert len({pr[i] for i in (1, 2, 3, 4)}) == 1  # leaves equal
        # mass conservation (no dangling nodes after symmetrization)
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        # direction of the input edge must not matter
        rev = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 0), (4, 0)], "src bigint, dst bigint"
        )
        pr2 = {r.node: r.pr for r in pagerank(rev, iters=5).collect()}
        assert pr == pr2

    def test_two_components(self, spark):
        from coies_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(0, 1), (2, 3)], "src bigint, dst bigint"
        )
        pr = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
        # symmetric pairs: uniform pr everywhere
        assert len(set(pr.values())) == 1 and len(pr) == 4


def _hits_replica(edges, iters):
    """Pure-Python HITS with the operator's exact conventions:
    self-loops dropped, decimal(28,12) half-round sums ("%.12f" is
    the 12dp decimal of a 9dp-rounded double), 9dp pins,
    max-normalized."""
    from decimal import Decimal

    e = {(s, d) for s, d in edges if s != d}
    nodes = {s for s, _ in e} | {d for _, d in e}
    h = {n: 1.0 for n in nodes}
    a = {}

    def half(frm, flip):
        raw = {}
        for s, d in e:
            k, v = (d, s) if not flip else (s, d)
            raw[k] = raw.get(k, Decimal(0)) + Decimal(
                "%.12f" % frm.get(v, 0.0)
            )
        raw = {n: round(float(v), 9) for n, v in raw.items()}
        mx = max(raw.values())
        return {n: round(v / mx, 9) for n, v in raw.items()}

    for _ in range(iters):
        a = half(h, flip=False)
        h = half(a, flip=True)
    return {n: (h.get(n, 0.0), a.get(n, 0.0)) for n in nodes}


class TestHits:
    def test_hub_authority_split_self_loop_ignored(self, spark):
        from coies_spark.operators.graph import hits

        # h1 -> {a1, a2}, h2 -> a1; a1's self-loop must not crown it
        edges = spark.createDataFrame(
            [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("a1", "a1")],
            "src string, dst string",
        )
        got = {r.node: (r.hub, r.authority)
               for r in hits(edges, iters=3).collect()}
        assert got == _hits_replica(
            [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("a1", "a1")], 3
        )
        # direction matters: pure hubs score 0 authority and vice versa
        assert got["h1"] == (1.0, 0.0)      # best hub
        assert got["a1"][1] == 1.0          # best authority
        assert got["a1"][0] == 0.0          # ...but no out-edges
        assert 0.0 < got["h2"][0] < 1.0     # weaker hub, nonzero

    def test_randomized_python_parity(self, spark):
        import random

        from coies_spark.operators.graph import hits

        rng = random.Random(20260818)
        edges = list(
            {
                (f"n{rng.randrange(12)}", f"n{rng.randrange(12)}")
                for _ in range(40)
            }
        )
        got = {r.node: (r.hub, r.authority)
               for r in hits(
                   spark.createDataFrame(
                       edges, "src string, dst string"
                   ),
                   iters=4,
               ).collect()}
        assert got == _hits_replica(edges, 4)


class TestTriangleCounts:
    def test_known_graph(self, spark):
        from coies_spark.operators.graph import triangle_counts

        # triangle a-b-c plus pendant c-d
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
            "src string, dst string",
        )
        got = {
            r.node: (r.deg, r.triangles, r.lcc)
            for r in triangle_counts(edges).collect()
        }
        assert got == {
            "a": (2, 1, 1.0),
            "b": (2, 1, 1.0),
            "c": (3, 1, round(2 * 1 / (3 * 2), 9)),
            "d": (1, 0, 0.0),
        }

    def test_star_hub_has_no_triangles(self, spark):
        from coies_spark.operators.graph import triangle_counts

        edges = spark.createDataFrame(
            [("hub", f"leaf{i}") for i in range(6)],
            "src string, dst string",
        )
        got = {r.node: r.triangles for r in triangle_counts(edges).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 7

    def test_direction_and_duplicates_are_ignored(self, spark):
        from coies_spark.operators.graph import triangle_counts

        a = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
        )
        b = spark.createDataFrame(
            [("b", "a"), ("b", "a"), ("c", "b"), ("c", "a"), ("a", "c")],
            "src string, dst string",
        )
        ra = sorted(map(tuple, triangle_counts(a).collect()))
        rb = sorted(map(tuple, triangle_counts(b).collect()))
        assert ra == rb
        assert all(t == 1 for (_, _, t, _) in ra)

    def test_k4_counts(self, spark):
        from coies_spark.operators.graph import triangle_counts
        from itertools import combinations

        # complete graph K4: every node is in C(3,2)=3 triangles, lcc=1
        edges = spark.createDataFrame(
            [(f"n{i}", f"n{j}") for i, j in combinations(range(4), 2)],
            "src string, dst string",
        )
        rows = triangle_counts(edges).collect()
        assert len(rows) == 4
        for r in rows:
            assert (r.deg, r.triangles, r.lcc) == (3, 3, 1.0)


class TestLabelPropagation:
    def test_two_cliques_bridge(self, spark):
        from coies_spark.operators.graph import label_propagation
        from itertools import combinations

        # two 4-cliques joined by ONE bridge edge: one component,
        # but LPA keeps two communities
        left = [(f"a{i}", f"a{j}") for i, j in combinations(range(4), 2)]
        right = [(f"b{i}", f"b{j}") for i, j in combinations(range(4), 2)]
        edges = spark.createDataFrame(
            left + right + [("a0", "b0")], "src string, dst string"
        )
        got = {r.node: r.label for r in label_propagation(edges).collect()}
        assert len(got) == 8
        left_labels = {got[f"a{i}"] for i in range(4)}
        right_labels = {got[f"b{i}"] for i in range(4)}
        assert len(left_labels) == 1 and len(right_labels) == 1
        assert left_labels != right_labels

    def test_deterministic_across_runs(self, spark):
        from coies_spark.operators.graph import label_propagation

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("x", "y")],
            "src string, dst string",
        ).repartition(7)
        r1 = sorted(map(tuple, label_propagation(edges).collect()))
        r2 = sorted(
            map(tuple, label_propagation(edges.repartition(3)).collect())
        )
        assert r1 == r2

    def test_min_tiebreak(self, spark):
        from coies_spark.operators.graph import label_propagation

        # path a-b-c after 1 round: b sees {a, c} equally -> min label a
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        got = {
            r.node: r.label
            for r in label_propagation(edges, iters=1).collect()
        }
        assert got["b"] == "a"


class TestKCore:
    def test_clique_with_pendants(self, spark):
        from coies_spark.operators.graph import kcore
        from itertools import combinations

        # 4-clique plus a pendant chain p0-p1-p2 hanging off a0:
        # 2-core = the clique alone (the chain peels in cascades)
        edges = [(f"a{i}", f"a{j}") for i, j in combinations(range(4), 2)]
        edges += [("a0", "p0"), ("p0", "p1"), ("p1", "p2")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.deg for r in kcore(df, k=2).collect()}
        assert got == {f"a{i}": 3 for i in range(4)}

    def test_k3_empty_on_cycle(self, spark):
        from coies_spark.operators.graph import kcore

        # a 4-cycle is a 2-core but has no 3-core
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        df = spark.createDataFrame(edges, "src string, dst string")
        assert kcore(df, k=3).count() == 0
        got = {r.node: r.deg for r in kcore(df, k=2).collect()}
        assert got == {n: 2 for n in "abcd"}

    def test_cascade_needs_rounds(self, spark):
        from coies_spark.operators.graph import kcore

        # chain c0-..-c5: 2-core is empty, but peeling eats one node
        # per round from each end; rounds=1 leaves the middle
        edges = [(f"c{i}", f"c{i+1}") for i in range(5)]
        df = spark.createDataFrame(edges, "src string, dst string")
        assert kcore(df, k=2, rounds=1).count() > 0
        assert kcore(df, k=2, rounds=3).count() == 0

    def test_rejects_bad_k(self, spark):
        from coies_spark.operators.graph import kcore

        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        with pytest.raises(ValueError):
            kcore(df, k=0)


class TestNeighborJaccard:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_hand_graph(self, spark):
        from coies_spark.operators.graph import neighbor_jaccard

        # star: h -- a, h -- b, plus a -- x  (undirected)
        e = self._edges(spark, [("h", "a"), ("h", "b"), ("a", "x")])
        got = {(r.a, r.b): (r.common, r.jaccard)
               for r in neighbor_jaccard(e).collect()}
        # N(a) = {h, x}, N(b) = {h}: common 1, union 2
        assert got[("a", "b")] == (1, 0.5)
        # N(h) = {a, b}, N(x) = {a}: common 1, union 2 (wedge via a)
        assert got[("h", "x")] == (1, 0.5)
        assert len(got) == 2

    def test_direction_irrelevant(self, spark):
        from coies_spark.operators.graph import neighbor_jaccard

        e1 = self._edges(spark, [("h", "a"), ("h", "b")])
        e2 = self._edges(spark, [("a", "h"), ("b", "h")])
        r1 = sorted(map(tuple, neighbor_jaccard(e1).collect()))
        r2 = sorted(map(tuple, neighbor_jaccard(e2).collect()))
        assert r1 == r2 and len(r1) == 1

    def test_hub_cap_drops_node_symmetrically(self, spark):
        from coies_spark.operators.graph import neighbor_jaccard

        # hub connects to 5 leaves; leaves also chain pairwise
        rows = [("hub", f"l{i}") for i in range(5)]
        rows += [("l0", "l1"), ("l1", "l2")]
        e = self._edges(spark, rows)
        # with the hub admitted: l0/l2 share {hub, l1} -> common 2
        full = {(r.a, r.b): r.common
                for r in neighbor_jaccard(e, max_degree=64).collect()}
        assert full[("l0", "l2")] == 2
        # cap below the hub degree: hub leaves the graph entirely;
        # on the surviving chain l0-l1-l2 the neighbor sets of l0 and
        # l2 are BOTH exactly {l1} -> a true Jaccard of 1.0 over the
        # filtered graph (the symmetric-cap semantics), and hub
        # appears in NO pair
        capped = neighbor_jaccard(e, max_degree=4).collect()
        got = {(r.a, r.b): (r.common, r.jaccard) for r in capped}
        assert got[("l0", "l2")] == (1, 1.0)
        assert all("hub" not in k for k in got)

    def test_min_common_and_validation(self, spark):
        from coies_spark.operators.graph import neighbor_jaccard

        e = self._edges(spark, [("a", "b"), ("b", "c")])
        assert neighbor_jaccard(e, min_common=2).collect() == []
        with pytest.raises(ValueError):
            neighbor_jaccard(e, max_degree=0)
