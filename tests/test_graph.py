from __future__ import annotations

from unittest import mock

import pytest

from knetminer_etl_spark.operators import graph as G


@pytest.fixture()
def edges(spark):
    # two components: {1,2,3,4} (chain) and {10,11}; 20 isolated via nodes df
    rows = [(1, 2), (2, 3), (3, 4), (10, 11)]
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.fixture()
def nodes(spark):
    return spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "id long")


class TestConnectedComponents:
    def test_components(self, spark, edges, nodes):
        got = {
            r["id"]: r["component"]
            for r in G.connected_components(edges, nodes=nodes).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}

    def test_direction_ignored(self, spark):
        e = spark.createDataFrame([(5, 1), (1, 9)], "src long, dst long")
        got = {r["id"]: r["component"] for r in G.connected_components(e).collect()}
        assert set(got.values()) == {1}

    def test_long_chain_converges_in_log_rounds(self, spark):
        """A 128-node chain has diameter 127: min-label needs ~127 rounds,
        star contraction must stay logarithmic (≤ log2(128)+c)."""
        n = 128
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        stats: dict = {}
        with mock.patch.object(G, "SMALL_GRAPH_EDGES", -1):
            got = {
                r["id"]: r["component"]
                for r in G.connected_components(e, _stats=stats).collect()
            }
        assert got == {i: 0 for i in range(n)}
        assert 0 < stats["rounds"] <= 12, f"took {stats['rounds']} rounds"

    def test_empty_edges_all_self_components(self, spark, nodes):
        e = spark.createDataFrame([], "src long, dst long")
        got = {
            r["id"]: r["component"]
            for r in G.connected_components(e, nodes=nodes).collect()
        }
        assert got == {i: i for i in [1, 2, 3, 4, 10, 11, 20]}

    def test_small_graph_fast_path_matches_distributed(self, spark):
        """The bounded driver union-find (default dispatch under
        SMALL_GRAPH_EDGES) must produce the identical min-id labels
        as the forced star-contraction path — chains, a cycle, a star,
        isolated nodes from the nodes relation."""
        e = spark.createDataFrame(
            [(7, 3), (3, 9), (9, 7),            # cycle  -> min 3
             (20, 21), (21, 22), (22, 23),      # chain  -> min 20
             (50, 40), (50, 41), (50, 42)],     # star   -> min 40
            "src long, dst long",
        )
        nodes = spark.createDataFrame(
            [(i,) for i in (3, 7, 9, 20, 21, 22, 23, 40, 41, 42, 50, 99)],
            "id long",
        )
        stats_fast: dict = {}
        fast = {
            r["id"]: r["component"]
            for r in G.connected_components(
                e, nodes=nodes, _stats=stats_fast
            ).collect()
        }
        with mock.patch.object(G, "SMALL_GRAPH_EDGES", -1):
            dist = {
                r["id"]: r["component"]
                for r in G.connected_components(e, nodes=nodes).collect()
            }
        assert fast == dist
        assert fast[99] == 99  # isolated node is its own component
        assert stats_fast["rounds"] == 0  # the fast path actually ran
        assert stats_fast["edges"] == 9


class TestDegrees:
    def test_in_out(self, spark, edges):
        got = {r["id"]: (r["out_degree"], r["in_degree"]) for r in G.degrees(edges).collect()}
        assert got[1] == (1, 0)
        assert got[2] == (1, 1)
        assert got[4] == (0, 1)


class TestKHop:
    def test_bfs_hops(self, spark, edges):
        start = spark.createDataFrame([(1,)], "id long")
        got = {r["id"]: r["min_hops"] for r in G.k_hop_neighbors(edges, start, k=2).collect()}
        assert got == {1: 0, 2: 1, 3: 2}


class TestPageRank:
    def test_sums_to_one_and_ranks_hub(self, spark):
        # star: everyone links to 0
        e = spark.createDataFrame([(i, 0) for i in range(1, 6)], "src long, dst long")
        got = {r["id"]: r["rank"] for r in G.pagerank(e, iterations=5).collect()}
        assert abs(sum(got.values()) - 1.0) < 1e-6
        assert got[0] == max(got.values())


class TestTriangles:
    def test_k4_plus_pendant(self, spark):
        # K4 on {0,1,2,3}: each node in C(3,2)=3 triangles; then one extra
        # triangle {3,4,5} hanging off node 3; pendant node 6 in none.
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        extra = [(3, 4), (4, 5), (3, 5), (5, 6)]
        e = spark.createDataFrame(k4 + extra, "src long, dst long")
        got = {r["id"]: r["triangles"] for r in G.triangle_counts(e).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 4, 4: 1, 5: 1}

    def test_direction_and_duplicates_ignored(self, spark):
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)], "src long, dst long"
        )
        got = {r["id"]: r["triangles"] for r in G.triangle_counts(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1}


class TestLabelPropagation:
    @staticmethod
    def _ref_lpa(edges, iterations):
        """Pure-Python synchronous LPA mirror (most-frequent neighbor
        label, ties to smallest, isolated keep their own)."""
        nbrs: dict = {}
        for u, v in edges:
            nbrs.setdefault(u, []).append(v)
            nbrs.setdefault(v, []).append(u)
        labels = {n: n for n in nbrs}
        for _ in range(iterations):
            nxt = {}
            for n, ns in nbrs.items():
                counts: dict = {}
                for m in ns:
                    counts[labels[m]] = counts.get(labels[m], 0) + 1
                nxt[n] = min(counts, key=lambda l: (-counts[l], l))
            labels = nxt
        return labels

    def test_matches_python_reference(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("a", "c"),  # triangle 1
            ("x", "y"), ("y", "z"), ("x", "z"),  # triangle 2
            ("c", "x"),  # bridge
        ]
        from knetminer_etl_spark.operators.graph import label_propagation

        df = spark.createDataFrame(edges, "src string, dst string")
        for rounds in (1, 3, 5):
            got = {
                r["id"]: r["label"]
                for r in label_propagation(df, iterations=rounds).collect()
            }
            assert got == self._ref_lpa(edges, rounds), f"rounds={rounds}"

    def test_communities_form_on_separated_cliques(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("a", "c"),
            ("x", "y"), ("y", "z"), ("x", "z"),
        ]
        from knetminer_etl_spark.operators.graph import label_propagation

        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["id"]: r["label"]
            for r in label_propagation(df, iterations=5).collect()
        }
        assert len({got["a"], got["b"], got["c"]}) == 1
        assert len({got["x"], got["y"], got["z"]}) == 1
        assert got["a"] != got["x"]


class TestMotifs:
    @staticmethod
    def _edges(spark):
        rows = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        return spark.createDataFrame(rows, "src string, dst string")

    def test_two_hop_paths(self, spark):
        from knetminer_etl_spark.operators.graph import find_motifs

        got = {
            (r["x"], r["y"], r["z"])
            for r in find_motifs(
                self._edges(spark), "(x)-[]->(y); (y)-[]->(z)"
            ).collect()
        }
        assert got == {("a", "b", "c"), ("b", "c", "d"), ("a", "c", "d")}

    def test_triangle_motif_matches_triangle_count(self, spark):
        from knetminer_etl_spark.operators.graph import find_motifs

        tri = find_motifs(
            self._edges(spark), "(x)-[]->(y); (y)-[]->(z); (x)-[]->(z)"
        ).collect()
        assert {(r["x"], r["y"], r["z"]) for r in tri} == {("a", "b", "c")}

    def test_fan_in_motif(self, spark):
        from knetminer_etl_spark.operators.graph import find_motifs

        got = {
            (r["x"], r["y"], r["z"])
            for r in find_motifs(
                self._edges(spark), "(x)-[]->(z); (y)-[]->(z)"
            ).collect()
        }
        assert ("a", "b", "c") in got  # a->c and b->c fan into c
        assert all(gz == "c" or gz == "d" or gz == "b" for _, _, gz in got)

    def test_disconnected_term_rejected(self, spark):
        import pytest as _pt

        from knetminer_etl_spark.operators.graph import find_motifs

        with _pt.raises(ValueError):
            find_motifs(self._edges(spark), "(x)-[]->(y); (p)-[]->(q)")


class TestShortestPaths:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string, weight double")

    def _start(self, spark, ids):
        return spark.createDataFrame([(i,) for i in ids], "id string")

    def test_multi_path_takes_min(self, spark):
        from knetminer_etl_spark.operators.graph import shortest_paths

        e = self._edges(
            spark,
            [("a", "b", 1.0), ("b", "d", 5.0), ("a", "c", 2.0), ("c", "d", 1.0),
             ("d", "e", 1.0), ("x", "y", 9.0)],
        )
        got = {r["id"]: r["dist"] for r in
               shortest_paths(e, self._start(spark, ["a"])).collect()}
        assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0, "e": 4.0}
        # x / y unreachable -> absent

    def test_unit_weights_match_k_hop_levels(self, spark):
        from knetminer_etl_spark.operators.graph import (
            k_hop_neighbors,
            shortest_paths,
        )

        e = self._edges(
            spark,
            [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("b", "d", 1.0)],
        )
        start = self._start(spark, ["a"])
        sp = {r["id"]: r["dist"] for r in shortest_paths(e, start).collect()}
        kh = {r["id"]: r["min_hops"] for r in
              k_hop_neighbors(e.select("src", "dst"), start, k=3).collect()}
        assert sp == {k: float(v) for k, v in kh.items()}

    def test_multi_source_and_early_exit(self, spark):
        from knetminer_etl_spark.operators.graph import shortest_paths

        e = self._edges(spark, [("a", "m", 10.0), ("b", "m", 2.0)])
        got = {r["id"]: r["dist"] for r in
               shortest_paths(e, self._start(spark, ["a", "b"]),
                              max_rounds=50).collect()}
        assert got["m"] == 2.0  # nearest source wins; loop exits on round 2

    def test_negative_weight_rejected(self, spark):
        import pytest as _pytest

        from knetminer_etl_spark.operators.graph import shortest_paths

        e = self._edges(spark, [("a", "b", -1.0)])
        with _pytest.raises(ValueError, match="non-negative"):
            shortest_paths(e, self._start(spark, ["a"]))

    def test_exhausted_rounds_raise_instead_of_partial_result(self, spark):
        """A path longer than max_rounds hops must raise, not silently
        return over-estimated distances."""
        import pytest as _pytest

        from knetminer_etl_spark.operators.graph import shortest_paths

        chain = self._edges(
            spark, [(f"n{i}", f"n{i+1}", 1.0) for i in range(6)]
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            shortest_paths(chain, self._start(spark, ["n0"]), max_rounds=3)
        # enough rounds: converges (6 relaxations + 1 no-change round)
        got = {
            r["id"]: r["dist"]
            for r in shortest_paths(
                chain, self._start(spark, ["n0"]), max_rounds=8
            ).collect()
        }
        assert got["n6"] == 6.0


class TestTransitiveClosure:
    def _e(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_chain_closes_in_log_rounds(self, spark):
        from knetminer_etl_spark.operators.graph import transitive_closure

        chain = [(f"n{i}", f"n{i+1}") for i in range(16)]  # depth 16
        got = {
            (r["ancestor"], r["descendant"])
            for r in transitive_closure(self._e(spark, chain), max_rounds=5).collect()
        }  # ceil(log2(16)) = 4 doubling rounds suffice
        expect = {(f"n{i}", f"n{j}") for i in range(17) for j in range(i + 1, 17)}
        assert got == expect

    def test_exhausted_rounds_raise_instead_of_partial_closure(self, spark):
        import pytest as _pytest

        from knetminer_etl_spark.operators.graph import transitive_closure

        chain = [(f"n{i}", f"n{i+1}") for i in range(16)]  # depth 16
        with _pytest.raises(RuntimeError, match="did not converge"):
            transitive_closure(self._e(spark, chain), max_rounds=2)

    def test_dag_diamond_deduplicates_paths(self, spark):
        from knetminer_etl_spark.operators.graph import transitive_closure

        got = {
            (r["ancestor"], r["descendant"])
            for r in transitive_closure(
                self._e(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
            ).collect()
        }
        assert got == {("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")}

    def test_cycle_rejected(self, spark):
        import pytest as _pytest

        from knetminer_etl_spark.operators.graph import transitive_closure

        with _pytest.raises(ValueError, match="cycle|DAG"):
            transitive_closure(self._e(spark, [("a", "b"), ("b", "a")]))
        with _pytest.raises(ValueError, match="self-loop|DAG"):
            transitive_closure(self._e(spark, [("a", "a")]))

    def test_output_stats_recorded(self, spark):
        from knetminer_etl_spark.operators import graph as G

        G.transitive_closure(self._e(spark, [("a", "b"), ("b", "c")]))
        assert G.LAST_CLOSURE_STATS == {"pairs": 3, "edges": 2}


class TestBoundedClosure:
    def _e(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_depth_bound_and_min_depth(self, spark):
        from knetminer_etl_spark.operators.graph import bounded_closure

        chain = [(f"n{i}", f"n{i+1}") for i in range(5)]  # depth 5
        got = {
            (r["ancestor"], r["descendant"]): r["depth"]
            for r in bounded_closure(self._e(spark, chain), max_depth=2).collect()
        }
        expect = {(f"n{i}", f"n{i+1}"): 1 for i in range(5)}
        expect.update({(f"n{i}", f"n{i+2}"): 2 for i in range(4)})
        assert got == expect  # 3+-hop pairs are outside the bound

    def test_min_depth_on_diamond(self, spark):
        from knetminer_etl_spark.operators.graph import bounded_closure

        # a->d both directly and via b: depth must be the MINIMUM (1)
        e = [("a", "b"), ("b", "d"), ("a", "d")]
        got = {
            (r["ancestor"], r["descendant"]): r["depth"]
            for r in bounded_closure(self._e(spark, e), max_depth=3).collect()
        }
        assert got == {("a", "b"): 1, ("b", "d"): 1, ("a", "d"): 1}

    def test_cycles_tolerated_and_terminate(self, spark):
        from knetminer_etl_spark.operators.graph import bounded_closure

        e = [("a", "b"), ("b", "a"), ("b", "c")]
        got = {
            (r["ancestor"], r["descendant"]): r["depth"]
            for r in bounded_closure(self._e(spark, e), max_depth=3).collect()
        }
        assert got[("a", "b")] == 1 and got[("b", "a")] == 1
        assert got[("a", "c")] == 2
        assert got[("a", "a")] == 2 and got[("b", "b")] == 2  # cycle closes

    def test_early_exit_below_bound(self, spark):
        from knetminer_etl_spark.operators import graph as G

        got = G.bounded_closure(
            self._e(spark, [("a", "b"), ("b", "c")]), max_depth=10
        ).count()
        assert got == 3  # converged at depth 2, no depth-3..10 rounds
        assert G.LAST_CLOSURE_STATS == {"pairs": 3, "edges": 2}
