"""Golden-output tests mirroring the reference's e2e strategy
(RunJobTestSuite/RunJobTestCase; order-insensitive compare with float
tolerance — theirs 1e-7 on text, ours allclose 1e-6 per north_rule)."""

import math

import pytest
from pyspark.sql import functions as F

from linkgraph import (
    clustering_coefficients,
    connected_components,
    connected_components_hashmin,
    ktruss,
    label_propagation,
    transitivity,
    pagerank,
    shortest_paths,
    triangle_counts,
    triangle_total,
)
from linkgraph.synth import CLIQUE, WEBMAP, adjacency_to_edges, edges_df

from oracles import cc_oracle, lpa_oracle, pagerank_oracle, sssp_oracle, triangles_oracle

# Reference golden PageRankReal output (expected/PageRankReal/part-*,
# NUM_VERTICE=20, maxIter=10 == 9 rank updates, damping 0.85).
GOLDEN_PR = {
    0: 0.008290140026154316, 1: 0.15351528192471653, 2: 0.14646839195826478,
    3: 0.08125113985998214, 4: 0.03976979906329426, 5: 0.0225041581462058,
    6: 0.015736276824953852, 7: 0.012542224114863661, 8: 0.010628239626209894,
    9: 0.009294348455354817, 10: 0.008290140026154316, 11: 0.15351528192471653,
    12: 0.14646839195826478, 13: 0.08125113985998214, 14: 0.03976979906329426,
    15: 0.0225041581462058, 16: 0.015736276824953852, 17: 0.012542224114863661,
    18: 0.010628239626209894, 19: 0.009294348455354817,
}

# Reference golden ConnectedComponentsReal (directed webmap).
GOLDEN_CC = {0: 0, **{i: 1 for i in range(1, 11)}, **{i: 0 for i in range(11, 20)}}

# Reference golden TriangleCounting (clique fixture, adjacency as-given).
GOLDEN_TRI = {1: 3, 2: 2, 3: 0, 4: 0, 5: 1, 6: 0, 7: 0}


def _to_dict(df, k, v):
    return {r[k]: r[v] for r in df.collect()}


class TestPageRank:
    def test_reference_golden(self, webmap_edges):
        ranks, _ = pagerank(webmap_edges, fixed_updates=9)
        got = _to_dict(ranks, "id", "rank")
        assert set(got) == set(GOLDEN_PR)
        for v, exp in GOLDEN_PR.items():
            assert math.isclose(got[v], exp, abs_tol=1e-6)

    def test_convergence_mode_matches_oracle(self, webmap_edges):
        ranks, res = pagerank(webmap_edges, tol=1e-6)
        assert res.converged
        exp = pagerank_oracle(WEBMAP, set(range(20)), tol=1e-6)
        got = _to_dict(ranks, "id", "rank")
        for v in exp:
            assert math.isclose(got[v], exp[v], abs_tol=1e-6)

    def test_dangling_mass_not_redistributed(self, spark):
        # 0 -> 1, 1 has no out-edges (dangling): reference semantics keep
        # 1's mass out of circulation.
        e = edges_df(spark, [(0, 1)])
        ranks, _ = pagerank(e, fixed_updates=3)
        exp = pagerank_oracle({0: [1]}, {0, 1}, updates=3)
        got = _to_dict(ranks, "id", "rank")
        for v in exp:
            assert math.isclose(got[v], exp[v], abs_tol=1e-12)

    def test_salting_preserves_ranks(self, webmap_edges, monkeypatch):
        import linkgraph.partitioning

        base, _ = pagerank(webmap_edges, fixed_updates=5)
        monkeypatch.setattr(linkgraph.partitioning, "DEFAULT_CHUNK_SIZE", 2)
        salted, _ = pagerank(webmap_edges, fixed_updates=5)
        j = base.withColumnRenamed("rank", "r0").join(salted, "id")
        mx = j.agg(F.max(F.abs(F.col("rank") - F.col("r0")))).first()[0]
        assert mx < 1e-12

    def test_delta_monotonically_reported(self, webmap_edges):
        _, res = pagerank(webmap_edges, fixed_updates=4)
        deltas = [m.delta for m in res.history]
        assert len(deltas) == 4 and all(d is not None for d in deltas)


class TestConnectedComponents:
    def test_reference_golden_directed(self, webmap_edges):
        comp, _ = connected_components(webmap_edges, symmetrize_edges=False)
        assert _to_dict(comp, "id", "component") == GOLDEN_CC

    def test_true_components_undirected(self, spark):
        # two components + isolated-ish vertex via self-edge
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (12, 12)]
        e = edges_df(spark, edges)
        comp, res = connected_components(e)
        exp = cc_oracle(edges, {1, 2, 3, 10, 11, 12})
        assert _to_dict(comp, "id", "component") == exp
        assert res.converged

    def test_clique_fixture(self, clique_edges):
        comp, _ = connected_components(clique_edges)
        exp = cc_oracle(adjacency_to_edges(CLIQUE), set(range(1, 8)))
        assert _to_dict(comp, "id", "component") == exp


class TestHashMinCC:
    """Alternating large-star/small-star CC (Kiveris et al.) — must
    agree exactly with the min-label engine (shared contract: component
    label = min id), while converging diameter-independently."""

    def test_matches_oracle_basic(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (12, 12)]
        comp, res = connected_components_hashmin(edges_df(spark, edges))
        exp = cc_oracle(edges, {1, 2, 3, 10, 11, 12})
        assert _to_dict(comp, "id", "component") == exp
        assert res.converged

    def test_diameter_independent_rounds(self, spark):
        # a 64-hop path: min-label propagation needs ~64 supersteps,
        # star contraction collapses it in O(log n) rounds
        edges = [(i, i + 1) for i in range(64)]
        comp, res = connected_components_hashmin(edges_df(spark, edges))
        assert res.converged
        assert res.supersteps <= 12
        assert _to_dict(comp, "id", "component") == {i: 0 for i in range(65)}

    def test_matches_minlabel_on_random_graph(self, spark):
        import random

        rng = random.Random(1234)
        edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(500)]
        e = edges_df(spark, edges)
        ref, _ = connected_components(e)
        got, res = connected_components_hashmin(e)
        assert res.converged
        assert _to_dict(got, "id", "component") == _to_dict(ref, "id", "component")

    def test_empty_and_selfloop_graphs(self, spark):
        comp, res = connected_components_hashmin(edges_df(spark, [(7, 7)]))
        assert res.converged
        assert _to_dict(comp, "id", "component") == {7: 7}

    def test_vertices_param_adds_isolated(self, spark):
        verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
        comp, _ = connected_components_hashmin(
            edges_df(spark, [(0, 1)]), vertices=verts
        )
        exp = {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5}
        assert _to_dict(comp, "id", "component") == exp


class TestLabelPropagation:
    def test_matches_synchronous_oracle(self, spark):
        # two tight triangles bridged by one edge -> two communities
        edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
        e = edges_df(spark, edges)
        labels, _ = label_propagation(e, max_supersteps=10)
        exp = lpa_oracle(edges, set(range(1, 7)), max_supersteps=10)
        assert _to_dict(labels, "id", "label") == exp

    def test_deterministic(self, webmap_edges):
        a, _ = label_propagation(webmap_edges, max_supersteps=7)
        b, _ = label_propagation(webmap_edges, max_supersteps=7)
        assert _to_dict(a, "id", "label") == _to_dict(b, "id", "label")

    def test_isolated_vertex_keeps_label(self, spark):
        from linkgraph.graph import vertices_from_edges

        e = edges_df(spark, [(1, 2), (3, 3)])
        labels, _ = label_propagation(e, max_supersteps=5)
        got = _to_dict(labels, "id", "label")
        assert got[3] == 3


class TestTriangles:
    def test_reference_golden_asymmetric(self, clique_edges):
        tri = triangle_counts(clique_edges, symmetrize_edges=False)
        assert _to_dict(tri, "id", "triangles") == GOLDEN_TRI

    def test_symmetrized_matches_oracle(self, clique_edges):
        tri = triangle_counts(clique_edges, symmetrize_edges=True)
        exp = triangles_oracle(adjacency_to_edges(CLIQUE), set(range(1, 8)))
        assert _to_dict(tri, "id", "triangles") == exp

    def test_global_total(self, clique_edges):
        exp = triangles_oracle(adjacency_to_edges(CLIQUE), set(range(1, 8)))
        assert triangle_total(clique_edges) == sum(exp.values())

    def test_self_loops_ignored(self, spark):
        e = edges_df(spark, [(1, 1), (1, 2), (2, 3), (1, 3)])
        assert triangle_total(e) == 1


class TestKTruss:
    @staticmethod
    def _brute(edges, k):
        E = {(min(s, d), max(s, d)) for s, d in edges if s != d}
        while True:
            nbr = {}
            for a, b in E:
                nbr.setdefault(a, set()).add(b)
                nbr.setdefault(b, set()).add(a)
            sup = {(a, b): len(nbr[a] & nbr[b]) for a, b in E}
            new_e = {e for e in E if sup[e] >= k - 2}
            if new_e == E:
                return {e: sup[e] for e in E}
            E = new_e

    def test_clique_is_its_own_truss(self, spark):
        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        out, res = ktruss(edges_df(spark, edges), 5)
        got = {(r["src"], r["dst"]): r["support"] for r in out.collect()}
        assert got == {e: 3 for e in self._brute(edges, 5)}
        assert res.converged

    def test_triangle_free_graph_empty(self, spark):
        out, res = ktruss(edges_df(spark, [(i, i + 1) for i in range(10)]), 3)
        assert out.count() == 0 and res.converged

    def test_cascade_matches_brute_force(self, spark):
        import random

        rng = random.Random(5)
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
        df = edges_df(spark, edges)
        for k in (3, 4, 5):
            out, res = ktruss(df, k)
            got = {(r["src"], r["dst"]): r["support"] for r in out.collect()}
            assert got == self._brute(edges, k), f"k={k}"
            assert res.converged

    def test_k_below_2_rejected(self, spark):
        with pytest.raises(ValueError):
            ktruss(edges_df(spark, [(1, 2)]), 1)


class TestClusteringCoefficients:
    def _brute(self, edges, vertices):
        from collections import defaultdict

        nbrs = defaultdict(set)
        for s, d in edges:
            if s != d:
                nbrs[s].add(d)
                nbrs[d].add(s)
        out = {}
        for v in vertices:
            deg = len(nbrs[v])
            tri = sum(
                1
                for a in nbrs[v]
                for b in nbrs[v]
                if a < b and b in nbrs[a]
            )
            coeff = 2.0 * tri / (deg * (deg - 1)) if deg >= 2 else 0.0
            out[v] = (deg, tri, round(coeff, 9))
        return out

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(99)
        edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
        verts = {v for e in edges for v in e}
        got = {
            r["id"]: (r["degree"], r["triangles"], round(r["coeff"], 9))
            for r in clustering_coefficients(edges_df(spark, edges)).collect()
        }
        assert got == self._brute(edges, verts)

    def test_transitivity_closed_form(self, spark):
        # triangle + pendant: 3 triangles-at-corners / 5 wedges = 0.6
        e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (1, 4)])
        assert transitivity(e).collect()[0]["transitivity"] == pytest.approx(0.6)

    def test_no_wedges_is_zero(self, spark):
        e = edges_df(spark, [(1, 2)])
        assert transitivity(e).collect()[0]["transitivity"] == 0.0


class TestSSSP:
    def test_webmap_distances(self, webmap_edges):
        dist, res = shortest_paths(webmap_edges, source=0)
        exp = sssp_oracle(adjacency_to_edges(WEBMAP), set(range(20)), 0)
        got = _to_dict(dist, "id", "distance")
        assert got == pytest.approx(exp)
        assert res.converged

    def test_unreachable_is_null(self, spark):
        e = edges_df(spark, [(0, 1), (5, 6)])
        dist, _ = shortest_paths(e, source=0)
        got = _to_dict(dist, "id", "distance")
        assert got[5] is None and got[6] is None and got[1] == 1.0


class TestGlobalAggregators:
    def test_user_global_agg_per_superstep(self, webmap_edges):
        """Reference GlobalAggregator parity: a user aggregate evaluated
        over the vertex state every superstep (the AQL validation's
        count/sum checks, pagerank.3.query.aql:1-6)."""
        from pyspark.sql import functions as F

        ranks, res = pagerank(
            webmap_edges,
            fixed_updates=5,
            global_aggs={
                "total_rank": F.sum("rank"),
                "n_vertices": F.count(F.lit(1)),
            },
        )
        assert len(res.history) == 5
        for m in res.history:
            assert m.extras["n_vertices"] == 20
            # webmap has no dangling vertices: total mass conserved
            assert abs(m.extras["total_rank"] - 1.0) < 1e-9
