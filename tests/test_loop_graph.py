"""The shared superstep-loop setup (graph.loop_graph / loop_vertices):
sizing, co-partitioning, and release of the persisted adjacency."""

import importlib

import pytest

from linkgraph import greedy_coloring, maximal_independent_set
from linkgraph.graph import loop_graph, loop_vertices
from linkgraph.synth import edges_df


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _is_cached(df) -> bool:
    lvl = df.storageLevel  # looked up in the JVM CacheManager
    return lvl.useMemory or lvl.useDisk


@pytest.fixture(scope="module")
def ring_edges(spark):
    # a 30-vertex ring with chords: enough rounds for MIS and coloring
    # to take several supersteps
    e = [(i, (i + 1) % 30) for i in range(30)] + [(i, (i + 7) % 30) for i in range(0, 30, 3)]
    return edges_df(spark, e).cache()


class TestSizing:
    def test_symmetrized_loop_is_sized_from_twice_the_edges(
        self, spark, ring_edges, monkeypatch
    ):
        import linkgraph.graph

        monkeypatch.setattr(linkgraph.graph, "TARGET_EDGES_PER_PARTITION", 10)
        n = ring_edges.count()  # 40 edges
        p_dir, _ = loop_vertices(ring_edges)
        p_sym, verts = loop_vertices(ring_edges, symmetrize_edges=True)
        assert p_dir == -(-n // 10)
        assert p_sym == min(8, -(-2 * n // 10))
        assert verts.rdd.getNumPartitions() == p_sym
        assert verts.columns == ["id"] and verts.count() == 30

    def test_loop_graph_yields_persisted_adjacency(self, spark, ring_edges):
        with loop_graph(ring_edges, symmetrize_edges=True) as g:
            assert _is_cached(g.adj)
            assert g.edges.count() == 2 * ring_edges.count()
            assert g.adj.rdd.getNumPartitions() == g.p
        assert not _is_cached(g.adj)

    @pytest.mark.parametrize("fn", [maximal_independent_set, greedy_coloring])
    def test_results_do_not_depend_on_partition_count(self, ring_edges, fn):
        one, _ = fn(ring_edges, num_partitions=1)
        three, _ = fn(ring_edges, num_partitions=3)
        assert sorted(one.collect()) == sorted(three.collect())


class TestAdjacencyReleasedOnFailure:
    @pytest.mark.parametrize(
        "module, call",
        [
            ("linkgraph.algorithms.pagerank", lambda m, e: m.pagerank(e, fixed_updates=5)),
            ("linkgraph.algorithms.cc", lambda m, e: m.connected_components(e)),
        ],
    )
    def test_superstep_raise_unpersists_adjacency(
        self, spark, webmap_edges, monkeypatch, module, call
    ):
        import linkgraph.graph

        mod = importlib.import_module(module)
        built = []
        real_build = linkgraph.graph.build_adjacency

        def recording_build(*args, **kwargs):
            built.append(real_build(*args, **kwargs))
            return built[-1]

        real_iterate = mod.iterate

        def failing_iterate(init, superstep_fn, *args, **kwargs):
            def step(state, k):
                if k == 2:
                    raise RuntimeError("superstep 2 failed")
                return superstep_fn(state, k)

            return real_iterate(init, step, *args, **kwargs)

        monkeypatch.setattr(linkgraph.graph, "build_adjacency", recording_build)
        monkeypatch.setattr(mod, "iterate", failing_iterate)
        webmap_edges.count()
        before = _cached_entries(spark)
        conf_before = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.raises(RuntimeError, match="superstep 2 failed"):
            call(mod, webmap_edges)
        assert len(built) == 1
        assert not _is_cached(built[0])
        assert _cached_entries(spark) == before
        # the session conf the loop pinned is restored as well
        assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before
