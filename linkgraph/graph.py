"""Shared graph helpers used by every algorithm."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import build_adjacency, symmetrize
from .superstep import iteration_conf


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """All vertex ids appearing as src or dst -> DF(id). The reference's
    vertex relation also materializes message-only targets
    (webmapcomplex's dangling refs, FIXTURES.md SS2.2)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def default_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


# Per-superstep shuffle traffic is proportional to the edge count, so
# in-loop parallelism is sized from it: enough partitions to keep each
# under ~TARGET edges (bounded task state), capped by the session's
# shuffle-partition setting (the cluster-size knob). AQE would coalesce
# toy-scale shuffles the same way at runtime, but it must stay off
# inside the loop (superstep.iteration_conf), so the sizing is explicit.
TARGET_EDGES_PER_PARTITION = 250_000


def choose_partitions(df, n_rows, explicit: int | None = None) -> int:
    """Pick the loop partition count. ``n_rows`` may be an int or a
    zero-arg callable (e.g. ``lambda: edges.count()``) so the count job
    is skipped entirely when ``explicit`` is supplied."""
    if explicit is not None:
        return max(1, explicit)
    if callable(n_rows):
        n_rows = n_rows()
    cap = default_partitions(df)
    return max(1, min(cap, -(-n_rows // TARGET_EDGES_PER_PARTITION)))


def loop_vertices(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = False,
) -> tuple[int, DataFrame]:
    """The loop's partition count and its (id) vertex frame
    hash-partitioned on ``id`` into that many partitions.

    A symmetrized loop scatters along both directions of every edge, so
    it is sized from twice the edge count. ``vertices`` defaults to
    every id that appears in ``edges``."""
    scale = 2 if symmetrize_edges else 1
    p = choose_partitions(edges, lambda: scale * edges.count(), num_partitions)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    return p, vertices.select("id").repartition(p, "id")


class LoopGraph(NamedTuple):
    p: int                # loop partition count
    vertices: DataFrame   # (id), hash-partitioned on id into p
    edges: DataFrame      # (src, dst), directed or symmetrized
    adj: DataFrame        # persisted salted adjacency, partitioned on src


@contextmanager
def loop_graph(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    symmetrize_edges: bool = False,
) -> Iterator[LoopGraph]:
    """Set up a superstep loop over the salted CSR adjacency.

    The Spark rendition of the one physical superstep dataflow Pregelix
    generates for every vertex program (partitioned vertex relation +
    message join + combine, JobGen.java:1124-1215): sizes the loop with
    :func:`loop_vertices`, builds :func:`partitioning.build_adjacency`
    over the directed or symmetrized edges, and persists and counts it
    under ``superstep.iteration_conf`` so the cached plan keeps
    ``hashpartitioning(src, p)``. The adjacency is released when the
    block exits, also when a superstep raises.
    """
    p, verts = loop_vertices(edges, vertices, num_partitions, symmetrize_edges)
    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    adj = None
    try:
        with iteration_conf(edges.sparkSession, p):
            adj = build_adjacency(e, num_partitions=p).persist()
            adj.count()  # materialized once, reused every superstep
        yield LoopGraph(p, verts, e, adj)
    finally:
        if adj is not None:
            adj.unpersist()
