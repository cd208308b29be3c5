"""SALSA — Stochastic Approach for Link-Structure Analysis.

Beyond-reference operator completing the link-analysis trio next to
PageRank (pagerank.py, PageRankVertex.java:124-145) and HITS
(examples.py hits program): Lempel & Moran's SALSA replaces HITS'
mutual reinforcement with two random walks on the bipartite double
cover of the directed graph — the authority walk steps
target -> (uniform citer) -> (uniform target), the hub walk the
reverse. Unlike HITS it is not hub-score-dominated by tightly-knit
communities, and unlike PageRank it needs no damping parameter.

The implementation uses the CLOSED FORM rather than power iteration
(Lempel & Moran 2001, §3.2): each walk is a random walk on an
undirected (bipartite) graph, whose stationary distribution within a
connected component is degree-proportional. Hence

    authority(v) = indeg(v)  / Σ indeg  over v's authority component
    hub(u)       = outdeg(u) / Σ outdeg over u's hub component

where components are taken in the DOUBLE COVER: every page splits into
a hub copy (2u) and an authority copy (2v+1), and each directed edge
u->v becomes the undirected edge {2u, 2v+1}. Two authorities are in
the same component iff an alternating citer/target path connects them
— exactly the irreducible blocks of the authority chain.

Execution shape (the 100 TB story): the double cover has |E| edges —
built by one projection, no self-join, no quadratic co-citation
materialization — and component discovery is the existing min-label
delta-plan CC (cc.py). Everything after is two degree aggregates, two
component-sum aggregates, and one broadcast-sized join per side. The
scores are exact integer ratios evaluated in ONE double division, so
the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import vertices_from_edges
from ..superstep import LoopResult
from .cc import connected_components


def salsa_scores(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, hub, authority), LoopResult of the CC phase).

    ``hub`` is NULL for vertices with no out-edges, ``authority`` NULL
    for vertices with no in-edges; each side sums to 1.0 per double-
    cover component. Duplicate edges collapse (the walk is over the
    simple graph); self-loops are fine (they link a page's own hub and
    authority copies).
    """
    e = edges.select("src", "dst").distinct()
    dc = e.select(
        (F.col("src") * 2).alias("src"), (F.col("dst") * 2 + 1).alias("dst")
    )
    comp, res = connected_components(
        dc,
        num_partitions=num_partitions,
        max_supersteps=max_supersteps,
    )

    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("od")
    )
    indeg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("idg")
    )

    hub_side = outdeg.join(
        comp.filter(F.col("id") % 2 == 0).select(
            (F.col("id") / 2).cast("long").alias("id"),
            F.col("component").alias("c"),
        ),
        "id",
    )
    hub_tot = hub_side.groupBy("c").agg(F.sum("od").alias("tot"))
    hubs = hub_side.join(hub_tot, "c").select(
        "id",
        (F.col("od").cast("double") / F.col("tot").cast("double")).alias("hub"),
    )

    auth_side = indeg.join(
        comp.filter(F.col("id") % 2 == 1).select(
            ((F.col("id") - 1) / 2).cast("long").alias("id"),
            F.col("component").alias("c"),
        ),
        "id",
    )
    auth_tot = auth_side.groupBy("c").agg(F.sum("idg").alias("tot"))
    auths = auth_side.join(auth_tot, "c").select(
        "id",
        (F.col("idg").cast("double") / F.col("tot").cast("double")).alias(
            "authority"
        ),
    )

    verts = vertices if vertices is not None else vertices_from_edges(edges)
    out = (
        verts.select("id")
        .join(hubs, "id", "left_outer")
        .join(auths, "id", "left_outer")
        .select("id", "hub", "authority")
    )
    return out, res
