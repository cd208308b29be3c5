"""Single-source shortest paths — parity feature.

Reference contract (ShortestPathsVertex.java:125-145, SURVEY.md SS4.5):
min-distance relaxation with SimpleMinCombiner; edge weight defaults to
1.0 (the text fixtures carry no weights); source vertex from job conf;
message-driven fixpoint (only vertices whose distance improved
re-broadcast), every vertex votes to halt each superstep.

Same delta-messaging superstep core as connected components, with the
message value ``dist + weight`` instead of a label. Unreached vertices
report distance NULL (the reference leaves them at +inf / untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..graph import loop_vertices
from ..superstep import LoopResult, StepResult, iterate, iteration_conf

_INF = float("inf")


def shortest_paths(
    edges: DataFrame,
    source: int,
    weight_col: str | None = None,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, LoopResult]:
    """Returns (DF(id, distance), LoopResult); distance NULL if unreachable."""
    p, verts = loop_vertices(edges, vertices, num_partitions)

    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # weighted adjacency rows (src, dst, w); kept row-per-edge (the
    # scatter needs per-edge weights, so array packing buys nothing)
    with iteration_conf(edges.sparkSession, p):
        wedges = edges.select("src", "dst", w.alias("w")).repartition(p, "src").persist()
        wedges.count()

    init = verts.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
    ).withColumn("changed", F.col("id") == source)

    def superstep(state: DataFrame, k: int) -> StepResult:
        cur = state.select("id", "dist", "changed")
        senders = cur.filter(F.col("changed"))
        msgs = (
            wedges.join(senders, wedges["src"] == senders["id"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        new = (
            cur.drop("changed")
            .join(msgs, "id", "left_outer")
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce(F.col("cand"), F.col("dist"))).alias("ndist"),
                F.col("dist").alias("_oldd"),
                F.col("cand").isNotNull().cast("long").alias("_msgs"),
            )
            .select(
                "id",
                F.col("ndist").alias("dist"),
                (F.col("ndist") < F.col("_oldd")).alias("changed"),
                "_msgs",
            )
            .withColumn("_changed", F.col("changed"))
        )
        return StepResult(state=new, messages=msgs)

    result = iterate(
        init,
        superstep,
        converged=lambda s: s.changed == 0,
        max_supersteps=max_supersteps,
        ckpt=ckpt,
        resume=resume,
        num_partitions=p,
    )
    wedges.unpersist()
    out = result.state.select(
        "id", F.when(F.col("dist") == _INF, F.lit(None)).otherwise(F.col("dist")).alias("distance")
    )
    return out, result
