"""Source-dest reachability — bidirectional mark propagation.

Reference contract (ReachabilityVertex.java:135-191, SURVEY.md §4.5):

- vertex state is a 2-bit mask: bit 1 = marked from ``source``, bit 2 =
  marked from ``dest``; superstep 1 marks the two roots and scatters
  their state along out-edges;
- messages combine with bitwise OR (SimpleReachibilityCombiner,
  ReachabilityVertex.java:52-97); a vertex ORs the combined message into
  its state and re-scatters only when the state changed — a monotone
  message-driven fixpoint (delta messaging is exact);
- when some vertex reaches state 3 the two searches met:
  ``reachable=True`` and the job force-terminates (terminateJob via the
  signal file, ReachabilityVertex.java:196-211) — messages produced in
  the meeting superstep are never delivered. ``early_terminate=True``
  reproduces that timeline exactly (golden ReachibilityRealComplex);
  ``early_terminate=False`` runs the propagation to its fixpoint, where
  ``state(v) = 1*[v in Reach(source)] | 2*[v in Reach(dest)]`` over
  out-edges — the SQL-expressible closure the oracle gate checks
  (and what the reference itself produces when the searches never meet,
  golden ReachibilityRealComplexNoConnectivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointManager
from ..graph import loop_vertices
from ..partitioning import symmetrize
from ..superstep import LoopResult, StepResult, iterate, iteration_conf


def reachability(
    edges: DataFrame,
    source: int,
    dest: int,
    early_terminate: bool = True,
    symmetrize_edges: bool = False,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_supersteps: int = 200,
    ckpt: CheckpointManager | None = None,
    resume: bool = True,
) -> tuple[DataFrame, bool, LoopResult]:
    """Returns (DF(id, state), reachable, LoopResult).

    ``state``: 0 unmarked, 1 reached-from-source, 2 reached-from-dest,
    3 both (the searches met through this vertex).
    """
    p, verts = loop_vertices(edges, vertices, num_partitions, symmetrize_edges)

    e = symmetrize(edges) if symmetrize_edges else edges.select("src", "dst")
    with iteration_conf(edges.sparkSession, p):
        adj = (
            e.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
            .repartition(p, "src")
            .persist()
        )
        adj.count()

    if source == dest:
        # reference: the vertex is set to 1 then overwritten to 2, and
        # the job terminates immediately (ReachabilityVertex.java:141-153)
        states = verts.select(
            "id",
            F.when(F.col("id") == source, F.lit(2)).otherwise(F.lit(0)).alias("state"),
        )
        adj.unpersist()
        return states, True, LoopResult(states, 0, [], True)

    init = verts.select(
        "id",
        (
            F.when(F.col("id") == source, F.lit(1)).otherwise(F.lit(0))
            + F.when(F.col("id") == dest, F.lit(2)).otherwise(F.lit(0))
        ).alias("state"),
    ).withColumn("changed", F.col("state") > 0)

    def superstep(state_df: DataFrame, k: int) -> StepResult:
        cur = state_df.select("id", "state", "changed")
        senders = cur.filter(F.col("changed"))
        msgs = (
            adj.join(senders, adj["src"] == senders["id"])
            .select(F.explode("dsts").alias("id"), F.col("state").alias("m"))
            .groupBy("id")
            .agg(F.expr("bit_or(m)").alias("m"))
        )
        new = (
            cur.drop("changed")
            .join(msgs, "id", "left_outer")
            .select(
                "id",
                F.col("state").alias("_old"),
                F.col("state").bitwiseOR(F.coalesce(F.col("m"), F.lit(0))).alias("state"),
                F.col("m").isNotNull().cast("long").alias("_msgs"),
            )
            .select(
                "id",
                "state",
                (F.col("state") != F.col("_old")).alias("changed"),
                # _delta carries the meet signal: >0 iff some vertex is
                # now marked from both sides.
                F.when(F.col("state") == 3, F.lit(1.0)).otherwise(F.lit(0.0)).alias("_delta"),
                "_msgs",
            )
            .withColumn("_changed", F.col("changed"))
        )
        return StepResult(state=new, messages=msgs)

    def done(s) -> bool:
        met = (s.delta or 0.0) > 0
        return s.changed == 0 or (early_terminate and met)

    result = iterate(
        init.withColumn("_changed", F.col("changed")).withColumn("_delta", F.lit(0.0)),
        superstep,
        converged=done,
        max_supersteps=max_supersteps,
        ckpt=ckpt,
        resume=resume,
        num_partitions=p,
    )
    adj.unpersist()
    states = result.state.select("id", "state")
    met = bool(result.history and (result.history[-1].delta or 0.0) > 0)
    return states, met, result
