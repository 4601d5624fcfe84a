"""HITS (hubs & authorities) — Kleinberg's link-analysis companion to
PageRank: authorities are pages pointed at by good hubs, hubs point at
good authorities.

Per iteration (the classic alternating update, sum-normalized):

    auth_{t+1}(v) = Σ_{u→v} hub_t(u)      then normalize Σ auth = 1
    hub_{t+1}(u)  = Σ_{u→v} auth_{t+1}(v) then normalize Σ hub = 1

Runs on the shared :class:`FixpointLoop` (per-iteration lineage
truncation, metrics, durable epochs + resume). Normalization constants
are in-plan broadcast scalars — one Spark job per half-step, no driver
collect, exactly the PageRank dangling-mass pattern
(operators/pagerank.py:100-118). The edge table is the graph's cached,
pre-partitioned table; only the V-sized state moves per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DiGraph
from ..plans.iterate import FixpointLoop, l1_diff


def hits(
    graph: DiGraph,
    max_iterations: int = 30,
    tol: float = 0.0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, hub, auth) per vertex. ``tol > 0`` adds an L1-convergence job
    per iteration; ``tol <= 0`` runs exactly ``max_iterations`` alternating
    updates (the replayable fixed-iteration mode)."""
    edges = graph.edges.select("src", "dst").distinct().persist()
    verts = graph.vertices.select("vid")
    n = graph.n_vertices
    init = verts.select(
        "vid", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
    )

    def _normalized(df: DataFrame, col: str) -> DataFrame:
        total = F.broadcast(df.agg(F.sum(col).alias("_t")))
        return df.crossJoin(total).select(
            "vid",
            F.when(F.col("_t") > 0, F.col(col) / F.col("_t"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    def step(state: DataFrame, i: int) -> DataFrame:
        # each half-step's V-sized raw aggregate is eagerly checkpointed
        # BEFORE normalizing: the normalizer's broadcast total, the next
        # half-step, and the final join all consume it, and without the
        # checkpoint each consumer re-executes the edge join (measured
        # ~6-7 edge joins per iteration instead of the inherent 2)
        a_raw = (
            edges.join(
                state.select(F.col("vid").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("hub").alias("auth"))
        )
        af = (
            verts.join(a_raw, "vid", "left").select(
                "vid", F.coalesce("auth", F.lit(0.0)).alias("auth")
            )
        ).localCheckpoint(eager=True)
        auth = _normalized(af, "auth")
        h_raw = (
            edges.join(auth.select(F.col("vid").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("auth").alias("hub"))
        )
        hf = (
            verts.join(h_raw, "vid", "left").select(
                "vid", F.coalesce("hub", F.lit(0.0)).alias("hub")
            )
        ).localCheckpoint(eager=True)
        hub = _normalized(hf, "hub")
        return hub.join(auth, "vid").select("vid", "hub", "auth")

    loop = FixpointLoop(
        "hits",
        step,
        convergence=l1_diff("vid", "hub", "auth") if tol > 0 else None,
        max_iterations=max_iterations,
        tol=tol,
        checkpoint_dir=checkpoint_dir,
    )
    result = loop.run(init)
    edges.unpersist()
    return result
