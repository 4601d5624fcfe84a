"""Katz centrality — attenuated walk-count influence.

``x(v) = α Σ_{u→v} x(u) + β`` iterated to the fixed point (converges
for α < 1/λ_max), then L2-normalized — exactly
``nx.katz_centrality``'s power iteration, including its convergence
criterion (L1 change < n·tol on the PRE-normalization vector). Unlike
eigenvector centrality, the β baseline gives every vertex non-zero
score, which is why Katz is the standard influence measure on directed
web/citation graphs where eigenvector mass can die in source
components.

Plan shape: identical to PageRank's exchange — one edge⋈state hash join
+ one map-side-combined sum per iteration over the cached edge table,
state checkpointed by the shared :class:`FixpointLoop` (lineage
truncation, metrics, durable epochs + resume). The L2 normalizer runs
ONCE after convergence (not per iteration), so there is no extra
broadcast-total job in the loop.

Reference parity: the reference has no Katz; this completes the
engine's spectral family (PageRank/HITS/SALSA/eigenvector, SURVEY
§2.7)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, l1_diff


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iterations: int = 1000,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, katz) per vertex, L2-normalized like nx.katz_centrality."""
    n = graph.n_vertices
    if n == 0:
        return graph.vertices.select("vid", F.lit(0.0).alias("katz"))
    wcol = F.col(weight) if weight else F.lit(1.0)
    edges = graph.edges.select("src", "dst", wcol.alias("w")).persist()
    verts = graph.vertices.select("vid")
    init = verts.select("vid", F.lit(0.0).alias("x"))

    def step(state: DataFrame, i: int) -> DataFrame:
        contrib = (
            edges.join(state.select(F.col("vid").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("x") * F.col("w")).alias("c"))
        )
        return verts.join(contrib, "vid", "left").select(
            "vid",
            (F.lit(alpha) * F.coalesce("c", F.lit(0.0)) + F.lit(beta)).alias("x"),
        )

    # tol <= 0: exactly max_iterations updates with no convergence job
    # (the replayable fixed-iteration mode the driver oracle uses)
    loop = FixpointLoop(
        "katz",
        step,
        convergence=l1_diff("vid", "x") if tol > 0 else None,
        max_iterations=max_iterations,
        # nx stops when L1 change < n * tol
        tol=float(n) * tol,
        checkpoint_dir=checkpoint_dir,
    )
    x = loop.run(init).localCheckpoint(eager=True)
    edges.unpersist()
    norm = F.broadcast(x.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("_n")))
    return x.crossJoin(norm).select(
        "vid",
        F.when(F.col("_n") > 0, F.col("x") / F.col("_n"))
        .otherwise(F.lit(0.0))
        .alias("katz"),
    )
