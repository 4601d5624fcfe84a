"""Eigenvector centrality — power iteration on (A^T + I), nx semantics.

The third classic spectral centrality next to PageRank and HITS (absent
from the reference like both of those; SURVEY.md §2.7). Matches
``nx.eigenvector_centrality``: per iteration every vertex adds its
in-neighbors' scores to its own previous score (the +I shift keeps
bipartite graphs from oscillating), then the vector is L2-normalized;
convergence is the nx criterion Σ|x_t − x_{t−1}| < V·tol.

Spark shape: one ``edges ⋈ state → groupBy(dst).sum`` exchange per
iteration — identical to the PageRank step — with the L2 norm applied as
an in-plan broadcast scalar (one job per iteration, no driver collect
beyond the convergence metric). Runs on the shared :class:`FixpointLoop`
(lineage truncation, per-iteration metrics, durable epochs + resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, l1_diff


def eigenvector_centrality(
    graph: Graph,
    max_iterations: int = 100,
    tol: float = 1e-6,
    weighted: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, eigenvector) per vertex, L2-normalized.

    ``tol > 0`` stops when Σ|Δx| < V·tol (the nx criterion, one extra
    tiny job per iteration); ``tol <= 0`` runs exactly
    ``max_iterations`` steps. ``weighted=True`` sums edge weights like
    ``nx.eigenvector_centrality(..., weight="weight")``.
    """
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols).persist()
    verts = graph.vertices.select("vid")
    n = graph.n_vertices
    init = verts.select("vid", F.lit(1.0 / n).alias("x"))
    wcol = F.col("weight") if weighted else F.lit(1.0)

    def step(state: DataFrame, i: int) -> DataFrame:
        contrib = (
            edges.join(state.select(F.col("vid").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("x") * wcol).alias("c"))
        )
        # checkpointed before normalizing: the broadcast norm total and
        # the value projection would otherwise EACH re-execute the edge
        # join (2x per iteration instead of the inherent 1)
        raw = (
            state.join(contrib, "vid", "left").select(
                "vid", (F.col("x") + F.coalesce("c", F.lit(0.0))).alias("x")
            )
        ).localCheckpoint(eager=True)
        norm = F.broadcast(
            raw.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("_n"))
        )
        return raw.crossJoin(norm).select(
            "vid",
            F.when(F.col("_n") > 0, F.col("x") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("x"),
        )

    loop = FixpointLoop(
        "eigenvector",
        step,
        convergence=l1_diff("vid", "x") if tol > 0 else None,
        max_iterations=max_iterations,
        tol=n * tol,
        checkpoint_dir=checkpoint_dir,
    )
    result = loop.run(init)
    edges.unpersist()
    return result.select("vid", F.col("x").alias("eigenvector"))
