"""Who-to-follow recommendation — personalized SALSA over a circle of
trust (Gupta, Goel, Lin, Sharma, Wang & Zadeh, "WTF: The Who to Follow
Service at Twitter", WWW 2013).

The published production recipe, composed from this engine's verified
kernels:

1. **circle of trust** — the user's top-``circle_size`` personalized-
   PageRank vertices (operators/pagerank.py, teleport on the user);
2. **bipartite projection** — the edges FROM circle members to anyone
   they point at (hubs = the circle, authorities = their out-
   neighborhood);
3. **SALSA** (operators/salsa.py) on that projection — authority score
   ranks "accounts the user's neighborhood collectively endorses",
   hub score ranks "accounts similar to the user";
4. **filtering** — the user and the accounts it already links to are
   removed from the recommendation list.

Scale shape: the circle is small by construction (WTF used ~500), so it
is the ONE driver-resident list in the pipeline (same discipline as
subgraph_search's collected pattern); the projection is a broadcast
isin filter over the edge table; SALSA runs on the projected subgraph,
whose size is circle_size × avg out-degree, not the full graph. At
10^12 edges the expensive stage is the PPR, which is the shared
PageRank loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DiGraph
from .pagerank import personalized_pagerank, ppr_montecarlo
from .salsa import salsa


def who_to_follow(
    graph: DiGraph,
    user: int,
    k: int = 10,
    circle_size: int = 500,
    alpha: float = 0.85,
    ppr_tol: float = 0.0,
    ppr_iterations: int = 20,
    salsa_iterations: int = 20,
    method: str = "exact",
    mc_walks: int = 10000,
    mc_max_steps: int = 40,
    mc_seed: int = 42,
) -> DataFrame:
    """Top-``k`` recommendations for ``user`` (an original vertex
    label): (node, auth, hub) ordered by authority score, excluding the
    user and everything it already points at. ``hub`` is the
    similar-account score of the same vertex (0 for pure authorities).
    Deterministic: ties order by score then label.

    The circle of trust only needs the RANKING of PPR mass, not tight
    convergence (the WTF paper runs a short Monte Carlo approximation),
    so the default is ``ppr_iterations`` fixed power steps with no
    per-iteration convergence job; pass ``ppr_tol > 0`` to iterate to a
    tolerance instead.

    ``method="montecarlo"`` ranks the circle by walk-endpoint counts from
    :func:`ppr_montecarlo` instead — the production WTF path (the paper's
    own circle is a Monte-Carlo approximation): ``mc_walks`` geometric
    walks from the user, one join + one aggregation per step, no V-sized
    rank vector ever materialized. Endpoint-count ties break by label, so
    with enough walks the circle converges to the exact ranking."""
    if k < 1 or circle_size < 1:
        raise ValueError("k and circle_size must be >= 1")
    if method not in ("exact", "montecarlo"):
        raise ValueError("method must be 'exact' or 'montecarlo'")
    spark = graph.spark
    if method == "montecarlo":
        ppr = ppr_montecarlo(
            graph,
            [int(user)],
            walks_per_source=mc_walks,
            alpha=alpha,
            max_steps=mc_max_steps,
            seed=mc_seed,
        ).select("vid", F.col("ppr").alias("rank"))
    else:
        ppr = personalized_pagerank(
            graph,
            {int(user): 1.0},
            alpha=alpha,
            tol=ppr_tol,
            max_iterations=ppr_iterations,
        )
    labels = graph.vertices.select("vid", "label")
    circle_rows = (
        ppr.filter(F.col("rank") > 0)  # zero mass = not in the user's
        # neighborhood; without this a small reachable set backfills the
        # circle with arbitrary unreachable vertices (MC rows are nonzero
        # by construction — only visited endpoints appear)
        .join(labels, "vid")
        .orderBy(F.desc("rank"), F.asc("label"))
        .limit(circle_size)
        .select("label")
        .collect()
    )
    circle = [int(r["label"]) for r in circle_rows]
    # bipartite projection: out-edges of circle members, in LABEL space
    e_lbl = graph.edge_list().select(
        F.col("src_label").alias("src"), F.col("dst_label").alias("dst")
    )
    proj = (
        e_lbl.filter(F.col("src").isin(circle)).withColumn("weight", F.lit(1.0))
    ).localCheckpoint(eager=True)
    # The checkpoint cuts the projection's lineage BEFORE the subgraph
    # build: without it every AQE re-plan inside the SALSA loop
    # re-canonicalizes the whole edge_list→vertices→edges tree of the
    # PARENT graph on the driver (measured: 2-4 s of pure planning per
    # job, ~100 s per SALSA iteration on a 7-edge projection — the jobs
    # themselves run in milliseconds). The projection is circle-sized,
    # so materializing it is free at any scale.
    sub = DiGraph.from_edges(spark, proj)
    scores = salsa(sub, max_iterations=salsa_iterations, tol=0.0)
    scored = scores.join(
        sub.vertices.select("vid", F.col("label").alias("node")), "vid"
    ).select("node", "auth", "hub")
    already = e_lbl.filter(F.col("src") == int(user)).select(
        F.col("dst").alias("node")
    )
    return (
        scored.filter(F.col("node") != int(user))
        .join(already, "node", "left_anti")
        .orderBy(F.desc("auth"), F.desc("hub"), F.asc("node"))
        .limit(k)
    )
