"""SALSA — Stochastic Approach for Link-Structure Analysis
(Lempel & Moran), the random-walk counterpart of HITS.

Where HITS sums raw neighbor scores (so one dense cluster can absorb
all the mass — the "tightly-knit community" effect), SALSA's hub/
authority scores are the stationary distributions of two alternating
random walks on the directed link graph: a step of the authority chain
walks one link *backward* then one *forward*, each leg uniformly at
random. The update is therefore degree-normalized:

    auth_{t+1}(j) = Σ_{i→j} hub_t(i) / outdeg(i)
    hub_{t+1}(i)  = Σ_{i→j} auth_{t+1}(j) / indeg(j)

Within each connected component of the co-citation structure the
stationary authority weight is proportional to indegree — the global
scores differ from plain indegree exactly by the per-component walk
mass, which is what makes SALSA robust to link farms that HITS is not.
This family (SALSA / personalized SALSA over a user's circle of trust)
is the published basis of large-scale production recommenders
(e.g. Twitter's who-to-follow line of work), which is why a link-graph
engine ships it.

Plan shape: identical to HITS (one edge-state join + map-side-combined
sum per half-step over the cached pre-partitioned edge table) with the
two degree columns joined onto the edge table ONCE up front — the
normalization is a column multiply, not an extra per-iteration
aggregation. Runs on the shared :class:`FixpointLoop` (lineage
truncation, metrics, durable epochs + resume). Reference parity note:
the reference has no SALSA; this extends its PageRank/HITS family
(SURVEY §2.7) with the third classic link scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DiGraph
from ..plans.iterate import FixpointLoop, l1_diff


def salsa(
    graph: DiGraph,
    max_iterations: int = 30,
    tol: float = 0.0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, hub, auth) per vertex, each column summing to 1.

    ``tol > 0`` adds an L1-convergence job per iteration; ``tol <= 0``
    runs exactly ``max_iterations`` alternating updates (the replayable
    fixed-iteration mode used by the oracle tests). Vertices with no
    out-links have hub 0; vertices with no in-links have auth 0 (the
    walks never visit them) — mass is renormalized each half-step so a
    walk leaving through a dangling endpoint restarts uniformly, the
    same convention as the dangling handling in PageRank.
    """
    e = graph.edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    indeg = e.groupBy("dst").agg(F.count("*").alias("id_"))
    # degree-normalized transition weights, attached ONCE: the per-
    # iteration work is then exactly the HITS join shape
    edges = (
        e.join(outdeg, "src")
        .join(indeg, "dst")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("od")).alias("w_fwd"),
            (F.lit(1.0) / F.col("id_")).alias("w_bwd"),
        )
        .persist()
    )
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
            edges.join(state.select(F.col("vid").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("hub") * F.col("w_fwd")).alias("auth"))
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
            .agg(F.sum(F.col("auth") * F.col("w_bwd")).alias("hub"))
        )
        hf = (
            verts.join(h_raw, "vid", "left").select(
                "vid", F.coalesce("hub", F.lit(0.0)).alias("hub")
            )
        ).localCheckpoint(eager=True)
        hub = _normalized(hf, "hub")
        return hub.join(auth, "vid").select("vid", "hub", "auth")

    loop = FixpointLoop(
        "salsa",
        step,
        convergence=l1_diff("vid", "hub", "auth") if tol > 0 else None,
        max_iterations=max_iterations,
        tol=tol,
        checkpoint_dir=checkpoint_dir,
    )
    result = loop.run(init)
    edges.unpersist()
    return result
