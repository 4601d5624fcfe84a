"""Minimum spanning forest — distributed Borůvka.

The reference has no MST kernel; this is part of the engine's
beyond-reference connectivity family (with CC, SCC, WCC, MIS): on a
host-level web graph weighted by link counts or crawl cost, the MSF gives
the cheapest backbone connecting each crawled region, and Borůvka is THE
textbook shuffle-friendly MST algorithm — every component acts in parallel
every round, and the component count at least halves per round, so a
10¹²-edge forest finishes in ≤ log₂ V ≈ 40 rounds of pure joins/aggs.

Round structure (all DataFrame ops, one action per round):
  1. Label both endpoints of every edge with their component; keep
     cross-component edges only.
  2. Every component picks its lightest incident edge — a single
     ``min(struct(weight, u, v, other))`` aggregation; the struct's
     lexicographic order makes ties deterministic (equivalent to perturbing
     weights by the edge id, so the chosen set is a valid MSF and identical
     across retries/partitionings).
  3. The chosen edges form a pseudo-forest over components. Because step 2's
     tiebreak is a strict total order on edges, every cycle is a 2-cycle
     (both endpoints of a component-cluster's globally-lightest edge pick
     that same edge), broken by rooting the smaller component id.
  4. Pointer-doubling contracts each hook tree to its root (≤ log rounds);
     vertex labels re-join through the contracted map.

Scale notes: the per-round shuffles are edge ⋈ label (key = vertex, same
partitioning as connected_components' exchange) and one groupBy(component)
min — map-side combined, 32-byte rows. The accumulated forest is only
V−#components rows total. Hub skew does not concentrate keys: a hub's edges
group by the *component* ids of their far endpoints, which Borůvka merges
away within the first rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph


def minimum_spanning_forest(graph: Graph, max_rounds: int = 64) -> DataFrame:
    """(u, v, weight) edges of the minimum spanning forest (u < v, internal
    vids). Deterministic under weight ties via (weight, u, v) ordering.

    Works on the undirected weighted graph; a directed graph's edges are
    treated as undirected (min weight per pair).
    """
    e = (
        graph.edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("weight").alias("weight"))
    )
    e = e.localCheckpoint(eager=True)

    comp = graph.vertices.select("vid", F.col("vid").alias("comp")).localCheckpoint(eager=True)
    forest: DataFrame | None = None

    for _ in range(max_rounds):
        lab_u = comp.select(F.col("vid").alias("u"), F.col("comp").alias("cu"))
        lab_v = comp.select(F.col("vid").alias("v"), F.col("comp").alias("cv"))
        cross = (
            e.join(lab_u, "u").join(lab_v, "v").filter(F.col("cu") != F.col("cv"))
        )

        offer = F.struct(
            F.col("weight"), F.col("u"), F.col("v"), F.col("other")
        ).alias("o")
        offers = cross.select(
            F.col("cu").alias("comp"), F.col("cv").alias("other"), "weight", "u", "v"
        ).select("comp", offer).unionAll(
            cross.select(
                F.col("cv").alias("comp"),
                F.col("cu").alias("other"),
                "weight",
                "u",
                "v",
            ).select("comp", offer)
        )
        chosen = (
            offers.groupBy("comp").agg(F.min("o").alias("o"))
        ).localCheckpoint(eager=True)
        picked = chosen.select(
            F.col("o.u").alias("u"), F.col("o.v").alias("v"),
            F.col("o.weight").alias("weight"),
        ).distinct()
        n_chosen = chosen.count()  # the round's one materializing action
        if n_chosen == 0:
            break

        forest = picked if forest is None else forest.unionAll(picked)
        forest = forest.localCheckpoint(eager=True)

        # hook: comp -> other; break the 2-cycles at the smaller id
        parent = chosen.select(
            "comp", F.col("o.other").alias("parent")
        )
        grand = parent.select(
            F.col("comp").alias("parent"), F.col("parent").alias("grand")
        )
        parent = parent.join(grand, "parent", "left").select(
            "comp",
            F.when(
                (F.col("grand") == F.col("comp")) & (F.col("comp") < F.col("parent")),
                F.col("comp"),
            )
            .otherwise(F.col("parent"))
            .alias("parent"),
        )
        parent = parent.localCheckpoint(eager=True)

        # pointer doubling to the root of each hook tree; the moved flag
        # rides through the checkpoint so each inner round is ONE join and
        # ONE action (a filter-count on the already-materialized state)
        for _ in range(max_rounds):
            p2 = parent.select(
                F.col("comp").alias("parent"), F.col("parent").alias("grand")
            )
            jumped = (
                parent.join(p2, "parent", "left").select(
                    "comp",
                    F.coalesce("grand", "parent").alias("parent"),
                    (F.col("grand").isNotNull() & (F.col("grand") != F.col("parent")))
                    .alias("_moved"),
                )
            ).localCheckpoint(eager=True)
            moved = jumped.filter("_moved").count()
            parent = jumped.select("comp", "parent")
            if moved == 0:
                break

        comp = (
            comp.join(
                parent.withColumnRenamed("comp", "c_key"),
                comp["comp"] == F.col("c_key"),
                "left",
            ).select("vid", F.coalesce("parent", "comp").alias("comp"))
        ).localCheckpoint(eager=True)
    else:
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} rounds"
        )

    if forest is None:
        return e.filter(F.lit(False)).select("u", "v", "weight")
    return forest
