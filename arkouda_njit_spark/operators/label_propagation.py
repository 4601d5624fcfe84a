"""Label propagation (community detection), synchronous + deterministic.

Absent from the reference (SURVEY.md §2.7) but mandated by
BASELINE.json.north_rule. We implement the *synchronous, deterministic*
variant so results are exactly reproducible across partition counts and
cluster sizes (the north rule's exact-match requirement rules out the
classical randomized-order LPA):

  label_{t+1}(v) = the label most frequent among N(v)'s labels at t,
                   ties broken by the smallest label; vertices with no
                   neighbors keep their label.

Everything is joins/aggregations: neighbor-label frequency is a
``groupBy(vid, label).count()`` (map-side combined, so a power-law hub
never ships raw neighbor rows to one reducer), and the argmax is a
``max_by``-style struct-max — no window over a skewed partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, count_changed
from .connected_components import symmetric_edges


def label_propagation(
    graph: Graph,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-vertex community labels: DataFrame (vid, label)."""
    edges = symmetric_edges(graph.edges, graph.directed)
    init = graph.vertices.select("vid", F.col("vid").alias("label"))

    def step(state: DataFrame, i: int) -> DataFrame:
        # State join strategy: shuffle_hash unconditionally (see
        # connected_components); neighbor-label frequencies are map-side
        # combined. Isolated vertices keep their label via a zero-count row
        # unioned into the SAME aggregation (any real neighbor count >= 1
        # beats it) — no keep-label join in the loop.
        nbr_labels = (
            edges.join(
                state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src"
            )
            .select(F.col("dst").alias("vid"), "label", F.lit(1).alias("one"))
        )
        own = state.select("vid", "label", F.lit(0).alias("one"))
        freq = (
            nbr_labels.unionAll(own)
            .groupBy("vid", "label")
            .agg(F.sum("one").alias("cnt"))
        )
        # argmax by (cnt desc, label asc): max over struct(cnt, -label)
        # keeps the whole argmax inside one hash aggregation.
        return (
            freq.groupBy("vid")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("s"))
            .select("vid", (-F.col("s.neg")).alias("label"))
        )

    loop = FixpointLoop(
        "label_propagation",
        step,
        convergence=count_changed("vid", "label"),
        max_iterations=max_iterations,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
    )
    return loop.run(init)
