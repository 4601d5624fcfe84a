"""Connected components: hash-min label exchange + pointer jumping.

Reference kernel: FastSV-style min-label propagation with atomic CAS
min-updates and locale-local fixpoints —
/root/reference/arachne/server/ConnectedComponents.chpl:22-104; the dev tree
documents the algorithm family (cc_fast_sv etc., CCMsg.chpl:92-850).

Spark-first formulation (north rule names it): per round every vertex takes
the min label over {its own label} ∪ {labels of its neighbors}; after each
exchange a **pointer-jumping** round (label := label-of-label) compresses
chains so convergence is O(log d) instead of O(d) rounds. The CAS min-update
becomes a shuffle-safe associative ``groupBy(vid).agg(min(label))`` — the
map-side partial min is Spark's analogue of the reference's locale-local
fixpoint (SURVEY.md §4).

Label convention matches the reference exactly: the final component label is
the minimum internal vertex id in the component (dense ids assigned in
ascending original-label order), e.g. components {0..6},{7,8,9},{10,11,12}
→ labels [0,7,10] (algorithm_test.py:272-285).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, count_changed
from ..plans.joins import BROADCAST_MAX_VERTICES


def connected_components(
    graph: Graph,
    checkpoint_dir: str | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """Per-vertex component labels: DataFrame (vid, component).

    The component id is the minimum internal vid of the component
    (ConnectedComponents.chpl semantics).
    """
    P = graph.num_partitions

    # Undirected semantics regardless of graph direction (reference treats
    # the graph as symmetric via the reversed arrays).
    #
    # The per-kernel (src, dst) projection is localCheckpointed: the loop
    # scans it every round and the canonical table's columnar-cache decode
    # was a measurable per-round cost (r6: 4.2 -> 3.2 s for sf0.1 CC with
    # the checkpointed projection; the one-time checkpoint pass amortizes
    # over the rounds). The canonical edge table itself stays persisted.
    if graph.directed:
        edges = (
            graph.edges.select("src", "dst")
            .unionAll(
                graph.edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .repartition(P, "src")
        ).localCheckpoint(eager=True)
    else:
        edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)

    init = graph.vertices.select("vid", F.col("vid").alias("component"))

    def step(state: DataFrame, i: int) -> DataFrame:
        # 1. Hash-min exchange: neighbor labels flow along edges.
        #    edges is hash-partitioned by src and state by vid with the same
        #    partition count, so the join reuses the cached edge partitioning.
        # State join strategy: shuffle_hash unconditionally — only the
        # V-sized state side moves (the edge side keeps its hash(src)
        # layout) and the former small-graph broadcast paid a driver
        # collect + broadcast build per round (r6: 4.4-5.1 -> 3.0-3.8 s
        # on sf0.1 CC).
        nbr = (
            edges.join(
                state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src"
            )
            .select(F.col("dst").alias("vid"), "component")
        )
        exchanged = (
            state.unionAll(nbr)
            .groupBy("vid")
            .agg(F.min("component").alias("component"))
        )
        # 2. Pointer jumping: component := component(component) compresses
        #    label chains (the reference's path-halving, Diameter.chpl:33-49).
        parent = exchanged.select(
            F.col("vid").alias("component"), F.col("component").alias("grand")
        )
        if graph.n_vertices <= BROADCAST_MAX_VERTICES:
            # Broadcast-state regime: the jump join broadcasts the V-sized
            # parent map, so the groupBy's hash(vid) partitioning survives
            # the join and the final repartition is unnecessary — the old
            # shape paid THREE extra exchanges per round (jump self-join
            # both sides + repartition) for a co-partitioning that only
            # the shuffle_hash regime consumes (guide §2.4; r6 measured
            # 4.1-5.5 s -> 3.6-4.4 s on sf0.1 CC).
            return (
                exchanged.join(parent.hint("broadcast"), "component")
                .select("vid", F.col("grand").alias("component"))
            )
        jumped = (
            exchanged.join(parent, "component")
            .select("vid", F.col("grand").alias("component"))
        )
        return jumped.repartition(P, "vid")

    loop = FixpointLoop(
        "connected_components",
        step,
        convergence=count_changed("vid", "component"),
        max_iterations=max_iterations,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
    )
    return loop.run(init)


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) — the GroupBy.size() the reference test applies."""
    return components.groupBy("component").agg(F.count("*").alias("size"))
