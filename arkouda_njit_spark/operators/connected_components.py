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

:func:`hash_min_labels` is the engine's only hash-min loop. Besides
:func:`connected_components` it serves streaming CC (merge graph of
component labels), WCC (components within each piece key) and dedup
clustering (raw document ids), each over a :func:`symmetric_edges` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, count_changed
from ..plans.joins import BROADCAST_MAX_VERTICES


def symmetric_edges(
    edges: DataFrame, directed: bool, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The ``(*keys, src, dst)`` projection of ``edges``, with the reversed
    rows added when ``directed``, checkpointed for the loop's per-round scans.

    The checkpoint matters: the loop scans this table every round and the
    canonical table's columnar-cache decode was a measurable per-round cost
    (r6: 4.2 -> 3.2 s for sf0.1 CC; the one-time checkpoint pass amortizes
    over the rounds)."""
    sym = edges.select(*keys, "src", "dst")
    if directed:
        sym = sym.unionAll(
            edges.select(*keys, F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return sym.localCheckpoint(eager=True)


def hash_min_labels(
    edges: DataFrame,
    labels: DataFrame,
    n_vertices: int,
    keys: tuple[str, ...] = (),
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixpoint of hash-min + pointer jumping: ``(*keys, vid, component)``.

    ``edges`` is a symmetric ``(*keys, src, dst)`` table and ``labels`` the
    initial ``(*keys, vid, component)`` state; labels only flow between rows
    with equal ``keys``. ``n_vertices`` is an upper bound on the state's
    size and picks the jump join's strategy. An in-memory run that reaches
    ``max_iterations`` with labels still changing raises ``RuntimeError``
    rather than return half-merged labels; a durable run (``checkpoint_dir``
    set) stops there and resumes from its last epoch on the next call."""

    def step(state: DataFrame, i: int) -> DataFrame:
        # 1. Hash-min exchange: neighbor labels flow along edges.
        # State join strategy: shuffle_hash unconditionally — the former
        # small-graph broadcast paid a driver collect + broadcast build per
        # round (r6: 4.4-5.1 -> 3.0-3.8 s on sf0.1 CC).
        nbr = (
            edges.join(
                state.withColumnRenamed("vid", "src").hint("shuffle_hash"),
                [*keys, "src"],
            )
            .select(*keys, F.col("dst").alias("vid"), "component")
        )
        exchanged = (
            state.unionAll(nbr)
            .groupBy(*keys, "vid")
            .agg(F.min("component").alias("component"))
        )
        # 2. Pointer jumping: component := component(component) compresses
        #    label chains (the reference's path-halving, Diameter.chpl:33-49).
        parent = exchanged.select(
            *keys, F.col("vid").alias("component"), F.col("component").alias("grand")
        )
        if n_vertices <= BROADCAST_MAX_VERTICES:
            # Broadcasting the V-sized parent map keeps the groupBy's
            # hash(vid) partitioning through the join instead of shuffling
            # both sides (guide §2.4; r6 measured 4.1-5.5 s -> 3.6-4.4 s on
            # sf0.1 CC).
            parent = parent.hint("broadcast")
        return exchanged.join(parent, [*keys, "component"]).select(
            *keys, "vid", F.col("grand").alias("component")
        )

    loop = FixpointLoop(
        "connected_components",
        step,
        convergence=count_changed([*keys, "vid"], "component"),
        max_iterations=max_iterations,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
    )
    out = loop.run(labels)
    if checkpoint_dir is None and loop.metrics and loop.metrics[-1].changed > 0:
        raise RuntimeError(
            f"hash-min labels still changing after {max_iterations} iterations"
        )
    return out


def connected_components(
    graph: Graph,
    checkpoint_dir: str | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """Per-vertex component labels: DataFrame (vid, component).

    The component id is the minimum internal vid of the component
    (ConnectedComponents.chpl semantics).
    """
    # Undirected semantics regardless of graph direction (reference treats
    # the graph as symmetric via the reversed arrays).
    edges = symmetric_edges(graph.edges, graph.directed)
    init = graph.vertices.select("vid", F.col("vid").alias("component"))
    return hash_min_labels(
        edges, init, graph.n_vertices, max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) — the GroupBy.size() the reference test applies."""
    return components.groupBy("component").agg(F.count("*").alias("size"))
