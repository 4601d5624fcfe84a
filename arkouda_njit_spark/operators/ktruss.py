"""k-truss: iterative support-based edge peeling; max-truss; decomposition.

Reference kernels: /root/reference/arachne/server/TrussMsg.chpl —
``kTrussMinSearch`` (128-617), ``MaxTrussMinSearch`` (951-1129),
``TrussDecoMinSearch`` (1130+), with degree pre-peeling (222-247) and a
degeneracy-style upper bound for max-k (``getupK``, 109-126). Client API
and output conventions: methods.py:278-367 —

  * ``k_truss(graph, k)``: per-edge array over the n_edges canonical edges
    (sorted (u,v), u<v): **-1 if the edge survives in the k-truss**, else
    k-1 (the value the reference stamps on deleted edges).
  * ``max_truss(graph)``: largest k with a non-empty k-truss.
  * ``truss_decomposition(graph)``: per-edge max k such that the edge is in
    the k-truss (trivially 2 for triangle-free edges).

Spark formulation: per round, per-edge triangle support = a wedge join over
the *current* edge subset (degree-ordered orientation bounds hub fan-out),
then ``filter(support < k-2)`` peels; repeat until no edge is deleted.
Each peel round is checkpointed — exactly the reference's materialized
EdgeDeleted array per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .triangles import (
    BIG_EDGE_THRESHOLD,
    PACKED_BROADCAST_MAX_EDGES,
    PACKED_KEY_MAX_VERTICES,
    _closed_wedges,
    _undirected_simple_edges,
    oriented_edges,
)

# per-round deletion batches up to this size use the incremental
# destroyed-triangle decrement (work Σ deg over the batch, broadcast seed);
# larger batches recompute support from scratch — cheaper than probing a
# batch whose degree sum rivals the full wedge join
INCREMENTAL_MAX_DELETED = 500_000


def _support(edges: DataFrame, n_vertices: int, n_edges: int) -> DataFrame:
    """Per-edge triangle support over an (u,v) u<v edge set: for each edge,
    the number of triangles it participates in. The triangles come from
    the triangle kernel's own orientation and wedge path
    (``triangles._closed_wedges``), with the same size-dispatched joins."""
    tri = _closed_wedges(
        oriented_edges(None, und=edges), edges, n_vertices, n_edges
    )
    # each triangle supports its 3 edges (normalize to u<v)
    e1 = tri.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
    e2 = tri.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v"))
    e3 = tri.select(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v"))
    sup = e1.unionAll(e2).unionAll(e3).groupBy("u", "v").agg(F.count("*").alias("support"))
    return edges.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).alias("support")
    )


def _core_edges(
    edges: DataFrame, c: int, max_rounds: int | None = None
) -> DataFrame:
    """Edges of the c-core: iteratively drop edges touching a vertex of
    degree < c (the reference's degree pre-peeling, TrussMsg.chpl:222-247).
    Each round is a degree aggregation + two anti-joins — no wedge join —
    so peeling the (k-1)-core first removes most of a sparse graph's edges
    at a tiny fraction of a support round's cost (k-truss ⊆ (k-1)-core).

    Runs to the FIXPOINT by default (``max_rounds=None``): callers like
    k_core/core_decomposition need the true c-core — a silently-capped
    peel returns a superset and wrong core numbers (round-4 ADVICE #1).
    Each round strictly shrinks the edge set, so the loop terminates in at
    most |E| rounds; a non-None ``max_rounds`` raises if the cap is hit
    before convergence instead of returning the superset."""
    cur = edges.localCheckpoint(eager=True)
    n_cur = cur.count()
    rounds = 0
    while True:
        deg = (
            cur.select(F.col("u").alias("vid"))
            .unionAll(cur.select(F.col("v").alias("vid")))
            .groupBy("vid")
            .agg(F.count("*").alias("deg"))
        )
        bad = deg.filter(F.col("deg") < c).select("vid")
        nxt = (
            cur.join(bad.withColumnRenamed("vid", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("vid", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            return nxt
        cur, n_cur = nxt, n_nxt
        rounds += 1
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(
                f"{c}-core peel did not converge within {max_rounds} rounds"
            )


def _truss_state(
    edges: DataFrame,
    k: int,
    n_vertices: int,
    n_edges: int,
    max_rounds: int = 100,
    checkpoint_dir: str | None = None,
    support_state: DataFrame | None = None,
) -> DataFrame:
    """Fixpoint (u, v, support) state of the k-truss (support >= k-2).

    Runs on the shared FixpointLoop, so peeling gets the same north-rule
    machinery as PR/CC/LPA: lineage truncation per round, per-round
    (per-partition) metrics, durable parquet epochs + mid-algorithm resume
    when ``checkpoint_dir`` is set (the reference materializes an
    EdgeDeleted array per round, TrussMsg.chpl:222-617). Pre-peels to the
    (k-1)-core before the first support round.

    ``support_state``: a (u, v, support) fixpoint from a SMALLER k on the
    same graph — (k+1)-truss ⊆ k-truss and the k-fixpoint's supports are
    exact triangle counts within its surviving graph, so it is a valid
    initial state and the full support computation is skipped entirely
    (max_truss / truss_decomposition thread it through their k sweeps)."""
    from ..plans.iterate import FixpointLoop

    big = n_edges >= BIG_EDGE_THRESHOLD
    sh = (lambda df: df.hint("shuffle_hash")) if big else (lambda df: df)

    # INCREMENTAL peeling (round 4): full support is computed ONCE; each
    # round enumerates only the triangles destroyed by that round's deleted
    # edges D (common-neighbor probe seeded by the small D side) and
    # decrements the surviving edges — a triangle is destroyed exactly once
    # no matter how many of its edges were deleted, so triples are deduped
    # before the decrement. Work per round is Σ_{(u,v)∈D} deg(u)+deg(v)
    # instead of a full wedge self-join over the surviving graph; the
    # reference recomputes per-edge support per round from its EdgeDeleted
    # array (TrussMsg.chpl:222-617) — same fixpoint, same per-round
    # semantics, O(|D|·deg) per round instead of O(m^1.5).
    def step(state: DataFrame, i: int) -> DataFrame:
        deleted = state.filter(F.col("support") < k - 2).select("u", "v")
        survivors = state.filter(F.col("support") >= k - 2)
        n_del = deleted.count()
        if n_del == 0:
            return state
        if n_del > INCREMENTAL_MAX_DELETED:
            # a huge deletion batch (typically round 1): Σ deg over D
            # approaches the full wedge join — recompute support on the
            # survivor graph directly instead
            return _support(survivors.select("u", "v"), n_vertices, n_edges)
        g_edges = state.select("u", "v")
        sym = g_edges.select(F.col("u").alias("x"), F.col("v").alias("n")).unionAll(
            g_edges.select(F.col("v").alias("x"), F.col("u").alias("n"))
        )
        wedge = sym.join(
            F.broadcast(deleted.select(F.col("u").alias("x"), F.col("v").alias("dv"))),
            "x",
        ).select(F.col("x").alias("du"), "dv", F.col("n").alias("w"))
        if 0 < n_vertices < PACKED_KEY_MAX_VERTICES:
            # packed single-long probe key, broadcast-built below the
            # packed cap — see triangles._closing_semi_join
            v_ = F.lit(int(n_vertices))
            symk = sym.select((F.col("x") * v_ + F.col("n")).alias("dvw"))
            if 2 * n_edges >= PACKED_BROADCAST_MAX_EDGES:
                symk = symk.hint("shuffle_hash")
            tri = wedge.join(
                symk,
                (F.col("dv") * v_ + F.col("w")) == F.col("dvw"),
                "left_semi",
            )
        else:
            tri = wedge.join(
                sh(sym.select(F.col("x").alias("dv"), F.col("n").alias("w"))),
                ["dv", "w"],
                "left_semi",
            )
        triples = tri.select(
            F.array_sort(F.array("du", "dv", "w")).alias("t")
        ).distinct()
        dec = (
            triples.select(F.col("t")[0].alias("u"), F.col("t")[1].alias("v"))
            .unionAll(triples.select(F.col("t")[0].alias("u"), F.col("t")[2].alias("v")))
            .unionAll(triples.select(F.col("t")[1].alias("u"), F.col("t")[2].alias("v")))
            .groupBy("u", "v")
            .agg(F.count("*").alias("dec"))
        )
        return survivors.join(sh(dec), ["u", "v"], "left").select(
            "u",
            "v",
            (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
        )

    def removed(prev: DataFrame, cur: DataFrame) -> float:
        return float(prev.count() - cur.count())

    loop = FixpointLoop(
        f"ktruss{k}",
        step,
        convergence=removed,
        max_iterations=max_rounds,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
    )
    if support_state is None:
        edges = _core_edges(edges, k - 1)
        support_state = _support(edges, n_vertices, n_edges)
    return loop.run(support_state)


def _truss_edges(
    edges: DataFrame,
    k: int,
    n_vertices: int,
    n_edges: int,
    max_rounds: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Surviving (u,v) edge set of the k-truss (support >= k-2 fixpoint)."""
    return _truss_state(
        edges, k, n_vertices, n_edges, max_rounds=max_rounds,
        checkpoint_dir=checkpoint_dir,
    ).select("u", "v")


def k_truss(graph: Graph, k: int, checkpoint_dir: str | None = None) -> DataFrame:
    """(u, v, value) over canonical u<v edges: -1 survives, k-1 deleted."""
    edges = _undirected_simple_edges(graph)
    kept = _truss_edges(
        edges, k, graph.n_vertices, graph.n_edges, checkpoint_dir=checkpoint_dir
    )
    return edges.join(kept.withColumn("_kept", F.lit(1)), ["u", "v"], "left").select(
        "u",
        "v",
        F.when(F.col("_kept").isNotNull(), F.lit(-1)).otherwise(F.lit(k - 1)).alias("value"),
    )


def max_truss(graph: Graph) -> int:
    """Largest k with a non-empty k-truss.

    Binary search over k (the reference's ``MaxTrussMinSearch``,
    TrussMsg.chpl:951-1129, likewise searches k), bracketed by the
    degeneracy-style upper bound max_support + 2 (``getupK``,
    TrussMsg.chpl:109-126 uses a degree histogram; per-edge max support is
    the tighter, one-aggregation bound). Monotonicity ((k+1)-truss ⊆
    k-truss) lets each probe reuse the surviving subgraph of the largest
    known-feasible k."""
    edges = _undirected_simple_edges(graph).localCheckpoint(eager=True)
    if edges.isEmpty():
        return 0
    m = edges.count()
    n_verts = graph.n_vertices
    sup0 = _support(edges, n_verts, m).localCheckpoint(eager=True)
    max_sup = sup0.agg(F.max("support")).collect()[0][0] or 0
    if max_sup == 0:
        return 2
    lo, hi = 3, max_sup + 2  # k-truss needs support >= k-2
    best, best_state = 2, sup0
    while lo <= hi:
        mid = (lo + hi) // 2
        # thread the largest known-feasible fixpoint state: supports are
        # exact within its surviving graph, so no probe recomputes support
        state = _truss_state(edges, mid, n_verts, m, support_state=best_state)
        if state.isEmpty():
            hi = mid - 1
        else:
            best, best_state = mid, state
            lo = mid + 1
    return best


def truss_decomposition(graph: Graph) -> DataFrame:
    """(u, v, truss) over canonical u<v edges: max k per edge, min 2."""
    edges = _undirected_simple_edges(graph).localCheckpoint(eager=True)
    spark = edges.sparkSession
    m = edges.count()
    assigned = None  # (u, v, truss)
    cur = edges
    state = None  # (u, v, support) fixpoint of level k-1, threaded through
    k = 3
    n_verts = graph.n_vertices
    while not cur.isEmpty():
        state = _truss_state(cur, k, n_verts, m, support_state=state)
        kept = state.select("u", "v")
        removed = cur.join(kept, ["u", "v"], "left_anti").withColumn(
            "truss", F.lit(k - 1)
        )
        assigned = removed if assigned is None else assigned.unionAll(removed)
        assigned = assigned.localCheckpoint(eager=True)
        cur = kept
        k += 1
    if assigned is None:
        assigned = spark.createDataFrame([], "u long, v long, truss int")
    return assigned
