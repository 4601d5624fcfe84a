"""PageRank: power iteration with dangling-mass redistribution.

Absent from the reference (SURVEY.md §2.7) but mandated by
BASELINE.json.north_rule. Semantics match ``networkx.pagerank`` (the
reference project's oracle convention, algorithm_test.py:66-79):

  x_{t+1}(v) = (1-a)/N + a * ( sum_{u->v} x_t(u) * w(u,v)/W(u)
                               + dangling_mass_t / N )

  converged when  sum_v |x_{t+1}(v) - x_t(v)| < N * tol   (nx default 1e-6).

Scale design (north rule): the edge table stays cached and hash-partitioned
by ``src``; the rank vector is co-partitioned by ``vid`` so the per-iteration
``ranks ⋈ edges`` needs no exchange on the (large) edge side. The dangling
mass is ONE scalar aggregate per iteration broadcast back into the update
expression — never a driver-side loop over vertices. Hub skew on ``dst``
is bounded by map-side partial aggregation of contributions (sum is
associative); AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, l1_diff


def prepare_pagerank(graph: Graph, weight: str | None = None):
    """One-off preparation shared by every iteration: the cached transition
    table (src, dst, p=w/out_total) hash-partitioned by src, and the
    dangling-vertex set. Returns an opaque tuple for ``pagerank(prepared=)``
    so steady-state benchmarks can exclude it from the timed region."""
    P = graph.num_partitions
    wcol = F.col(weight) if weight else F.lit(1.0)
    edges = graph.edges.select("src", "dst", wcol.alias("w"))
    # Out-weight per source; transition probability = w / total_out(src).
    # (NB: Spark analysis is case-insensitive, so "W" would clash with "w".)
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_total"))
    # No explicit repartition: the canonical edge table is already
    # hash-partitioned by src, so the groupBy and the join both reuse that
    # partitioning and the join's output partitioning IS hash(src, P) —
    # the former .repartition(P, "src") here was a full extra exchange of
    # the transition table for a layout it already had (guide §2.4).
    #
    # localCheckpoint, NOT persist: the table is scanned once per
    # iteration and the columnar-cache decode was the dominant
    # per-iteration cost — checkpointing the rows directly measured
    # 8.7 -> 4.3 s for 10 sf0.1 iterations with everything else unchanged
    # (r6). The derived per-call transition table is cheap to rebuild, so
    # the checkpoint's weaker fault-tolerance story is acceptable here
    # (the canonical edge table itself stays persisted).
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("out_total")).alias("p")
    ).localCheckpoint(eager=True)

    # Dangling vertices (no out-edges). Undirected graphs never have any
    # (every vertex has an incident symmetric edge), so the per-iteration
    # dangling-mass aggregate is skipped entirely when the set is empty.
    dangling = (
        graph.vertices.join(outw, graph.vertices.vid == outw.src, "left_anti")
        .select("vid")
        .persist()
    )
    has_dangling = not dangling.isEmpty()
    return trans, dangling, has_dangling


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
    prepared=None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex PageRank: DataFrame (vid, rank). Undirected graphs use the
    symmetric edge table (each edge contributes both directions), matching
    ``nx.pagerank`` on ``nx.Graph``.

    ``init_ranks`` warm-starts the power iteration from a previous
    solution — the incremental re-crawl path: after ``snapshot_diff``
    shows a small edge delta, starting from last snapshot's (vid, rank)
    converges in a fraction of the cold-start iterations (the fixpoint is
    unique, so the answer is identical within ``tol``). Vertices absent
    from ``init_ranks`` (newly crawled pages) start at 1/n; the vector is
    renormalized to total mass 1 in-plan (one broadcast aggregate, no
    driver collect)."""
    n = graph.n_vertices
    if n == 0:
        return graph.vertices.select("vid", F.lit(0.0).alias("rank"))

    if init_ranks is not None:
        aligned = (
            graph.vertices.select("vid")
            .join(init_ranks.select("vid", "rank"), "vid", "left")
            .select("vid", F.coalesce("rank", F.lit(1.0 / n)).alias("rank"))
        )
        total = F.broadcast(aligned.agg(F.sum("rank").alias("_t")))
        init = aligned.crossJoin(total).select(
            "vid", (F.col("rank") / F.col("_t")).alias("rank")
        )
    else:
        init = graph.vertices.select("vid", F.lit(1.0 / n).alias("rank"))

    return _power_iteration(
        "pagerank", graph, init, None, alpha, tol, max_iterations,
        weight, checkpoint_dir, prepared,
    )


def personalized_pagerank(
    graph: Graph,
    personalization: dict,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
    prepared=None,
) -> DataFrame:
    """Random-walk-with-restart PageRank: the teleport lands on the seed
    set instead of uniformly — ``personalization`` maps original vertex
    LABELS to non-negative weights (normalized to sum 1), exactly
    ``nx.pagerank(personalization=...)``. Dangling mass also restarts at
    the seeds. Returns (vid, rank).

    Same plan shape as :func:`pagerank` (cached transition table, one
    exchange per iteration); the teleport vector rides a broadcast join
    of the |seeds|-row table — tiny by construction."""
    n = graph.n_vertices
    if n == 0:
        return graph.vertices.select("vid", F.lit(0.0).alias("rank"))
    total = float(sum(personalization.values()))
    if total <= 0:
        raise ValueError("personalization weights must sum to a positive value")
    spark = graph.spark
    seed_tbl = spark.createDataFrame(
        [(int(k), float(v) / total) for k, v in personalization.items() if v],
        "label long, t double",
    )
    tvec = (
        graph.vertices.join(seed_tbl, "label")
        .select("vid", "t")
        .persist()
    )
    if tvec.count() != seed_tbl.count():
        tvec.unpersist()
        raise ValueError("personalization refers to labels not in the graph")

    init = graph.vertices.join(tvec, "vid", "left").select(
        "vid", F.coalesce("t", F.lit(0.0)).alias("rank")
    )
    result = _power_iteration(
        "personalized_pagerank", graph, init, tvec, alpha, tol, max_iterations,
        weight, checkpoint_dir, prepared,
    )
    tvec.unpersist()
    return result


def _power_iteration(
    name: str,
    graph: Graph,
    init: DataFrame,
    teleport: DataFrame | None,
    alpha: float,
    tol: float,
    max_iterations: int,
    weight: str | None,
    checkpoint_dir: str | None,
    prepared,
) -> DataFrame:
    """The power iteration behind :func:`pagerank` and
    :func:`personalized_pagerank`, from the (vid, rank) vector ``init``.

    ``teleport`` is the restart distribution: ``None`` for uniform 1/n
    (a literal in the update expression, no join), else a (vid, t) table
    broadcast-joined onto each iteration's contributions. Both the
    (1-alpha) restart mass and the dangling mass land on it."""
    n = graph.n_vertices
    owns_prepared = prepared is None
    trans, dangling, has_dangling = prepared or prepare_pagerank(graph, weight)
    zeros = graph.vertices.select("vid", F.lit(0.0).alias("c"))

    def share(mass):
        """Per-vertex part of ``mass`` under the teleport distribution."""
        return mass / F.lit(float(n)) if teleport is None else mass * F.col("t")

    def step(state: DataFrame, i: int) -> DataFrame:
        # State join strategy: shuffle_hash unconditionally. The state is
        # co-partitioned with the transition table, so only the V-sized
        # state side moves and each partition builds a tiny local hash
        # map; the former small-graph broadcast dispatch paid a driver
        # collect + broadcast build PER ITERATION and measured ~25-40%
        # slower at sf0.1 (r6) — and broadcasting a 10^12-vertex state is
        # impossible anyway. Vertices with no in-edges are handled by
        # unioning zero-contributions into the SAME aggregation — no
        # second join.
        contribs = (
            trans.join(state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
            .select(F.col("dst").alias("vid"), (F.col("p") * F.col("rank")).alias("c"))
            .unionAll(zeros)
            .groupBy("vid")
            .agg(F.sum("c").alias("c"))
        )
        if teleport is not None:
            contribs = contribs.join(F.broadcast(teleport), "vid", "left").select(
                "vid", "c", F.coalesce("t", F.lit(0.0)).alias("t")
            )
        jump = share(F.lit(1.0 - alpha))
        if has_dangling:
            # Dangling mass as an in-plan broadcast scalar (1-row crossJoin),
            # NOT a per-iteration driver collect — one Spark job per
            # iteration instead of two (the extra barrier dominates on
            # small graphs and is pure overhead at any size).
            mass = F.broadcast(
                state.join(dangling, "vid", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
                )
            )
            contribs = contribs.crossJoin(mass)
            jump = jump + share(F.lit(alpha) * F.col("_dm"))
        return contribs.select(
            "vid", (jump + F.lit(alpha) * F.col("c")).alias("rank")
        )

    # tol <= 0 selects fixed-iteration mode: no per-iteration convergence
    # job (the bench/oracle path runs an exact number of power iterations);
    # unroll=2 halves the materialization barriers there (plans/iterate.py).
    loop = FixpointLoop(
        name,
        step,
        convergence=l1_diff("vid", "rank") if tol > 0 else None,
        max_iterations=max_iterations,
        tol=n * tol,
        checkpoint_dir=checkpoint_dir,
        # chaining two steps in one plan would evaluate the intermediate
        # state twice when the dangling-mass aggregate consumes it too, so
        # unroll only the dangling-free shape (the common undirected case)
        unroll=1 if has_dangling else 2,
    )
    result = loop.run(init)
    if owns_prepared:
        trans.unpersist()
        dangling.unpersist()
    return result


def ppr_montecarlo(
    graph: Graph,
    sources: list,
    walks_per_source: int = 2000,
    alpha: float = 0.85,
    max_steps: int = 60,
    seed: int = 42,
) -> DataFrame:
    """Monte-Carlo personalized PageRank: estimate one PPR vector PER
    SOURCE from the endpoints of geometrically-stopped random walks
    (Fogaras et al. 2005; Bahmani, Chowdhury & Goel, VLDB 2010). This is
    the per-user PPR path at 10^12-edge scale — the exact power iteration
    (:func:`personalized_pagerank`) converges one global vector per call,
    while the walk estimator prices each additional source at O(R/(1-α))
    walk steps and shares every join across all sources in flight.

    Semantics match the exact kernel's fixpoint: at each step a walk
    continues with probability ``alpha`` and terminates otherwise; a walk
    standing on a dangling vertex that continues jumps back to its source
    (dangling mass restarts at the seed, pagerank.py:personalized_pagerank).
    The endpoint distribution of the stopped walk IS the PPR vector:
    pi_s(v) = (1-alpha) * sum_t alpha^t P^t(s, v).

    Determinism without ``rand()``: the continue/terminate coin at step t
    of walk w is ``pmod(xxhash64(w, t, seed), 2^30) < alpha*2^30`` and the
    neighbor choice is ``min_by(dst, xxhash64(w, t, dst, seed))`` — pure
    functions of (walk, step, candidate), invariant across partitionings
    and cluster sizes (the random_walks discipline, walks.py:5-13).

    Scale shape: the alive set shrinks by factor ``alpha`` per step, so
    total shuffled candidate volume is O(R * S * avg_deg / (1-alpha))
    16-byte rows for S sources; one join + one min_by aggregation + ONE
    action per step (the count on the lazily-checkpointed hop, the
    bfs.py one-job-per-level shape). Walks still alive at ``max_steps``
    (an alpha^max_steps fraction, 6e-5 at the defaults) are emitted at
    their current vertex — the truncation bias is far below the R^-1/2
    sampling error.

    Returns (source, vid, walks, ppr) — ``source`` is the source's vid,
    ``ppr = walks / walks_per_source`` sums to exactly 1.0 per source.
    ``sources`` are original vertex labels, like ``personalization``.
    """
    if not sources:
        raise ValueError("at least one source label required")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if walks_per_source < 1 or max_steps < 1:
        raise ValueError("walks_per_source >= 1 and max_steps >= 1 required")
    spark = graph.spark
    R = walks_per_source
    src_tbl = spark.createDataFrame(
        [(int(s),) for s in sources], "label long"
    ).distinct()
    src_vids = graph.vertices.join(src_tbl, "label").select("vid")
    n_src = src_vids.count()
    if n_src != src_tbl.count():
        raise ValueError("sources refer to labels not in the graph")

    reps = F.broadcast(spark.range(R).select(F.col("id").alias("rep")))
    state = (
        src_vids.crossJoin(reps)
        .select(
            (F.col("vid") * R + F.col("rep")).alias("walk_id"),
            F.col("vid").alias("source"),
            F.col("vid").alias("cur"),
        )
        .localCheckpoint(eager=True)
    )
    edges = graph.edges.select("src", "dst").persist()
    thresh = int(alpha * (1 << 30))
    ended = []  # each element filters a checkpointed state: flat lineage
    for t in range(1, max_steps + 1):
        coin = F.pmod(
            F.xxhash64("walk_id", F.lit(t), F.lit(seed)), F.lit(1 << 30)
        ) < F.lit(thresh)
        ended.append(state.filter(~coin).select("source", "cur"))
        alive = state.filter(coin)
        choice = (
            edges.join(alive.select("walk_id", F.col("cur").alias("src")), "src")
            .groupBy("walk_id")
            .agg(
                F.min_by(
                    F.col("dst"),
                    F.xxhash64("walk_id", F.lit(t), "dst", F.lit(seed)),
                ).alias("nxt")
            )
        )
        hop = (
            alive.join(choice, "walk_id", "left")
            .select(
                "walk_id",
                "source",
                # dangling vertex + continue coin: restart at the source
                F.coalesce("nxt", "source").alias("cur"),
            )
            .localCheckpoint(eager=False)
        )
        n_alive = hop.count()  # the step's ONE action; materializes the hop
        state = hop
        if n_alive == 0:
            break
    ended.append(state.select("source", "cur"))  # max_steps truncation
    endpoints = ended[0]
    for e in ended[1:]:
        endpoints = endpoints.unionAll(e)
    out = (
        endpoints.groupBy("source", F.col("cur").alias("vid"))
        .agg(F.count("*").alias("walks"))
        .select(
            "source",
            "vid",
            "walks",
            (F.col("walks") / F.lit(float(R))).alias("ppr"),
        )
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    return out
