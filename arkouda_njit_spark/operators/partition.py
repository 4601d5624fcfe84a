"""Balanced edge-cut graph partitioning (restreaming LDG family).

The operator that decides the engine's own 100 TB layout: assign every
vertex to one of ``num_blocks`` capacity-bounded blocks so that as many
edges as possible stay inside a block. Hash partitioning (what
``Graph.from_edges`` does by default) is balance-perfect but
cut-oblivious; for iterative kernels the shuffle volume per round is
proportional to the CUT, so a locality-aware assignment directly buys
per-iteration network at cluster scale.

Algorithm: the synchronous *restreaming* variant of Linear Deterministic
Greedy (Stanton & Kleinberg KDD'12; restreaming per Nishimura & Ugander
KDD'13; the capacity idea as in Fennel, Tsourakakis et al. WSDM'14).
Each pass, every vertex scores each candidate block

    score(v, b) = |N(v) ∩ b| · (1 − load(b)/C),      C = ceil(slack·V/P)

and proposes the argmax (ties → smallest block id); a vertex moves only
if the proposal STRICTLY beats its current block's score. Synchronous
greedy moves alone deadlock on symmetric structure (two cliques split
half-and-half across two blocks propose a perfect SWAP every pass — the
cut never changes); the published cure is probabilistic move acceptance
(Spinner, Martella et al., ICDE'17: accept with probability
``remaining_capacity/demand``). We keep the engine's determinism
contract by drawing the coin from ``xxhash64(vid, pass)``:

    accept(v) ⇔ u01(vid, pass) < move_fraction · min(1, capleft(b)/demand(b))

which thins each target block's inflow to its remaining capacity in
expectation AND breaks swap symmetry (the accepted subset differs on the
two sides almost surely). A ``row_number`` window then enforces the cap
exactly: since the initial hash assignment satisfies ``load(b) ≤ C`` and
a pass admits at most ``C − load(b)`` vertices into b, the balance
invariant ``load(b) ≤ C`` holds after every pass by induction —
enforced, not just penalised.

Spark shape — everything is the LPA join/agg pattern:
  * neighbor-block counts: edges ⋈ state, then ``groupBy(vid, block)``
    — map-side combined, so a power-law hub never funnels raw neighbor
    rows to one reducer;
  * ``load(b)`` is a P-row aggregate broadcast back — no collect in the
    loop;
  * the argmax is a struct-max inside one hash aggregation (no window
    over a skewed key);
  * admission is the one window (``row_number`` over target block,
    gain-desc) — ``num_blocks``-way parallel, and its input is only the
    MOVERS of the pass, a shrinking fraction of V;
  * one pass per :class:`..plans.iterate.FixpointLoop` iteration —
    lineage-cut state, per-partition metrics, resumable epochs. The loop
    runs the full ``max_passes`` budget (tol=-1): a zero-admission pass
    is not convergence, because rejected movers flip a fresh coin next
    pass; per-pass movement counts live in the loop metrics.

Deterministic by construction (count-then-id tie-breaks everywhere), so
the assignment is reproducible across partition counts — the same
contract as LPA/PageRank (north rule exact-match family).

Quality is measured, not asserted: ``operators.quality.edge_cut`` /
``coverage`` accept the returned (vid, block) table directly (pass
``col="block"``).

Reference parity: the reference has no partitioner (its layout is the
block-distribution of Chapel arrays); this is §2.7 beyond-reference
infrastructure the Spark engine needs at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.iterate import FixpointLoop, count_changed
from ..plans.joins import state_join_side

__all__ = ["balanced_partition"]


def balanced_partition(
    graph: Graph,
    num_blocks: int,
    max_passes: int = 16,
    slack: float = 1.05,
    move_fraction: float = 0.5,
    init: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, block) partition assignment, restreamed for ``max_passes``.

    Starts from ``init`` — a (vid, block) DataFrame with blocks in
    ``[0, num_blocks)`` — or, by default, the hash assignment
    (``vid % num_blocks``: dense remapped ids, so exactly balanced).
    ``slack`` must be ≥ 1.0; values slightly above 1 leave the headroom
    moves need (at exactly 1.0 every block starts full and a balanced
    initial assignment is frozen).

    Balance contract: with the default init, ``load(b) ≤ C =
    ceil(slack·V/num_blocks)`` holds after every pass (admission never
    fills a block past C, and the init satisfies it). A custom ``init``
    MAY start blocks above C — the natural web-graph prior
    ``block = hash(host) % P`` does on giant hosts — in which case
    overfull blocks only DRAIN (they admit nobody, and their members'
    home score goes negative once ``load > C``, pushing them toward any
    block with neighbors and headroom), so loads converge down toward C
    while the locality of the prior is preserved. That combination —
    locality-aware seed, capacity-exact refinement — is the intended
    production use on host-clustered web graphs.
    """
    if num_blocks < 1:
        raise ValueError("num_blocks must be >= 1")
    if slack < 1.0:
        raise ValueError(f"slack must be >= 1.0, got {slack}")
    if not 0.0 < move_fraction <= 1.0:
        raise ValueError(f"move_fraction must be in (0, 1], got {move_fraction}")
    n = graph.n_vertices
    cap = int(math.ceil(slack * n / num_blocks))

    if graph.directed:
        # Symmetrization WITHOUT dedup is intentional: a reciprocal pair
        # (u->v and v->u) contributes neighbor-count 2 vs 1 for a one-way
        # link, so mutual links attract their endpoints into the same
        # block twice as strongly — for the crawl graphs this partitioner
        # targets, reciprocity is exactly the locality signal worth
        # weighting (round-5 ADVICE #4: documented as intended; pass an
        # undirected Graph for strictly unweighted-dyad semantics).
        edges = (
            graph.edges.select("src", "dst")
            .unionAll(
                graph.edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .repartition(graph.num_partitions, "src")
        )
    else:
        edges = graph.edges.select("src", "dst")
    # cut the parent graph's lineage before iterating: every per-pass job
    # otherwise re-canonicalizes (and with AQE re-plans) the full upstream
    # build plan — pure driver planning cost that multiplies by pass count
    # on deep-lineage parents (e.g. a graph built from another graph's
    # edge table)
    edges = edges.localCheckpoint(eager=True)

    if init is None:
        init = graph.vertices.select(
            "vid",
            F.pmod(F.col("vid"), F.lit(num_blocks)).cast("int").alias("block"),
        )
    else:
        # validate rather than corrupt: an out-of-range block would be
        # invisible to the load table (wrong capacity math, undrainable),
        # a missing vid would silently vanish from the assignment, and a
        # non-graph vid would haunt the loads forever. The join also
        # restricts init to the graph's vertex set.
        joined = graph.vertices.select("vid").join(
            init.select("vid", F.col("block").cast("int").alias("block")),
            "vid",
            "left",
        )
        chk = joined.agg(
            F.sum(F.when(F.col("block").isNull(), 1).otherwise(0)).alias(
                "missing"
            ),
            F.sum(
                F.when(
                    (F.col("block") < 0) | (F.col("block") >= num_blocks), 1
                ).otherwise(0)
            ).alias("oob"),
        ).collect()[0]
        if chk["missing"] or chk["oob"]:
            raise ValueError(
                f"init assignment invalid: {chk['missing']} graph vertices "
                f"missing, {chk['oob']} blocks outside [0, {num_blocks})"
            )
        init = joined

    spark = graph.edges.sparkSession
    block_domain = spark.range(num_blocks).select(
        F.col("id").cast("int").alias("block")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        # loads over the FULL block domain: a block nobody occupies yet
        # must still be visible (as the lightest fallback target and in
        # the admission caps) or it is unreachable forever — the
        # all-in-one-block custom init would never drain without this
        loads = block_domain.join(
            state.groupBy("block").agg(F.count("*").alias("load")),
            "block",
            "left",
        ).select("block", F.coalesce(F.col("load"), F.lit(0)).alias("load"))
        # |N(v) ∩ b| for every block holding at least one neighbor of v
        scored = (
            edges.join(
                state_join_side(state.withColumnRenamed("vid", "src"), n), "src"
            )
            .groupBy(F.col("dst").alias("vid"), "block")
            .agg(F.count("*").alias("cnt"))
            .join(F.broadcast(loads), "block")
            .select(
                "vid",
                "block",
                (
                    F.col("cnt") * (1.0 - F.col("load") / F.lit(float(cap)))
                ).alias("score"),
            )
        )
        # fallback candidate: the globally lightest block at score 0 (the
        # streaming-LDG rule that a block holding no neighbors scores only
        # its capacity term). It matters exactly when the home score is
        # NEGATIVE — an overfull block (load > C, possible under a custom
        # locality init) whose members have no neighbors elsewhere could
        # otherwise never drain; for everyone else 0 never beats home.
        lightest = loads.select(
            F.min(F.struct("load", "block")).alias("m")
        ).select(F.col("m.block").alias("block"))
        # only members of OVERFULL blocks can ever profit from the
        # fallback (0.0 never strictly beats a home score ≥ 0, and the
        # overfull-escape gate below only opens past cap), so restrict
        # its source — empty under any within-cap assignment, V-sized
        # dead weight otherwise
        overfull_members = state.join(
            F.broadcast(loads.filter(F.col("load") > cap).select("block")),
            "block",
        )
        fallback = overfull_members.select("vid").crossJoin(
            F.broadcast(lightest)
        ).select("vid", "block", F.lit(0.0).alias("score"))
        best = (
            scored.unionAll(fallback)
            .groupBy("vid")
            .agg(
                F.max(
                    F.struct(F.col("score"), (-F.col("block")).alias("neg"))
                ).alias("s")
            )
            .select(
                "vid",
                (-F.col("s.neg")).cast("int").alias("new_block"),
                F.col("s.score").alias("new_score"),
            )
        )
        # the current block's own score; no-neighbors-at-home rows are
        # absent from `scored` and coalesce to the form's zero point
        prop = (
            state.join(best, "vid", "left")
            .join(
                scored.withColumnRenamed("score", "cur_score"),
                ["vid", "block"],
                "left",
            )
            .select(
                "vid",
                "block",
                "new_block",
                "new_score",
                F.coalesce(F.col("cur_score"), F.lit(0.0)).alias("cur_score"),
            )
        )
        # strict improvement is the hysteresis against synchronous swaps;
        # the one exception is the overfull ESCAPE: a member of a block
        # past cap with no neighbors at home scores 0.0 at home and 0.0
        # on the fallback, and must still be allowed out or the drain
        # contract fails for exactly the vertices cheapest to move
        home_load = F.broadcast(
            loads.select("block", F.col("load").alias("home_load"))
        )
        movers = (
            prop.join(home_load, "block")
            .filter(
                F.col("new_block").isNotNull()
                & (F.col("new_block") != F.col("block"))
                & (
                    (F.col("new_score") > F.col("cur_score"))
                    | (
                        (F.col("home_load") > cap)
                        & (F.col("new_score") >= F.col("cur_score"))
                    )
                )
            )
            .select(
                "vid",
                "block",
                "new_block",
                (F.col("new_score") - F.col("cur_score")).alias("gain"),
            )
        )
        # Spinner-style acceptance coin (deterministic: xxhash64(vid, pass)),
        # thinning inflow to remaining capacity in expectation and breaking
        # the synchronous-swap symmetry
        demand = movers.groupBy("new_block").agg(F.count("*").alias("demand"))
        caps = (
            loads.select(
                F.col("block").alias("new_block"),
                F.greatest(F.lit(cap) - F.col("load"), F.lit(0)).alias(
                    "cap_left"
                ),
            )
            .join(demand, "new_block")
            .select(
                "new_block",
                "cap_left",
                (
                    F.lit(move_fraction)
                    * F.least(
                        F.lit(1.0), F.col("cap_left") / F.col("demand")
                    )
                ).alias("accept_frac"),
            )
        )
        u01 = (
            F.pmod(F.xxhash64(F.col("vid"), F.lit(i)), F.lit(1 << 20))
            / F.lit(float(1 << 20))
        )
        # hard cap after the coin: best gain first, deterministic vid
        # tie-break; the window input is the thinned mover set
        w = Window.partitionBy("new_block").orderBy(F.desc("gain"), "vid")
        admitted = (
            movers.join(F.broadcast(caps), "new_block")
            .filter(u01 < F.col("accept_frac"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.col("cap_left"))
            .select("vid", F.col("new_block").alias("block"))
        )
        keep = state.join(admitted.select("vid"), "vid", "left_anti")
        return keep.select("vid", "block").unionAll(admitted.select("vid", "block"))

    # tol=-1: run the full pass budget. A pass where the acceptance coin
    # admitted nobody is NOT convergence — the rejected movers flip a fresh
    # coin (new pass index) next round — so stopping at the first
    # zero-change pass strands stragglers. The change count is still
    # recorded per pass in loop metrics for observability; a truly
    # converged pass costs one LPA-shaped no-op job.
    loop = FixpointLoop(
        "balanced_partition",
        step,
        convergence=count_changed("vid", "block"),
        max_iterations=max_passes,
        tol=-1.0,
        checkpoint_dir=checkpoint_dir,
    )
    return loop.run(init)
