"""Louvain modularity community detection, distributed and deterministic.

Absent from the reference (its community stack is WCC + the dev-tree CC
zoo; SURVEY.md §2.7 mandates community detection beyond it) but the
standard operator a link-graph pipeline runs on a web graph after LPA:
LPA finds propagation plateaus, Louvain maximizes modularity

    Q = (1/2m) * sum_ij [ A_ij - k_i * k_j / (2m) ] * delta(c_i, c_j).

Spark-first formulation — both classic phases are joins/aggregations:

* **Local moving** (one sweep): per-vertex neighbor-community weights
  are ONE map-side-combined ``groupBy(vid, ncomm)`` over the symmetric
  edge table (a power-law hub never ships raw neighbor rows to a single
  reducer), community strengths are a second small aggregation, and the
  argmax gain is a struct-max — no windows, no driver state.
* **Contraction**: communities become supervertices via a single
  ``groupBy(comm_src, comm_dst).sum(weight)``; intra-community weight
  folds into supervertex self-loops, so total weight (2m) is invariant
  across levels and modularity stays comparable.

Synchronous parallel moves need two safeguards, both deterministic:

* **Within a sweep**, moves are gated to one direction in label space
  (even sweeps only to a SMALLER community id, odd sweeps only LARGER),
  so any simultaneous move set is monotone in the label order and a
  swap/rotation cycle inside one sweep is impossible by transitivity,
  while every target stays reachable on one of the two parities. On top,
  only one fixed half of the vertices (by ``xxhash64(vid) % 2`` — a hash
  of VALUES, not partitions, so the damping is identical across partition
  counts and cluster sizes) may move in a given sweep, which keeps
  simultaneous movers from piling onto the same target and overshooting
  the gain they each computed in isolation. The (direction, half)
  schedule has period 4, so any 4 consecutive sweeps offer every vertex
  both directions — with ``patience >= 4`` no vertex's one needed move
  can be starved by the damping.
* **Across sweeps**, synchronous moves can still oscillate (A↔B churn
  where each direction looks gain-positive against the pre-sweep state),
  so the loop does NOT wait for a zero-move fixpoint: after every sweep
  it measures the REALIZED modularity of the new assignment (one
  union-of-two-aggregates job) and keeps the best assignment seen; the
  level ends after ``patience`` consecutive sweeps without improvement.
  Q is bounded above, so termination is guaranteed without ``max_sweeps``
  doing the work. Two Spark jobs per sweep: the eager checkpoint of the
  new assignment, and the Q measurement.

Per-sweep state is cut with ``localCheckpoint``, which the package wraps
(:mod:`..plans.checkpoints`) to drop the pre-checkpoint plan's estimated
size; unwrapped, that estimate compounds multiplicatively across sweeps
until the optimizer drowns in BigInteger stats arithmetic.

Ties break to the smallest community id; no rand(), no partition-order
dependence: results are identical across partition counts (pinned by
``tests/test_louvain.py::test_deterministic_across_partitionings``).

Edge-table conventions (matching ``Graph``): undirected edges are stored
in BOTH orientations; a (super)self-loop row carries TWICE the
undirected loop weight, so ``sum(weight)`` over all rows is exactly 2m
and a vertex's weighted degree is one ``groupBy(src).sum(weight)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.joins import state_join_side


def modularity(graph: Graph, assignment: DataFrame, col: str = "community") -> float:
    """Newman modularity of a (vid, ``col``) community assignment over the
    graph's weighted symmetric edge table. Pure SQL shape (two joins + two
    aggregations), usable as a DuckDB-oracle replay."""
    edges = graph.edges.select("src", "dst", "weight")
    two_m = edges.agg(F.sum("weight")).collect()[0][0]
    if not two_m:
        return 0.0
    assign = assignment.select("vid", F.col(col).alias("comm"))
    return _assignment_modularity(edges, assign, float(two_m), graph.n_vertices)


def _assignment_modularity(
    edges: DataFrame, assign: DataFrame, two_m: float, n_verts: int
) -> float:
    """Realized Q of a (vid, comm) assignment — internal weight and the
    sum of squared community strengths, collected as ONE two-row union job."""
    a = assign.select(F.col("vid").alias("src"), F.col("comm").alias("_ca"))
    b = assign.select(F.col("vid").alias("dst"), F.col("comm").alias("_cb"))
    internal = (
        edges.join(state_join_side(a, n_verts), "src")
        .join(state_join_side(b, n_verts), "dst")
        .filter(F.col("_ca") == F.col("_cb"))
        .agg(F.sum("weight").alias("v"))
        .select(F.lit(0).alias("part"), "v")
    )
    sigma_sq = (
        edges.groupBy("src")
        .agg(F.sum("weight").alias("k"))
        .join(state_join_side(a, n_verts), "src")
        .groupBy("_ca")
        .agg(F.sum("k").alias("sigma"))
        .agg(F.sum(F.col("sigma") * F.col("sigma")).alias("v"))
        .select(F.lit(1).alias("part"), "v")
    )
    parts = {r["part"]: (r["v"] or 0.0) for r in internal.unionByName(sigma_sq).collect()}
    return float(parts.get(0, 0.0) / two_m - parts.get(1, 0.0) / (two_m * two_m))


def _local_moving(
    edges: DataFrame,
    two_m: float,
    n_verts: int,
    max_sweeps: int,
    gain_tol: float,
    patience: int = 4,
) -> tuple[DataFrame, int, bool]:
    """One Louvain level: gated synchronous sweeps from singleton
    communities, keeping the best realized-Q assignment, until ``patience``
    consecutive sweeps fail to improve Q by > ``gain_tol``. Returns
    (assignment (vid, comm) — eagerly checkpointed —, n_communities,
    improved_over_singletons)."""
    k = (
        edges.groupBy("src")
        .agg(F.sum("weight").alias("k"))
        .withColumnRenamed("src", "vid")
    ).localCheckpoint(eager=True)
    assign = k.select("vid", F.col("vid").alias("comm")).localCheckpoint(eager=True)
    best_q = _assignment_modularity(edges, assign, two_m, n_verts)
    singleton_q = best_q
    best_assign = assign
    stale = 0
    for sweep in range(max_sweeps):
        down = sweep % 2 == 0
        withk = assign.join(state_join_side(k, n_verts), "vid")
        sigma = withk.groupBy("comm").agg(F.sum("k").alias("sigma"))
        # per-vertex weight into each neighboring community (self-loops
        # excluded: a loop moves with its vertex, constant across targets)
        nbr = (
            edges.filter(F.col("src") != F.col("dst"))
            .join(
                state_join_side(
                    assign.select(
                        F.col("vid").alias("dst"), F.col("comm").alias("ncomm")
                    ),
                    n_verts,
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("vid"), "ncomm")
            .agg(F.sum("weight").alias("k_vc"))
        )
        # the vertex's own community is always a candidate (k_vc += 0)
        own = assign.select(
            "vid", F.col("comm").alias("ncomm"), F.lit(0.0).alias("k_vc")
        )
        cand = (
            nbr.unionByName(own)
            .groupBy("vid", "ncomm")
            .agg(F.sum("k_vc").alias("k_vc"))
            .join(state_join_side(withk.select("vid", "comm", "k"), n_verts), "vid")
            .join(
                state_join_side(sigma.withColumnRenamed("comm", "ncomm"), n_verts),
                "ncomm",
            )
        )
        # direction gate: monotone label moves per sweep (no in-sweep cycles)
        gate = F.col("ncomm") < F.col("comm") if down else F.col("ncomm") > F.col("comm")
        cand = cand.filter((F.col("ncomm") == F.col("comm")) | gate)
        # score(c) = k_{v,c} - k_v * (sigma(c) - [v in c] k_v) / 2m
        # (the Louvain gain with constant positive factors dropped; the
        # same vertex is compared across targets, so dropped terms cancel)
        score = F.col("k_vc") - F.col("k") * (
            F.col("sigma")
            - F.when(F.col("ncomm") == F.col("comm"), F.col("k")).otherwise(F.lit(0.0))
        ) / F.lit(two_m)
        scored = cand.select(
            "vid",
            "comm",
            "ncomm",
            score.alias("score"),
            F.when(F.col("ncomm") == F.col("comm"), score).alias("stay"),
        )
        # deterministic damping: half the vertices (a fixed value-hash
        # class) hold still each sweep so simultaneous movers don't
        # overshoot the gains they computed against the pre-sweep state.
        # The (direction, class) schedule has period 4 — any 4 consecutive
        # sweeps give every vertex one sweep in each direction, so a
        # patience of >= 4 can never starve the one move a vertex needs.
        eligible = F.pmod(F.xxhash64(F.col("vid")), F.lit(2)) == (sweep // 2) % 2
        assign = (
            scored.groupBy("vid", "comm")
            .agg(
                F.max(
                    F.struct(F.col("score"), (-F.col("ncomm")).alias("neg"))
                ).alias("b"),
                F.max("stay").alias("stay"),
            )
            .select(
                "vid",
                F.when(
                    eligible & (F.col("b.score") > F.col("stay") + F.lit(gain_tol)),
                    -F.col("b.neg"),
                )
                .otherwise(F.col("comm"))
                .alias("comm"),
            )
        ).localCheckpoint(eager=True)
        q = _assignment_modularity(edges, assign, two_m, n_verts)
        if q > best_q + gain_tol:
            best_q, best_assign, stale = q, assign, 0
        else:
            stale += 1
            if stale >= patience:
                break
    n_comm = best_assign.select("comm").distinct().count()
    return best_assign, n_comm, best_q > singleton_q + gain_tol


def louvain_communities(
    graph: Graph,
    max_levels: int = 10,
    max_sweeps: int = 20,
    gain_tol: float = 1e-12,
) -> DataFrame:
    """Per-vertex Louvain communities: DataFrame (vid, community), the
    community id being the minimum internal vid of its members (the same
    canonical-label convention as connected_components)."""
    edges = graph.edges.select("src", "dst", "weight").localCheckpoint(eager=True)
    two_m = edges.agg(F.sum("weight")).collect()[0][0]
    mapping = graph.vertices.select("vid", F.col("vid").alias("comm"))
    if not two_m:
        return mapping.select("vid", F.col("comm").alias("community"))
    n_level = graph.n_vertices
    for _level in range(max_levels):
        assign, n_comm, improved = _local_moving(
            edges, float(two_m), n_level, max_sweeps, gain_tol
        )
        if not improved or n_comm == n_level:
            break
        mapping = (
            mapping.join(
                assign.select(
                    F.col("vid").alias("comm"), F.col("comm").alias("_new")
                ),
                "comm",
            ).select("vid", F.col("_new").alias("comm"))
        ).localCheckpoint(eager=True)
        edges = (
            edges.join(
                state_join_side(
                    assign.select(F.col("vid").alias("src"), F.col("comm").alias("_cs")),
                    n_level,
                ),
                "src",
            )
            .join(
                state_join_side(
                    assign.select(F.col("vid").alias("dst"), F.col("comm").alias("_cd")),
                    n_level,
                ),
                "dst",
            )
            .groupBy(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
            .agg(F.sum("weight").alias("weight"))
        ).localCheckpoint(eager=True)
        n_level = n_comm
    # canonical labels: community id = min original member vid
    canon = mapping.groupBy("comm").agg(F.min("vid").alias("community"))
    return mapping.join(canon, "comm").select("vid", "community")
