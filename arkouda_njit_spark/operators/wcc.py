"""Well-connected components: recursive cluster splitting by min-cut.

Reference: /root/reference/arachne/server/WellConnectedComponents.chpl
(criteria 63-66: log10/log2/sqrt(n)/5/mult; recursive checker 318-389 —
per cluster: connected components, then min-cut (extern VieCut C++); if
``cut > criterion(n)`` the cluster is well-connected and emitted, else it
is split along the min-cut partition and both sides recurse when larger
than ``post_filter_min_size``); driver 392-470 (pre-split every input
cluster into connected components, keep sizes > ``pre_filter_min_size``).
Client defaults: methods.py:614-722 (log10, pre/post = 10).

Spark-first design: the per-cluster work (CC + min-cut + recursion) is a
**grouped-map** — ``groupBy(cluster).applyInPandas`` ships each cluster's
edge list to one task where the recursion runs on the materialized
subgraph (Stoer–Wagner global min-cut via networkx, the published
algorithm VieCut approximates). That mirrors the reference exactly: its
VieCut call is likewise a single-node computation per cluster; the
distributed layer is the partitioning of clusters over workers. Output
cluster ids are ``dense ids assigned by (min original vertex)`` to keep
results deterministic regardless of task scheduling.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import hash_min_labels, symmetric_edges

CRITERIA = {
    "log10": lambda n, mult: __import__("math").floor(__import__("math").log10(n)) if n > 0 else 0,
    "log2": lambda n, mult: __import__("math").floor(__import__("math").log2(n)) if n > 0 else 0,
    "sqrt": lambda n, mult: __import__("math").floor(n ** 0.5 / 5),
    "mult": lambda n, mult: __import__("math").floor(mult * n),
}


def _process_cluster(edges: list[tuple[int, int]], criterion, mult, post_min) -> list[set]:
    """Driver/worker-side recursion on one cluster's edge list. Returns the
    vertex sets of well-connected sub-clusters."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges)
    out: list[set] = []

    def recurse(sub: "nx.Graph"):
        if sub.number_of_edges() < 1:
            return
        for comp in [sub.subgraph(c).copy() for c in nx.connected_components(sub)]:
            n = comp.number_of_nodes()
            if n <= 1:
                continue
            # degree-one shortcut (checkForDegreeOne: any pendant vertex
            # means the global min cut is 1 — WellConnectedComponents.chpl:302-315)
            degs = dict(comp.degree())
            if min(degs.values()) == 1:
                cut = 1
                pend = min(v for v, d in degs.items() if d == 1)
                part_a = {pend}
            else:
                cut, (pa, _) = nx.stoer_wagner(comp)
                part_a = set(pa)
            if cut > criterion(n, mult):
                out.append(set(comp.nodes()))
                continue
            part_b = set(comp.nodes()) - part_a
            for part in (part_a, part_b):
                if len(part) > post_min:
                    recurse(comp.subgraph(part).copy())

    recurse(g)
    return out


def _criterion_col(name: str, n, mult: float):
    """The criterion as a Spark Column over a piece-size column ``n``
    (WellConnectedComponentsDistributed.chpl:73-76)."""
    if name == "log10":
        return F.floor(F.log10(n.cast("double")))
    if name == "log2":
        return F.floor(F.log2(n.cast("double")))
    if name == "sqrt":
        return F.floor(F.sqrt(n.cast("double")) / 5)
    return F.floor(F.lit(mult) * n)


def _cc_per_piece(edges: DataFrame) -> DataFrame:
    """(pk, vid, component): connected components within each piece key
    ``pk`` of a (pk, src, dst) edge table — the engine's hash-min kernel
    (operators/connected_components.hash_min_labels) keyed by ``pk``. The
    symmetric row count 2m bounds both the state size and the rounds
    needed (a component with m edges settles within m + 1 rounds)."""
    sym = symmetric_edges(edges, directed=True, keys=("pk",))
    n = sym.count()
    state = (
        sym.select("pk", F.col("src").alias("vid")).distinct()
        .withColumn("component", F.col("vid"))
    )
    return hash_min_labels(sym, state, n, keys=("pk",), max_iterations=n)


def _mini_lpa(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """(pk, vid, lbl): deterministic synchronous label propagation within
    each piece — the community guide for the approximate cut."""
    sym = edges.select("pk", "src", "dst").unionAll(
        edges.select("pk", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    state = (
        sym.select("pk", F.col("src").alias("vid")).distinct()
        .withColumn("lbl", F.col("vid"))
        .localCheckpoint(eager=True)
    )
    for _r in range(rounds):
        hist = (
            sym.join(state.select("pk", F.col("vid").alias("src"), "lbl"), ["pk", "src"])
            .groupBy("pk", F.col("dst").alias("vid"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        # deterministic argmax: (count desc, label asc) via min on struct.
        # Every in-piece vertex has degree >= 1 (vertices exist only as
        # edge endpoints), so `best` covers the full vertex set — the new
        # state IS best, no old-state fallback join needed.
        state = (
            hist.groupBy("pk", "vid")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("b")
            )
            .select("pk", "vid", F.col("b.l").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return state


def _wcc_distributed(
    intra: DataFrame,
    criterion_name: str,
    mult: float,
    post_min: int,
    max_cluster_edges: int,
    exact_runner,
    out_schema: str,
    max_rounds: int = 20,
) -> DataFrame:
    """Oversized-cluster path (reference ships
    WellConnectedComponentsDistributed.chpl for the same reason): per
    round — distributed CC per piece, pendant trim (removeDegreeOne,
    :284-296), route pieces that now fit ``max_cluster_edges`` through the
    exact Stoer–Wagner grouped-map, and for still-oversized pieces attempt
    an LPA-community-guided cut: if the cheapest community boundary is
    <= criterion(n) the piece splits there (any witnessed cut <= criterion
    proves not-well-connected), else the piece is ACCEPTED approximately
    (the reference's VieCut is likewise a heuristic solver). Never
    materializes an oversized piece in one task."""
    spark = intra.sparkSession
    # canonicalize like nx.Graph does implicitly on the exact path:
    # undirected, one orientation, no duplicates, no loops
    work = (
        intra.filter(F.col("src") != F.col("dst"))
        .select(
            F.concat_ws("_", F.lit("c"), F.col("cluster")).alias("pk"),
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    results: list[DataFrame] = []
    empty = spark.createDataFrame([], out_schema)

    for _round in range(max_rounds):
        if work.isEmpty():
            break
        comp = _cc_per_piece(work)
        work = (
            work.join(comp.select("pk", F.col("vid").alias("src"), "component"), ["pk", "src"])
            .select(F.concat_ws("_", "pk", "component").alias("pk"), "src", "dst")
            .localCheckpoint(eager=True)
        )
        deg = (
            work.select("pk", F.col("src").alias("vid"))
            .unionAll(work.select("pk", F.col("dst").alias("vid")))
            .groupBy("pk", "vid")
            .agg(F.count("*").alias("deg"))
        ).persist()
        stats = deg.groupBy("pk").agg(
            F.count("*").alias("n"), (F.sum("deg") / 2).alias("m")
        ).persist()

        # 1) pieces that fit go to the exact per-piece recursion FIRST —
        # before any trimming, so small satellite pieces (where the
        # criterion can be 0 and a pendant is legal in a well-connected
        # cluster) get the exact path's semantics untouched
        fit = stats.filter(F.col("m") <= max_cluster_edges).select("pk").persist()
        fitted = work.join(fit, "pk", "left_semi")
        if not fitted.isEmpty():
            results.append(
                fitted.groupBy("pk").applyInPandas(exact_runner, schema=out_schema)
                .localCheckpoint(eager=True)
            )
        work = work.join(fit, "pk", "left_anti").localCheckpoint(eager=True)
        # restrict the per-piece tables to the still-oversized pieces —
        # otherwise fit pieces would ALSO be blanket-accepted below
        # (double emission)
        deg_rem = deg.join(fit, "pk", "left_anti").persist()
        stats_rem = stats.join(fit, "pk", "left_anti").persist()
        if work.isEmpty():
            for df in (deg, stats, fit, deg_rem, stats_rem):
                df.unpersist()
            break

        # 2) pendant trim on the still-oversized remainder (removeDegreeOne,
        # WellConnectedComponentsDistributed.chpl:284-296 — the reference's
        # distributed variant removes degree-one vertices unconditionally;
        # oversized pieces have n >> 10, so criterion >= 1 and a pendant
        # can never survive into a well-connected answer). Bounded
        # iterations per round: a filament that trims slowly continues in
        # later rounds instead of an unbounded driver loop.
        trimmed = False
        cur_deg = deg_rem
        for _ in range(8):
            pend = cur_deg.filter(F.col("deg") <= 1).select("pk", "vid")
            if pend.isEmpty():
                break
            trimmed = True
            keep = cur_deg.filter(F.col("deg") > 1).select("pk", "vid")
            work = (
                work.join(keep.withColumnRenamed("vid", "src"), ["pk", "src"], "left_semi")
                .join(keep.withColumnRenamed("vid", "dst"), ["pk", "dst"], "left_semi")
                .localCheckpoint(eager=True)
            )
            if cur_deg is not deg_rem:
                cur_deg.unpersist()
            cur_deg = (
                work.select("pk", F.col("src").alias("vid"))
                .unionAll(work.select("pk", F.col("dst").alias("vid")))
                .groupBy("pk", "vid")
                .agg(F.count("*").alias("deg"))
            ).persist()
        if trimmed:
            # re-derive piece identity (trim can disconnect) next round
            for df in (deg, stats, fit, deg_rem, stats_rem):
                df.unpersist()
            if cur_deg is not deg_rem:
                cur_deg.unpersist()
            continue

        # 3) oversized pieces: LPA-guided approximate cut
        lbl = _mini_lpa(work)
        ls = lbl.select("pk", F.col("vid").alias("src"), F.col("lbl").alias("l1"))
        ld = lbl.select("pk", F.col("vid").alias("dst"), F.col("lbl").alias("l2"))
        tagged = work.join(ls, ["pk", "src"]).join(ld, ["pk", "dst"]).persist()
        # boundary cut per (pk, community): edges with exactly one endpoint in it
        cuts = (
            tagged.filter(F.col("l1") != F.col("l2"))
            .select("pk", F.col("l1").alias("g"))
            .unionAll(
                tagged.filter(F.col("l1") != F.col("l2")).select("pk", F.col("l2").alias("g"))
            )
            .groupBy("pk", "g")
            .agg(F.count("*").alias("cut"))
        )
        best = cuts.groupBy("pk").agg(
            F.min(F.struct("cut", "g")).alias("b")
        ).select("pk", F.col("b.cut").alias("cut"), F.col("b.g").alias("g"))
        crit_pk = stats_rem.select(
            "pk", _criterion_col(criterion_name, F.col("n"), mult).alias("crit")
        )
        decision = best.join(crit_pk, "pk")
        # ONE materialized split set drives both the accept anti-join and
        # the edge filter — a desynchronized pair re-creates the
        # double-emission class of bug
        splitting = (
            decision.filter(F.col("cut") <= F.col("crit"))
            .select("pk", "g")
            .localCheckpoint(eager=True)
        )
        # accept: single LPA community (no cuts row) or cheapest boundary > crit
        accepted = stats_rem.join(
            splitting.select("pk"), "pk", "left_anti"
        ).select("pk")
        acc_verts = deg_rem.join(accepted, "pk", "left_semi").select("pk", "vid")
        if not acc_verts.isEmpty():
            # emit via a min-join: never materializes a piece's vertex list
            # in one aggregation row (a piece here is by definition large)
            mins = acc_verts.groupBy("pk").agg(F.min("vid").alias("cluster_min"))
            results.append(
                acc_verts.join(mins, "pk")
                .select(F.col("vid").alias("vertex"), "cluster_min")
                .localCheckpoint(eager=True)
            )
        # split: remove the boundary edges of the chosen community; sides
        # with n <= post_min do NOT recurse (reference recursion gate,
        # WellConnectedComponents.chpl:342-355) — drop their edges here
        side_sizes = (
            lbl.join(splitting, "pk")
            .select("pk", (F.col("lbl") == F.col("g")).alias("side"), "vid")
            .groupBy("pk", "side")
            .agg(F.count("*").alias("sn"))
        )
        keep_sides = side_sizes.filter(F.col("sn") > post_min).select("pk", "side")
        nxt = (
            work.join(ls, ["pk", "src"]).join(ld, ["pk", "dst"])
            .join(splitting, "pk")
            .filter(
                ((F.col("l1") == F.col("g")) & (F.col("l2") == F.col("g")))
                | ((F.col("l1") != F.col("g")) & (F.col("l2") != F.col("g")))
            )
            .withColumn("side", F.col("l1") == F.col("g"))
            .join(keep_sides, ["pk", "side"], "left_semi")
            .select("pk", "src", "dst")
        )
        work = nxt.localCheckpoint(eager=True)
        for df in (tagged, deg, stats, fit, deg_rem, stats_rem):
            df.unpersist()
    else:
        # max_rounds exhausted with work remaining: one final sweep routes
        # anything that fits through the exact runner; only genuinely
        # still-oversized pieces are dropped (with a warning)
        if not work.isEmpty():
            fdeg = (
                work.select("pk", F.col("src").alias("vid"))
                .unionAll(work.select("pk", F.col("dst").alias("vid")))
                .groupBy("pk", "vid")
                .agg(F.count("*").alias("deg"))
            )
            fstats = fdeg.groupBy("pk").agg((F.sum("deg") / 2).alias("m"))
            ffit = fstats.filter(F.col("m") <= max_cluster_edges).select("pk")
            final_fit = work.join(ffit, "pk", "left_semi")
            if not final_fit.isEmpty():
                results.append(
                    final_fit.groupBy("pk")
                    .applyInPandas(exact_runner, schema=out_schema)
                    .localCheckpoint(eager=True)
                )
            leftover = work.join(ffit, "pk", "left_anti")
            if not leftover.isEmpty():
                import warnings

                n_left = leftover.select("pk").distinct().count()
                warnings.warn(
                    f"well_connected_components: distributed path exhausted "
                    f"max_rounds with {n_left} unresolved oversized pieces; "
                    f"their vertices are omitted from the result"
                )
    if not results:
        return empty
    out = results[0]
    for r in results[1:]:
        out = out.unionAll(r)
    return out


def well_connected_components(
    edges: DataFrame,
    clustering: DataFrame,
    connectedness_criterion: str = "log10",
    mult_value: float | None = None,
    pre_filter_min_size: int = 10,
    post_filter_min_size: int = 10,
    max_cluster_edges: int = 5_000_000,
) -> DataFrame:
    """(vertex, cluster) rows for every vertex of a well-connected cluster.

    ``edges``: (src long, dst long); ``clustering``: (node long, cluster
    long) — the WCC cluster-file shape (FIXTURES.md §3g). Cluster ids in
    the output are dense ranks of each emitted cluster's minimum vertex.
    """
    criterion = CRITERIA[connectedness_criterion]
    if connectedness_criterion == "mult" and mult_value is None:
        # floor(0*n)=0 would silently declare every cluster well-connected
        raise ValueError(
            "connectedness_criterion='mult' requires mult_value "
            "(reference WellConnectedComponents.chpl:63-66)"
        )
    mult = mult_value if mult_value is not None else 0.0
    post_min = post_filter_min_size
    pre_min = pre_filter_min_size

    # keep only intra-cluster edges: both endpoints in the same cluster
    cs = clustering.select(F.col("node").alias("src"), F.col("cluster").alias("c1"))
    cd = clustering.select(F.col("node").alias("dst"), F.col("cluster").alias("c2"))
    intra = (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("c1") == F.col("c2"))
        .select(F.col("c1").alias("cluster"), "src", "dst")
    )
    # pre-filter: drop clusters whose vertex count is not > pre_filter_min_size
    sizes = clustering.groupBy("cluster").agg(F.countDistinct("node").alias("n"))
    keep = sizes.filter(F.col("n") > pre_min).select("cluster")
    intra = intra.join(keep, "cluster", "left_semi")

    out_schema = "vertex long, cluster_min long"

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parts = _process_cluster(
            list(zip(pdf["src"], pdf["dst"])), criterion, mult, post_min
        )
        rows = {"vertex": [], "cluster_min": []}
        for vs in parts:
            m = min(vs)
            for v in sorted(vs):
                rows["vertex"].append(int(v))
                rows["cluster_min"].append(int(m))
        return pd.DataFrame(rows)

    # Oversized clusters (edge count > max_cluster_edges) cannot ship to a
    # single grouped-map task: route them through the distributed path
    # (reference: WellConnectedComponentsDistributed.chpl).
    intra = intra.persist()
    ecounts = intra.groupBy("cluster").agg(F.count("*").alias("m"))
    big = ecounts.filter(F.col("m") > max_cluster_edges).select("cluster")
    small_intra = intra.join(big, "cluster", "left_anti")
    raw = small_intra.groupBy("cluster").applyInPandas(run, schema=out_schema)
    if not big.isEmpty():
        big_intra = intra.join(big, "cluster", "left_semi")
        raw = raw.unionAll(
            _wcc_distributed(
                big_intra,
                connectedness_criterion,
                mult,
                post_min,
                max_cluster_edges,
                run,
                out_schema,
            )
        )
    # materialize the assignment (output-sized) so the intra cache frees
    raw = raw.localCheckpoint(eager=True)
    intra.unpersist()
    # dense final ids by ascending cluster-min — two-pass dense rank, NOT a
    # global window (a no-partitionBy Window serializes through one task)
    from ..plans.partitioning import dense_rank_ids

    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ids, _ = dense_rank_ids(
        raw.select("cluster_min").distinct(), "cluster_min", P, out_col="cluster"
    )
    return raw.join(ids, "cluster_min").select(
        F.col("vertex"), F.col("cluster").cast("long")
    )
