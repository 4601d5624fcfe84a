"""Triangle counting: degree-ordered edge orientation + intersection join.

Reference kernel: edge-iterator with minimum-degree neighborhood scan +
binary search in the sorted adjacency —
/root/reference/arachne/server/TriangleCount.chpl:17-85 (helpers
Utils.chpl:46-52,124-153). Its minimum-degree side selection is the same
idea as the standard **degree orientation** we use here (SURVEY.md §4):

  * orient every undirected edge {u,v} from the endpoint with the smaller
    (degree, vid) to the larger — every vertex's oriented out-degree is
    O(sqrt(m)), which caps the wedge-join fan-out of power-law hubs (the
    north rule's skew requirement; no salting needed because orientation
    itself bounds the hot keys);
  * wedges = oriented ⋈ oriented on the shared pivot (the triangle's
    minimum-(deg,vid) vertex);
  * a wedge closes iff its (a,b) endpoints are an edge — a semi-join
    against the canonical edge set, which Spark executes as a sort-merge
    join on the pre-sorted bucketed table (the reference's binary search).

Each triangle is counted exactly once (unique pivot, canonical pair order).
The reference's ``triangles`` *total* is 3× this (sum of per-vertex counts;
/root/reference/arachne/client/arachne/methods.py:181-183 notes the /3
NetworkX convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph

# past this many edges, wedge/closing joins dispatch to shuffle_hash: the
# broadcast hash build is single-threaded on the driver (measured flat 2-to-8
# scaling) and impossible at 10^12 edges
BIG_EDGE_THRESHOLD = 1_000_000

# the wedge self-join flips to shuffle_hash earlier than the closing join:
# both sides share o's hashpartitioning(lo) so the hint costs NO exchange,
# while the broadcast build of a few-hundred-k-row relation with heavily
# duplicated keys is single-threaded — measured 7.0-8.0 s vs 1.2-2.4 s for
# the 66.7M-wedge enumeration on the sf0.1 mod graph (561k edges, r6)
WEDGE_SHUFFLE_HASH_THRESHOLD = 150_000

# below this vertex count the closing-edge pair (b, c) packs losslessly
# into ONE long (b*V + c < 2^62), turning the two-key semi join's
# UnsafeHashedRelation probe into a LongHashedRelation probe — measured
# 4.4-7.6 s -> 1.6-1.9 s on the full sf0.1 triangle kernel (r6). Beyond
# 2^31 vertices the product overflows and the two-key join is kept.
PACKED_KEY_MAX_VERTICES = 1 << 31

# the packed-key build side stays BROADCAST far beyond the two-key
# threshold: a LongHashedRelation of packed longs is ~16-32 B/key
# (~0.5-1 GB at this cap, well under the 8 GB broadcast limit), while the
# shuffle_hash alternative exchanges the O(m^1.5) wedge STREAM by the
# key — measured at 4x bench scale (1.86M edges, 754M wedges): broadcast
# 5.8 s vs shuffle_hash 18.5 s for the closing join (r6). Past the cap
# (or past PACKED_KEY_MAX_VERTICES) the relation itself is the memory
# hazard and the stream shuffle is the only option.
PACKED_BROADCAST_MAX_EDGES = 32_000_000


def _closing_semi_join(
    wedges: DataFrame, und: DataFrame, n_vertices: int, n_edges: int
):
    """Semi-join wedge rows (p, b, c) against the canonical pair set
    (u, v): keep wedges whose (b, c) endpoint pair is an edge. Packs the
    pair into one long key when it cannot overflow (see
    PACKED_KEY_MAX_VERTICES); the packed build side broadcasts up to
    PACKED_BROADCAST_MAX_EDGES, the two-key fallback up to
    BIG_EDGE_THRESHOLD; beyond, shuffle_hash."""
    if 0 < n_vertices < PACKED_KEY_MAX_VERTICES:
        v = F.lit(int(n_vertices))
        undk = und.select((F.col("u") * v + F.col("v")).alias("uv"))
        if n_edges >= PACKED_BROADCAST_MAX_EDGES:
            undk = undk.hint("shuffle_hash")
        return wedges.join(
            undk, (F.col("b") * v + F.col("c")) == F.col("uv"), "left_semi"
        ).select(F.col("p").alias("a"), "b", "c")
    sh = (
        (lambda df: df.hint("shuffle_hash"))
        if n_edges >= BIG_EDGE_THRESHOLD
        else (lambda df: df)
    )
    return wedges.join(
        sh(und),
        (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")),
        "left_semi",
    ).select(F.col("p").alias("a"), "b", "c")


def _undirected_simple_edges(graph: Graph) -> DataFrame:
    """Distinct non-loop edges as (u, v) with u < v."""
    e = graph.edges.select("src", "dst")
    if graph.directed:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        e.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )


def oriented_edges(graph: Graph | None, und: DataFrame | None = None) -> DataFrame:
    """Degree-ordered orientation: (lo, hi) with (deg,vid) of lo < of hi.

    Pass a (persisted) ``und`` to reuse the canonical pair set — the
    distinct() behind it is a shuffle worth paying once, not twice; the
    graph is then not read."""
    if und is None:
        und = _undirected_simple_edges(graph)
    deg = (
        und.select(F.col("u").alias("vid"))
        .unionAll(und.select(F.col("v").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("vid").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("vid").alias("v"), F.col("deg").alias("dv"))
    ordered = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    return ordered


def _closed_wedges(
    o: DataFrame, und: DataFrame, n_vertices: int, n_edges: int
) -> DataFrame:
    """Triangle rows (a, b, c) of the oriented table ``o`` (lo, hi): the
    wedge self-join on the pivot ``lo``, closed by a semi-join against the
    pair set ``und`` (u, v), u < v.

    Join strategy: a BroadcastHashJoin builds its hash relation
    single-threaded on the driver — measured FLAT 2→8-thread scaling on
    RMAT-18 — and is impossible at 10^12 edges. Past
    WEDGE_SHUFFLE_HASH_THRESHOLD edges the self-join hints shuffle_hash,
    which stays exchange-free when ``o`` is hash-partitioned on lo (both
    sides share that partitioning) and builds per-partition hash maps in
    parallel; small graphs stay on the broadcast fast path."""
    wsh = n_edges >= WEDGE_SHUFFLE_HASH_THRESHOLD
    sh = (lambda df: df.hint("shuffle_hash")) if wsh else (lambda df: df)
    w1 = o.select(F.col("lo").alias("p"), F.col("hi").alias("b"))
    w2 = o.select(F.col("lo").alias("p"), F.col("hi").alias("c"))
    wedges = w1.join(sh(w2), "p").filter(F.col("b") < F.col("c"))
    return _closing_semi_join(wedges, und, n_vertices, n_edges)


def _triangle_rows_cached(
    graph: Graph, und: DataFrame | None = None
) -> tuple[DataFrame, list[DataFrame]]:
    """(triangle rows, cache handles): the pair set and oriented table are
    persisted ONCE (one symmetrize+distinct shuffle feeds both the degree
    orientation and the closing-edge semi-join); the caller unpersists the
    handles after its terminal action. Pass ``und`` (distinct (u,v), u<v)
    to reuse a pair set the caller already computed — e.g. the triad
    census's dyad table — instead of re-running the symmetrize+distinct
    shuffle."""
    P = graph.num_partitions
    und = (_undirected_simple_edges(graph) if und is None else und).persist()
    o = oriented_edges(graph, und=und).repartition(P, "lo").persist()
    return _closed_wedges(o, und, graph.n_vertices, graph.n_edges), [und, o]


def _triangle_rows_localized(
    graph: Graph, qvids: DataFrame
) -> tuple[DataFrame, list[DataFrame]]:
    """Triangle rows restricted to triangles INCIDENT to the query vids —
    the subset path that makes ``triangles(g, vertices)`` scale-correct:
    every member of a triangle containing v is adjacent to v, so the
    triangle's wedge pivot lies in {v} ∪ N(v); restricting the oriented
    table to those pivots before the wedge self-join bounds the work by
    the query's neighborhood (Σ deg(q) pivots × O(√m) oriented fan-out)
    instead of the whole graph. A 5-vertex query on a 10^12-edge graph
    must not run the global kernel."""
    P = graph.num_partitions
    und = _undirected_simple_edges(graph).persist()
    # N(Q) ∪ Q. Neighbors come from the SYMMETRIZED canonical table (both
    # endpoint directions), not graph.edges src-side only — on a DiGraph
    # the src-only semi-join misses in-neighbor pivots and undercounts
    # incident triangles (round-3 advice).
    nbrs = (
        und.select(F.col("u").alias("vid"), F.col("v").alias("nbr"))
        .unionAll(und.select(F.col("v").alias("vid"), F.col("u").alias("nbr")))
        .join(qvids, "vid", "left_semi")
        .select(F.col("nbr").alias("lo"))
    )
    pivots = nbrs.unionAll(qvids.select(F.col("vid").alias("lo"))).distinct()
    o = (
        oriented_edges(graph, und=und)
        .join(pivots, "lo", "left_semi")
        .repartition(P, "lo")
        .persist()
    )
    return _closed_wedges(o, und, graph.n_vertices, graph.n_edges), [und, o]


def triangle_rows(graph: Graph) -> DataFrame:
    """All triangles, one row each: (a, b, c) with no canonical meaning
    beyond distinctness (a = pivot, b < c in vid order). The returned plan
    references two cached tables whose lifetime the session manages (LRU);
    the terminal operators below release them eagerly instead."""
    return _triangle_rows_cached(graph)[0]


def triangle_count(graph: Graph) -> int:
    """Number of distinct triangles (= reference total / 3)."""
    tri, handles = _triangle_rows_cached(graph)
    n = tri.count()
    for h in handles:
        h.unpersist()
    return n


def triangles_per_vertex(graph: Graph, vertices: list[int] | None = None) -> DataFrame:
    """(vid, triangles) for every vertex — nx.triangles / reference
    per-vertex variant (TriangleCount.chpl:51-85). With ``vertices``
    (internal vids), only those rows are returned AND the kernel runs the
    LOCALIZED neighborhood path (`_triangle_rows_localized`) instead of
    enumerating every triangle in the graph."""
    if vertices is not None:
        spark = graph.spark
        # dedupe: duplicate vids would fan out the final left join (one
        # incid row per duplicate) and cross-multiply counts downstream
        qvids = spark.createDataFrame(
            [(int(v),) for v in dict.fromkeys(vertices)], "vid long"
        )
        tri, handles = _triangle_rows_localized(graph, qvids)
        incid = (
            tri.select(F.col("a").alias("vid"))
            .unionAll(tri.select(F.col("b").alias("vid")))
            .unionAll(tri.select(F.col("c").alias("vid")))
            .join(qvids, "vid", "left_semi")
            .groupBy("vid")
            .agg(F.count("*").alias("triangles"))
            .localCheckpoint(eager=True)
        )
        for h in handles:
            h.unpersist()
        return qvids.join(incid, "vid", "left").select(
            "vid", F.coalesce("triangles", F.lit(0)).alias("triangles")
        )
    tri, handles = _triangle_rows_cached(graph)
    incid = (
        tri.select(F.col("a").alias("vid"))
        .unionAll(tri.select(F.col("b").alias("vid")))
        .unionAll(tri.select(F.col("c").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("triangles"))
        .localCheckpoint(eager=True)  # V-sized; lets the caches release now
    )
    for h in handles:
        h.unpersist()
    return graph.vertices.join(incid, "vid", "left").select(
        "vid", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def triangle_total_reference(graph: Graph) -> int:
    """The reference's ``ar.triangles(graph)`` scalar: sum of per-vertex
    counts = 3 × distinct triangles (methods.py:173-222)."""
    return 3 * triangle_count(graph)


def triangles(graph: Graph, vertices: list[int] | None = None):
    """``ar.triangles`` parity (methods.py:174-222): with no ``vertices``,
    the reference total (3 × distinct). With ``vertices`` (original
    *labels*), per-vertex counts **in the caller's input order**, labels
    not present in the graph dropped (the reference's ``ak.find`` +
    ``-1``-mask step). Returns (pos, node, triangles): pos = position in
    the filtered input list."""
    if vertices is None:
        return triangle_total_reference(graph)
    spark = graph.spark
    req = spark.createDataFrame(
        [(i, int(lab)) for i, lab in enumerate(vertices)], "in_pos long, node long"
    )
    # label -> vid; labels not found drop out of the inner join
    found = req.join(
        graph.vertices.select(F.col("label").alias("node"), "vid"), "node"
    )
    # the subset list is driver-resident by definition — collect the found
    # vids and run the LOCALIZED kernel (neighborhood-restricted pivots)
    found = found.localCheckpoint(eager=True)
    found_vids = [r["vid"] for r in found.select("vid").collect()]
    counts = triangles_per_vertex(graph, vertices=found_vids).withColumnRenamed(
        "triangles", "t"
    )
    got = found.join(counts, "vid", "left").select(
        "in_pos", "node", F.coalesce("t", F.lit(0)).alias("triangles")
    )
    # re-number positions after the not-found drop (reference filters the
    # vertices array, so the output aligns with the SURVIVING labels)
    from ..plans.partitioning import dense_rank_ids

    pos, _ = dense_rank_ids(
        got.select("in_pos").distinct(), "in_pos", graph.num_partitions, out_col="pos"
    )
    return got.join(pos, "in_pos").select("pos", "node", "triangles")


def approx_triangle_count(
    graph: Graph, p: float = 0.1, seed: int = 42
) -> dict[str, float]:
    """DOULION sampled triangle count (Tsourakakis et al., KDD'09).

    Keep each undirected edge independently with probability ``p``
    (deterministic: decided by a hash of the edge identity and ``seed``, so
    the estimate is reproducible and partition-invariant), run the exact
    degree-oriented kernel on the sparsified graph, and scale by 1/p³ — an
    unbiased estimator whose input is p·m edges and whose wedge work shrinks
    ~p² vs exact. THE scale path for the north-rule triangle kernel: at
    p=0.1 the 10¹²-edge crawl graph's triangle pass runs on 10¹¹ edges with
    ~1% of the wedge shuffle, at relative error O(1/√(p³·T)).

    Returns {"estimate", "sampled_triangles", "p", "sampled_edges"}.
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    und = _undirected_simple_edges(graph)
    if p < 1.0:
        scale = 1 << 30
        und = und.filter(
            F.pmod(F.xxhash64("u", "v", F.lit(seed)), F.lit(scale))
            < F.lit(int(p * scale))
        )
    # Cut lineage + inherited stats BEFORE rebuilding: without this the
    # sampled graph's every consumer drags the parent graph's full plan and
    # its size estimates through the triangle kernel's join dispatch
    # (measured 166 s -> 3 s on a 158-edge sample of K24).
    sampled_edges = (
        und.select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
    ).localCheckpoint(eager=True)
    sampled = Graph.from_edges(spark=graph.spark, src=sampled_edges)
    m = sampled.edges.count()
    t = triangle_count(sampled)
    return {
        "estimate": t / (p * p * p),
        "sampled_triangles": float(t),
        "p": p,
        "sampled_edges": float(m) / 2.0,  # symmetric table
    }
