"""Edge-list file readers: Matrix Market (.mtx) and TSV.

Reference: ``read_matrix_market_file`` (client methods.py:32-88, server
BuildGraphMsg.chpl:198-298) and ``read_tsv_file`` (methods.py:90-144,
distributed block reader BuildGraph.chpl:28-81).

Spark-first: both are one ``spark.read.csv`` — the distributed block read
the reference hand-rolls in Chapel is Spark's native splittable text scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import DiGraph, Graph


def read_matrix_market_file(
    spark: SparkSession,
    path: str,
    directed: bool = False,
    only_edges: bool = False,
    comment_header: str = "%",
):
    """Parse a Matrix Market edge list (optionally weighted).

    The header line after comments is ``rows cols nnz`` and is dropped by
    filtering on the known dimensions row (the reference reads it to size
    arrays; we let the scan stay schema-on-read).
    """
    raw = spark.read.text(path).filter(~F.col("value").startswith(comment_header))
    parts = F.split(F.trim(F.col("value")), r"\s+")
    parsed = raw.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        F.when(F.size(parts) > 2, parts.getItem(2).cast("double"))
        .otherwise(F.lit(1.0))
        .alias("weight"),
        F.size(parts).alias("_nf"),
        F.monotonically_increasing_id().alias("_rowid"),
    )
    # Drop the dimensions line: it is the first non-comment row.
    first_id = parsed.agg(F.min("_rowid")).collect()[0][0]
    with_nf = parsed.filter(F.col("_rowid") != first_id).drop("_rowid")
    # a third data column marks a weighted matrix — the reference auto-sets
    # weighted=True for 'coordinate real' files (methods.py:70-76)
    max_nf = with_nf.agg(F.max("_nf")).collect()[0][0] or 2
    edges = with_nf.drop("_nf")
    if only_edges:
        return edges
    cls = DiGraph if directed else Graph
    return cls.from_edges(spark, edges, weighted=max_nf > 2)


def read_tsv_file(
    spark: SparkSession,
    path: str,
    directed: bool = False,
    weighted: bool = False,
    only_edges: bool = False,
):
    """Whitespace/tab-delimited edge list (reference methods.py:90-144)."""
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0).filter(
        ~F.col("value").startswith("#")
    )
    parts = F.split(F.trim(F.col("value")), r"\s+")
    edges = raw.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        (
            F.when(F.size(parts) > 2, parts.getItem(2).cast("double")).otherwise(F.lit(1.0))
            if weighted
            else F.lit(1.0)
        ).alias("weight"),
    )
    if only_edges:
        return edges
    cls = DiGraph if directed else Graph
    return cls.from_edges(spark, edges, weighted=weighted)


def write_cluster_file(df: DataFrame, path: str) -> None:
    """WCC-style sink: (vertex, cluster) TSV lines —
    WellConnectedComponents.chpl:244-299."""
    df.select(
        F.concat_ws("\t", F.col(df.columns[0]), F.col(df.columns[1])).alias("value")
    ).write.mode("overwrite").text(path)


def read_cluster_file(spark: SparkSession, path: str) -> DataFrame:
    """WCC cluster reader: ``node\\tcluster`` lines →
    (node long, cluster long) — WellConnectedComponents.chpl:99-135."""
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(
            parts.getItem(0).cast("long").alias("node"),
            parts.getItem(1).cast("long").alias("cluster"),
        )
    )


# ---------------------------------------------------------------------------
# legacy dev-tree reader/writer + relabelings (graph_file_read / ToNDE)
# ---------------------------------------------------------------------------


def read_graph_file(
    spark: SparkSession,
    path: str,
    directed: bool = False,
    weighted: bool | None = None,
    degree_sort: bool = False,
    rcm: bool = False,
    only_edges: bool = False,
):
    """Legacy dev-tree edge-list reader: whitespace-separated
    ``src dst [weight]`` rows (client
    arachne_development/client/arachne_development/graph.py:1379-1421,
    server GraphMsg.chpl:segGraphFileMsg:2804+).

    Flag mapping, Spark-first:
      * ``RemapFlag`` (dense relabel of oversized vertex ids) is what
        ``Graph._build`` ALWAYS does — no separate flag needed;
      * ``DegreeSortFlag`` → ``degree_sort=True``: relabel so smaller vids
        have smaller degree (ties by original label);
      * ``RCMFlag`` → ``rcm=True``: reverse Cuthill–McKee relabel, the
        level-set parallel formulation (see :func:`rcm_relabel`);
      * ``WriteFlag`` → call :func:`write_graph_file` explicitly;
      * ``Ne/Nv/Ncol`` sizing arguments are schema-on-read here —
        ``weighted=None`` sniffs the third column like the .mtx reader.
    """
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0).filter(
        ~F.col("value").startswith("#") & ~F.col("value").startswith("%")
    )
    parts = F.split(F.trim(F.col("value")), r"\s+")
    with_nf = raw.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
        F.when(F.size(parts) > 2, parts.getItem(2).cast("double"))
        .otherwise(F.lit(1.0))
        .alias("weight"),
        F.size(parts).alias("_nf"),
    )
    if weighted is None:
        weighted = (with_nf.agg(F.max("_nf")).collect()[0][0] or 2) > 2
    edges = with_nf.drop("_nf")
    if only_edges:
        return edges
    cls = DiGraph if directed else Graph
    g = cls.from_edges(spark, edges, weighted=weighted)
    if degree_sort:
        g = degree_sort_relabel(g)
    if rcm:
        g = rcm_relabel(g)
    return g


def write_graph_file(graph, path: str) -> None:
    """NDE-style sink: one ``src dst [weight]`` text line per canonical edge
    in ORIGINAL labels (segmentedGraphToNDE, GraphMsg.chpl:2320-2797; the
    reference likewise exports the post-processing edge list)."""
    e = graph.edge_list()
    if not graph.directed:
        # the canonical table is symmetric; export each undirected edge once
        e = e.filter(F.col("src_label") <= F.col("dst_label"))
    cols = [F.col("src_label"), F.col("dst_label")]
    if graph.weighted:
        cols.append(F.col("weight"))
    e.select(F.concat_ws(" ", *cols).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def _apply_relabel(graph, mapping: DataFrame):
    """Rebuild a Graph with vids permuted by ``mapping`` (vid, new): edges
    remapped and laid out by Graph._build's own helpers, vertices carry the
    ORIGINAL labels under their new vids."""
    from ..graph import _layout, _remap

    P = graph.num_partitions
    new_edges = _layout(_remap(graph.edges, mapping, "vid", "new", graph.n_vertices), P)
    new_vertices = (
        graph.vertices.join(mapping.select("vid", "new"), "vid")
        .select(F.col("new").alias("vid"), "label")
        .repartition(P, "vid")
    )
    return type(graph)(
        new_edges,
        new_vertices,
        weighted=graph.weighted,
        num_partitions=P,
        n_vertices=graph.n_vertices,
        n_edges=graph._n_edges,
    )


def degree_sort_relabel(graph):
    """DegreeSortFlag: new vids ascend by (degree, original label) — the
    reference's degree-sorted remap (GraphMsg.chpl degree-sort branch)."""
    from ..plans.partitioning import dense_rank_ids

    deg = graph.degree().join(graph.vertices, "vid")  # (vid, degree, label)
    keyed = deg.select(
        F.struct(
            F.col("degree").alias("d"), F.col("label").alias("l"), F.col("vid").alias("v")
        ).alias("k")
    )
    ranked, _ = dense_rank_ids(keyed, "k", graph.num_partitions, out_col="new")
    return _apply_relabel(
        graph, ranked.select(F.col("k.v").alias("vid"), "new")
    )


def rcm_relabel(graph, start: int | None = None):
    """RCMFlag: reverse Cuthill–McKee relabel, level-set formulation.

    Classic serial RCM orders a BFS queue whose neighbors are visited in
    degree order; the standard parallel variant (level-set RCM) orders by
    (BFS level, degree, label) and reverses — same bandwidth-reduction
    intent, deterministic, and expressible as one multi-source BFS plus a
    dense rank instead of a sequential queue. Start vertex: the classic
    min-degree heuristic (ties by label), or ``start`` (a vid). Vertices
    unreachable from the start component are appended after, in
    (degree, label) order, then the whole order is reversed.
    """
    from ..operators.bfs import multi_source_bfs
    from ..plans.partitioning import dense_rank_ids

    spark = graph.spark
    deg = graph.degree().select("vid", "degree").persist()
    if start is None:
        start = (
            deg.orderBy("degree", "vid").limit(1).collect()[0]["vid"]
        )
    roots = spark.createDataFrame([(0, int(start))], "root long, vid long")
    depths = multi_source_bfs(graph.edges.select("src", "dst"), roots).select(
        "vid", "depth"
    )
    n = graph.n_vertices
    keyed = (
        deg.join(depths, "vid", "left")
        .join(graph.vertices, "vid")
        .select(
            F.struct(
                F.coalesce("depth", F.lit(2**31)).alias("lvl"),
                F.col("degree").alias("d"),
                F.col("label").alias("l"),
                F.col("vid").alias("v"),
            ).alias("k")
        )
    )
    cm, _ = dense_rank_ids(keyed, "k", graph.num_partitions, out_col="cm")
    deg.unpersist()
    return _apply_relabel(
        graph,
        cm.select(
            F.col("k.v").alias("vid"), (F.lit(n - 1) - F.col("cm")).alias("new")
        ),
    )
