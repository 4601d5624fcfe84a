"""Graph/DiGraph construction parity — reference class_test.py:74-181."""

import networkx as nx
import pytest

from arkouda_njit_spark import DiGraph, Graph

from fixtures import ALGO28_DST, ALGO28_SRC, ALGO28_WGT, nx_graph


@pytest.fixture(scope="module")
def gs(spark):
    g = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    dg = DiGraph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    nxg = nx_graph(ALGO28_SRC, ALGO28_DST)
    nxdg = nx_graph(ALGO28_SRC, ALGO28_DST, directed=True)
    # reference DiGraph removes self-loops and isolated vertices
    # (class_test.py:63-71).
    nxdg.remove_edges_from(nx.selfloop_edges(nxdg))
    nxdg.remove_nodes_from([v for v, d in nxdg.degree() if d == 0])
    return g, dg, nxg, nxdg


def test_counts_undirected(gs):
    g, _, nxg, _ = gs
    assert (len(g), g.size()) == (len(nxg), nxg.size())


def test_counts_directed(gs):
    _, dg, _, nxdg = gs
    assert (len(dg), dg.size()) == (len(nxdg), nxdg.size())


def test_nodes_and_edge_list(gs):
    g, dg, nxg, nxdg = gs
    assert [r["label"] for r in g.nodes().collect()] == sorted(nxg.nodes())
    # symmetric list counts each edge twice (self-loops dropped by default —
    # graphclass.py:154,199-203)
    assert g.edges.count() == 2 * nxg.size()
    assert dg.edges.count() == nxdg.size()


def test_self_loops_kept_when_flagged(spark):
    """no_self_loops=False: loop stored once, weight doubled by
    symmetrize+sum (reference's False branch, graphclass.py:204-211)."""
    g = Graph.from_edges(
        spark, [1, 1, 2], [2, 1, 2], [1.0, 3.0, 5.0], no_self_loops=False
    )
    labels = {r["label"]: r["vid"] for r in g.vertices.collect()}
    rows = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert (labels[1], labels[1]) in rows  # loop kept, once
    assert rows[(labels[1], labels[1])] == 6.0  # doubled
    assert g.n_edges == 3  # (1,2), (1,1), (2,2)
    # default drops both loops and the loop-only weight
    g2 = Graph.from_edges(spark, [1, 1, 2], [2, 1, 2], [1.0, 3.0, 5.0])
    assert g2.n_edges == 1
    # degree counts a loop twice (nx semantics)
    deg = {r["vid"]: r["degree"] for r in g.degree().collect()}
    assert deg[labels[1]] == 3  # edge to 2 + loop×2


def test_density(gs):
    g, dg, nxg, nxdg = gs
    assert g.density() == pytest.approx(nx.density(nxg))
    assert dg.density() == pytest.approx(nx.density(nxdg))


def test_degree_undirected(gs):
    g, _, nxg, _ = gs
    vid_to_label = {r["vid"]: r["label"] for r in g.vertices.collect()}
    got = {vid_to_label[r["vid"]]: r["degree"] for r in g.degree().collect()}
    assert got == dict(nxg.degree())


def test_degree_directed(gs):
    _, dg, _, nxdg = gs
    vid_to_label = {r["vid"]: r["label"] for r in dg.vertices.collect()}
    got_out = {vid_to_label[r["vid"]]: r["out_degree"] for r in dg.out_degree().collect()}
    got_in = {vid_to_label[r["vid"]]: r["in_degree"] for r in dg.in_degree().collect()}
    assert got_out == dict(nxdg.out_degree())
    assert got_in == dict(nxdg.in_degree())


def test_weight_sum_aggregation(spark):
    # duplicate edges sum weights — graphclass.py:192-196
    g = Graph.from_edges(spark, [1, 1, 2], [2, 2, 3], [1.0, 2.0, 5.0])
    rows = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    labels = {r["label"]: r["vid"] for r in g.vertices.collect()}
    assert rows[(labels[1], labels[2])] == 3.0
    assert rows[(labels[2], labels[3])] == 5.0


def test_dense_remap_ascending(spark):
    g = Graph.from_edges(spark, [100, 7, 50], [7, 50, 100])
    got = sorted((r["vid"], r["label"]) for r in g.vertices.collect())
    assert got == [(0, 7), (1, 50), (2, 100)]


def test_digraph_rejects_keep_self_loops(spark):
    # reference DiGraph unconditionally drops loops; silently accepting the
    # flag would mislead callers
    with pytest.raises(ValueError, match="self-loops"):
        DiGraph.from_edges(spark, [1, 1], [1, 2], no_self_loops=False)


def test_write_iceberg_gated_in_this_image(spark):
    """write_iceberg: works when an Iceberg catalog is configured; raises a
    clear RuntimeError here (no runtime jars in the image)."""
    import pytest as _pytest

    g = Graph.from_edges(spark, [1, 2], [2, 3], num_partitions=2)
    try:
        g.write_iceberg("ice_probe")
    except RuntimeError as e:
        assert "Iceberg" in str(e)
    else:  # jars present: verify round-trip then clean up
        assert spark.table("ice_probe_edges").count() == g.edges.count()
        spark.sql("DROP TABLE IF EXISTS ice_probe_edges")
        spark.sql("DROP TABLE IF EXISTS ice_probe_vertices")


def test_bucketed_table_roundtrip_no_shuffle(spark, tmp_path):
    """write_bucketed/from_table: reloaded graph answers a src-keyed
    aggregation with NO exchange before the partial aggregate (the
    bucketed Double-Index reuse path)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    g = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST, num_partitions=4)
    g.write_bucketed("algo28")
    try:
        g2 = Graph.read_bucketed(spark, "algo28") if hasattr(Graph, "read_bucketed") else Graph.from_table(spark, "algo28")
        assert g2.num_partitions == 4
        assert g2.edges.count() == g.edges.count()
        agg = g2.edges.groupBy("src").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain()
        plan = buf.getvalue()
        # bucketed scan satisfies the aggregation's distribution: no Exchange
        assert "Exchange" not in plan, plan
        # degree results identical to the in-memory graph
        a = sorted(map(tuple, agg.collect()))
        b = sorted(map(tuple, g.edges.groupBy("src").count().collect()))
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS algo28_edges")
        spark.sql("DROP TABLE IF EXISTS algo28_vertices")


def _build_from_edges(spark, tmp_path):
    return Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST, ALGO28_WGT, num_partitions=4)


def _build_digraph_from_edges(spark, tmp_path):
    return DiGraph.from_edges(spark, ALGO28_SRC, ALGO28_DST, ALGO28_WGT, num_partitions=4)


def _pages(spark):
    from arkouda_njit_spark.sources import generate_pages

    return generate_pages(spark, n_pages=60, links_per_page=4, seed=7)


def _build_web_graph(spark, tmp_path):
    from arkouda_njit_spark.sources import build_web_graph

    return build_web_graph(_pages(spark), num_partitions=4)


def _build_host_graph(spark, tmp_path):
    from arkouda_njit_spark.sources.pages import build_host_graph

    return build_host_graph(_pages(spark), num_partitions=4)


def _snapshot_graph(spark, tmp_path):
    from arkouda_njit_spark.streaming import StreamingPageIngestor

    ing = StreamingPageIngestor(spark, str(tmp_path / "state"))
    ing.process_batch(_pages(spark), epoch_id=0)
    return ing.snapshot_graph(num_partitions=4)


def _degree_sort_relabel(spark, tmp_path):
    from arkouda_njit_spark.sources.files import degree_sort_relabel

    source = _build_from_edges(spark, tmp_path)
    g = degree_sort_relabel(source)
    source.unpersist()
    return g


def _graph_read(spark, tmp_path):
    source = _build_from_edges(spark, tmp_path)
    source.write(str(tmp_path / "g"))
    source.unpersist()
    return Graph.read(spark, str(tmp_path / "g"), num_partitions=4)


@pytest.mark.parametrize(
    "build",
    [
        _build_from_edges,
        _build_digraph_from_edges,
        _build_web_graph,
        _build_host_graph,
        _snapshot_graph,
        _degree_sort_relabel,
        _graph_read,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_edge_table_layout(spark, tmp_path, build):
    """Every graph constructor yields the storage contract: edges (src, dst, weight),
    each src in exactly one partition, rows sorted by (src, dst) within
    each partition; the constructors that count their tables keep the counts;
    ``unpersist`` frees everything the build cached."""
    from pyspark.sql import functions as F

    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.cachedData().size()
    g = build(spark, tmp_path)
    assert g.edges.columns == ["src", "dst", "weight"]
    rows = g.edges.select(F.spark_partition_id().alias("pid"), "src", "dst").collect()
    assert rows
    parts: dict[int, list[tuple[int, int]]] = {}
    home: dict[int, int] = {}
    for pid, src, dst in rows:
        parts.setdefault(pid, []).append((src, dst))
        assert home.setdefault(src, pid) == pid, f"src {src} spans partitions"
    assert len(parts) > 1
    for pid, pairs in parts.items():
        assert pairs == sorted(pairs), f"partition {pid} is not sorted by (src, dst)"
    if build is not _graph_read:
        assert g._n_vertices is not None and g._n_edges is not None
        assert g._n_vertices == g.vertices.count()
        n_rows = len(rows) if g.directed else len(rows) // 2
        assert g._n_edges == n_rows
    g.unpersist()
    assert cache.cachedData().size() == cached_before
