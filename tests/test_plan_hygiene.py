"""Plan hygiene: assert the physical plans the engine depends on at scale.

These tests read `.explain` output rather than timing, so they stay green
on any machine: predicate/projection pushdown reaches the parquet scan,
the iterative kernels never re-exchange the cached edge table, and
aggregations are map-side combined (partial aggregate before exchange).
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators.pagerank import pagerank, prepare_pagerank
from arkouda_njit_spark.plans.joins import state_join_side

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_partkey")
    plan = _plan(q)
    assert "PushedFilters" in plan and "l_orderkey" in plan.split("PushedFilters", 1)[1]
    # projection pruning: the scan's ReadSchema carries only the 2 columns
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_partkey" in read_schema
    assert "l_extendedprice" not in read_schema


def _step_exchanges(df) -> list[tuple[str, list[str]]]:
    """(partitioning key, input columns) of every exchange in ``df``'s own
    physical plan. Walks the plan's children only, so the builds of the
    cached tables it scans (inner plans of InMemoryRelation) are not
    counted."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    out, stack = [], [df._jdf.queryExecution().executedPlan().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            key = node.outputPartitioning().expressions().head().name()
            out.append((key, [a.name() for a in seq(node.child().output())]))
        stack.extend(seq(node.children()))
    return out


def test_pagerank_iteration_plan_shape(spark):
    # _step_exchanges walks an adaptive plan, and the asserted shape is
    # the one get_spark's sessions (AQE on) run
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    g = Graph.from_edges(
        spark,
        li.select(
            F.col("l_partkey").alias("src"),
            (F.lit(100000) + F.col("l_suppkey")).alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        num_partitions=8,
    )
    trans, dangling, has_dangling = prepare_pagerank(g)
    n = g.n_vertices
    state = g.vertices.select("vid", F.lit(1.0 / n).alias("rank")).localCheckpoint(
        eager=True
    )
    step = (
        trans.join(state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("vid"), (F.col("p") * F.col("rank")).alias("c"))
        .unionAll(g.vertices.select("vid", F.lit(0.0).alias("c")))
        .groupBy("vid")
        .agg(F.sum("c").alias("c"))
    )
    plan = _plan(step)
    # the checkpointed transition table is scanned as a flat RDD leaf
    # (r6: a localCheckpoint replaced the columnar cache whose per-scan
    # decode dominated the iteration). Per step, the V-sized state side is
    # shuffled on src exactly once and the aggregation on vid exactly once.
    # Known gap: with AQE on, a localCheckpoint records UnknownPartitioning,
    # so the E-sized transition rows (src, dst, p) are also shuffled on src
    # once per step; that exchange must not multiply.
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan
    exchanges = _step_exchanges(step)
    assert sorted(key for key, _ in exchanges) in (
        ["src", "vid"],
        ["src", "src", "vid"],
    ), exchanges
    src_inputs = [cols for key, cols in exchanges if key == "src"]
    assert sum("rank" in cols for cols in src_inputs) == 1, exchanges
    assert all(cols in (["src", "rank"], ["src", "dst", "p"]) for cols in src_inputs), exchanges
    # map-side combine: a partial_sum aggregate exists below the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    trans.unpersist()
    dangling.unpersist()


def test_squares_wedge_plan_no_global_exchange(spark):
    """The CN square counter's plan: every exchange is a hash partitioning
    (no SinglePartition exchange anywhere), and the pair-count aggregation
    is map-side combined before its shuffle."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    g = Graph.from_edges(
        spark,
        li.select(
            F.pmod(F.col("l_orderkey"), F.lit(301)).alias("src"),
            F.pmod(F.col("l_partkey"), F.lit(301)).alias("dst"),
            F.lit(1.0).alias("weight"),
        ).filter(F.col("src") != F.col("dst")),
        num_partitions=8,
    )
    from arkouda_njit_spark.operators.triangles import _undirected_simple_edges

    und = _undirected_simple_edges(g)
    sym = und.select(F.col("u").alias("mid"), F.col("v").alias("end")).unionAll(
        und.select(F.col("v").alias("mid"), F.col("u").alias("end"))
    )
    deg = sym.groupBy("mid").agg(F.count("*").alias("d")).select(
        F.col("mid").alias("vid"), "d"
    )
    adj = (
        sym.join(deg.select(F.col("vid").alias("mid"), F.col("d").alias("dm")), "mid")
        .join(deg.select(F.col("vid").alias("end"), F.col("d").alias("de")), "end")
    )
    w1 = adj.filter(
        (F.col("de") > F.col("dm"))
        | ((F.col("de") == F.col("dm")) & (F.col("end") < F.col("mid")))
    ).select("mid", F.col("end").alias("a"), F.col("de").alias("da"))
    w2 = adj.select("mid", F.col("end").alias("b"), F.col("de").alias("db"))
    counts = (
        w1.join(w2, "mid")
        .filter(
            (F.col("da") > F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    plan = _plan(counts)
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan  # map-side combine below the pair shuffle


def test_jaccard_salted_hot_path_no_single_partition(spark):
    """Hot-middle-salted Jaccard: the full plan (forced onto the salted
    path) contains no SinglePartition exchange — the hub's cross product
    is spread over (mid, salt) keys."""
    from arkouda_njit_spark.operators import jaccard_coefficients

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    g = Graph.from_edges(
        spark,
        li.select(
            F.pmod(F.col("l_orderkey"), F.lit(301)).alias("src"),
            F.pmod(F.col("l_partkey"), F.lit(301)).alias("dst"),
            F.lit(1.0).alias("weight"),
        ).filter(F.col("src") != F.col("dst")),
        num_partitions=8,
    )
    out = jaccard_coefficients(g, hub_threshold=5, salt_buckets=4)
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan


def test_state_join_strategy_dispatch(spark):
    small = spark.range(10).select(F.col("id").alias("vid"), F.lit(1.0).alias("rank"))
    hinted_small = state_join_side(small, n_vertices=10)
    hinted_big = state_join_side(small, n_vertices=10_000_000)
    # hints live in the logical plan string
    assert "broadcast" in hinted_small._jdf.queryExecution().logical().toString().lower()
    assert "shuffle_hash" in hinted_big._jdf.queryExecution().logical().toString().lower()


def test_triangles_subset_plan_is_localized(spark):
    """The subset kernel must restrict wedge pivots to Q ∪ N(Q) BEFORE the
    wedge self-join — a 5-vid query on a web-scale graph must not
    enumerate every triangle (round-3 guarantee)."""
    from pyspark.sql import functions as F

    from arkouda_njit_spark import Graph
    from arkouda_njit_spark.operators.triangles import _triangle_rows_localized

    edges = spark.range(4000).select(
        F.col("id").alias("src"), F.pmod(F.col("id") * 7 + 1, F.lit(997)).alias("dst")
    ).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(spark, edges)
    q = spark.createDataFrame([(1,), (2,)], "vid long")
    tri, handles = _triangle_rows_localized(g, q)
    plan = tri._jdf.queryExecution().optimizedPlan().toString()
    for h in handles:
        h.unpersist()
    # the pivot restriction appears as a LeftSemi join in the optimized plan
    assert "LeftSemi" in plan


def test_tune_pins_aqe_off(spark):
    """__spark_entry__._tune must disable AQE: the adaptive re-planner
    measured 172s vs 14.8s on triangle_centrality by defeating
    cached-exchange reuse (round-3 finding)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "entry_tune_check",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        m._tune(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_subgraph_edge_prefilter_reaches_cached_scan(spark):
    """The per-level subgraph-search edge table must be a pure filter over
    the cached degree-augmented edge table — the degree feasibility bounds
    land on the InMemoryTableScan itself, not above a per-level join
    (round-3 verdict task 5)."""
    from arkouda_njit_spark.graph import DiGraph

    g = DiGraph.from_edges(
        spark, [0, 1, 2, 3, 3, 3], [1, 2, 0, 0, 1, 2]
    )
    E = g.edges.select("src", "dst")
    g_out = E.groupBy("src").count().select(
        F.col("src").alias("vid"), F.col("count").alias("_od")
    )
    g_in = E.groupBy("dst").count().select(
        F.col("dst").alias("vid"), F.col("count").alias("_id")
    )
    degs = (
        g.vertices.select("vid")
        .join(g_out, "vid", "left")
        .join(g_in, "vid", "left")
        .select(
            "vid",
            F.coalesce("_od", F.lit(0)).alias("_od"),
            F.coalesce("_id", F.lit(0)).alias("_id"),
        )
    )
    edeg = (
        E.join(degs.select(F.col("vid").alias("src"), F.col("_od").alias("_s_od"),
                           F.col("_id").alias("_s_id")), "src")
        .join(degs.select(F.col("vid").alias("dst"), F.col("_od").alias("_d_od"),
                          F.col("_id").alias("_d_id")), "dst")
        .persist()
    )
    edeg.count()
    try:
        level = edeg.filter(
            (F.col("_s_od") >= 2) & (F.col("_s_id") >= 1)
            & (F.col("_d_od") >= 1) & (F.col("_d_id") >= 1)
        ).select("src", "dst")
        plan = _plan(level)
        assert "InMemoryTableScan" in plan, plan
        # the filter sits directly on the cached scan: no Exchange/Join
        # between the scan and the result (everything below the
        # InMemoryRelation marker is the cached table's BUILD plan, which
        # legitimately contains the degree joins)
        top = plan.split("InMemoryRelation", 1)[0]
        assert "Exchange" not in top and "Join" not in top, top
        # simple-mode explain carries the predicate inline on the Filter
        # node sitting on the scan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            level.explain()
        simple_top = buf.getvalue().split("InMemoryRelation", 1)[0]
        assert "_s_od" in simple_top, simple_top
    finally:
        edeg.unpersist()


def test_subgraph_dispatch_shape(spark, monkeypatch):
    """Round-4 dispatch contract: with the extension threshold forced to 0
    and the constraint ceiling high, the level plan must contain a
    ShuffledHashJoin for the extension and BroadcastHashJoin LeftSemi for
    the remaining constraint — the shape that keeps the wedge fan-out
    streaming instead of materialized to shuffle files."""
    import importlib

    # the operators package re-exports a FUNCTION named subgraph_search,
    # which shadows the module on `import ... as`; go through importlib
    sgs = importlib.import_module("arkouda_njit_spark.operators.subgraph_search")
    from arkouda_njit_spark import DiGraph

    src = [0, 1, 2, 3, 3, 4, 4, 0]
    dst = [1, 2, 0, 0, 1, 2, 3, 4]
    g = DiGraph.from_edges(spark, src, dst)
    monkeypatch.setattr(sgs, "SUBGRAPH_BROADCAST_ROWS", 0)
    monkeypatch.setattr(sgs, "SUBGRAPH_SEMI_BROADCAST_ROWS", 10**9)
    # level states are localCheckpointed (flat plans) before return — spy on
    # localCheckpoint to capture each level's physical plan pre-materialization
    from pyspark.sql.classic.dataframe import DataFrame  # Spark 4 runtime class

    captured = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        captured.append(_plan(self))
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    emb = sgs.subgraph_search(g, [(0, 1), (1, 2), (2, 0)], induced=False)
    level_plans = [pl for pl in captured if "HashJoin" in pl]
    assert level_plans, "no join-bearing level plans captured"
    joined = "\n".join(level_plans)
    assert "ShuffledHashJoin" in joined, joined
    assert "BroadcastHashJoin" in joined and "LeftSemi" in joined, joined
    # and the count is still right (directed 3-cycles x 3 rotations)
    import networkx as nx

    want = sum(
        1
        for _ in nx.algorithms.isomorphism.DiGraphMatcher(
            nx.DiGraph(list(zip(src, dst))), nx.DiGraph([(0, 1), (1, 2), (2, 0)])
        ).subgraph_monomorphisms_iter()
    )
    assert emb.count() == want


def test_repetition_signals_single_stage_no_exchange(spark):
    """Within-doc repetition signals are pure column expressions: the whole
    computation must stay in one codegen stage — any Exchange here would
    mean a per-doc metric somehow shuffles the corpus."""
    from arkouda_njit_spark.functions import repetition_signals

    docs = spark.createDataFrame(
        [(i, f"line a\nline a\nword{i} " * 3) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan, plan


def test_anchor_term_counts_combine_map_side(spark):
    """anchor_text_table's scale claim: (target, term) counts partial-
    aggregate BEFORE the exchange, so a popular page's in-anchor fan-in
    collapses map-side and no reducer sees the raw rows; the top-k window
    then runs over the aggregated counts only (one extra exchange on
    target), never over raw anchors."""
    from arkouda_njit_spark.sources import anchor_text_table

    pages = spark.createDataFrame(
        [
            (f"https://s{i}.example/p", b'<a href="https://t.example/x">w</a>')
            for i in range(30)
        ],
        "url string, html binary",
    )
    import re

    plan = _plan(anchor_text_table(pages, k=5))
    assert "partial_count" in plan  # map-side combine exists
    # tree prints root-first: final agg ABOVE the exchange ABOVE the
    # partial agg = the combine happens before rows move
    # (?:\* )? — whole-stage-codegen star appears when a prior test in
    # the shared session ran with AQE off; the shape assert is the same
    assert re.search(
        r"HashAggregate[^\n]*\n\s*\+- (?:\* )?Exchange[^\n]*\n\s*"
        r"\+- (?:\* )?HashAggregate",
        plan,
    ), plan
    # Spark 4 pushes the rank<=k filter below the window exchange too
    assert "WindowGroupLimit" in plan
    assert "Exchange SinglePartition" not in plan


def test_crawl_frontier_no_global_sort(spark):
    """crawl_frontier's batch selection must not sort the frontier in one
    partition: the politeness rank plans as WindowGroupLimit (per-map-task
    per-host cap before the exchange) and the global top-k plans as
    TakeOrderedAndProject (per-partition heaps), never a SinglePartition
    sort of the capped set."""
    from arkouda_njit_spark.sources import crawl_frontier

    pages = spark.createDataFrame(
        [
            (
                f"https://s{i}.example/p",
                f'<a href="https://t{i % 7}.example/x{i}">w</a>'.encode(),
            )
            for i in range(40)
        ],
        "url string, html binary",
    )
    plan = _plan(crawl_frontier(pages, k=5, per_host=2))
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
