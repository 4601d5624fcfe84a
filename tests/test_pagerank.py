"""PageRank vs networkx.pagerank (allclose 1e-6 — north rule)."""

import os

import networkx as nx
import pytest

from arkouda_njit_spark import DiGraph, Graph
from arkouda_njit_spark.operators import pagerank

from fixtures import ALGO28_DST, ALGO28_SRC, ALGO28_WGT, nx_graph, python_pagerank


def _compare(graph, nxg, weight=None):
    ranks = {r["vid"]: r["rank"] for r in pagerank(graph, weight=weight).collect()}
    vid_to_label = {r["vid"]: r["label"] for r in graph.vertices.collect()}
    expected = python_pagerank(nxg, alpha=0.85, tol=1e-6, weight=weight)
    for vid, rank in ranks.items():
        assert rank == pytest.approx(expected[vid_to_label[vid]], abs=1e-6)


def test_pagerank_undirected(spark):
    graph = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    _compare(graph, nx_graph(ALGO28_SRC, ALGO28_DST))


def test_pagerank_directed_with_dangling(spark):
    graph = DiGraph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    nxg = nx_graph(ALGO28_SRC, ALGO28_DST, directed=True)
    nxg.remove_edges_from(nx.selfloop_edges(nxg))
    nxg.remove_nodes_from([v for v, d in nxg.degree() if d == 0])
    _compare(graph, nxg)


def test_pagerank_weighted(spark):
    # distinct edges only (nx overwrites duplicate weights; we sum) — use a
    # clean weighted triangle+tail
    src = [0, 1, 2, 2]
    dst = [1, 2, 0, 3]
    wgt = [1.0, 2.0, 3.0, 4.0]
    graph = Graph.from_edges(spark, src, dst, wgt)
    _compare(graph, nx_graph(src, dst, wgt), weight="weight")


def test_pagerank_resume_fixed_iterations(spark, tmp_path):
    """A fixed-iteration run stopped after 3 steps and resumed to 6 equals
    an uninterrupted 6-step run: the final epoch is labelled with the last
    completed iteration, so the resumed run neither skips nor repeats one."""
    graph = DiGraph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    ckpt = str(tmp_path / "pr_ckpt")

    def ranks(**kw):
        return {r["vid"]: r["rank"] for r in pagerank(graph, tol=0.0, **kw).collect()}

    ranks(max_iterations=3, checkpoint_dir=ckpt)
    assert sorted(e for e in os.listdir(ckpt) if e.startswith("epoch=")) == [
        "epoch=0",
        "epoch=2",
    ]
    resumed = ranks(max_iterations=6, checkpoint_dir=ckpt)
    straight = ranks(max_iterations=6)
    assert resumed.keys() == straight.keys()
    for vid, rank in straight.items():
        assert resumed[vid] == pytest.approx(rank, abs=1e-12, rel=0)


class TestPersonalizedPagerank:
    @staticmethod
    def _python_ppr(nxg, pers, alpha=0.85, max_iter=200, tol=1e-12, weight=None):
        nodes = list(nxg.nodes())
        total = sum(pers.values())
        t = {v: pers.get(v, 0.0) / total for v in nodes}
        x = dict(t)
        outw = {}
        for v in nodes:
            nbrs = nxg.succ[v] if nxg.is_directed() else nxg.adj[v]
            outw[v] = sum((d.get(weight, 1) if weight else 1) for d in nbrs.values())
        for _ in range(max_iter):
            nxt = {v: 0.0 for v in nodes}
            dangle = sum(x[v] for v in nodes if outw[v] == 0)
            for u in nodes:
                if outw[u] == 0:
                    continue
                nbrs = nxg.succ[u] if nxg.is_directed() else nxg.adj[u]
                for v, d in nbrs.items():
                    w = d.get(weight, 1) if weight else 1
                    nxt[v] += alpha * x[u] * w / outw[u]
            for v in nodes:
                nxt[v] += (1 - alpha) * t[v] + alpha * dangle * t[v]
            if sum(abs(nxt[v] - x[v]) for v in nodes) < tol:
                return nxt
            x = nxt
        return x

    def _check(self, spark, edges, pers, directed=True):
        import networkx as nx

        from arkouda_njit_spark import DiGraph, Graph
        from arkouda_njit_spark.operators import personalized_pagerank

        cls = DiGraph if directed else Graph
        g = cls.from_edges(spark, [u for u, v in edges], [v for u, v in edges])
        nxg = (nx.DiGraph if directed else nx.Graph)(edges)
        nxg.remove_edges_from(nx.selfloop_edges(nxg))
        label_of = {r["vid"]: r["label"] for r in g.vertices.collect()}
        got = {
            label_of[r["vid"]]: r["rank"]
            for r in personalized_pagerank(g, pers, tol=1e-12, max_iterations=200).collect()
        }
        want = self._python_ppr(nxg, pers)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-8, (v, got[v], want[v])
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_single_seed_directed(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]  # 4 is dangling
        self._check(spark, edges, {0: 1.0})

    def test_multi_seed_weighted_teleport(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (3, 0), (1, 3), (4, 1)]
        self._check(spark, edges, {0: 3.0, 3: 1.0})

    def test_undirected(self, spark):
        edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
        self._check(spark, edges, {2: 1.0}, directed=False)

    def test_unknown_seed_label_raises(self, spark):
        from arkouda_njit_spark import DiGraph
        from arkouda_njit_spark.operators import personalized_pagerank

        g = DiGraph.from_edges(spark, [0, 1], [1, 0])
        with pytest.raises(ValueError, match="labels not in the graph"):
            personalized_pagerank(g, {99: 1.0}).collect()


class TestWarmStartPagerank:
    """init_ranks: the incremental re-crawl path. The fixpoint is unique, so
    a warm start changes only the iteration count, never the answer."""

    def test_same_answer_as_cold(self, spark):
        graph = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
        cold = {r["vid"]: r["rank"] for r in pagerank(graph).collect()}
        # warm-start from a deliberately wrong (uniform-ish but perturbed)
        # vector: must land on the same fixpoint
        init = graph.vertices.selectExpr("vid", "1.0 + vid % 3 as rank")
        warm = {r["vid"]: r["rank"] for r in pagerank(graph, init_ranks=init).collect()}
        for vid, r in cold.items():
            assert warm[vid] == pytest.approx(r, abs=1e-5)

    def test_converges_faster_after_small_delta(self, spark):
        # snapshot A -> solve; snapshot B = A plus one extra edge;
        # warm-started B converges within a budget that cold start misses
        src_b, dst_b = ALGO28_SRC + [0], ALGO28_DST + [9]
        ga = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
        gb = Graph.from_edges(spark, src_b, dst_b)
        ranks_a = pagerank(ga)
        # map A's ranks onto B's vids via the shared original labels
        a_by_label = ranks_a.join(ga.vertices, "vid").selectExpr("label", "rank as rank_a")
        init_b = gb.vertices.join(a_by_label, "label").selectExpr("vid", "rank_a as rank")

        import networkx as nx

        expected = python_pagerank(nx_graph(src_b, dst_b), alpha=0.85, tol=1e-6)
        vid_to_label = {r["vid"]: r["label"] for r in gb.vertices.collect()}

        budget = 12
        warm = {r["vid"]: r["rank"]
                for r in pagerank(gb, init_ranks=init_b, max_iterations=budget).collect()}
        cold = {r["vid"]: r["rank"]
                for r in pagerank(gb, max_iterations=budget).collect()}
        warm_err = max(abs(warm[v] - expected[vid_to_label[v]]) for v in warm)
        cold_err = max(abs(cold[v] - expected[vid_to_label[v]]) for v in cold)
        # one extra edge on a 28-edge graph is a LARGE relative delta, so
        # the warm start isn't instant — but at the same budget it must be
        # well ahead of cold (here: ~3e-5 vs ~2e-4 max abs error)
        assert warm_err < cold_err / 3
        assert warm_err <= 1e-4

    def test_new_vertices_get_uniform_mass(self, spark):
        graph = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
        # init covers only half the vertices; the rest default to 1/n and
        # the vector renormalizes — result still the unique fixpoint
        partial = graph.vertices.filter("vid % 2 = 0").selectExpr("vid", "0.01 as rank")
        got = {r["vid"]: r["rank"] for r in pagerank(graph, init_ranks=partial).collect()}
        expected = python_pagerank(nx_graph(ALGO28_SRC, ALGO28_DST), alpha=0.85, tol=1e-6)
        vid_to_label = {r["vid"]: r["label"] for r in graph.vertices.collect()}
        for vid, r in got.items():
            assert r == pytest.approx(expected[vid_to_label[vid]], abs=1e-5)
