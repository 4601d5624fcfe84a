"""Strongly connected components vs nx.strongly_connected_components."""

import networkx as nx
import pytest

from arkouda_njit_spark import DiGraph
from arkouda_njit_spark.operators import scc_sizes, strongly_connected_components


def _partition(graph):
    label_of = {r["vid"]: r["label"] for r in graph.vertices.collect()}
    comps = {}
    for r in strongly_connected_components(graph).collect():
        comps.setdefault(r["scc"], set()).add(label_of[r["vid"]])
    return set(map(frozenset, comps.values()))


def _nx_partition(nxg):
    return set(map(frozenset, nx.strongly_connected_components(nxg)))


def _check(spark, edges):
    g = DiGraph.from_edges(spark, [u for u, v in edges], [v for u, v in edges])
    nxg = nx.DiGraph(edges)
    nxg.remove_edges_from(nx.selfloop_edges(nxg))
    nxg.remove_nodes_from(list(nx.isolates(nxg)))
    assert _partition(g) == _nx_partition(nxg)


def test_two_cycles_and_bridge(spark):
    _check(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)])


def test_dag_is_all_singletons(spark):
    _check(spark, [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)])


def test_chain_of_cycles(spark):
    edges = []
    for k in range(5):
        b = 10 * k
        edges += [(b, b + 1), (b + 1, b + 2), (b + 2, b)]
        if k:
            edges.append((b - 10, b))  # one-way bridge between cycles
    _check(spark, edges)


def test_random_digraphs(spark):
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(90)})
        edges = [(u, v) for u, v in edges if u != v]
        _check(spark, edges)


def test_bowtie_shape(spark):
    # IN -> giant SCC -> OUT: the classic web structure
    core = [(10, 11), (11, 12), (12, 13), (13, 10)]
    in_part = [(0, 10), (1, 10), (2, 0)]
    out_part = [(12, 20), (20, 21)]
    g = DiGraph.from_edges(
        spark,
        [u for u, v in core + in_part + out_part],
        [v for u, v in core + in_part + out_part],
    )
    sizes = scc_sizes(g).collect()
    assert sizes[0]["size"] == 4  # the giant SCC
    assert all(r["size"] == 1 for r in sizes[1:])
    label_of = {r["vid"]: r["label"] for r in g.vertices.collect()}
    scc_of = {
        label_of[r["vid"]]: r["scc"]
        for r in strongly_connected_components(g).collect()
    }
    assert len({scc_of[v] for v in (10, 11, 12, 13)}) == 1


class TestBowtie:
    @staticmethod
    def _oracle(edges):
        """Pure-nx Broder classification."""
        nxg = nx.DiGraph(edges)
        nxg.remove_edges_from(nx.selfloop_edges(nxg))
        giant = max(nx.strongly_connected_components(nxg), key=lambda s: (len(s), -min(s)))
        fwd = set()
        for s in giant:
            fwd |= nx.descendants(nxg, s)
        fwd |= giant
        rev = set()
        for s in giant:
            rev |= nx.ancestors(nxg, s)
        rev |= giant
        in_set, out_set = rev - giant, fwd - giant
        rest = set(nxg) - fwd - rev
        sub = nxg.subgraph(rest | in_set)
        from_in = set()
        for s in in_set:
            from_in |= nx.descendants(sub, s)
        from_in &= rest
        sub2 = nxg.subgraph(rest | out_set)
        to_out = set()
        for s in out_set:
            to_out |= nx.ancestors(sub2, s)
        to_out &= rest
        regions = {}
        for v in nxg:
            if v in giant:
                regions[v] = "SCC"
            elif v in in_set:
                regions[v] = "IN"
            elif v in out_set:
                regions[v] = "OUT"
            elif v in from_in and v in to_out:
                regions[v] = "TUBE"
            elif v in from_in:
                regions[v] = "TENDRIL_IN"
            elif v in to_out:
                regions[v] = "TENDRIL_OUT"
            else:
                regions[v] = "DISC"
        return regions

    def _check(self, spark, edges):
        from arkouda_njit_spark.operators import bowtie_decomposition

        g = DiGraph.from_edges(spark, [u for u, v in edges], [v for u, v in edges])
        label_of = {r["vid"]: r["label"] for r in g.vertices.collect()}
        got = {
            label_of[r["vid"]]: r["region"]
            for r in bowtie_decomposition(g).collect()
        }
        assert got == self._oracle(edges)

    def test_full_bowtie_fixture(self, spark):
        core = [(10, 11), (11, 12), (12, 13), (13, 10)]
        in_part = [(0, 10), (1, 0)]          # IN chain
        out_part = [(12, 20), (20, 21)]      # OUT chain
        tendril_in = [(0, 30)]               # hangs off IN, never reaches core
        tendril_out = [(31, 20)]             # feeds OUT, unreachable from IN
        tube = [(1, 40), (40, 20)]           # IN -> tube -> OUT, bypasses core
        disc = [(50, 51)]                    # separate island
        self._check(
            spark, core + in_part + out_part + tendril_in + tendril_out + tube + disc
        )

    def test_random_digraphs_bowtie(self, spark):
        import random

        for seed in (5, 6):
            rng = random.Random(seed)
            edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(70)})
            edges = [(u, v) for u, v in edges if u != v]
            self._check(spark, edges)


def test_long_decreasing_chain_of_sccs(spark):
    """A directed path whose vids DECREASE along the chain is the
    worst case for forward max-coloring (one pivot per round without
    shortcutting); pointer jumping must still label every vertex a
    singleton, and nothing may be silently dropped (round-4 ADVICE #2)."""
    n = 120
    src = list(range(n, 1, -1))
    dst = list(range(n - 1, 0, -1))
    g = DiGraph.from_edges(spark, src, dst)
    out = strongly_connected_components(g)
    assert out.count() == g.n_vertices  # every vertex has a row
    assert out.select("scc").distinct().count() == g.n_vertices  # all singletons


def test_exhausted_rounds_raise_instead_of_dropping(spark):
    g = DiGraph.from_edges(spark, [0, 1, 2], [1, 2, 0])
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not assign"):
        strongly_connected_components(g, max_rounds=0)


def test_web_graph_scc_and_bowtie(spark):
    """A web graph (string keys, checkpointed build) through SCC and the
    bow-tie map: its vertex table reaches ``vid`` through the dense rank's
    ``mapInPandas`` while the BFS frontiers reach it through checkpoints."""
    from arkouda_njit_spark.operators import bowtie_decomposition
    from arkouda_njit_spark.sources import build_web_graph, generate_pages

    g = build_web_graph(generate_pages(spark, n_pages=300, links_per_page=4, seed=3))
    edges = [(r["src"], r["dst"]) for r in g.edges.collect()]
    assert _partition(g) == _nx_partition(nx.DiGraph(edges))
    got = {r["vid"]: r["region"] for r in bowtie_decomposition(g).collect()}
    assert got == TestBowtie._oracle(edges)
