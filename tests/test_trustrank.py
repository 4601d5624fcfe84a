"""TrustRank / spam mass vs networkx and the mass-estimation identity."""

import networkx as nx
import pytest

from arkouda_njit_spark import DiGraph
from arkouda_njit_spark.operators import spam_mass, trustrank

# a small web: trusted core {0,1,2} interlinked, an honest page 3
# linked from the core, and a spam farm {10..14} -> 9 boosting page 9
# with no link from the trusted side
WEB = [
    (0, 1), (1, 2), (2, 0), (0, 3), (3, 1),
    (10, 9), (11, 9), (12, 9), (13, 9), (14, 9),
    (9, 10), (9, 11),
]
TRUSTED = [0, 1, 2]


def _digraph(spark, edges):
    g = DiGraph.from_edges(spark, [u for u, _ in edges], [v for _, v in edges])
    label_of = {r["vid"]: r["label"] for r in g.vertices.collect()}
    return g, label_of


def _python_ppr(nxg, pers, alpha=0.85, max_iter=200, tol=1e-12):
    """nx.pagerank(personalization=...) semantics without scipy (the
    container has none): power iteration with dangling mass restarting
    at the seeds."""
    nodes = list(nxg.nodes())
    total = sum(pers.values())
    t = {v: pers.get(v, 0.0) / total for v in nodes}
    x = dict(t)
    for _ in range(max_iter):
        nxt = {v: 0.0 for v in nodes}
        dangle = sum(x[v] for v in nodes if nxg.out_degree(v) == 0)
        for u in nodes:
            od = nxg.out_degree(u)
            for v in nxg.succ[u]:
                nxt[v] += alpha * x[u] / od
        for v in nodes:
            nxt[v] += (1 - alpha) * t[v] + alpha * dangle * t[v]
        if sum(abs(nxt[v] - x[v]) for v in nodes) < tol:
            return nxt
        x = nxt
    return x


def test_trustrank_matches_nx_personalized(spark):
    g, label_of = _digraph(spark, WEB)
    got = {
        label_of[r["vid"]]: r["trust"]
        for r in trustrank(g, TRUSTED, tol=1e-12, max_iterations=200).collect()
    }
    nxg = nx.DiGraph(WEB)
    want = _python_ppr(nxg, {v: 1.0 for v in TRUSTED})
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v


def test_trustrank_zero_beyond_the_core_reach(spark):
    g, label_of = _digraph(spark, WEB)
    got = {label_of[r["vid"]]: r["trust"] for r in trustrank(g, TRUSTED).collect()}
    # the spam cluster is unreachable from the trusted core: exactly 0
    for v in (9, 10, 11, 12, 13, 14):
        assert got[v] == 0.0, v
    assert got[3] > 0.0


def test_spam_mass_flags_the_farm(spark):
    g, label_of = _digraph(spark, WEB)
    rows = {label_of[r["vid"]]: r for r in spam_mass(g, TRUSTED).collect()}
    # mass identity: mass = rank - (|W|/n)*trust, rel = mass/rank
    n = len(rows)
    for v, r in rows.items():
        assert r["mass"] == pytest.approx(
            r["rank"] - (len(TRUSTED) / n) * r["trust"], abs=1e-12
        ), v
        if r["rank"] > 0:
            assert r["rel_mass"] == pytest.approx(r["mass"] / r["rank"], abs=1e-12)
    # every page in the spam cluster draws ALL its rank from untrusted
    # teleports: relative mass exactly 1
    for v in (9, 10, 11, 12, 13, 14):
        assert rows[v]["rel_mass"] == pytest.approx(1.0, abs=1e-9), v
    # the trusted core itself is mostly accounted for by trust flow
    for v in TRUSTED:
        assert rows[v]["rel_mass"] < 0.9, v
    # and the boosted page outranks every trusted page yet is pure spam mass
    assert rows[9]["rank"] > max(rows[v]["rank"] for v in TRUSTED)


def test_spam_mass_durable_equals_in_memory(spark, tmp_path):
    # the PageRank and TrustRank loops must not share epochs: a shared
    # directory resumed TrustRank from the PageRank vector
    g, _ = _digraph(spark, WEB)
    mem = {r["vid"]: r for r in spam_mass(g, TRUSTED).collect()}
    dur = {
        r["vid"]: r
        for r in spam_mass(g, TRUSTED, checkpoint_dir=str(tmp_path)).collect()
    }
    assert dur.keys() == mem.keys()
    for v, r in mem.items():
        for c in ("rank", "trust", "mass", "rel_mass"):
            assert dur[v][c] == pytest.approx(r[c], abs=1e-12), (v, c)


def test_trustrank_rejects_empty_seed_set(spark):
    g, _ = _digraph(spark, WEB)
    with pytest.raises(ValueError):
        trustrank(g, [])
    with pytest.raises(ValueError):
        spam_mass(g, [])
