"""Connected components — golden assert from algorithm_test.py:272-285
plus NetworkX equivalence on algo28."""

import importlib

import networkx as nx
import pytest

from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import component_sizes, connected_components

from fixtures import ALGO28_DST, ALGO28_SRC, CC17_DST, CC17_SRC, nx_graph


def test_cc_golden(spark):
    graph = Graph.from_edges(spark, CC17_SRC, CC17_DST)
    comps = connected_components(graph)
    sizes = {r["component"]: r["size"] for r in component_sizes(comps).collect()}
    # reference: component labels = min internal vid, sizes [7,3,3]
    assert sizes == {0: 7, 7: 3, 10: 3}


@pytest.mark.parametrize("regime", ["broadcast", "shuffle"])
def test_cc_vs_networkx(spark, monkeypatch, regime):
    if regime == "shuffle":
        # the jump join's shuffle branch: no graph is above the threshold
        cc_module = importlib.import_module(
            "arkouda_njit_spark.operators.connected_components"
        )
        monkeypatch.setattr(cc_module, "BROADCAST_MAX_VERTICES", 0)
    graph = Graph.from_edges(spark, ALGO28_SRC, ALGO28_DST)
    nxg = nx_graph(ALGO28_SRC, ALGO28_DST)
    comps = connected_components(graph)
    vid_to_label = {r["vid"]: r["label"] for r in graph.vertices.collect()}
    got = {}
    for r in comps.collect():
        got.setdefault(r["component"], set()).add(vid_to_label[r["vid"]])
    ours = sorted(tuple(sorted(s)) for s in got.values())
    theirs = sorted(tuple(sorted(c)) for c in nx.connected_components(nxg))
    assert ours == theirs


def test_cc_unconverged_in_memory_run_raises(spark):
    # a 40-vertex path needs more than 2 rounds; half-merged labels are
    # a wrong answer, so an in-memory run that hits the cap must raise
    graph = Graph.from_edges(spark, list(range(39)), list(range(1, 40)))
    with pytest.raises(RuntimeError):
        connected_components(graph, max_iterations=2)


def test_cc_resume(spark, tmp_path):
    """Kill-and-resume: run 1 epoch, then resume from checkpoint dir."""
    graph = Graph.from_edges(spark, CC17_SRC, CC17_DST)
    ckpt = str(tmp_path / "cc_ckpt")
    # First run writes epochs; limit iterations to simulate a kill.
    connected_components(graph, checkpoint_dir=ckpt, max_iterations=1)
    # Resumed run completes from the persisted epoch.
    comps = connected_components(graph, checkpoint_dir=ckpt)
    sizes = {r["component"]: r["size"] for r in component_sizes(comps).collect()}
    assert sizes == {0: 7, 7: 3, 10: 3}
    import json
    import os

    assert os.path.exists(os.path.join(ckpt, "metrics.json"))
    # pre-kill metrics survive the resume (the resumed process reloads
    # metrics.json before its first epoch write instead of clobbering it)
    with open(os.path.join(ckpt, "metrics.json")) as f:
        metrics = json.load(f)
    iters = [m["iteration"] for m in metrics]
    assert 0 in iters and max(iters) > 0 and iters == sorted(iters)
    # every epoch written carries the state's per-partition row counts;
    # iterations not written as epochs carry none
    epochs = {int(e.split("=", 1)[1]) for e in os.listdir(ckpt) if e.startswith("epoch=")}
    assert epochs and epochs <= set(iters)
    for m in metrics:
        if m["iteration"] in epochs:
            assert sum(m["partition_rows"].values()) == graph.n_vertices, m
        else:
            assert m["partition_rows"] == {}, m
