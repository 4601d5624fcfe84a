"""Tests of the benchmark's own arithmetic. Run with
``python3 -m pytest perfbench`` from the repository root; no Spark needed."""

from __future__ import annotations

import numpy as np
import pytest

import oracles
from calls import Call, attribute
from metrics import driver_s, interval_union, slot_util, tail_percentile


def test_interval_union_counts_overlap_once():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (2, 4)]) == 3.0
    assert interval_union([(0, 3), (1, 2)]) == 3.0  # nested
    assert interval_union([(2, 5), (0, 3)]) == 5.0  # overlapping, unsorted
    assert interval_union([(0, 1), (1, 2)]) == 2.0  # touching
    assert interval_union([(1, 1), (3, 2)]) == 0.0  # empty and inverted


def test_interval_union_clips_to_window():
    assert interval_union([(0, 10)], clip=(2, 5)) == 3.0
    assert interval_union([(0, 1), (6, 9)], clip=(2, 5)) == 0.0
    assert interval_union([(1, 3), (4, 8)], clip=(2, 6)) == 3.0


def test_driver_s_and_slot_util():
    assert driver_s(5.0, 3.5) == 1.5
    assert driver_s(1.0, 1.2) == 0.0  # clock skew never makes it negative
    assert slot_util(8.0, 4.0, 4) == 0.5
    assert slot_util(1.0, 0.0, 4) == 0.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (100 / 11, 0.0)
    pct, value = tail_percentile(list(range(20))[::-1])
    assert (pct, value) == (50.0, 9.0)
    pct, value = tail_percentile([float(x) for x in range(100)])
    assert (pct, value) == (90.0, 89.0)
    assert sum(1 for x in range(100) if x > value) == 10


def _stage(sid, status, start, end, run_ms=1000, tasks=4):
    return {
        "stageId": sid, "attemptId": 0, "status": status, "numTasks": tasks,
        "submissionTime": start, "completionTime": end, "executorRunTime": run_ms,
        "executorCpuTime": run_ms * 1_000_000 // 2, "jvmGcTime": 10,
        "shuffleWriteBytes": 2_000_000, "shuffleReadBytes": 1_000_000,
        "diskBytesSpilled": 0, "outputBytes": 0, "numFailedTasks": 0,
    }


def test_attribute_by_job_group():
    calls = [
        Call("graph.from_edges", 0, "g0", start=100.0, end=104.0, s=4.0),
        Call("operators.pagerank", 0, "g1", start=104.0, end=110.0, s=6.0),
    ]
    jobs = [
        {"jobId": 0, "jobGroup": "g0", "stageIds": [0], "submissionTime": 100_500, "completionTime": 102_000},
        {"jobId": 1, "jobGroup": "g1", "stageIds": [1, 2], "submissionTime": 105_000, "completionTime": 109_000},
        {"jobId": 2, "jobGroup": "g1", "stageIds": [2, 3], "submissionTime": 108_000, "completionTime": 109_000},
        {"jobId": 3, "jobGroup": None, "stageIds": [4], "submissionTime": 111_000, "completionTime": 112_000},
    ]
    stages = [
        _stage(0, "COMPLETE", 100_500, 102_000),
        _stage(1, "COMPLETE", 105_000, 107_000),
        _stage(2, "COMPLETE", 106_000, 108_500),  # overlaps stage 1, shared by jobs 1 and 2
        {"stageId": 3, "attemptId": 0, "status": "SKIPPED", "numTasks": 4},
        _stage(4, "COMPLETE", 111_000, 112_000),
    ]
    figures, spans, health = attribute(jobs, stages, calls, cores=4, workload_span=(100.0, 110.0))
    build, pr = figures
    assert build["busy_s"] == 1.5 and build["driver_s"] == 2.5
    assert build["jobs"] == 1 and build["stages"] == 1 and build["tasks"] == 4
    # stages 1 and 2 overlap (105-108.5 busy); stage 2 counted once, 3 skipped
    assert pr["busy_s"] == 3.5 and pr["driver_s"] == 2.5
    assert pr["jobs"] == 2 and pr["stages"] == 2 and pr["tasks"] == 8
    assert pr["task_s"] == 2.0 and pr["cpu_s"] == 1.0
    assert pr["shuffle_write_mb"] == 4.0
    assert pr["slot_util"] == pytest.approx(2.0 / (6.0 * 4))
    # job 3 ran outside any call, so it is not an unattributed call job
    assert health == {"dropped": 0, "unfinished": 0, "unattributed_jobs": 0}
    kinds = [s["kind"] for s in spans]
    assert kinds.count("call") == 2 and kinds.count("job") == 3 and kinds.count("stage") == 3
    by_id = {s["id"]: s for s in spans}
    for s in spans[1:]:
        assert by_id[s["parent"]]["kind"] == {"call": "workload", "job": "call", "stage": "job"}[s["kind"]]


def test_attribute_reports_dropped_and_unattributed():
    calls = [Call("operators.pagerank", 0, "g1", start=100.0, end=110.0, s=10.0)]
    jobs = [  # job 1 was evicted; job 2 names a stage the store lacks
        {"jobId": 0, "jobGroup": "g1", "stageIds": [0], "submissionTime": 101_000},
        {"jobId": 2, "jobGroup": None, "stageIds": [5], "submissionTime": 102_000},
    ]
    stages = [_stage(0, "ACTIVE", 101_000, 0)]
    _, _, health = attribute(jobs, stages, calls, cores=4, workload_span=(100.0, 110.0))
    assert health == {"dropped": 2, "unfinished": 1, "unattributed_jobs": 1}


def test_oracles_on_a_small_graph():
    # two triangles sharing an edge, plus a separate edge: {0,1,2,3}, {4,5}
    pairs = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (4, 5)]
    src = np.array([u for u, v in pairs] + [v for u, v in pairs])
    dst = np.array([v for u, v in pairs] + [u for u, v in pairs])
    assert oracles.components(src, dst, 6).tolist() == [0, 0, 0, 0, 4, 4]
    ranks = oracles.pagerank(src, dst, 6, iterations=50)
    assert ranks.sum() == pytest.approx(1.0)
    assert ranks[1] == pytest.approx(ranks[2]) and ranks[4] == pytest.approx(ranks[5])
    # a dangling vertex (2 has no out-edge) keeps the total mass at 1
    ranks = oracles.pagerank(np.array([0, 1]), np.array([1, 2]), 3, iterations=10)
    assert ranks.sum() == pytest.approx(1.0)


def test_crawl_counts_recount_links(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def page(url, *hrefs):
        return url, "".join(f'<a href="{h}">l</a>' for h in hrefs).encode()

    rows = [
        page("a", "b", "c", "b", "a"),  # duplicate link and self-link
        page("b", "c", "zz"),  # link to a missing page
        page("c", "a"),
        page("d"),  # no links: not a vertex
    ]
    pages = tmp_path / "pages"
    pages.mkdir()
    pq.write_table(
        pa.table({"url": [u for u, _ in rows], "html": pa.array([h for _, h in rows], pa.binary())}),
        pages / "part-0.parquet",
    )
    assert oracles.crawl_counts(str(pages), str(tmp_path)) == {
        "n_vertices": 3, "n_edges": 4, "triangles": 1,
    }
