"""The benchmark's workloads: seeded inputs from the package's own
generators, the timed chain of layer calls, and the per-repetition checks.

Why these two (both run PageRank for ``PR_ITERATIONS`` fixed iterations):

* ``crawl_rank`` starts from raw pages. It stresses ``sources`` (Arrow link
  extraction, the string-keyed build and the dense rank of
  ``plans.partitioning``), the durable, non-unrolled ``plans.FixpointLoop``
  path (PageRank with ``checkpoint_dir`` writes epochs) and the scale-path
  wedge join of ``triangle_count``: the link graph has more edges than
  ``operators.triangles.WEDGE_SHUFFLE_HASH_THRESHOLD`` and quadratic-skew
  hubs. It never calls ``Graph.from_edges`` or connected components.
* ``rmat_fixpoint`` starts from an integer R-MAT edge list. It stresses
  ``graph.from_edges`` and driver-bound iteration: in-memory PageRank with
  unrolled steps, then connected components. Per-iteration overhead shows
  here; it never touches ``sources`` or triangles.
"""

from __future__ import annotations

import shutil

import numpy as np

import oracles

# Five fixed iterations, not ten: one warm-up and one timed repetition of
# either chain must fit in about a minute of run time.
PR_ITERATIONS = 5


class _Workload:
    name: str
    why: str

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir

    @staticmethod
    def _pagerank_check(src, dst, n: int, ranks_df) -> tuple[bool, str]:
        """PageRank against NumPy over the graph's collected edge table."""
        ranks = ranks_df.toPandas().sort_values("vid")
        got = ranks["rank"].to_numpy()
        total = float(got.sum())
        if not np.array_equal(ranks["vid"].to_numpy(), np.arange(n)):
            return False, f"ranks cover {len(ranks)} ids, want 0..{n - 1}"
        if abs(total - 1.0) > 1e-9:
            return False, f"ranks sum to {total!r}"
        want = oracles.pagerank(src, dst, n, PR_ITERATIONS)
        if not np.allclose(got, want, rtol=1e-6, atol=1e-6 / n):
            err = float(np.max(np.abs(got - want)))
            return False, f"max |rank - numpy| = {err:.3g}"
        return True, f"sum {total:.12f}, matches numpy"

    @staticmethod
    def _edges(g):
        edges = g.edges.select("src", "dst").toPandas()
        return edges["src"].to_numpy(), edges["dst"].to_numpy()


class CrawlRank(_Workload):
    name = "crawl_rank"
    why = "raw pages: Arrow link extraction, durable PageRank epochs, wedge-join triangles on skewed hubs"
    # ~160k links: just above the triangle scale-path threshold (150k edges)
    n_pages, warmup_pages = 16_000, 1_000

    def generate(self, seed: int, warmup: bool = False):
        from arkouda_njit_spark.sources import generate_pages

        n = self.warmup_pages if warmup else self.n_pages
        return generate_pages(self.spark, n_pages=n, links_per_page=10, seed=seed)

    def reference(self, input_dir: str) -> dict:
        return oracles.crawl_counts(input_dir, self.workdir)

    def run(self, rec, rep: int, input_dir: str, timeout: float) -> dict:
        from arkouda_njit_spark.operators import pagerank, triangle_count
        from arkouda_njit_spark.sources import build_web_graph

        pages = self.spark.read.parquet(input_dir)
        ckpt = f"{self.workdir}/epochs-{rep}"
        g = rec.call(rep, "sources.build_web_graph", lambda: build_web_graph(pages), timeout)
        ranks = rec.call(
            rep,
            "operators.pagerank",
            lambda: pagerank(g, tol=0.0, max_iterations=PR_ITERATIONS, checkpoint_dir=ckpt),
            timeout,
        )
        tri = rec.call(rep, "operators.triangle_count", lambda: triangle_count(g), timeout)
        return {"graph": g, "ranks": ranks, "triangles": tri, "ckpt": ckpt}

    def check(self, out: dict, ref: dict) -> tuple[list[tuple[str, bool, str]], int]:
        g = out["graph"]
        got = {"n_vertices": g.n_vertices, "n_edges": g.n_edges}
        want = {k: ref[k] for k in got}
        src, dst = self._edges(g)
        pr_ok, pr_msg = self._pagerank_check(src, dst, g.n_vertices, out["ranks"])
        checks = [
            ("sources.build_web_graph", got == want, f"V, E = {got}, DuckDB {want}"),
            ("operators.pagerank", pr_ok, pr_msg),
            ("operators.triangle_count", out["triangles"] == ref["triangles"],
             f"{out['triangles']} triangles, DuckDB {ref['triangles']}"),
        ]
        return checks, len(src)

    def release(self, out: dict) -> None:
        out["graph"].unpersist()
        out["ranks"].unpersist()
        shutil.rmtree(out["ckpt"], ignore_errors=True)


class RmatFixpoint(_Workload):
    name = "rmat_fixpoint"
    why = "integer R-MAT edges: graph build, then in-memory unrolled PageRank and connected components"
    scale, warmup_scale = 13, 8  # ~100k undirected edges

    def generate(self, seed: int, warmup: bool = False):
        from arkouda_njit_spark.sources import rmat_graph

        scale = self.warmup_scale if warmup else self.scale
        return rmat_graph(self.spark, scale=scale, edge_factor=16, seed=seed, permute=True)

    def reference(self, input_dir: str) -> dict:
        return oracles.rmat_counts(input_dir, self.workdir)

    def run(self, rec, rep: int, input_dir: str, timeout: float) -> dict:
        from arkouda_njit_spark import Graph
        from arkouda_njit_spark.operators import connected_components, pagerank

        edges = self.spark.read.parquet(input_dir)
        g = rec.call(rep, "graph.from_edges", lambda: Graph.from_edges(self.spark, edges), timeout)
        ranks = rec.call(
            rep,
            "operators.pagerank",
            lambda: pagerank(g, tol=0.0, max_iterations=PR_ITERATIONS),
            timeout,
        )
        comps = rec.call(rep, "operators.connected_components", lambda: connected_components(g), timeout)
        return {"graph": g, "ranks": ranks, "components": comps}

    def check(self, out: dict, ref: dict) -> tuple[list[tuple[str, bool, str]], int]:
        g = out["graph"]
        got = {"n_vertices": g.n_vertices, "n_edges": g.n_edges}
        src, dst = self._edges(g)
        pr_ok, pr_msg = self._pagerank_check(src, dst, g.n_vertices, out["ranks"])
        want_cc = oracles.components(src, dst, g.n_vertices)
        cc = out["components"].toPandas().sort_values("vid")
        cc_ok = np.array_equal(cc["vid"].to_numpy(), np.arange(g.n_vertices)) and np.array_equal(
            cc["component"].to_numpy(), want_cc
        )
        checks = [
            ("graph.from_edges", got == ref, f"V, E = {got}, DuckDB {ref}"),
            ("operators.pagerank", pr_ok, pr_msg),
            ("operators.connected_components", cc_ok,
             f"{len(np.unique(want_cc))} components, labels "
             + ("match" if cc_ok else "differ from") + " union-find"),
        ]
        return checks, len(src)

    def release(self, out: dict) -> None:
        out["graph"].unpersist()
        out["ranks"].unpersist()
        out["components"].unpersist()


WORKLOADS = {w.name: w for w in (CrawlRank, RmatFixpoint)}

# Every layer call a workload can make, as reported per layer.
CALLS = (
    "sources.build_web_graph",
    "graph.from_edges",
    "operators.pagerank",
    "operators.connected_components",
    "operators.triangle_count",
)
