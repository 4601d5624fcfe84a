"""Reference answers computed without the package: NumPy power iteration,
a Python union-find and DuckDB SQL over the materialized parquet inputs.
They run after the timed region, so their cost is never measured."""

from __future__ import annotations

import duckdb
import numpy as np

# The href pattern of ``sources.extract_links``; DuckDB re-extracts links
# from the raw html so the crawl counts do not trust the package's parser.
HREF_RE = r'<a\s+href="([^"]+)"'


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, iterations: int, alpha: float = 0.85) -> np.ndarray:
    """Fixed-iteration power iteration on unit-weight edges, with dangling
    mass spread uniformly: the semantics of ``operators.pagerank`` with
    ``tol=0``."""
    out_deg = np.bincount(src, minlength=n).astype(float)
    dangling = out_deg == 0
    share = np.zeros(n)
    share[~dangling] = 1.0 / out_deg[~dangling]
    x = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.bincount(dst, weights=x[src] * share[src], minlength=n)
        x = (1.0 - alpha) / n + alpha * (contrib + x[dangling].sum() / n)
    return x


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Component label per vertex: the smallest vertex id in its component."""
    parent = list(range(n))

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for u, v in zip(src.tolist(), dst.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller id as the root, so the root is the label
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return np.array([find(v) for v in range(n)], dtype=np.int64)


def _connect(workdir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{workdir}'")
    con.execute("SET threads = 2")
    return con


_TRIANGLES = """
SELECT count(*) FROM und a
JOIN und b ON a.v = b.u
JOIN und c ON c.u = a.u AND c.v = b.v
"""


def crawl_counts(pages_dir: str, workdir: str) -> dict[str, int]:
    """Vertex, edge and triangle counts of the url link graph, recounted
    from the pages parquet: links to existing pages, self-links dropped,
    duplicates merged; triangles over the undirected simple pairs."""
    con = _connect(workdir)
    try:
        con.execute(
            f"""
            CREATE TEMP TABLE e AS
            WITH pages AS (
                SELECT url, decode(html) AS h FROM read_parquet('{pages_dir}/*.parquet')
            ),
            links AS (
                SELECT url, unnest(regexp_extract_all(h, '{HREF_RE}', 1)) AS href FROM pages
            )
            SELECT DISTINCT url, href FROM links
            WHERE url <> href AND href IN (SELECT url FROM pages)
            """
        )
        con.execute(
            "CREATE TEMP TABLE und AS SELECT DISTINCT least(url, href) AS u, "
            "greatest(url, href) AS v FROM e"
        )
        n_edges = con.execute("SELECT count(*) FROM e").fetchone()[0]
        n_vertices = con.execute(
            "SELECT count(*) FROM (SELECT url FROM e UNION SELECT href FROM e)"
        ).fetchone()[0]
        triangles = con.execute(_TRIANGLES).fetchone()[0]
    finally:
        con.close()
    return {"n_vertices": n_vertices, "n_edges": n_edges, "triangles": triangles}


def rmat_counts(edges_dir: str, workdir: str) -> dict[str, int]:
    """Vertex and edge counts of the undirected simple graph over the RMAT
    edge parquet: self-loops dropped, both orientations merged."""
    con = _connect(workdir)
    try:
        con.execute(
            f"""
            CREATE TEMP TABLE und AS
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM read_parquet('{edges_dir}/*.parquet') WHERE src <> dst
            """
        )
        n_edges = con.execute("SELECT count(*) FROM und").fetchone()[0]
        n_vertices = con.execute(
            "SELECT count(*) FROM (SELECT u FROM und UNION SELECT v FROM und)"
        ).fetchone()[0]
    finally:
        con.close()
    return {"n_vertices": n_vertices, "n_edges": n_edges}
