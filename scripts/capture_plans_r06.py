"""Capture .explain("formatted") for the r6-touched bench queries.

Runs against the repo root given in $CAPTURE_ROOT (defaults to this
repo), writing plans/r06/<query>_<$CAPTURE_TAG>.txt into THIS repo —
point CAPTURE_ROOT at a round-start worktree with CAPTURE_TAG=before to
capture the pre-optimization plans, then at the live tree with
CAPTURE_TAG=after.

Lineage-truncating checkpoints are patched to identity so the terminal
DataFrame of an iterative kernel shows the real per-iteration plan
(join strategies, exchanges) instead of a flat checkpoint-scan leaf;
iteration counts are reduced to 2 to keep the plans readable.
"""

import os
import sys

ROOT = os.environ.get("CAPTURE_ROOT") or os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
TAG = os.environ.get("CAPTURE_TAG", "after")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
)
os.makedirs(OUT_DIR, exist_ok=True)
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from arkouda_njit_spark.session import get_spark  # noqa: E402

spark = get_spark(master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")

# patch the lineage cut to identity AFTER the package installed its wrapper
# (every kernel checkpoints through DataFrame.localCheckpoint)
try:
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    _CDF.localCheckpoint = lambda self, eager=True: self
except ImportError:
    pass

from arkouda_njit_spark import Graph  # noqa: E402
from arkouda_njit_spark.functions import (  # noqa: E402
    exact_duplicates,
    minhash_near_duplicates,
)
from arkouda_njit_spark.operators import (  # noqa: E402
    connected_components,
    label_propagation,
    pagerank,
)
from arkouda_njit_spark.operators.triangles import _triangle_rows_cached  # noqa: E402
from arkouda_njit_spark.sources import build_web_graph, generate_pages  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def save(df, name):
    path = os.path.join(OUT_DIR, f"{name}_{TAG}.txt")
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # InMemoryRelation bodies repeat the cached child plan per consumer and
    # blow the file up to MBs; keep the first 400 lines — the operator
    # shape, join strategies and exchanges are all near the top.
    lines = txt.splitlines()
    with open(path, "w") as f:
        f.write("\n".join(lines[:400]))
        if len(lines) > 400:
            f.write(f"\n... [{len(lines) - 400} more lines truncated]\n")
    print("wrote", path, flush=True)


li = spark.read.parquet(f"{SF}/lineitem.parquet")
ga = Graph.from_edges(
    spark,
    li.select(
        F.col("l_partkey").alias("src"),
        (F.lit(100000) + F.col("l_suppkey")).alias("dst"),
        F.lit(1.0).alias("weight"),
    ),
)
gb = Graph.from_edges(
    spark,
    li.select(
        F.pmod(F.col("l_orderkey"), F.lit(3001)).alias("src"),
        F.pmod(F.col("l_partkey"), F.lit(3001)).alias("dst"),
        F.lit(1.0).alias("weight"),
    ).filter(F.col("src") != F.col("dst")),
)
ga.n_edges, gb.n_edges

save(ga.edges, "graph_build_edges")
save(pagerank(ga, tol=0.0, max_iterations=2), "pagerank10")
save(connected_components(ga), "connected_components")
save(label_propagation(ga, max_iterations=2), "lpa4")
tri, handles = _triangle_rows_cached(gb)
save(tri, "triangle_count")

docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
    F.length(F.trim("text")) > 0
)
save(exact_duplicates(docs), "exact_dedup")
save(
    minhash_near_duplicates(docs, num_hashes=16, bands=8, threshold=0.7),
    "minhash_near_dup",
)

pages = generate_pages(spark, n_pages=20000, links_per_page=10, seed=42)
wg = build_web_graph(pages)
save(wg.edges, "web_graph_edges")
save(pagerank(wg, tol=0.0, max_iterations=2), "web_pipeline")
spark.stop()
