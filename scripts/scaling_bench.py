"""Two-parallelism scaling benchmark (BASELINE.md in-sandbox protocol).

Runs the identical job on the identical (deterministic, hash-seeded) input
at local[N] and local[4N] in separate JVMs and reports throughput at both,

    scaling_efficiency = (throughput_4N / throughput_N) / 4,

and per-partition row-balance evidence. Two jobs:

  * ``pagerank``  — steady-state power iterations over an RMAT graph
    (shuffle-bound: on a single box this measures the memory-bandwidth
    ceiling, since all N threads share one memory bus — the honest
    single-node analogue of network-bound cluster scaling);
  * ``minhash``   — MinHash signatures over a synthetic document corpus
    (CPU-bound: md5 over exploded shingles; shows the engine's scaling
    when the work is compute-limited, as most of the 100 TB text
    pipeline is).

Results for every (job, N) run are merged into BENCH_SCALING.json.

Usage:
  python scripts/scaling_bench.py [N] [job]     # default N=8, job=all
Env: SPARK_GRAFT_SCALING_ITERS, SPARK_GRAFT_SCALING_RMAT_SCALE (default 21),
     SPARK_GRAFT_SCALING_DOCS (default 400000), SPARK_GRAFT_DRIVER_MEM.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PR_ITERS = int(os.environ.get("SPARK_GRAFT_SCALING_ITERS", "10"))
RMAT_SCALE = int(os.environ.get("SPARK_GRAFT_SCALING_RMAT_SCALE", "21"))
RMAT_EF = int(os.environ.get("SPARK_GRAFT_SCALING_RMAT_EF", "16"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "400000"))

PAGERANK_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators.pagerank import pagerank, prepare_pagerank
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(rmat_scale)d, edge_factor=%(rmat_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
prep = prepare_pagerank(g)
pagerank(g, tol=0.0, max_iterations=1, prepared=prep)  # warmup (JIT)
t0 = time.time()
pr = pagerank(g, tol=0.0, max_iterations=%(iters)d, prepared=prep)
wall = time.time() - t0
rows = pr.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges * %(iters)d,
                  "throughput": edges * %(iters)d / wall,
                  "iters_per_hour": %(iters)d / wall * 3600,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""

MINHASH_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import minhash_signatures

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_docs)d
words = F.transform(F.sequence(F.lit(0), F.lit(39)),
                    lambda i: F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                                         F.lit(":"), i.cast("string"))), 1, 6))
docs = spark.range(n).select(F.col("id").alias("doc_id"),
                             F.array_join(words, " ").alias("text")).persist()
docs.count()
# warmup on a slice (JIT)
minhash_signatures(docs.limit(20000), num_hashes=8).count()
t0 = time.time()
sigs = minhash_signatures(docs, num_hashes=8)
cnt = sigs.count()
wall = time.time() - t0
rows = sigs.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": cnt,
                  "throughput": cnt / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


WALKS_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import random_walks
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(w_scale)d, edge_factor=%(w_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
small = Graph.from_edges(spark, rmat_graph(spark, scale=12, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
random_walks(small, walk_length=4).count()  # JIT warmup
L = %(w_len)d
t0 = time.time()
walks = random_walks(g, walk_length=L, walks_per_vertex=%(w_per)d, seed=1)
steps = walks.agg(F.sum(F.size("path") - 1).alias("s")).collect()[0]["s"]
wall = time.time() - t0
rows = walks.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(steps),
                  "throughput": steps / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


SKIPGRAM_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import random_walks
from arkouda_njit_spark.functions.embeddings import train_skipgram
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(sgm_scale)d, edge_factor=%(sgm_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
# corpus is built once OUTSIDE the timed window — the job measures the
# trainer (pair construction + SGD + delta reduce), not the walk kernel
walks = random_walks(g, walk_length=%(sgm_len)d, walks_per_vertex=1, seed=1)
walks = walks.repartition(cpus, "walk_id").localCheckpoint(eager=True)
small = Graph.from_edges(spark, rmat_graph(spark, scale=11, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
train_skipgram(random_walks(small, walk_length=4), dim=8, epochs=1,
               num_partitions=cpus)  # JIT/Arrow warmup
t0 = time.time()
model = train_skipgram(walks, dim=%(sgm_dim)d, window=4, negatives=5,
                       epochs=%(sgm_epochs)d, seed=9, num_partitions=cpus)
wall = time.time() - t0
pairs = sum(m.pairs for m in model.metrics)
rows = walks.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(pairs),
                  "throughput": pairs / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


NODE2VEC_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import node2vec_walks
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(w_scale)d, edge_factor=%(w_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
small = Graph.from_edges(spark, rmat_graph(spark, scale=12, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
node2vec_walks(small, walk_length=4, p=2.0, q=0.5).count()  # JIT warmup
L = %(w_len)d
t0 = time.time()
walks = node2vec_walks(g, walk_length=L, walks_per_vertex=%(w_per)d,
                       p=2.0, q=0.5, seed=1)
steps = walks.agg(F.sum(F.size("path") - 1).alias("s")).collect()[0]["s"]
wall = time.time() - t0
rows = walks.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(steps),
                  "throughput": steps / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


SCC_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.operators import scc_sizes
from arkouda_njit_spark.sources.pages import build_web_graph, generate_pages

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_pages)d
g = build_web_graph(generate_pages(spark, n_pages=n, links_per_page=8, seed=42))
edges = g.edges.count()
small = build_web_graph(generate_pages(spark, n_pages=3000, links_per_page=6, seed=7))
scc_sizes(small).collect()  # JIT warmup
t0 = time.time()
sizes = scc_sizes(g).collect()
wall = time.time() - t0
assert sum(r["size"] for r in sizes) == g.n_vertices
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "n_sccs": len(sizes), "giant": sizes[0]["size"],
                  "partition_rows": {}}))
spark.stop()
"""


KCORE_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import k_core
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(kc_scale)d, edge_factor=%(kc_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=13, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
k_core(small, %(kc_k)d).count()  # JIT warmup on a small graph
t0 = time.time()
core = k_core(g, %(kc_k)d)
n_core = core.count()
wall = time.time() - t0
rows = core.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "core_vertices": n_core,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


HYPERBALL_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import hyperball
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(hb_scale)d, edge_factor=%(hb_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=13, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
hyperball(small, log2m=%(hb_log2m)d).balls.count()  # JIT warmup
t0 = time.time()
res = hyperball(g, log2m=%(hb_log2m)d)
wall = time.time() - t0
# one "unit" = one edge relaxed in one round (every round scans all edges)
units = edges * res.rounds
rows = res.balls.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": units,
                  "throughput": units / wall, "iters_per_hour": None,
                  "rounds": res.rounds, "nf_final": res.nf[-1][1],
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


PARADEDUP_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import paragraph_dedup

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_docs)d
# 6 paragraphs/doc: two drawn from small corpus-wide pools (heavy repeats,
# the boilerplate a real crawl carries), four unique to the document
pool = lambda k, m: F.md5(F.pmod(F.xxhash64(F.col("id"), F.lit(k)), F.lit(m)).cast("string"))
uniq = lambda k: F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + str(k))))
paras = F.array(pool(1, 1000), uniq(1), uniq(2), pool(2, 500), uniq(3), uniq(4))
docs = spark.range(n).select(F.col("id").alias("doc_id"),
                             F.array_join(paras, "\n\n").alias("text")).persist()
docs.count()
paragraph_dedup(docs.limit(20000)).agg(F.sum("n_paras_removed")).collect()  # JIT warmup
t0 = time.time()
out = paragraph_dedup(docs)
removed = out.agg(F.sum("n_paras_removed").alias("rm"), F.count("*").alias("n")).collect()[0]
wall = time.time() - t0
assert removed["n"] == n
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n,
                  "throughput": n / wall, "iters_per_hour": None,
                  "paras_removed": removed["rm"],
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


WEBPIPE_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.operators.pagerank import pagerank
from arkouda_njit_spark.sources.pages import build_web_graph, generate_pages

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_pages)d
pages = generate_pages(spark, n_pages=n, links_per_page=10, seed=42).persist()
pages.count()  # materialize the input so the timing covers the PIPELINE
# warmup slice (JIT the Arrow extraction path)
build_web_graph(pages.limit(5000)).edges.count()
t0 = time.time()
wg = build_web_graph(pages)   # Arrow link extraction + canonical build
pr = pagerank(wg, tol=0.0, max_iterations=5)
pr.count()
wall = time.time() - t0
rows = pr.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n,
                  "throughput": n / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


CC_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import connected_components
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(rmat_scale)d, edge_factor=%(rmat_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
connected_components(g)  # warmup (JIT)
t0 = time.time()
cc = connected_components(g)
n_comp = cc.select("component").distinct().count()
wall = time.time() - t0
rows = cc.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "n_components": n_comp,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""

LPA_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import label_propagation
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(rmat_scale)d, edge_factor=%(rmat_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
iters = 4
label_propagation(g, max_iterations=1)  # warmup (JIT)
t0 = time.time()
lp = label_propagation(g, max_iterations=iters)
lp.count()
wall = time.time() - t0
rows = lp.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges * iters,
                  "throughput": edges * iters / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""

TRIANGLES_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import triangle_count
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(tri_scale)d, edge_factor=%(tri_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# warmup (JIT + codegen) on a small graph, like the cc/lpa workers
warm = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                        .withColumn("weight", F.lit(1.0)))
triangle_count(warm)
t0 = time.time()
n_tri = triangle_count(g)
wall = time.time() - t0
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "n_triangles": n_tri,
                  "partition_rows": {}}))
spark.stop()
"""


KTRUSS_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import k_truss
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(kt_scale)d, edge_factor=%(kt_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# warmup (JIT the support-computation + peel joins) on a small graph
warm = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                        .withColumn("weight", F.lit(1.0)))
k_truss(warm, 5).count()
t0 = time.time()
kt = k_truss(g, 5)
n_kept = kt.count()
wall = time.time() - t0
rows = kt.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "n_truss_edges": n_kept,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""

TRIADS_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import DiGraph
from arkouda_njit_spark.operators import triadic_census
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(tc_scale)d, edge_factor=%(tc_ef)d, seed=42)
g = DiGraph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# warmup (JIT the dyad/triangle enumeration joins)
warm = DiGraph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                          .withColumn("weight", F.lit(1.0)))
triadic_census(warm).collect()
t0 = time.time()
census = {r[0]: r[1] for r in triadic_census(g).collect()}
wall = time.time() - t0
# census output is 16 rows; partition balance evidence comes from the
# edge table the enumeration joins consume
rows = g.edges.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "census_300": census.get("300"),
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


WCC_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.operators import well_connected_components

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
K = %(n_clusters)d   # clusters, each = two S-cliques + one bridge
S = %(clique)d
# clique edges: vertices b*2S..b*2S+2S-1; cliques [0,S) and [S,2S) per block
v = spark.range(K * 2 * S).select(
    F.col("id").alias("a"),
    (F.col("id") / (2 * S)).cast("long").alias("blk"),
    F.pmod(F.col("id"), F.lit(2 * S)).alias("off"),
)
w = v.select(F.col("a").alias("b"), F.col("blk"), F.col("off").alias("off2"))
cliq = (
    v.join(w, "blk")
    .filter((F.col("a") < F.col("b"))
            & (F.floor(F.col("off") / S) == F.floor(F.col("off2") / S)))
    .select(F.col("a").alias("src"), F.col("b").alias("dst"))
)
bridges = spark.range(K).select(
    (F.col("id") * 2 * S).alias("src"), (F.col("id") * 2 * S + S).alias("dst")
)
edges = cliq.unionAll(bridges).persist()
n_edges = edges.count()
clustering = spark.range(K * 2 * S).select(
    F.col("id").alias("node"), (F.col("id") / (2 * S)).cast("long").alias("cluster")
)
# warmup (JIT the CC + grouped-map Stoer-Wagner path) on a slice
well_connected_components(edges.filter(F.col("src") < 4 * S),
                          clustering.filter(F.col("node") < 4 * S)).count()
t0 = time.time()
out = well_connected_components(edges, clustering)
n_out = out.count()
n_clusters_out = out.select("cluster").distinct().count()
wall = time.time() - t0
assert n_clusters_out == 2 * K, (n_clusters_out, 2 * K)  # every bridge cut
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n_edges,
                  "throughput": n_edges / wall, "iters_per_hour": None,
                  "clusters_in": K, "clusters_out": n_clusters_out,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


SUBGRAPH_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import DiGraph
from arkouda_njit_spark.operators.subgraph_search import subgraph_search
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(sg_scale)d, edge_factor=%(sg_ef)d, seed=42)
g = DiGraph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# pattern: directed 3-cycle (non-induced) — the reference demo pattern
warm = DiGraph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                          .withColumn("weight", F.lit(1.0)))
subgraph_search(warm, [(0, 1), (1, 2), (2, 0)], induced=False).count()
t0 = time.time()
emb = subgraph_search(g, [(0, 1), (1, 2), (2, 0)], induced=False)
n = emb.count()
wall = time.time() - t0
rows = emb.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": edges,
                  "throughput": edges / wall, "iters_per_hour": None,
                  "n_embeddings": n,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


def run_at(worker: str, cpus: int, params: dict) -> dict:
    code = worker % params
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus)],
        capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


LOUVAIN_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import louvain_communities
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(lv_scale)d, edge_factor=%(lv_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
louvain_communities(small, max_levels=1, max_sweeps=2)  # JIT warmup
# fixed sweep budget: the damped sweeps are deterministic, so both
# parallelism levels execute the identical sequence of join/agg jobs
t0 = time.time()
comm = louvain_communities(g, max_levels=%(lv_levels)d, max_sweeps=%(lv_sweeps)d)
n = comm.count()
wall = time.time() - t0
rows = comm.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(edges),
                  "throughput": edges / wall, "iters_per_hour": None,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


SALSA_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.graph import DiGraph
from arkouda_njit_spark.operators import salsa
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(sa_scale)d, edge_factor=%(sa_ef)d, seed=42)
g = DiGraph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = DiGraph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                           .withColumn("weight", F.lit(1.0)))
salsa(small, max_iterations=2)  # JIT warmup
t0 = time.time()
out = salsa(g, max_iterations=%(sa_iters)d, tol=0.0)
n = out.count()
wall = time.time() - t0
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall,
                  "units": int(edges) * %(sa_iters)d,
                  "throughput": edges * %(sa_iters)d / wall,
                  "iters_per_hour": %(sa_iters)d / wall * 3600.0,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


BM25_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import bm25_batch, term_postings

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_docs)d
# deterministic 40-word docs over a ~16.8M-token vocab of md5 prefixes;
# the query batch draws terms the same way so matches are guaranteed
words = F.transform(F.sequence(F.lit(0), F.lit(39)),
                    lambda i: F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                                         F.lit(":"), i.cast("string"))), 1, 6))
docs = spark.range(n).select(F.col("id").alias("doc_id"),
                             F.array_join(words, " ").alias("text")).persist()
docs.count()
qt = spark.range(64).select(
    (F.col("id") %% 16).cast("int").alias("query_id"),
    F.substring(F.md5(F.concat((F.col("id") * 97 %% n).cast("string"),
                               F.lit(":"), (F.col("id") %% 40).cast("string"))), 1, 6)
     .alias("term"))
bm25_batch(docs.limit(20000), qt).count()  # JIT warmup
t0 = time.time()
scores = bm25_batch(docs, qt)
cnt = scores.count()
wall = time.time() - t0
rows = scores.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n,
                  "throughput": n / wall, "iters_per_hour": None,
                  "matched_pairs": cnt,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


SKETCH_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import distance_sketch
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(ds_scale)d, edge_factor=%(ds_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
distance_sketch(small, num_sets=3).count()  # JIT warmup
t0 = time.time()
sk = distance_sketch(g, num_sets=%(ds_sets)d, seed=1)
n = sk.count()
wall = time.time() - t0
rows = sk.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(edges),
                  "throughput": edges / wall, "iters_per_hour": None,
                  "sketch_rows": n,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


MST_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.graph import Graph
from arkouda_njit_spark.operators import minimum_spanning_forest
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(mst_scale)d, edge_factor=%(mst_ef)d, seed=42)
# deterministic pseudo-random weights from the edge identity
weighted = raw.withColumn(
    "weight", (F.pmod(F.xxhash64("src", "dst"), F.lit(100000)) + 1).cast("double"))
g = Graph.from_edges(spark, weighted)
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
minimum_spanning_forest(small)  # JIT warmup
t0 = time.time()
msf = minimum_spanning_forest(g)
n = msf.count()
wall = time.time() - t0
rows = msf.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(edges),
                  "throughput": edges / wall, "iters_per_hour": None,
                  "msf_edges": n,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


LINKPRED_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.graph import Graph
from arkouda_njit_spark.operators import link_prediction
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(lp_scale)d, edge_factor=%(lp_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# candidates = the distinct edge pairs themselves (the "score my existing
# links" workload, the documented 100 TB path: cand >< adj >< adj)
cand = g.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
link_prediction(small).count()  # JIT warmup
t0 = time.time()
out = link_prediction(g, candidates=cand)
n = out.count()
wall = time.time() - t0
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(edges),
                  "throughput": edges / wall, "iters_per_hour": None,
                  "scored_pairs": n,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


PPRMC_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.graph import Graph
from arkouda_njit_spark.operators.pagerank import ppr_montecarlo
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(pm_scale)d, edge_factor=%(pm_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
# deterministic source panel: the %(pm_sources)d lowest vids (hubs + fringe mix
# is irrelevant to the plan shape — every source shares the same joins)
labels = [r["label"] for r in g.vertices.orderBy("vid").limit(%(pm_sources)d).collect()]
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
sl = small.vertices.orderBy("vid").limit(2).collect()
ppr_montecarlo(small, [r["label"] for r in sl], walks_per_source=50,
               max_steps=10).count()  # JIT warmup
t0 = time.time()
out = ppr_montecarlo(g, labels, walks_per_source=%(pm_walks)d,
                     max_steps=%(pm_steps)d, seed=42)
n = out.count()
wall = time.time() - t0
walks = len(labels) * %(pm_walks)d
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": walks,
                  "throughput": walks / wall, "iters_per_hour": None,
                  "nonzero_entries": n,
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


DOULION_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.graph import Graph
from arkouda_njit_spark.operators import triangle_count, approx_triangle_count
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(dl_scale)d, edge_factor=%(dl_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count()
small = Graph.from_edges(spark, rmat_graph(spark, scale=10, edge_factor=4, seed=7)
                         .withColumn("weight", F.lit(1.0)))
triangle_count(small)  # JIT warmup
t0 = time.time()
exact = triangle_count(g)
wall_exact = time.time() - t0
t0 = time.time()
est = approx_triangle_count(g, p=%(dl_p)f, seed=42)
wall = time.time() - t0
rel_err = abs(est["estimate"] - exact) / exact if exact else 0.0
# throughput = full-graph edges over the APPROX wall (the sampling pass
# scans every edge once; the wedge work runs on the p-sample)
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(edges),
                  "throughput": edges / wall, "iters_per_hour": None,
                  "exact_triangles": int(exact), "estimate": est["estimate"],
                  "rel_err": rel_err, "wall_exact_sec": wall_exact,
                  "sampled_edges": est["sampled_edges"],
                  "partition_rows": {"0": int(est["sampled_edges"])}}))
spark.stop()
"""


MAINCONTENT_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import extract_main_content

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_pages)d
# realistic page shape: nav + link sidebar (boilerplate the classifier
# must reject) around two stopword-rich article paragraphs carrying a
# per-page unique token (so no two pages are byte-identical)
uniq = lambda k: F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + str(k))))
sent = ("the committee said on tuesday that it would review all of the "
        "evidence before making any decision about the proposal because "
        "the matter was far from settled and many of those involved were "
        "still waiting for more information about ")
html = F.concat(
    F.lit('<html><body><nav><a href="/">Home</a> <a href="/t">Tags</a> '
          '<a href="/c">Contact</a></nav><div>'),
    F.lit('<a href="/p1">related story one</a> <a href="/p2">related story two</a>'
          '</div><h1>Report '), uniq(0), F.lit('</h1><p>'),
    F.lit(sent), uniq(1), F.lit(' to be released.</p><p>'),
    F.lit(sent), uniq(2), F.lit(' in the coming weeks.</p>'),
    F.lit('<footer><a href="/tos">Terms</a> <a href="/priv">Privacy</a>'
          '</footer></body></html>'),
).cast("binary")
pages = spark.range(n).select(
    F.concat(F.lit("http://ex.com/p"), F.col("id").cast("string")).alias("url"),
    html.alias("html"),
).persist()
pages.count()
extract_main_content(pages.limit(20000)).agg(F.sum("n_good")).collect()  # JIT warmup
t0 = time.time()
out = extract_main_content(pages)
stats = out.agg(F.sum("n_good").alias("g"), F.count("*").alias("n"),
                F.sum(F.length("text")).alias("chars")).collect()[0]
wall = time.time() - t0
assert stats["n"] == n and stats["g"] >= 3 * n  # h1 + 2 paras per page
rows = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n,
                  "throughput": n / wall, "iters_per_hour": None,
                  "good_blocks": stats["g"], "chars": stats["chars"],
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""

BPE_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import train_bpe, word_frequencies

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(n_docs)d
# zipf-ish shared vocabulary so merges have real signal: word index is a
# product of two small hashes (skewed low), word text an md5-derived 8-char
# string — deterministic, no RNG
def word(k):
    h1 = F.pmod(F.hash(F.col("id"), F.lit(k), F.lit("a")), F.lit(64))
    h2 = F.pmod(F.hash(F.col("id"), F.lit(k), F.lit("b")), F.lit(64))
    return F.substring(F.md5((h1 * h2).cast("string")), 1, 8)
docs = spark.range(n).select(
    F.col("id").alias("doc_id"),
    F.array_join(F.array(*[word(k) for k in range(60)]), " ").alias("text"),
).persist()
docs.count()
train_bpe(docs.limit(20000), 3)  # JIT warmup
t0 = time.time()
merges = train_bpe(docs, %(n_merges)d)
wall = time.time() - t0
assert len(merges) == %(n_merges)d
rows = (word_frequencies(docs).groupBy(F.spark_partition_id().alias("pid"))
        .count().collect())
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": n,
                  "throughput": n / wall, "iters_per_hour": None,
                  "n_merges": len(merges),
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


LDGPART_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark import Graph
from arkouda_njit_spark.operators import balanced_partition, edge_cut
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(lp_scale)d, edge_factor=%(lp_ef)d, seed=42)
g = Graph.from_edges(spark, raw.withColumn("weight", F.lit(1.0)))
edges = g.edges.count() // 2
blocks = %(lp_blocks)d
small = Graph.from_edges(spark, raw.limit(20000).withColumn("weight", F.lit(1.0)))
balanced_partition(small, blocks, max_passes=1)  # JIT warmup
t0 = time.time()
assign = balanced_partition(g, blocks, max_passes=%(lp_passes)d, slack=1.1)
n_assigned = assign.count()
wall = time.time() - t0
assert n_assigned == g.n_vertices
hash_assign = g.vertices.select(
    "vid", F.pmod(F.col("vid"), F.lit(blocks)).cast("int").alias("block"))
cut0 = edge_cut(g, hash_assign, col="block")
cut1 = edge_cut(g, assign, col="block")
rows = assign.groupBy("block").count().collect()
# units: edge traversals (E per pass) — each pass scores every edge once
print(json.dumps({"cpus": cpus, "wall_sec": wall,
                  "units": int(edges * %(lp_passes)d),
                  "throughput": edges * %(lp_passes)d / wall,
                  "iters_per_hour": 3600.0 / (wall / %(lp_passes)d),
                  "cut_hash": cut0, "cut_ldg": cut1,
                  "cut_reduction": 1.0 - cut1 / cut0 if cut0 else 0.0,
                  "partition_rows": {str(r["block"]): r["count"] for r in rows}}))
spark.stop()
"""


STREAMCC_WORKER = r"""
import json, sys, tempfile, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.streaming import StreamingConnectedComponents
from arkouda_njit_spark.sources.generators import rmat_graph

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
raw = rmat_graph(spark, scale=%(scc_scale)d, edge_factor=%(scc_ef)d, seed=42).persist()
n_edges = raw.count()
# UNTIMED: seed the state with the first half of the stream
half = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
sink = StreamingConnectedComponents(spark, tempfile.mkdtemp())
sink.process_batch(raw.filter(half == 0), epoch_id=0)
sink.process_batch(raw.filter(half == 0).limit(50000), epoch_id=1)  # JIT warmup (no-op-ish)
# TIMED: fold the second half — fresh vertices + cross-component merges
batch = raw.filter(half == 1).localCheckpoint(eager=True)
b_edges = batch.count()
t0 = time.time()
merges = sink.process_batch(batch, epoch_id=2)
wall = time.time() - t0
rows = (sink.labels().groupBy(F.spark_partition_id().alias("pid"))
        .count().collect())
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(b_edges),
                  "throughput": b_edges / wall, "iters_per_hour": None,
                  "merges": merges, "state_vertices": sink.labels().count(),
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


LOGREG_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from arkouda_njit_spark.session import get_spark
from arkouda_njit_spark.functions import train_logistic

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = %(lr_rows)d
def u(k):
    return (F.pmod(F.xxhash64(F.col("id"), F.lit(k)), F.lit(1 << 20))
            / float(1 << 20))
df = (spark.range(n)
      .select(*[(u(k) * 2 - 1).alias(f"f{k}") for k in range(8)],
              ((u(99) < 1.0 / (1.0 + F.exp(-(F.lit(1.5) * (u(0) * 2 - 1)
               - F.lit(2.0) * (u(1) * 2 - 1))))).cast("double")).alias("label"))
      .persist())
df.count()
feats = [f"f{k}" for k in range(8)]
train_logistic(df.limit(50000), feats, iterations=2)  # JIT warmup
t0 = time.time()
model = train_logistic(df, feats, iterations=6, tol=0.0)
wall = time.time() - t0
rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
units = n * model["iterations"]
print(json.dumps({"cpus": cpus, "wall_sec": wall, "units": int(units),
                  "throughput": units / wall,
                  "iters_per_hour": 3600.0 / (wall / model["iterations"]),
                  "partition_rows": {str(r["pid"]): r["count"] for r in rows}}))
spark.stop()
"""


JOBS = {
    "logreg": (
        LOGREG_WORKER,
        {"repo": REPO,
         "lr_rows": int(os.environ.get("SPARK_GRAFT_SCALING_LR_ROWS", "8000000"))},
        f"logreg8f_{os.environ.get('SPARK_GRAFT_SCALING_LR_ROWS', '8000000')}rows",
        "row_visits_per_sec",
    ),
    "streamcc": (
        STREAMCC_WORKER,
        {"repo": REPO,
         "scc_scale": int(os.environ.get("SPARK_GRAFT_SCALING_STREAMCC_SCALE", "20")),
         "scc_ef": int(os.environ.get("SPARK_GRAFT_SCALING_STREAMCC_EF", "8"))},
        f"streamcc_rmat{os.environ.get('SPARK_GRAFT_SCALING_STREAMCC_SCALE', '20')}",
        "edges_per_sec",
    ),
    "ldgpart": (
        LDGPART_WORKER,
        {"repo": REPO,
         "lp_scale": int(os.environ.get("SPARK_GRAFT_SCALING_LP_SCALE", "18")),
         "lp_ef": int(os.environ.get("SPARK_GRAFT_SCALING_LP_EF", "8")),
         "lp_blocks": int(os.environ.get("SPARK_GRAFT_SCALING_LP_BLOCKS", "32")),
         "lp_passes": int(os.environ.get("SPARK_GRAFT_SCALING_LP_PASSES", "4"))},
        f"ldgpart_rmat{os.environ.get('SPARK_GRAFT_SCALING_LP_SCALE', '18')}"
        f"_b{os.environ.get('SPARK_GRAFT_SCALING_LP_BLOCKS', '32')}",
        "edge_visits_per_sec",
    ),
    "bpe": (
        BPE_WORKER,
        {"repo": REPO,
         "n_docs": int(os.environ.get("SPARK_GRAFT_SCALING_BPE_DOCS", "400000")),
         "n_merges": int(os.environ.get("SPARK_GRAFT_SCALING_BPE_MERGES", "30"))},
        f"bpe{os.environ.get('SPARK_GRAFT_SCALING_BPE_MERGES', '30')}merges_"
        f"{os.environ.get('SPARK_GRAFT_SCALING_BPE_DOCS', '400000')}docs",
        "docs_per_sec",
    ),
    "maincontent": (
        MAINCONTENT_WORKER,
        {"repo": REPO,
         "n_pages": int(os.environ.get("SPARK_GRAFT_SCALING_MC_PAGES", "1500000"))},
        f"maincontent_{os.environ.get('SPARK_GRAFT_SCALING_MC_PAGES', '1500000')}pages",
        "pages_per_sec",
    ),
    "skipgram": (
        SKIPGRAM_WORKER,
        {
            "repo": REPO,
            "sgm_scale": int(os.environ.get("SPARK_GRAFT_SCALING_SGM_SCALE", "17")),
            "sgm_ef": int(os.environ.get("SPARK_GRAFT_SCALING_SGM_EF", "8")),
            "sgm_len": int(os.environ.get("SPARK_GRAFT_SCALING_SGM_LEN", "10")),
            "sgm_dim": int(os.environ.get("SPARK_GRAFT_SCALING_SGM_DIM", "32")),
            "sgm_epochs": int(os.environ.get("SPARK_GRAFT_SCALING_SGM_EPOCHS", "2")),
        },
        f"skipgram_rmat{os.environ.get('SPARK_GRAFT_SCALING_SGM_SCALE', '17')}"
        f"_d{os.environ.get('SPARK_GRAFT_SCALING_SGM_DIM', '32')}"
        f"_len{os.environ.get('SPARK_GRAFT_SCALING_SGM_LEN', '10')}",
        "pairs_per_sec",
    ),
    "pprmc": (
        PPRMC_WORKER,
        {
            "repo": REPO,
            "pm_scale": int(os.environ.get("SPARK_GRAFT_SCALING_PM_SCALE", "19")),
            "pm_ef": int(os.environ.get("SPARK_GRAFT_SCALING_PM_EF", "8")),
            "pm_sources": int(os.environ.get("SPARK_GRAFT_SCALING_PM_SOURCES", "64")),
            "pm_walks": int(os.environ.get("SPARK_GRAFT_SCALING_PM_WALKS", "500")),
            "pm_steps": int(os.environ.get("SPARK_GRAFT_SCALING_PM_STEPS", "40")),
        },
        f"pprmc{os.environ.get('SPARK_GRAFT_SCALING_PM_SOURCES', '64')}src"
        f"_rmat{os.environ.get('SPARK_GRAFT_SCALING_PM_SCALE', '19')}",
        "walks_per_sec",
    ),
    "doulion": (
        DOULION_WORKER,
        {
            "repo": REPO,
            "dl_scale": int(os.environ.get("SPARK_GRAFT_SCALING_DL_SCALE", "20")),
            "dl_ef": int(os.environ.get("SPARK_GRAFT_SCALING_DL_EF", "8")),
            "dl_p": float(os.environ.get("SPARK_GRAFT_SCALING_DL_P", "0.1")),
        },
        f"doulion_p{os.environ.get('SPARK_GRAFT_SCALING_DL_P', '0.1')}"
        f"_rmat{os.environ.get('SPARK_GRAFT_SCALING_DL_SCALE', '20')}",
        "edges_per_sec",
    ),
    "mst": (
        MST_WORKER,
        {
            "repo": REPO,
            "mst_scale": int(os.environ.get("SPARK_GRAFT_SCALING_MST_SCALE", "19")),
            "mst_ef": int(os.environ.get("SPARK_GRAFT_SCALING_MST_EF", "8")),
        },
        f"boruvka_rmat{os.environ.get('SPARK_GRAFT_SCALING_MST_SCALE', '19')}",
        "edges_per_sec",
    ),
    "linkpred": (
        LINKPRED_WORKER,
        {
            "repo": REPO,
            "lp_scale": int(os.environ.get("SPARK_GRAFT_SCALING_LP_SCALE", "19")),
            "lp_ef": int(os.environ.get("SPARK_GRAFT_SCALING_LP_EF", "8")),
        },
        f"linkpred_cand_rmat{os.environ.get('SPARK_GRAFT_SCALING_LP_SCALE', '19')}",
        "edges_per_sec",
    ),
    "distsketch": (
        SKETCH_WORKER,
        {
            "repo": REPO,
            "ds_scale": int(os.environ.get("SPARK_GRAFT_SCALING_DS_SCALE", "19")),
            "ds_ef": int(os.environ.get("SPARK_GRAFT_SCALING_DS_EF", "8")),
            "ds_sets": int(os.environ.get("SPARK_GRAFT_SCALING_DS_SETS", "8")),
        },
        f"distsketch{os.environ.get('SPARK_GRAFT_SCALING_DS_SETS', '8')}sets"
        f"_rmat{os.environ.get('SPARK_GRAFT_SCALING_DS_SCALE', '19')}",
        "edges_per_sec",
    ),
    "salsa": (
        SALSA_WORKER,
        {
            "repo": REPO,
            "sa_scale": int(os.environ.get("SPARK_GRAFT_SCALING_SA_SCALE", "19")),
            "sa_ef": int(os.environ.get("SPARK_GRAFT_SCALING_SA_EF", "8")),
            "sa_iters": int(os.environ.get("SPARK_GRAFT_SCALING_SA_ITERS", "10")),
        },
        f"salsa{os.environ.get('SPARK_GRAFT_SCALING_SA_ITERS', '10')}"
        f"_rmat{os.environ.get('SPARK_GRAFT_SCALING_SA_SCALE', '19')}",
        "edge_iters_per_sec",
    ),
    "bm25": (
        BM25_WORKER,
        {"repo": REPO, "n_docs": N_DOCS},
        f"bm25_16q_{N_DOCS}docs",
        "docs_per_sec",
    ),
    "pagerank": (
        PAGERANK_WORKER,
        {"repo": REPO, "iters": PR_ITERS, "rmat_scale": RMAT_SCALE, "rmat_ef": RMAT_EF},
        f"pagerank_{PR_ITERS}iters_rmat{RMAT_SCALE}",
        "edges_processed_per_sec",
    ),
    "minhash": (
        MINHASH_WORKER,
        {"repo": REPO, "n_docs": N_DOCS},
        f"minhash8_{N_DOCS}docs",
        "docs_per_sec",
    ),
    "walks": (
        WALKS_WORKER,
        {
            "repo": REPO,
            "w_scale": int(os.environ.get("SPARK_GRAFT_SCALING_W_SCALE", "19")),
            "w_ef": int(os.environ.get("SPARK_GRAFT_SCALING_W_EF", "8")),
            "w_len": int(os.environ.get("SPARK_GRAFT_SCALING_W_LEN", "8")),
            "w_per": int(os.environ.get("SPARK_GRAFT_SCALING_W_PER", "2")),
        },
        f"walks_rmat{os.environ.get('SPARK_GRAFT_SCALING_W_SCALE', '19')}"
        f"_len{os.environ.get('SPARK_GRAFT_SCALING_W_LEN', '8')}",
        "walk_steps_per_sec",
    ),
    "node2vec": (
        NODE2VEC_WORKER,
        {
            "repo": REPO,
            "w_scale": int(os.environ.get("SPARK_GRAFT_SCALING_W_SCALE", "19")),
            "w_ef": int(os.environ.get("SPARK_GRAFT_SCALING_W_EF", "8")),
            "w_len": int(os.environ.get("SPARK_GRAFT_SCALING_W_LEN", "8")),
            "w_per": int(os.environ.get("SPARK_GRAFT_SCALING_W_PER", "2")),
        },
        f"node2vec_rmat{os.environ.get('SPARK_GRAFT_SCALING_W_SCALE', '19')}"
        f"_len{os.environ.get('SPARK_GRAFT_SCALING_W_LEN', '8')}_p2_q0.5",
        "walk_steps_per_sec",
    ),
    "louvain": (
        LOUVAIN_WORKER,
        {
            "repo": REPO,
            "lv_scale": int(os.environ.get("SPARK_GRAFT_SCALING_LV_SCALE", "18")),
            "lv_ef": int(os.environ.get("SPARK_GRAFT_SCALING_LV_EF", "8")),
            "lv_levels": int(os.environ.get("SPARK_GRAFT_SCALING_LV_LEVELS", "2")),
            "lv_sweeps": int(os.environ.get("SPARK_GRAFT_SCALING_LV_SWEEPS", "6")),
        },
        f"louvain_rmat{os.environ.get('SPARK_GRAFT_SCALING_LV_SCALE', '18')}"
        f"_l{os.environ.get('SPARK_GRAFT_SCALING_LV_LEVELS', '2')}"
        f"s{os.environ.get('SPARK_GRAFT_SCALING_LV_SWEEPS', '6')}",
        "edges_per_sec",
    ),
    "scc": (
        SCC_WORKER,
        {
            "repo": REPO,
            "n_pages": int(os.environ.get("SPARK_GRAFT_SCALING_SCC_PAGES", "400000")),
        },
        f"scc_web{os.environ.get('SPARK_GRAFT_SCALING_SCC_PAGES', '400000')}pages",
        "edges_per_sec",
    ),
    "kcore": (
        KCORE_WORKER,
        {
            "repo": REPO,
            "kc_scale": int(os.environ.get("SPARK_GRAFT_SCALING_KC_SCALE", "20")),
            "kc_ef": int(os.environ.get("SPARK_GRAFT_SCALING_KC_EF", "16")),
            "kc_k": int(os.environ.get("SPARK_GRAFT_SCALING_KC_K", "25")),
        },
        f"kcore{os.environ.get('SPARK_GRAFT_SCALING_KC_K', '25')}"
        f"_rmat{os.environ.get('SPARK_GRAFT_SCALING_KC_SCALE', '20')}",
        "edges_per_sec",
    ),
    "paradedup": (
        PARADEDUP_WORKER,
        {"repo": REPO, "n_docs": N_DOCS},
        f"paragraph_dedup_{N_DOCS}docs",
        "docs_per_sec",
    ),
    "hyperball": (
        HYPERBALL_WORKER,
        {
            "repo": REPO,
            "hb_scale": int(os.environ.get("SPARK_GRAFT_SCALING_HB_SCALE", "19")),
            "hb_ef": int(os.environ.get("SPARK_GRAFT_SCALING_HB_EF", "8")),
            "hb_log2m": int(os.environ.get("SPARK_GRAFT_SCALING_HB_LOG2M", "5")),
        },
        f"hyperball_rmat{os.environ.get('SPARK_GRAFT_SCALING_HB_SCALE', '19')}"
        f"_m{1 << int(os.environ.get('SPARK_GRAFT_SCALING_HB_LOG2M', '5'))}",
        "edge_rounds_per_sec",
    ),
    "webpipeline": (
        WEBPIPE_WORKER,
        {"repo": REPO, "n_pages": int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "120000"))},
        "webpipeline_extract_build_pr5",
        "pages_per_sec",
    ),
    # north-metric wall-time kernels: CC to convergence, 4 LPA rounds,
    # degree-oriented triangle count (triangle scale set separately — the
    # wedge join is superlinear in hub degree, so it runs a smaller RMAT)
    "cc": (
        CC_WORKER,
        {"repo": REPO, "rmat_scale": RMAT_SCALE, "rmat_ef": RMAT_EF},
        f"cc_converged_rmat{RMAT_SCALE}",
        "edges_per_sec",
    ),
    "lpa": (
        LPA_WORKER,
        {"repo": REPO, "rmat_scale": RMAT_SCALE, "rmat_ef": RMAT_EF},
        f"lpa4_rmat{RMAT_SCALE}",
        "edge_rounds_per_sec",
    ),
    # peeling / census kernels (judge round-2 ask: RMAT-18+ datapoints)
    "ktruss": (
        KTRUSS_WORKER,
        {
            "repo": REPO,
            "kt_scale": int(os.environ.get("SPARK_GRAFT_SCALING_KT_SCALE", "18")),
            "kt_ef": int(os.environ.get("SPARK_GRAFT_SCALING_KT_EF", "8")),
        },
        f"ktruss5_rmat{os.environ.get('SPARK_GRAFT_SCALING_KT_SCALE', '18')}",
        "edges_per_sec",
    ),
    "triads": (
        TRIADS_WORKER,
        {
            "repo": REPO,
            "tc_scale": int(os.environ.get("SPARK_GRAFT_SCALING_TC_SCALE", "18")),
            "tc_ef": int(os.environ.get("SPARK_GRAFT_SCALING_TC_EF", "8")),
        },
        f"triad_census_rmat{os.environ.get('SPARK_GRAFT_SCALING_TC_SCALE', '18')}",
        "edges_per_sec",
    ),
    "subgraph": (
        SUBGRAPH_WORKER,
        {
            "repo": REPO,
            "sg_scale": int(os.environ.get("SPARK_GRAFT_SCALING_SG_SCALE", "17")),
            "sg_ef": int(os.environ.get("SPARK_GRAFT_SCALING_SG_EF", "6")),
        },
        f"subgraph_c3_rmat{os.environ.get('SPARK_GRAFT_SCALING_SG_SCALE', '17')}",
        "edges_per_sec",
    ),
    "wcc": (
        WCC_WORKER,
        {
            "repo": REPO,
            "n_clusters": int(os.environ.get("SPARK_GRAFT_SCALING_WCC_CLUSTERS", "2000")),
            "clique": int(os.environ.get("SPARK_GRAFT_SCALING_WCC_CLIQUE", "24")),
        },
        f"wcc_{os.environ.get('SPARK_GRAFT_SCALING_WCC_CLUSTERS', '2000')}x2x"
        f"{os.environ.get('SPARK_GRAFT_SCALING_WCC_CLIQUE', '24')}cliques",
        "edges_per_sec",
    ),
    "triangles": (
        TRIANGLES_WORKER,
        {
            "repo": REPO,
            "tri_scale": int(os.environ.get("SPARK_GRAFT_SCALING_TRI_SCALE", "16")),
            "tri_ef": int(os.environ.get("SPARK_GRAFT_SCALING_TRI_EF", "8")),
        },
        f"triangles_rmat{os.environ.get('SPARK_GRAFT_SCALING_TRI_SCALE', '16')}",
        "edges_per_sec",
    ),
}


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    which = sys.argv[2] if len(sys.argv) > 2 else "all"
    names = list(JOBS) if which == "all" else [which]

    path = os.path.join(REPO, "BENCH_SCALING.json")
    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)

    for name in names:
        worker, params, label, unit = JOBS[name]
        lo = run_at(worker, n, params)
        hi = run_at(worker, 4 * n, params)
        eff = (hi["throughput"] / lo["throughput"]) / 4
        rows = list(hi["partition_rows"].values())
        cv = statistics.pstdev(rows) / statistics.mean(rows) if rows else 0.0
        entry = {
            "job": label,
            "N": n,
            "unit": unit,
            "throughput_N": round(lo["throughput"], 1),
            "throughput_4N": round(hi["throughput"], 1),
            "wall_N_sec": round(lo["wall_sec"], 2),
            "wall_4N_sec": round(hi["wall_sec"], 2),
            "scaling_efficiency": round(eff, 3),
            "partition_row_balance_cv_4N": round(cv, 4),
        }
        if lo.get("iters_per_hour"):
            entry["iters_per_hour_N"] = round(lo["iters_per_hour"], 1)
            entry["iters_per_hour_4N"] = round(hi["iters_per_hour"], 1)
        merged[f"{name}_N{n}"] = entry
        print(json.dumps(entry))

    with open(path, "w") as f:
        json.dump(merged, f, indent=2)


if __name__ == "__main__":
    main()
