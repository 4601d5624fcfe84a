"""Similarity search over embedding columns (array<float>).

Two paths, per the brief:
  * ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
    set against the corpus; dot products via ``zip_with`` + ``aggregate``
    (JVM higher-order functions, no Python); per-query top-k via struct-max
    aggregation when k is small or a window otherwise.
  * ``ann_lsh_topk`` — the scale path: random-hyperplane LSH buckets
    (deterministic hash-derived planes), candidates restricted to the
    query's bucket (+ optional multi-probe), exact rerank within bucket.
    At 10^12 rows the bucket join replaces the full scan.
  * ``embedding_near_duplicates`` — near-dup pairs by cosine >= threshold,
    LSH-bucketed self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# hard cap on driver-resident IVF centroid cells (nlist * dim); 64M doubles
# ~= 512 MB — beyond this ivf_build refuses instead of assuming it fits
MAX_CENTROID_CELLS = 64_000_000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def with_normalized(df: DataFrame, vec_col: str = "embedding", out: str = "nvec") -> DataFrame:
    n = _norm(F.col(vec_col))
    return df.withColumn(
        out,
        F.when(
            n > 0, F.transform(F.col(vec_col), lambda v: v.cast("double") / n)
        ).otherwise(F.transform(F.col(vec_col), lambda v: v.cast("double"))),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank) exact top-k by cosine similarity.

    ``queries`` must be small (it is broadcast); ties broken by vec_id
    ascending for determinism."""
    c = with_normalized(corpus, vec_col).select(F.col(id_col), F.col("nvec").alias("cv"))
    q = with_normalized(queries, vec_col).select(
        F.col(query_id_col), F.col("nvec").alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col, id_col, _dot(F.col("cv"), F.col("qv")).alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplane_bucket(vec, dim: int, n_planes: int, seed: int):
    """LSH bucket id: sign bits of dot(vec, plane_i) with plane components
    derived from xxhash64(i, j, seed) — deterministic, no stored planes.

    The components are pure functions of (j, i, seed), so they are inlined
    as LITERAL arrays via the bit-exact host-side XXH64 port instead of
    re-hashing dim x n_planes values per row (r6; the old expression paid
    ~dim*n_planes xxhash64 calls + divisions for every corpus row on every
    scan). Values are identical: the port replays Spark's xxhash64 exactly
    and the division is the same IEEE double op."""
    from .xxh64 import spark_xxhash64

    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        comp = F.array(
            *[
                F.lit(
                    spark_xxhash64(("int", j), ("int", i), ("int", seed))
                    / float(2**63)
                )
                for j in range(dim)
            ]
        )
        d = _dot(vec, comp)
        bucket = bucket + F.when(d > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
    return bucket


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: OR-amplified hyperplane LSH — ``n_tables``
    independent hash tables (2^n_planes buckets each); a corpus vector is a
    candidate if it shares the query's bucket in ANY table; exact cosine
    rerank over the deduplicated candidate set. Recall rises with
    ``n_tables``, probe cost with both knobs. The join key is
    (table, bucket): an equi-join that shuffles candidates only — at
    10^12 rows the full-scan brute force is replaced by ~n·(tables/2^planes)
    comparisons."""

    def bucketed(df, idc, vec_alias):
        nv = with_normalized(df, vec_col)
        table_structs = [
            F.struct(
                F.lit(t).alias("tbl"),
                _hyperplane_bucket(F.col("nvec"), dim, n_planes, seed + 1000 * t).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
        return nv.select(
            F.col(idc),
            F.col("nvec").alias(vec_alias),
            F.explode(F.array(*table_structs)).alias("bk"),
        ).select(idc, vec_alias, "bk.tbl", "bk.bucket")

    c = bucketed(corpus, id_col, "cv")
    q = bucketed(queries, query_id_col, "qv")
    cands = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .select(query_id_col, id_col, "cv", "qv")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col, id_col, _dot(F.col("cv"), F.col("qv")).alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_build(
    corpus: DataFrame,
    dim: int,
    nlist: int = 64,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic spherical k-means.

    Init = the ``nlist`` corpus vectors with the smallest
    ``xxhash64(id, seed)`` (partition-invariant, no rand()); ``iters``
    Lloyd rounds — assignment is an argmax-cosine against the broadcast
    centroid table, the update re-averages per list element-wise
    (posexplode → groupBy(list, pos) avg) and re-normalizes (spherical).
    Returns (corpus tagged with ``list_id``, centroids (list_id, cvec)).
    Centroids are nlist×dim — driver-resident by design (a 4096×1024
    table is 16 MB); the corpus is only ever scanned/aggregated. That
    contract is ENFORCED: ``nlist * dim`` above ``MAX_CENTROID_CELLS``
    (64M doubles = 512 MB) raises rather than silently collecting a
    centroid table that would OOM the driver."""
    if nlist * dim > MAX_CENTROID_CELLS:
        raise ValueError(
            f"ivf_build: nlist*dim = {nlist}*{dim} = {nlist * dim:,} exceeds "
            f"MAX_CENTROID_CELLS ({MAX_CENTROID_CELLS:,}; ~512 MB of driver-"
            f"resident centroids). Reduce nlist or use a coarser quantizer."
        )
    spark = corpus.sparkSession
    nv = with_normalized(corpus, vec_col).select(F.col(id_col), "nvec").persist()

    init = (
        nv.withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_h")
        .limit(nlist)
        .select("nvec")
        .collect()
    )
    if init and len(init[0]["nvec"]) != dim:
        nv.unpersist()  # don't leak the corpus cache on the error path
        raise ValueError(
            f"ivf_build: dim={dim} but vectors have {len(init[0]['nvec'])} "
            f"components (first-row check)"
        )
    cent_rows = [(i, [float(x) for x in r["nvec"]]) for i, r in enumerate(init)]

    def assign(cents_df):
        scored = nv.crossJoin(F.broadcast(cents_df)).select(
            F.col(id_col),
            "nvec",
            "list_id",
            _dot(F.col("nvec"), F.col("cvec")).alias("cos"),
        )
        # argmax cosine, ties to the lowest list_id — min over struct
        best = scored.groupBy(id_col).agg(
            F.min(F.struct((-F.col("cos")).alias("nc"), F.col("list_id").alias("l"))).alias("b")
        ).select(F.col(id_col), F.col("b.l").alias("list_id"))
        return nv.join(best, id_col)

    for _ in range(iters):
        cents_df = spark.createDataFrame(cent_rows, "list_id int, cvec array<double>")
        assigned = assign(cents_df)
        means = (
            assigned.select("list_id", F.posexplode("nvec").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.transform("pm", lambda s: s["m"]).alias("cvec"))
            .collect()
        )
        updated = {r["list_id"]: r["cvec"] for r in means}
        new_rows = []
        for lid, old in cent_rows:
            vec = updated.get(lid, old)  # empty list keeps its centroid
            n = sum(x * x for x in vec) ** 0.5
            new_rows.append((lid, [x / n for x in vec] if n > 0 else old))
        cent_rows = new_rows

    cents_df = spark.createDataFrame(cent_rows, "list_id int, cvec array<double>")
    tagged = assign(cents_df)
    nv.unpersist()
    return tagged, cents_df


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` nearest inverted
    lists per query, exact cosine rerank within them. With
    nprobe == nlist this is exhaustive (== cosine_topk). The scale path:
    candidates come from an equi-join on ``list_id`` (≈ n·nprobe/nlist
    comparisons instead of a full scan), and the quantizer build touches
    the corpus only through scans and aggregations."""
    tagged, cents = ivf_build(corpus, dim, nlist, iters, seed, id_col, vec_col)
    q = with_normalized(queries, vec_col).select(F.col(query_id_col), F.col("nvec").alias("qv"))
    qc = q.crossJoin(F.broadcast(cents)).select(
        query_id_col, "qv", "list_id", _dot(F.col("qv"), F.col("cvec")).alias("cos")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col("list_id"))
    probes = (
        qc.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select(query_id_col, "qv", "list_id")
    )
    cands = tagged.join(F.broadcast(probes), "list_id").select(
        query_id_col, id_col, _dot(F.col("nvec"), F.col("qv")).alias("cosine")
    )
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cosine) pairs with cosine >= threshold, bucketed self-join
    (embedding-cosine near-dup path of the dedup suite)."""
    from ..plans.partitioning import ensure_parallelism

    # normalize + bucket ONCE (the self-join's two sides otherwise both
    # recompute the per-row vector math), spread a single-split corpus
    # across the cores first (guide §2.5)
    c = (
        with_normalized(ensure_parallelism(corpus), vec_col).select(
            F.col(id_col),
            F.col("nvec"),
            _hyperplane_bucket(F.col("nvec"), dim, n_planes, seed).alias("bucket"),
        )
    ).localCheckpoint(eager=True)
    left = c.select(F.col(id_col).alias("a"), F.col("nvec").alias("va"), "bucket")
    right = c.select(F.col(id_col).alias("b"), F.col("nvec").alias("vb"), "bucket")
    return (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", _dot(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )
