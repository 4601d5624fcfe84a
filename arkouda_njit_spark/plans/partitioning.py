"""Partitioning utilities: scalable dense-rank ids, input parallelism.

The reference remaps vertex labels to dense 0..n-1 ids with a sort-based
GroupBy + broadcast (graphclass.py:213-223). A naive Spark translation is
``row_number() over (order by label)`` — a single-partition window that
serializes the whole vertex set through one task and cannot work at
10^12-document scale. Instead we use the classic two-pass scheme:

  1. range-partition the distinct labels by label (global order across
     partitions, local order within),
  2. count rows per partition (one small job), prefix-sum the counts on the
     driver (P integers),
  3. assign ``offset[pid] + local_index`` per partition with an Arrow-batched
     ``mapInPandas`` (no per-row Python).

This yields exactly the reference's ascending-label dense numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dense_rank_ids(
    df: DataFrame, col: str, num_partitions: int, out_col: str = "vid"
) -> tuple[DataFrame, int]:
    """Assign dense ids 0..n-1 in ascending ``col`` order, scalably.

    ``df`` must contain distinct values of ``col``. Returns the
    (out_col, col) table and n, the sum of the per-partition counts the
    two-pass scheme computes anyway, so callers that need n (a
    broadcast-vs-shuffle decision) pay no separate count action.

    The ordered labels are read twice (the count pass and the id pass), so
    they are a lazy ``localCheckpoint``: the count job materializes them,
    and they are freed with the last reference to the returned table, not
    left in the session cache."""
    spark = df.sparkSession
    ordered = (
        df.select(col)
        .repartitionByRange(num_partitions, F.col(col))
        .sortWithinPartitions(col)
        .localCheckpoint(eager=False)
    )
    # Pass 1: per-partition counts (tiny result: one row per partition).
    counts = (
        ordered.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offsets_b = spark.sparkContext.broadcast(offsets)

    out_schema = f"{out_col} long, {col} {df.schema[col].dataType.simpleString()}"

    def attach(iterator):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets_b.value.get(pid, 0)
        seen = 0
        for batch in iterator:
            n = len(batch)
            out = pd.DataFrame(
                {out_col: range(base + seen, base + seen + n), col: batch[col]}
            )
            seen += n
            yield out

    result = ordered.mapInPandas(attach, schema=out_schema)
    return result, acc


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its plan currently has fewer partitions.

    Guide §2.5 (input skew): a small table read from a single parquet
    file is ONE scan split, so any CPU-heavy per-row stage downstream
    (shingle explode + K md5s per shingle, token hashing) runs serially
    on one core regardless of cluster size — measured 22.9 s wall /
    30.8 s task time on one task for the sf0.1 MinHash signature pass.
    Scale-adaptive by construction: at real corpus sizes the scan has
    more splits than cores and this is a no-op; only the pathological
    fewer-splits-than-cores case pays the (tiny) extra shuffle."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - connect-mode plans have no rdd
        return df
    if current >= target:
        return df
    return df.repartition(target)
