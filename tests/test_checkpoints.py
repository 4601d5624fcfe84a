"""localCheckpoint: stats must not compound across iterative checkpoints.

Spark's own ``localCheckpoint`` preserves the pre-checkpoint plan's
estimated Statistics (SPARK-39748); join-size estimation multiplies child
sizes, so an iterative join loop compounds the estimate multiplicatively
until the optimizer spends its time on million-digit BigInteger arithmetic
(plans/checkpoints.py docstring). Importing the package wraps the method to
drop those stats; these tests pin the fix.
"""

from pyspark.sql import functions as F

import arkouda_njit_spark.plans.checkpoints as C


def _size_in_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_strips_inherited_stats(spark):
    a = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") * 7 % 100).alias("dst")
    )
    b = spark.range(500).select(
        (F.col("id") % 100).alias("dst"), F.col("id").alias("v")
    )
    joined = a.join(b, "dst")
    flat = joined.localCheckpoint(eager=True)
    assert not C._STRIP_BROKEN, "LogicalRDD internals moved; fix _strip_origin_stats"
    # the pre-checkpoint plan carries a join-product estimate; the
    # checkpoint must reset it to the default leaf size
    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    assert _size_in_bytes(joined) != default_size
    assert _size_in_bytes(flat) == default_size
    # same rows, same schema — only the estimate changed
    assert flat.schema == joined.schema
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, joined.collect()))


def test_no_compounding_across_iterations(spark):
    """15 join iterations: the size estimate must stay flat, not multiply.

    With Spark's unwrapped localCheckpoint the digit count of sizeInBytes
    multiplies per iteration (3 references per step => ~3x digits/step);
    by step 15 the optimizer would be doing 10^7-digit BigInteger
    products. Wrapped, every step restarts from the default leaf estimate.
    """
    edges = spark.range(2000).select(
        F.col("id").alias("src"), ((F.col("id") * 13 + 7) % 500).alias("dst")
    )
    state = edges.select(
        F.col("src").alias("vid"), F.col("src").alias("lbl")
    ).localCheckpoint(eager=True)
    sizes = []
    for _ in range(15):
        nxt = (
            edges.join(state.withColumnRenamed("vid", "src"), "src")
            .join(
                state.select(F.col("vid").alias("dst"), F.col("lbl").alias("l2")),
                "dst",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min(F.least("lbl", "l2")).alias("lbl"))
        )
        state = nxt.localCheckpoint(eager=True)
        sizes.append(_size_in_bytes(state))
    # every iteration's leaf estimate is identical — zero compounding
    assert len(set(sizes)) == 1, sizes


def test_install_covers_plain_method(spark):
    """importing the package wraps DataFrame.localCheckpoint itself, so all
    ~70 kernel call sites (and future ones) are stats-safe without edits."""
    a = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") * 3 % 50).alias("dst")
    )
    b = spark.range(300).select((F.col("id") % 50).alias("dst"))
    default_size = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
    ck = a.join(b, "dst").localCheckpoint()  # plain method, post-install
    assert _size_in_bytes(ck) == default_size
    assert not C._STRIP_BROKEN


def test_lazy_checkpoint(spark):
    df = spark.range(100).select(F.col("id").alias("v"))
    lz = df.localCheckpoint(eager=False)
    assert lz.count() == 100
    assert sorted(r["v"] for r in lz.collect()) == list(range(100))


def _output_expr_ids(df) -> set[int]:
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


def test_checkpoint_has_fresh_attribute_ids(spark):
    """A checkpoint is a new relation: its output attributes carry ids of
    their own, so joining it back to its source plan analyzes (with the
    source plan's ids the join fails to resolve conflicting references)."""
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    ck = df.localCheckpoint()
    assert not _output_expr_ids(ck) & _output_expr_ids(df)
    got = sorted(map(tuple, ck.join(df, "k").collect()))
    assert got == [(k, 3 * k, 3 * k) for k in range(20)]


def test_checkpoint_leaf_matches_cache_in_self_union(spark):
    """With AQE off, Spark records the checkpointed plan's partitioning and
    ordering on the leaf, and plan canonicalization keeps their attribute
    ids: the analyzer's renewed copy of the leaf in a self-union then no
    longer matches a cached plan built on it, and that branch recomputes.
    The rebuilt leaf records no layout, so both branches read the cache."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ck = (
            spark.range(100)
            .repartition(4, "id")
            .sortWithinPartitions("id")
            .localCheckpoint()
        )
        cached = ck.select((F.col("id") * 2).alias("v")).persist()
        both = cached.unionAll(cached)
        leaves = both._jdf.queryExecution().withCachedData().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        assert names == ["InMemoryRelation", "InMemoryRelation"], names
        assert both.count() == 200
        cached.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
