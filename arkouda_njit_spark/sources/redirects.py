"""Redirect-chain resolution — collapse HTTP redirect hops to final URLs.

A crawl's fetch log yields a partial function ``url -> redirect target``
(301/302/307/meta-refresh). Before building the link graph, every edge
endpoint must be rewritten to its FINAL destination, or the graph splits
each page into a chain of phantom vertices and PageRank leaks mass into
them. Browsers and crawlers cap chains (Firefox/Chrome ~20 hops) and
treat loops as dead, so the published semantics are: follow at most
``max_hops`` redirects; a chain that terminates at a non-redirecting URL
within the cap is resolved; anything still pointing at a redirecting URL
after the cap — a loop, or a chain longer than the cap — is unresolved.

The kernel is pointer doubling on the functional graph (the classic
parallel path-compression used by hash-min CC's shortcutting phase):
each round joins the live state with itself on ``ptr = url``, composing
the partial function with itself, so round k covers chains of length
2^k — ``ceil(log2(max_hops))`` rounds total, each ONE hash equi-join on
the pointer key over a |redirects|-row state, per-round result
flat-checkpointed (plans/checkpoints.py) so lineage and stats stay
flat. No driver-side state; loops never spin (rows stop composing the
moment their accumulated hops exceed the cap).

Duplicate sources (one URL observed redirecting to two targets across
snapshots) collapse deterministically to the lexicographically smallest
target before resolution.

Reference parity: the reference has no crawl tooling; this extends the
engine's webtext family (SURVEY §2.7 beyond-reference block) alongside
the crawl frontier (sources/frontier.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 16,
) -> DataFrame:
    """(url, final_url, hops, resolved) for every redirecting URL.

    ``resolved`` is true iff the chain reached a non-redirecting URL in
    at most ``max_hops`` hops; then ``final_url`` is that terminal and
    ``hops`` the exact chain length. Unresolved rows (loop or over-cap
    chain) carry ``final_url`` NULL and ``hops`` = the count at which
    following stopped (> max_hops)."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    f = (
        redirects.select(F.col(src_col).alias("url"), F.col(dst_col).alias("ptr"))
        .groupBy("url")
        .agg(F.min("ptr").alias("ptr"))
    )
    srcs = f.select(F.col("url").alias("ptr")).withColumn("_is_src", F.lit(True))
    state = (
        f.join(srcs, "ptr", "left").select(
            "url",
            "ptr",
            F.lit(1).cast("long").alias("hops"),
            F.col("_is_src").isNull().alias("done"),
        )
    ).localCheckpoint(eager=True)
    # ceil(log2(cap)) rounds cover every chain of length <= cap; ONE more
    # pushes every still-live row (loop or longer chain) past the cap so
    # unresolved rows always report hops > max_hops
    rounds = (math.ceil(math.log2(max_hops)) if max_hops > 1 else 0) + 1
    for _ in range(rounds):
        live = state.filter(~F.col("done") & (F.col("hops") <= max_hops))
        settled = state.filter(F.col("done") | (F.col("hops") > max_hops))
        hop2 = state.select(
            F.col("url").alias("ptr"),
            F.col("ptr").alias("ptr2"),
            F.col("hops").alias("hops2"),
            F.col("done").alias("done2"),
        )
        # every live row's ptr IS a redirect source (done would be true
        # otherwise), so this inner equi-join loses nothing
        composed = live.join(hop2, "ptr").select(
            "url",
            F.col("ptr2").alias("ptr"),
            (F.col("hops") + F.col("hops2")).alias("hops"),
            F.col("done2").alias("done"),
        )
        nxt = settled.unionByName(composed).localCheckpoint(eager=True)
        state.unpersist()
        state = nxt
    ok = F.col("done") & (F.col("hops") <= max_hops)
    return state.select(
        "url",
        F.when(ok, F.col("ptr")).alias("final_url"),
        "hops",
        ok.alias("resolved"),
    )


def rewrite_to_final(
    edges: DataFrame,
    redirects: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 16,
) -> DataFrame:
    """Rewrite both endpoints of a link table through the resolved
    redirect map; edges touching an unresolved chain are DROPPED (the
    crawler convention: a loop is a dead link). Two left joins on the
    endpoint keys — the map side is |redirect sources| rows, far smaller
    than the edge table, so Catalyst/AQE broadcast it when it fits."""
    res = resolve_redirects(redirects, max_hops=max_hops)
    fmap = res.select("url", "final_url", "resolved")
    out = (
        edges.join(
            fmap.select(
                F.col("url").alias(src_col),
                F.col("final_url").alias("_fs"),
                F.col("resolved").alias("_rs"),
            ),
            src_col,
            "left",
        )
        .join(
            fmap.select(
                F.col("url").alias(dst_col),
                F.col("final_url").alias("_fd"),
                F.col("resolved").alias("_rd"),
            ),
            dst_col,
            "left",
        )
        .filter(F.coalesce("_rs", F.lit(True)) & F.coalesce("_rd", F.lit(True)))
    )
    keep = [c for c in edges.columns if c not in (src_col, dst_col)]
    return out.select(
        F.coalesce("_fs", F.col(src_col)).alias(src_col),
        F.coalesce("_fd", F.col(dst_col)).alias(dst_col),
        *keep,
    )
