"""TrustRank and spam mass — seed-propagated link-spam detection.

TrustRank (Gyongyi, Garcia-Molina & Pedersen, "Combating Web Spam with
TrustRank", VLDB 2004) is PageRank whose teleport lands on a hand-vetted
set of trusted pages instead of uniformly: trust flows out along links,
attenuated by the damping factor, so pages reachable only through spam
farms receive (almost) none. Spam mass (Gyongyi, Berkhin, Garcia-Molina
& Pedersen, "Link Spam Detection Based on Mass Estimation", VLDB 2006)
turns that into a per-page score: how much of a page's PageRank is NOT
accounted for by trust flow from the good core,

    M(v)  = PR(v) - (|W| / n) * TR_W(v)      (absolute mass)
    m(v)  = M(v) / PR(v)                     (relative mass, in (-inf,1])

where W is the trusted core and TR_W the teleport-on-W personalized
PageRank. The (|W|/n) scale makes the two vectors comparable: PageRank's
uniform teleport puts mass 1/n on each of the n vertices, the trust
vector puts 1/|W| on each of |W| — PPR is linear in the teleport vector,
so scaling by |W|/n reproduces "PageRank restricted to good teleports".
Pages with relative mass near 1 draw essentially all their rank from
untrusted regions — the link-farm signature.

Both are thin orchestrations over the shared power-iteration kernel
(operators/pagerank.py): the transition table is prepared ONCE and
reused for both vectors, so spam_mass costs two fixpoint loops over one
cached edge state, not two graph builds. All scale discipline (weighted
edges, dangling redistribution, lineage-truncated iterations, resumable
checkpoints) is inherited.

Reference parity: the reference has no TrustRank; this extends its
PageRank family (SURVEY §2.7) with the canonical anti-spam variants a
Common-Crawl-scale link-graph engine is expected to ship.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from .pagerank import pagerank, personalized_pagerank, prepare_pagerank


def trustrank(
    graph: Graph,
    trusted: Iterable[int],
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
    prepared=None,
) -> DataFrame:
    """(vid, trust) — personalized PageRank with uniform teleport over
    the ``trusted`` vertex LABELS. Column sums to 1; a vertex unreachable
    from the trusted core has trust 0 exactly."""
    seeds = {int(v): 1.0 for v in trusted}
    if not seeds:
        raise ValueError("trustrank needs a non-empty trusted seed set")
    return personalized_pagerank(
        graph,
        seeds,
        alpha=alpha,
        tol=tol,
        max_iterations=max_iterations,
        weight=weight,
        checkpoint_dir=checkpoint_dir,
        prepared=prepared,
    ).select("vid", F.col("rank").alias("trust"))


def spam_mass(
    graph: Graph,
    trusted: Iterable[int],
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vid, rank, trust, mass, rel_mass) per vertex.

    ``mass`` is the absolute spam mass PR - (|W|/n)*TR; ``rel_mass`` is
    mass/PR, clamped to 0 where PR is 0 (an isolated vertex holds only
    teleport mass, all of it accounted). The transition table is
    prepared once and shared by both power iterations — the second loop
    adds no scan or degree aggregation, only its own rank exchanges.
    With ``checkpoint_dir`` set, the two loops keep their epochs apart in
    ``<checkpoint_dir>/pagerank`` and ``<checkpoint_dir>/trustrank``."""
    seeds = [int(v) for v in trusted]
    if not seeds:
        raise ValueError("spam_mass needs a non-empty trusted seed set")
    n = graph.n_vertices
    scale = float(len(set(seeds))) / float(n)
    prepared = prepare_pagerank(graph, weight)
    try:
        pr = pagerank(
            graph,
            alpha=alpha,
            tol=tol,
            max_iterations=max_iterations,
            weight=weight,
            checkpoint_dir=checkpoint_dir and os.path.join(checkpoint_dir, "pagerank"),
            prepared=prepared,
        )
        tr = trustrank(
            graph,
            seeds,
            alpha=alpha,
            tol=tol,
            max_iterations=max_iterations,
            weight=weight,
            checkpoint_dir=checkpoint_dir and os.path.join(checkpoint_dir, "trustrank"),
            prepared=prepared,
        )
    finally:
        # both fixpoint results are checkpoint-materialized by the loop,
        # so the shared prepared state can be released here
        prepared[0].unpersist()
        prepared[1].unpersist()
    mass = F.col("rank") - F.lit(scale) * F.col("trust")
    return (
        pr.join(tr, "vid")
        .select(
            "vid",
            "rank",
            "trust",
            mass.alias("mass"),
            F.when(F.col("rank") > 0, mass / F.col("rank"))
            .otherwise(F.lit(0.0))
            .alias("rel_mass"),
        )
    )
