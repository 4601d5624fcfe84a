"""Deduplication for web-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard. First-class components of the 100 TB pipeline.

Scale design:
  * exact dedup is one hash-aggregation (md5 groupBy) — the canonical
    "hash-groupBy" path; no content ships through the shuffle, only digests.
  * MinHash signatures are computed from exploded shingles with ONE
    aggregation producing all K minima (map-side combined); LSH banding
    turns candidate generation into an equi-join on (band, band_hash)
    buckets, so near-dup detection never does an O(n²) compare. Bucket
    join fan-out is bounded by band width; verification re-computes true
    Jaccard only for candidates.
  * MinHash uses **string-min over md5(seed:shingle)** — deterministic,
    partition-invariant, and replayable in ANSI SQL (the DuckDB oracle).
  * SimHash is 32 bit-count aggregations over md5-prefix token hashes —
    all JVM-side column exprs, same replayability as the MinHash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.partitioning import ensure_parallelism
from .text import shingles, tokens


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(hash, n_docs, doc_ids) for every group of byte-identical texts with
    at least 2 members."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") >= 2)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh0..mh{K-1}) MinHash signature per document.

    mh_i = MIN over shingles of md5('<i>:' || shingle) — the string minimum
    of a keyed digest is a valid MinHash family member and is reproducible
    in any engine with md5. Documents shorter than ``shingle_n`` words fall
    back to whole-text shingles so they still get a signature."""
    sh = shingles(text_col, shingle_n)
    sh = F.when(F.size(sh) > 0, sh).otherwise(F.array(F.trim(F.col(text_col))))
    # No distinct() before the aggregation: MIN is duplicate-insensitive,
    # and each document's shingles are partition-local, so the map-side
    # partial min collapses to one row per (doc, hash) before any shuffle —
    # the whole signature computation is effectively shuffle-free.
    # ensure_parallelism: the K-md5s-per-shingle projection is the CPU wall
    # of this function; a single-split input would run it on one core.
    exploded = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(sh).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(a, b) candidate near-duplicate pairs from banded LSH buckets.

    Each signature is cut into ``bands`` bands of ``num_hashes/bands`` rows;
    documents sharing any band hash land in the same bucket; pairs within a
    bucket are candidates. The self-join is on the (band, hash) key — an
    equi-join, shuffle-partitioned by bucket."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bh"))
        )
    buckets = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.bh")
    left = buckets.select(F.col(id_col).alias("a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    fanout_limit: int = 10**9,
    fallback_whole_text: bool = False,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard) over distinct doc pairs sharing >=1 shingle
    (optionally restricted to an LSH candidate pair set).

    jaccard = |S(a) ∩ S(b)| / (|S(a)| + |S(b)| − |∩|) via an inverted-index
    self-join on the shingle — never a cross join.

    Guard rails for the no-``candidates`` path (its fan-out is
    Σ_sh df(sh)², which explodes on a stop-word-like shingle shared by
    every document): if the estimated fan-out exceeds ``fanout_limit`` a
    ValueError tells the caller to pass ``candidates`` (LSH) or set
    ``max_shingle_df``. With ``max_shingle_df`` set, shingles whose
    document frequency exceeds it are excluded from *pair generation*
    only; surviving pairs are then scored with their EXACT jaccard over
    all shingles (two-phase), so values are unchanged — only pairs whose
    every shared shingle is ultra-common are missed (by design).

    ``fallback_whole_text=True`` gives documents shorter than ``shingle_n``
    words their trimmed whole text as one shingle — the same fallback
    ``minhash_signatures`` applies, so the LSH verify stage scores exactly
    the shingle sets the signatures were computed from (otherwise two
    identical short docs become candidates but verify to zero overlap).

    ``exploded`` — an already-materialized distinct (id, sh) shingle
    table to score from (the :func:`minhash_near_duplicates` sharing
    path); when given, ``shingle_n``/``fallback_whole_text`` are ignored
    and the caller guarantees consistency with its signatures."""
    if exploded is not None:
        ex = exploded
    else:
        sh = shingles(text_col, shingle_n)
        if fallback_whole_text:
            sh = F.when(F.size(sh) > 0, sh).otherwise(
                F.array(F.trim(F.col(text_col)))
            )
        # ensure_parallelism: shingle generation + the distinct's map-side
        # partial aggregation are the scan-stage CPU cost; a single-split
        # documents table would serialize them on one core (guide §2.5).
        # eager localCheckpoint, NOT persist: the shingle table feeds
        # three subtrees of ONE terminal action (sizes + both pair sides),
        # and an unmaterialized persist makes the concurrent scans race
        # and recompute the explode per consumer — measured ~3x the
        # one-pass cost in the r6 stage attribution.
        ex = (
            ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), F.explode(sh).alias("sh"))
            .distinct()
        ).localCheckpoint(eager=True)
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("sz"))
    if candidates is None:
        dfreq = ex.groupBy("sh").agg(F.count("*").alias("df"))
        if max_shingle_df is not None:
            gen = ex.join(
                dfreq.filter(F.col("df") <= max_shingle_df).select("sh"),
                "sh",
                "left_semi",
            )
            candidates = (
                gen.select(F.col(id_col).alias("a"), "sh")
                .join(gen.select(F.col(id_col).alias("b"), "sh"), "sh")
                .filter(F.col("a") < F.col("b"))
                .select("a", "b")
                .distinct()
            )
        else:
            fanout = dfreq.agg(
                F.sum(F.col("df").cast("double") * F.col("df")).alias("f")
            ).collect()[0]["f"]
            if fanout is not None and fanout > fanout_limit:
                raise ValueError(
                    f"ngram_jaccard_pairs without candidates: inverted-index "
                    f"fan-out ~{fanout:.3g} rows exceeds fanout_limit="
                    f"{fanout_limit}. Pass candidates= (e.g. from "
                    f"minhash_lsh_candidates) or set max_shingle_df to cap "
                    f"hot shingles."
                )
    if candidates is not None:
        # Enumerate shingles of candidate pairs ONLY: candidates ⋈ shingles(a)
        # ⋈ shingles(b) on equality — never the full inverted-index self-join
        # (whose fan-out is Σ freq(shingle)² and explodes on common shingles).
        pairs = candidates.join(
            ex.select(F.col(id_col).alias("a"), "sh"), "a"
        ).join(ex.select(F.col(id_col).alias("b"), "sh"), ["b", "sh"])
    else:
        pairs = (
            ex.select(F.col(id_col).alias("a"), "sh")
            .join(ex.select(F.col(id_col).alias("b"), "sh"), "sh")
            .filter(F.col("a") < F.col("b"))
        )
    inter = pairs.groupBy("a", "b").agg(F.count("*").alias("common"))
    out = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sb")), "b")
        .select(
            "a",
            "b",
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → bucket-join →
    verify true Jaccard ≥ threshold. Returns (a, b, jaccard).

    The corpus is shingled ONCE: the distinct (id, shingle) table is
    materialized and feeds both the signature aggregation (MIN is
    duplicate-insensitive, so distinct shingles give the same signature)
    and the verify stage — the old shape exploded and hashed the corpus
    twice (guide §1.2: don't compute things you throw away)."""
    sh = shingles(text_col, shingle_n)
    # same fallback the signatures used, so verify scores exactly the
    # shingle sets the signatures were computed from
    sh = F.when(F.size(sh) > 0, sh).otherwise(F.array(F.trim(F.col(text_col))))
    ex = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(sh).alias("sh"))
        .distinct()
    ).localCheckpoint(eager=True)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    sigs = ex.groupBy(id_col).agg(*aggs)
    cands = minhash_lsh_candidates(sigs, id_col, num_hashes, bands)
    return ngram_jaccard_pairs(
        df,
        id_col,
        text_col,
        shingle_n,
        threshold=threshold,
        candidates=cands,
        exploded=ex,
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    out: str = "simhash",
) -> DataFrame:
    """Per-document SimHash over token hashes: bit b of the output is the
    sign of Σ_tokens (±1 per token's hash bit b). All JVM column exprs.

    The token hash is the first ``ceil(bits/4)`` hex chars of md5(token)
    parsed as an integer — like the MinHash family above, deterministic,
    partition-invariant, and replayable in ANSI SQL (the DuckDB oracle
    parses the same hex prefix), at identical Hamming-distance quality to
    any other uniform 32/64-bit family. ``bits`` must be <= 60 so the
    parsed prefix fits a signed long."""
    if bits > 60:
        raise ValueError(f"simhash: bits={bits} > 60 (hex-prefix hash is 60-bit max)")
    nhex = (bits + 3) // 4
    # ensure_parallelism: token md5-hashing is the scan-stage CPU cost;
    # see minhash_signatures (guide §2.5 single-split input).
    ex = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5("tok"), 1, nhex), 16, 10).cast("long").alias("h"),
        )
    )
    sums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"s{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sig.alias(out))


def simhash_column(col, bits: int = 32):
    """Per-ROW SimHash column expression — identical semantics (tokens,
    md5-prefix hash, sign-of-sum per bit) to :func:`simhash`, but
    computed inside one projection with an array-fold accumulator
    instead of explode+groupBy. No shuffle, so it composes with
    Structured Streaming stages (streaming/dedup.py) and with plans that
    must stay in one codegen stage. Parity with the aggregate version is
    pinned by test."""
    if bits > 60:
        raise ValueError(f"simhash: bits={bits} > 60 (hex-prefix hash is 60-bit max)")
    nhex = (bits + 3) // 4
    c = F.col(col) if isinstance(col, str) else col

    def _merge(acc, tok):
        h = F.conv(F.substring(F.md5(tok), 1, nhex), 16, 10).cast("long")
        # getbit (not shiftright) because the bit position is the fold
        # lambda's index Column, and shiftright takes only literal counts
        return F.transform(
            acc,
            lambda cnt, i: cnt + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
        )

    counts = F.aggregate(
        tokens(c),
        F.array_repeat(F.lit(0).cast("long"), bits),
        _merge,
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.element_at(counts, b + 1) > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0))
    return sig



def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming distance <= max_hamming.

    Candidate generation blocks on byte-slices of the signature (a pair
    within distance d must agree exactly on >=1 of (d+1) blocks — the
    classic SimHash pigeonhole trick), so the self-join is an equi-join on
    (block_idx, block_value), never O(n²)."""
    n_blocks = max_hamming + 1
    sigs = simhash(df, id_col, text_col, bits)
    width = bits // n_blocks
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.blk", "bk.bv")
    left = blocks.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "blk", "bv")
    right = blocks.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "blk", "bv")
    pairs = (
        left.join(right, ["blk", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_repeats: int = 2,
    sep: str = "\n\n",
    keep: str = "first",
    out: str = "text_dedup",
) -> DataFrame:
    """Paragraph-level exact dedup across the WHOLE corpus (the C4-style
    line/paragraph filter): any ``sep``-delimited paragraph whose
    whitespace-normalized form occurs at least ``min_repeats`` times
    corpus-wide is removed from every document — except, with
    ``keep="first"``, its single earliest occurrence (smallest
    ``(doc_id, position)``); ``keep="none"`` drops all occurrences.

    Returns the input rows plus ``out`` (the rebuilt text) and
    ``n_paras_removed``. Documents whose every paragraph is removed stay
    in the output with an empty string.

    Scale shape: explode is narrow; one hash-groupBy on the paragraph
    digest (digests only — paragraph text never rides the count shuffle),
    one digest-keyed join back, one groupBy(doc) to reassemble. No windows
    over the corpus, no skew hazard beyond the digest groupBy (uniform by
    construction of md5). Reference analogue: none — this is the
    training-data-pipeline mandate, same family as exact_duplicates."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
    ).withColumn("pkey", F.md5(F.trim(F.regexp_replace("para", r"\s+", " "))))
    stats = paras.groupBy("pkey").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct(id_col, "pos")).alias("first_occ"),
    )
    flagged = paras.join(stats, "pkey").withColumn(
        "keep_para",
        (F.col("n_occ") < min_repeats)
        | (
            F.lit(keep == "first")
            & (F.struct(id_col, "pos") == F.col("first_occ"))
        ),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep_para"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias(out),
        F.sum(F.when(~F.col("keep_para"), 1).otherwise(0)).alias("n_paras_removed"),
    )
    return df.join(rebuilt, id_col, "left").na.fill({out: "", "n_paras_removed": 0})


def dedup_clusters(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """(doc_id, cluster) for every doc appearing in a near-duplicate
    pair table; ``cluster`` is the smallest doc_id of the pair-connected
    group (transitive closure — if a~b and b~c, all three share one
    cluster even when a~c was never scored).

    The pair table IS an edge list, and dedup clustering at corpus scale
    is exactly the CC problem: the engine's hash-min kernel
    (operators/connected_components.hash_min_labels) runs directly on the
    raw doc ids, so each doc's final label is already its group's smallest
    doc_id — no vertex-id remap, no graph build.
    """
    from ..operators.connected_components import hash_min_labels, symmetric_edges

    # The checkpoint in symmetric_edges is also the lineage cut before the
    # iterative kernel: `pairs` usually arrives as the whole LSH candidate
    # pipeline, and without it every AQE re-plan inside the fixpoint
    # re-canonicalizes that full tree driver-side each round. The pair
    # table is the near-dup candidate set — tiny next to the corpus — so
    # materializing it is free.
    sym = symmetric_edges(
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        ),
        directed=True,
    )
    # the symmetric row count bounds the doc count and the rounds needed
    n = sym.count()
    docs = (
        sym.select(F.col("src").alias("vid")).distinct()
        .withColumn("component", F.col("vid"))
    )
    return hash_min_labels(sym, docs, n, max_iterations=n).select(
        F.col("vid").alias("doc_id"), F.col("component").alias("cluster")
    )


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    prefer: str | None = None,
) -> DataFrame:
    """The corpus with every near-duplicate cluster collapsed to ONE
    representative: the member with the highest ``prefer`` column value
    (ties and the default both fall back to the smallest doc_id). Docs
    in no pair are their own cluster and always survive. Schema is
    unchanged — this is the "apply the dedup decision" step between
    pair generation and training-set write-out."""
    clusters = dedup_clusters(pairs, a_col, b_col)
    joined = df.join(
        clusters.select(F.col("doc_id").alias(id_col), "cluster"),
        id_col,
        "left",
    ).withColumn("cluster", F.coalesce("cluster", F.col(id_col).cast("long")))
    order = (
        [F.col(prefer).desc(), F.col(id_col).asc()]
        if prefer
        else [F.col(id_col).asc()]
    )
    win = Window.partitionBy("cluster").orderBy(*order)
    return (
        joined.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "cluster")
    )
