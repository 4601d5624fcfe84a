"""Distributed BPE (byte-pair-encoding) vocabulary training + tokenization.

The corpus stack so far *counts* BPE-ish pieces with a regex proxy
(``text.bpe_ish_token_count``); this module learns a real merge table the
way Sennrich et al. (2016, "Neural Machine Translation of Rare Words with
Subword Units") describe, over a Spark corpus, and tokenizes with it.

Scale design — the whole point of BPE-on-a-cluster:

* The corpus is touched EXACTLY ONCE: :func:`word_frequencies` is one
  explode + one map-side-combined groupBy (the word-count shuffle). By
  Heaps' law the distinct-word table is orders of magnitude smaller than
  the corpus (~millions of rows at 100 TB), and every training round
  after that runs on the *vocabulary*, never the corpus.
* Per merge round, only VOCAB-sized state moves:
    1. argmax pair from a materialized ``pair_counts`` table — one
       1-row collect, deterministic tie-break (max count, then
       lexicographically smallest pair) so the learned merge list is
       independent of partitioning;
    2. the merge is applied only to the words that actually contain the
       pair (JVM-side adjacency test, no Python);
    3. ``pair_counts`` is maintained INCREMENTALLY — the delta is
       computed from the affected words only (counts of their old pairs
       negative, new pairs positive), so per-round shuffle volume is
       proportional to the words touched by the merge, not the
       vocabulary. This is the distributed analogue of the classic
       single-machine incremental-BPE index.
* The merge application itself is a pure column expression (an index
  fold with ``F.aggregate``): left-to-right, non-overlapping — 'aaa'
  under merge (a,a) becomes [aa, a], exactly the serial semantics.
* State tables are lineage-cut per round with ``localCheckpoint``
  (vocab-sized, cheap; stats-safe via :mod:`..plans.checkpoints`), so
  a 32k-merge training run does not grow a 32k-deep plan.

Tokenization (:func:`bpe_encode` / :func:`bpe_token_count`) encodes the
DISTINCT words once — a vectorized Arrow ``mapInPandas`` pass with the
rank table broadcast (the standard min-rank merge loop) — then joins the
word→pieces map back to the corpus. The map is vocab-sized, so at scale
the join is the broadcast-or-bucketed dimension-join shape, never a
corpus×corpus shuffle.

Reference parity: the reference has no subword tooling; this extends the
webtext family (SURVEY §2.7 beyond-reference block) with the vocabulary
step every LLM-training corpus pipeline runs. Parity oracle: a pure-python
Sennrich replay in ``tests/test_bpe.py`` (exact merge-list equality).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .text import tokens

#: end-of-word marker (a separate trailing symbol, as in the original
#: algorithm, so merges can learn word-final units like 'ing</w>').
EOW = "</w>"


# ---------------------------------------------------------------------------
# corpus → word frequencies (the ONLY corpus-sized pass)
# ---------------------------------------------------------------------------


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-split words — one explode + one
    map-side-combined groupBy; nothing downstream touches the corpus."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """chars of the word plus the end-of-word marker symbol.

    ``split`` keeps trailing empty strings (limit = -1), and ``(?!^)``
    matches at end-of-input, so the raw split of 'abc' is
    ['a','b','c',''] — the empties must be dropped or '' becomes a
    learnable symbol."""
    return F.concat(
        F.filter(F.split(word, "(?!^)"), lambda s: s != ""),
        F.array(F.lit(EOW)),
    )


# ---------------------------------------------------------------------------
# pair counting / merge application — pure column expressions
# ---------------------------------------------------------------------------


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (empty for 1-symbol words)."""
    n = F.size(syms)
    left = F.slice(syms, 1, F.greatest(n - 1, F.lit(0)))
    right = F.when(n >= 2, F.slice(syms, 2, n - 1)).otherwise(
        F.array().cast("array<string>")
    )
    return F.zip_with(left, right, lambda x, y: F.struct(x.alias("a"), y.alias("b")))


def _pair_counts_of(words: DataFrame) -> DataFrame:
    """(a, b, cnt) summed over ``freq`` — map-side combined groupBy."""
    return (
        words.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _has_pair(syms: Column, a: str, b: str) -> Column:
    """JVM-side adjacency test: does ``syms`` contain (a, b) adjacent?"""
    return F.exists(
        _adjacent_pairs(syms), lambda p: (p["a"] == a) & (p["b"] == b)
    )


def _apply_merge(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (a, b) with
    a+b — an index fold, entirely JVM-side.

    The fold state is struct(acc: array<string>, skip: boolean); at index
    i (1-based): if the previous step consumed this element, clear the
    flag; else if (syms[i], syms[i+1]) == (a, b), append the merged
    symbol and set the flag; else append syms[i].
    """
    merged = a + b
    n = F.size(syms)
    state = F.struct(
        F.array().cast("array<string>").alias("acc"), F.lit(False).alias("skip")
    )

    def step(st: Column, i: Column) -> Column:
        cur = F.element_at(syms, i)
        # F.get is 0-based and null-safe under Spark 4's ANSI default —
        # element_at(syms, n+1) on the last fold step only avoided an
        # out-of-bounds error because the (i < n) conjunct short-circuited
        # first, which conjunct reordering could break (round-5 ADVICE #5)
        nxt = F.get(syms, i)  # syms[i+1] in 1-based terms; null at the end
        take_pair = (~st["skip"]) & (i < n) & (cur == F.lit(a)) & (nxt == F.lit(b))
        return (
            F.when(
                st["skip"],
                F.struct(st["acc"].alias("acc"), F.lit(False).alias("skip")),
            )
            .when(
                take_pair,
                F.struct(
                    F.concat(st["acc"], F.array(F.lit(merged))).alias("acc"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(st["acc"], F.array(cur)).alias("acc"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    return F.aggregate(F.sequence(F.lit(1), n), state, step, lambda st: st["acc"])


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def train_bpe(
    corpus: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from a (…, text) corpus.

    Returns up to ``num_merges`` merges; stops early when no adjacent
    pair reaches ``min_pair_freq``. Deterministic: ties on count break
    to the lexicographically smallest (a, b), so the result does not
    depend on partitioning or row order.

    Driver state is the merge list itself (tiny). Per-round Spark work
    is vocabulary-sized: one 1-row collect (the argmax), one filtered
    merge application, and an incremental pair-count delta shuffled on
    the pair key — the corpus was consumed once, up front, by
    :func:`word_frequencies`. ONE action per round: both state tables
    are lineage-cut with lazy checkpoints, and the next round's argmax
    collect is the action that materializes them (the ``bfs.py``
    count-on-lazy-checkpoint pattern).
    """
    words = word_frequencies(corpus, text_col).select(
        _initial_symbols(F.col("word")).alias("syms"), F.col("freq")
    ).localCheckpoint(eager=False)
    # the unaffected ∪ new_affected union below CONCATENATES partitions —
    # without a narrow coalesce back to the base count, the words table
    # doubles its partition count every round (8 → 2^rounds·8 tasks/stage)
    npart = words.rdd.getNumPartitions()
    pair_counts = _pair_counts_of(words).localCheckpoint(eager=False)

    merges: list[tuple[str, str]] = []
    for rnd in range(num_merges):
        top = (
            pair_counts.filter(F.col("cnt") >= min_pair_freq)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))

        hit = F.col("hit")
        tagged = words.withColumn("hit", _has_pair(F.col("syms"), a, b))
        affected = tagged.filter(hit).select("syms", "freq")
        unaffected = tagged.filter(~hit).select("syms", "freq")
        new_affected = affected.select(
            _apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        )

        # incremental pair-count maintenance: only the touched words'
        # pairs change. Negative counts of their old pairs, positive of
        # their new ones; union + re-aggregate, drop zeros.
        delta = _pair_counts_of(affected).select(
            "a", "b", (-F.col("cnt")).alias("cnt")
        ).unionAll(_pair_counts_of(new_affected))
        pair_counts = (
            pair_counts.unionAll(delta)
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        ).localCheckpoint(eager=False)
        words = (
            unaffected.unionAll(new_affected)
            .coalesce(npart)
            .localCheckpoint(eager=False)
        )
    return merges


# ---------------------------------------------------------------------------
# tokenization with a learned merge table
# ---------------------------------------------------------------------------


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Serial min-rank BPE encode of one word (the standard GPT-2/HF-style
    encoder loop; coincides with replaying the merges in training order
    except on pathological vocabularies where a later merge re-creates an
    earlier pair). Pure python — used per DISTINCT word inside the Arrow
    batches, and by tests as the oracle."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _word_pieces_map(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, pieces array<string>) for every distinct word — one
    vectorized Arrow pass with the rank table broadcast."""
    spark = words.sparkSession
    ranks_bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )
    schema = StructType(
        [
            StructField("word", StringType()),
            StructField("pieces", ArrayType(StringType())),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = ranks_bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": [encode_word(w, ranks) for w in pdf["word"]],
                }
            )

    return words.select("word").distinct().mapInPandas(enc, schema=schema)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "pieces",
) -> DataFrame:
    """(id, pieces) — the document's BPE token sequence, in order.

    Encodes distinct words once (vocab-sized Arrow pass), joins the map
    back to the exploded corpus, and reassembles per document with a
    sort_array-of-structs flatten (JVM-side, no window). Token-less
    documents (empty/whitespace text) are preserved with an empty
    array."""
    exploded = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "word")
    )
    pieces = _word_pieces_map(exploded, merges)
    encoded = (
        exploded.join(pieces, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "pieces"))
                    ),
                    lambda s: s["pieces"],
                )
            ).alias(out)
        )
    )
    return df.select(id_col).join(encoded, id_col, "left").select(
        id_col,
        F.coalesce(F.col(out), F.array().cast("array<string>")).alias(out),
    )


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "n_bpe_tokens",
) -> DataFrame:
    """(id, n_bpe_tokens) under the learned vocabulary — same plan as
    :func:`bpe_encode` but ships only per-word piece COUNTS through the
    join, so no token text reaches the corpus-sized shuffle. Token-less
    documents are preserved with count 0."""
    exploded = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    sizes = _word_pieces_map(exploded, merges).select(
        "word", F.size("pieces").alias("n_pieces")
    )
    counted = (
        exploded.join(sizes, "word")
        .groupBy(id_col)
        .agg(F.sum("n_pieces").cast(LongType()).alias(out))
    )
    return df.select(id_col).join(counted, id_col, "left").select(
        id_col, F.coalesce(F.col(out), F.lit(0).cast(LongType())).alias(out)
    )
