"""Common-Crawl-style pages table: deterministic generator, link extraction,
web-graph build — the engine's primary input path (BASELINE.json.input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``).

* ``generate_pages`` is pure column expressions over ``spark.range`` —
  deterministic (hash-seeded), no UDFs, partition-layout invariant. Link
  targets follow a quadratic-skew distribution (dst ∝ u² over page ids) so
  the extracted graph has power-law-ish hubs — the skew fixture the north
  rule requires.
* ``extract_links`` / ``extract_text`` are **vectorized Arrow pandas UDFs**
  (no per-row Python, per input_hint): html → hrefs via a compiled regex
  over a pandas string series; text extraction is pure and deterministic so
  the per-url extracted text is byte-identical run-to-run (tests hash it).
* ``build_web_graph`` / ``build_host_graph`` hand (url, href, 1.0) link
  rows to ``DiGraph._build``, the engine's one edge-table build: dedup
  with weight = duplicate-link count, self-link removal, dense vid remap by
  ascending url — the reference's ``add_edges_from`` pipeline
  (graphclass.py:150-233) over string-keyed web pages.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..graph import DiGraph

TWO63 = float(2**63)


def _u01(*cols):
    return (F.xxhash64(*cols).cast("double") / F.lit(TWO63) + 1.0) / 2.0


def _url(page_id):
    return F.concat(
        F.lit("https://site"),
        F.pmod(page_id, F.lit(97)).cast("string"),
        F.lit(".example/p"),
        page_id.cast("string"),
    )


def generate_pages(
    spark: SparkSession,
    n_pages: int = 1000,
    links_per_page: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic pages table (FIXTURES.md §1)."""
    pages = spark.range(n_pages).select(F.col("id").alias("pid"))

    # Outlinks: quadratic skew → low page-ids become hubs; a few self-links
    # and duplicate links appear naturally (mod collisions), which the
    # canonicalization must handle.
    links = (
        spark.range(n_pages * links_per_page)
        .select(
            (F.col("id") / links_per_page).cast("long").alias("pid"),
            F.floor(_u01("id", F.lit(seed)) * _u01("id", F.lit(seed)) * n_pages)
            .cast("long")
            .alias("dst_pid"),
        )
    )
    hrefs = links.groupBy("pid").agg(
        F.array_join(
            F.collect_list(
                F.concat(F.lit('<a href="'), _url(F.col("dst_pid")), F.lit('">l</a>'))
            ),
            "",
        ).alias("links_html")
    )

    text = F.concat(
        F.lit("Document body for page "),
        F.col("pid").cast("string"),
        F.lit(" token"),
        F.pmod(F.xxhash64("pid", F.lit(seed), F.lit(7)), F.lit(1000)).cast("string"),
        F.lit(" content."),
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
        (F.pmod(F.xxhash64("pid", F.lit(seed), F.lit(11)), F.lit(3)) + 1).cast("int"),
    )
    out = (
        pages.join(hrefs, "pid", "left")
        .select(
            _url(F.col("pid")).alias("url"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("pid"))).alias("warc_ts"),
            F.encode(
                F.concat(
                    F.lit("<html><head><title>p"),
                    F.col("pid").cast("string"),
                    F.lit("</title></head><body><p>"),
                    text,
                    F.lit("</p>"),
                    F.coalesce(F.col("links_html"), F.lit("")),
                    F.lit("</body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
            text.alias("text"),
            lang.alias("lang"),
        )
    )
    return out


def canonicalize_url(col):
    """Canonical URL form, pure column expressions (no UDF):

      * trim surrounding whitespace,
      * lowercase the scheme://host prefix (path stays case-sensitive),
      * strip the fragment (``#...``),
      * strip default ports (``:80`` for http, ``:443`` for https).

    Deliberately RE2-compatible regexes (no lookarounds) so the DuckDB
    oracle can replay the same normalization."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    c = F.regexp_replace(c, r"#.*$", "")
    # lowercase scheme://host (authority = everything before /, ?, #)
    pre = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    c = F.when(pre != "", F.concat(F.lower(pre), rest)).otherwise(c)
    c = F.regexp_replace(c, r"^(http://[^/?#:]+):80([/?#]|$)", r"$1$2")
    c = F.regexp_replace(c, r"^(https://[^/?#:]+):443([/?#]|$)", r"$1$2")
    return c


_HREF_SCHEMA = "url string, href string"


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, href) rows — vectorized Arrow extraction, one row per anchor."""

    def extract(batches):
        import re

        import numpy as np

        pat = re.compile(r'<a\s+href="([^"]+)"')
        for pdf in batches:
            # fully vectorized: decode → findall (pandas C paths), then
            # repeat/concatenate instead of DataFrame.explode — explode's
            # index machinery was ~3× slower cold (no per-row Python loop,
            # per the input_hint requirement)
            # null html (nullable binary column) must yield zero links, not
            # a NaN that breaks len/concatenate below
            lists = (
                pdf["html"]
                .fillna(b"")
                .str.decode("utf-8", errors="replace")
                .str.findall(pat)
            )
            counts = lists.str.len().to_numpy()
            hrefs = (
                np.concatenate([np.empty(0, dtype=object), *lists])
                if len(lists)
                else np.empty(0, dtype=object)
            )
            yield pd.DataFrame(
                {"url": pdf["url"].to_numpy().repeat(counts), "href": hrefs}
            )

    return pages.select("url", "html").mapInPandas(extract, schema=_HREF_SCHEMA)


_ANCHOR_SCHEMA = "url string, href string, anchor string"


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(url, href, anchor) rows — one per ``<a href="...">anchor</a>``,
    the anchor's inner text with tags stripped. Same vectorized Arrow
    path as :func:`extract_links` (findall over a pandas string series,
    repeat/concatenate instead of explode; no per-row Python)."""

    def extract(batches):
        import re

        import numpy as np

        pat = re.compile(r'<a\s+href="([^"]+)"[^>]*>(.*?)</a>', re.S)
        tag = re.compile(r"<[^>]+>")
        for pdf in batches:
            lists = (
                pdf["html"]
                .fillna(b"")
                .str.decode("utf-8", errors="replace")
                .str.findall(pat)
            )
            counts = lists.str.len().to_numpy()
            pairs = [p for row in lists for p in row]
            hrefs = np.array([p[0] for p in pairs], dtype=object)
            anchors = np.array(
                [tag.sub(" ", p[1]).strip() for p in pairs], dtype=object
            )
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy().repeat(counts),
                    "href": hrefs,
                    "anchor": anchors,
                }
            )

    return pages.select("url", "html").mapInPandas(extract, schema=_ANCHOR_SCHEMA)


def anchor_text_table(pages: DataFrame, k: int = 10) -> DataFrame:
    """Per-target anchor-term index: (target, term, cnt, rank) — the top-k
    terms, by count then lexicographically, among all anchor texts of
    links pointing AT ``target`` (self-links excluded). The classic
    link-graph search-indexing byproduct: how the web describes a page.

    Scale shape: term counts aggregate map-side on (target, term) — a
    popular page's millions of in-anchors collapse to its distinct-term
    count before anything shuffles — and the top-k window runs over the
    already-aggregated count table, so no stage ever holds a hub's raw
    fan-in as rows."""
    from pyspark.sql import Window

    anchors = extract_anchors(pages)
    target = canonicalize_url(F.col("href"))
    terms = (
        anchors.select(
            target.alias("target"),
            canonicalize_url(F.col("url")).alias("src"),
            F.explode(
                F.split(F.lower(F.col("anchor")), r"[^a-z0-9]+")
            ).alias("term"),
        )
        .filter((F.col("term") != "") & (F.col("target") != F.col("src")))
        .groupBy("target", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("target").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        terms.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("target", "term", "cnt", "rank")
    )


def _extract_text_udf():
    """Deterministic html→text: first <p>…</p> body. Pure function of the
    bytes ⇒ byte-identical per url across runs/partitionings (input_hint
    invariant; tests hash this). Built lazily: pandas_udf needs a session."""

    @pandas_udf("string")
    def extract_text_udf(html: pd.Series) -> pd.Series:
        import re

        pat = re.compile(r"<p>(.*?)</p>", re.S)

        def one(b: bytes) -> str:
            m = pat.search(b.decode("utf-8", "replace"))
            return m.group(1) if m else ""

        return html.apply(one)

    return extract_text_udf


def extract_text(pages: DataFrame) -> DataFrame:
    return pages.select("url", _extract_text_udf()(F.col("html")).alias("text"))


def extract_host(col):
    """Lowercased host (authority minus port/userinfo) of a URL column —
    empty string when the url has no ``scheme://host`` part. RE2-safe."""
    c = F.col(col) if isinstance(col, str) else col
    auth = F.regexp_extract(F.trim(c), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.regexp_replace(auth, r"^[^@]*@", "")  # strip userinfo
    host = F.regexp_replace(host, r":[0-9]*$", "")  # strip port
    return F.lower(host)


def build_host_graph(pages: DataFrame, num_partitions: int | None = None) -> DiGraph:
    """Host-level link graph: url→url links aggregated to host→host (the
    Common-Crawl "host webgraph" rollup). Weight = number of url-level
    links between the two hosts (self-host links dropped); vertex labels
    are dense ranks of the host strings. Everything is one extraction +
    one aggregation on top of the page-level machinery — at 10^12 pages
    the host graph is ~3 orders of magnitude smaller than the url graph,
    so this is the cheap summary view."""
    spark = pages.sparkSession
    links = extract_links(pages)
    links = links.join(pages.select(F.col("url").alias("href")), "href", "left_semi")
    rows = links.select(
        extract_host("url").alias("src"),
        extract_host("href").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).filter((F.col("src") != "") & (F.col("dst") != ""))
    return DiGraph._build(spark, rows, True, num_partitions)


def build_web_graph(
    pages: DataFrame,
    num_partitions: int | None = None,
    canonicalize: bool = False,
) -> DiGraph:
    """Canonical url→url DiGraph from a pages table.

    vertices(vid, label=url rank, url); edges weighted by duplicate-link
    count; self-links dropped (digraphclass.py semantics).
    ``canonicalize=True`` normalizes both sides through
    ``canonicalize_url`` first (so ``HTTP://Host#frag`` and ``http://host``
    collapse to one vertex); off by default because the synthetic
    generator already emits canonical urls."""
    spark = pages.sparkSession
    links = extract_links(pages)
    if canonicalize:
        links = links.select(
            canonicalize_url("url").alias("url"), canonicalize_url("href").alias("href")
        )
        pages = pages.withColumn("url", canonicalize_url("url"))
    # Keep only links to urls that exist as pages (dangling hrefs would
    # otherwise mint phantom vertices — a policy choice; CommonCrawl link
    # graphs typically keep them, the reference only knows int vertices).
    links = links.join(pages.select(F.col("url").alias("href")), "href", "left_semi")
    rows = links.select(
        F.col("url").alias("src"), F.col("href").alias("dst"), F.lit(1.0).alias("weight")
    )
    return DiGraph._build(spark, rows, True, num_partitions)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: tuple[str, ...] = ("src", "dst"),
    weight: str = "weight",
) -> DataFrame:
    """Edge-level diff between two crawl snapshots' edge tables: one row
    per edge present in either, with ``status`` in
    ``{'added','removed','persisted'}`` plus ``weight_old``/``weight_new``
    /``weight_delta`` (missing side = 0). Feeds re-crawl analytics (link
    rot, churn rates) and incremental downstream updates.

    Scale shape: ONE full outer equi-join on the edge key. Both snapshots
    come out of ``Graph.from_edges``/``build_web_graph`` hash-partitioned
    on the same key, so on bucketed storage the join is co-located
    (no exchange); classification and deltas are column expressions in
    the join's output stage. Summaries (``groupBy('status').count()``,
    per-host churn) are map-side-combined aggregates on top.
    """
    kl = list(keys)
    o = old.groupBy(*kl).agg(F.sum(weight).alias("weight_old"))
    n = new.groupBy(*kl).agg(F.sum(weight).alias("weight_new"))
    j = o.join(n, kl, "full_outer")
    status = (
        F.when(F.col("weight_old").isNull(), F.lit("added"))
        .when(F.col("weight_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("persisted"))
    )
    return (
        j.withColumn("status", status)
        .withColumn("weight_old", F.coalesce("weight_old", F.lit(0.0)))
        .withColumn("weight_new", F.coalesce("weight_new", F.lit(0.0)))
        .withColumn("weight_delta", F.col("weight_new") - F.col("weight_old"))
    )


def page_churn(
    old_pages: DataFrame, new_pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-url re-crawl churn between two pages snapshots: ``status`` in
    ``{'added','removed','changed','unchanged'}`` by comparing content
    digests. Only md5 digests ride the join — never page text/html —
    so the shuffle is 16 bytes + url per row regardless of page size
    (the same digests-only discipline as the dedup family)."""
    o = old_pages.select(
        F.col(url_col).alias("url"), F.md5(F.coalesce(text_col, F.lit(""))).alias("_do")
    ).dropDuplicates(["url"])
    n = new_pages.select(
        F.col(url_col).alias("url"), F.md5(F.coalesce(text_col, F.lit(""))).alias("_dn")
    ).dropDuplicates(["url"])
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("_do").isNull(), F.lit("added"))
        .when(F.col("_dn").isNull(), F.lit("removed"))
        .when(F.col("_do") == F.col("_dn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("status", status).select("url", "status")
