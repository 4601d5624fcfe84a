"""Incremental web-page ingestion: a stream of crawled pages becomes a
continuously-maintained url→url link table + canonical graph snapshots.

The batch path (sources/pages.py) assumes the whole crawl is present; real
Common-Crawl-style ingestion is a stream of WARC batches where a page can
be RE-crawled — its new outlinks must replace the old ones, not stack.
This sink maintains exactly that:

  * per micro-batch, keep the newest ``warc_ts`` version of each url in
    the batch, extract its links with the same vectorized Arrow UDF the
    batch path uses;
  * state = (url, warc_ts, href) rows for the CURRENT version of every
    url ever seen; a re-crawled url's old rows are dropped on arrival;
  * exactly-once via the manifest discipline of streaming/triangles.py:
    each batch writes a fresh sequence-numbered state dir, then atomically
    promotes a single manifest holding the state pointer + last applied
    epoch, so replayed foreachBatch epochs are skipped idempotently and a
    crash can never tear state;
  * ``snapshot_graph()`` hands the current link table to
    ``DiGraph._build``, as ``build_web_graph`` does (dedup weight =
    duplicate-link count, self-link drop, dense vid remap) — analytics
    run on a consistent snapshot while ingestion continues.

At 10^12 pages the state rewrite per batch becomes a partitioned MERGE
(Iceberg row-level delete of the re-crawled urls) instead of a full-table
rewrite; the manifest/epoch discipline is unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..graph import DiGraph
from ..sources.pages import extract_links


class StreamingPageIngestor:
    """foreachBatch sink: pages(url, warc_ts, html, ...) → durable link state."""

    def __init__(self, spark: SparkSession, state_dir: str, checkpoint_id: str | None = None):
        self.spark = spark
        self.state_dir = state_dir
        self.checkpoint_id = checkpoint_id
        self.manifest_path = os.path.join(state_dir, "manifest.json")
        os.makedirs(state_dir, exist_ok=True)

    def _manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"epoch": None, "links_dir": None, "seq": 0, "n_pages": 0,
                "checkpoint_id": self.checkpoint_id}

    def _promote(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def links(self) -> DataFrame:
        """Current (url, warc_ts, href) state — one row per outlink of the
        newest ingested version of each url (href NULL for pages with no
        outlinks). Lazy reader over the current state dir: collect it (or
        localCheckpoint) before the next ``process_batch``, which garbage-
        collects superseded state dirs; ``snapshot_graph`` checkpoints
        the state before its build for exactly that reason."""
        m = self._manifest()
        if m["links_dir"]:
            return self.spark.read.parquet(os.path.join(self.state_dir, m["links_dir"]))
        return self.spark.createDataFrame([], "url string, warc_ts timestamp, href string")

    @property
    def n_pages(self) -> int:
        return self._manifest()["n_pages"]

    def process_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> int:
        m = self._manifest()
        # Epoch ids restart at 0 when a stream is started with a FRESH
        # checkpoint location against existing state (e.g. after checkpoint
        # loss). The replay guard is therefore scoped to the checkpoint
        # identity: a different checkpoint_id resets the guard instead of
        # silently discarding every new batch as a "replay".
        same_ckpt = (
            self.checkpoint_id is None
            or m.get("checkpoint_id") is None
            or m.get("checkpoint_id") == self.checkpoint_id
        )
        if (
            same_ckpt
            and epoch_id is not None
            and m["epoch"] is not None
            and epoch_id <= m["epoch"]
        ):
            return m["n_pages"]  # replayed epoch: already applied
        if not same_ckpt:
            m = {**m, "epoch": None}
        # newest version of each url within the batch (re-crawls in one
        # batch collapse deterministically: max warc_ts, ties broken by
        # content hash so the pick is partition-invariant)
        w = Window.partitionBy("url").orderBy(
            F.desc("warc_ts"), F.desc(F.md5(F.col("html")))
        )
        newest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # left join so a page with zero outlinks keeps one (url, ts, NULL)
        # row — it stays a KNOWN url (in-links to it survive the snapshot's
        # known-url semi-join, and n_pages counts it)
        batch_links = (
            newest.select("url", "warc_ts")
            .join(extract_links(newest), "url", "left")
            .select("url", "warc_ts", "href")
            .localCheckpoint(eager=True)
        )
        batch_urls = newest.select("url").distinct().localCheckpoint(eager=True)
        state = self.links().localCheckpoint(eager=True)
        kept = state.join(batch_urls, "url", "left_anti")
        new_state = kept.unionAll(batch_links)
        seq = m.get("seq", 0) + 1
        new_dir = f"links_{seq:08d}"
        new_state.write.mode("overwrite").parquet(os.path.join(self.state_dir, new_dir))
        n_pages = (
            self.spark.read.parquet(os.path.join(self.state_dir, new_dir))
            .select("url")
            .distinct()
            .count()
        )
        self._promote(
            {
                "epoch": epoch_id,
                "links_dir": new_dir,
                "seq": seq,
                "n_pages": n_pages,
                "checkpoint_id": self.checkpoint_id or m.get("checkpoint_id"),
            }
        )
        if m["links_dir"]:
            import shutil

            shutil.rmtree(os.path.join(self.state_dir, m["links_dir"]), ignore_errors=True)
        return n_pages

    def snapshot_graph(self, num_partitions: int | None = None) -> DiGraph:
        """Canonical DiGraph over the current state — build_web_graph
        semantics (links to known urls only, self-links dropped, weight =
        duplicate-link count, dense vid remap by ascending url)."""
        # checkpointed first: the snapshot must stay valid after
        # process_batch garbage-collects the state dir it was read from
        state = self.links().localCheckpoint(eager=True)
        known = state.select("url").distinct()
        links = state.filter(F.col("href").isNotNull()).join(
            known.withColumnRenamed("url", "href"), "href", "left_semi"
        )
        rows = links.select(
            F.col("url").alias("src"), F.col("href").alias("dst"), F.lit(1.0).alias("weight")
        )
        return DiGraph._build(self.spark, rows, True, num_partitions)


def streaming_page_ingest(page_stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """Attach the ingestor to a streaming pages DataFrame. Returns the
    StreamingQuery; read state via ``StreamingPageIngestor(spark,
    state_dir).links()`` / ``.snapshot_graph()``."""
    ingestor = StreamingPageIngestor(
        page_stream.sparkSession, state_dir, checkpoint_id=os.path.abspath(checkpoint_dir)
    )
    return (
        page_stream.writeStream.foreachBatch(
            lambda df, epoch: ingestor.process_batch(df, epoch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
