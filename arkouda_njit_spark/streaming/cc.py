"""Incremental connected components over edge micro-batches.

The re-crawl loop's companion: as newly crawled link batches arrive,
maintain the component label of every vertex WITHOUT re-running CC over
the accumulated graph. The incremental trick is standard union-find
reasoning in relational form:

  * state is just the label table (vid, label), label = the component's
    minimum vid — the same labels batch ``connected_components``
    produces, so stream and batch agree exactly;
  * a new edge whose endpoints already share a label changes nothing;
  * the rest of the batch RELABELS to (label_a, label_b) merge pairs —
    one row per touched component pair, collapsed by distinct(), so the
    merge graph is bounded by the number of components the batch
    touches, never by batch size (and never collected to the driver);
  * the engine's hash-min kernel (operators/connected_components.
    hash_min_labels) on the merge graph (a CONTRACTED graph, typically
    tiny and shallow) yields old-label → new-root; one left join applies
    it to the state.

Per-batch cost: one anti-join against V-sized state, one batch-sized
relabel join, a fixpoint over the contracted merge graph, one V-sized
label rewrite. The V-sized rewrite is the price of a simple
parquet-backed state (same discipline as the streaming triangle
counter's edge-set state); the merge computation itself is
delta-sized.

Exactly-once: sequence-numbered state dirs promoted by an atomic
``os.replace`` of ``manifest.json`` holding the state pointer and the
epoch watermark together; replayed foreachBatch epochs are skipped
idempotently (the streaming/triangles.py pattern).

Reference parity: the reference's CC is batch (arachne/server/
ConnectedComponents.chpl); the streaming variant extends the engine's
streaming family (SURVEY §2.5 dev-tree streaming row) to the kernel the
north rule names.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.connected_components import hash_min_labels, symmetric_edges


def _canon_edges(df: DataFrame) -> DataFrame:
    return (
        df.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


class StreamingConnectedComponents:
    """foreachBatch sink maintaining the (vid, label) component state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        checkpoint_id: str | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.checkpoint_id = checkpoint_id
        self.manifest_path = os.path.join(state_dir, "manifest.json")
        os.makedirs(state_dir, exist_ok=True)

    def _manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"epoch": None, "labels_dir": None, "seq": 0}

    def _promote(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def labels(self) -> DataFrame:
        """Current (vid, label) snapshot.

        Single-writer / no-stale-reader contract: ``process_batch``
        reclaims the superseded snapshot directory immediately after the
        atomic manifest promote, so a DataFrame obtained here must be
        consumed (or checkpointed) BEFORE the next batch is processed —
        a lazy plan executed after a later promote fails with
        FileNotFoundException on the deleted files (round-5 ADVICE #3)."""
        m = self._manifest()
        if m["labels_dir"]:
            return self.spark.read.parquet(
                os.path.join(self.state_dir, m["labels_dir"])
            )
        return self.spark.createDataFrame([], "vid long, label long")

    @property
    def n_components(self) -> int:
        return self.labels().select("label").distinct().count()

    def process_batch(
        self, batch_df: DataFrame, epoch_id: int | None = None
    ) -> int:
        """Fold one edge micro-batch into the state; returns the number of
        component-pair merges applied (fresh vertices enter as singleton
        components, so an edge between two new vertices counts as one
        merge; 0 when every batch edge lands inside an existing
        component)."""
        m = self._manifest()
        # the epoch watermark is only comparable under the SAME checkpoint
        # identity on both sides: a sink with an identity reading state
        # seeded without one (direct process_batch calls) must NOT treat
        # the stored epoch as its own — foreachBatch epochs restart at 0
        # under a fresh checkpoint and the first batches would be dropped
        # as replays
        same_ckpt = (
            self.checkpoint_id is None
            if m.get("checkpoint_id") is None
            else m.get("checkpoint_id") == self.checkpoint_id
        )
        if (
            same_ckpt
            and epoch_id is not None
            and m["epoch"] is not None
            and epoch_id <= m["epoch"]
        ):
            return 0  # replayed epoch: already applied
        if not same_ckpt:
            m = {**m, "epoch": None}

        batch = _canon_edges(batch_df).localCheckpoint(eager=True)
        state = self.labels().localCheckpoint(eager=True)
        prev_dir = m.get("labels_dir")

        # vertices the state has never seen start as their own component
        batch_vids = (
            batch.select(F.col("u").alias("vid"))
            .unionAll(batch.select(F.col("v").alias("vid")))
            .distinct()
        )
        fresh = batch_vids.join(state.select("vid"), "vid", "left_anti").select(
            "vid", F.col("vid").alias("label")
        )
        labels = state.unionAll(fresh).localCheckpoint(eager=True)

        # relabel the batch; distinct (label_a, label_b) pairs with
        # label_a != label_b are the merge edges between components
        la = labels.select(F.col("vid").alias("u"), F.col("label").alias("la"))
        lb = labels.select(F.col("vid").alias("v"), F.col("label").alias("lb"))
        merges = (
            batch.join(la, "u")
            .join(lb, "v")
            .filter(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_merge_pairs = merges.count()
        n_fresh = fresh.count()
        if n_merge_pairs == 0 and n_fresh == 0:
            # no-op batch (all edges already inside known components):
            # bump the epoch watermark only — no V-sized state rewrite
            if epoch_id is not None:
                promoted = {**m, "epoch": epoch_id}
                if self.checkpoint_id is not None:
                    promoted["checkpoint_id"] = self.checkpoint_id
                self._promote(promoted)
            return 0
        if n_merge_pairs > 0:
            # label -> root over the merge graph; 2 * n_merge_pairs bounds
            # both its vertex count and the rounds it can need
            sym = symmetric_edges(
                merges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
                directed=True,
            )
            nodes = (
                sym.select(F.col("src").alias("vid")).distinct()
                .withColumn("component", F.col("vid"))
            )
            bound = 2 * n_merge_pairs
            root_map = hash_min_labels(
                sym, nodes, bound, max_iterations=bound
            ).select(F.col("vid").alias("label"), F.col("component").alias("root"))
            labels = (
                labels.join(root_map, "label", "left")
                .select(
                    "vid",
                    F.coalesce(F.col("root"), F.col("label")).alias("label"),
                )
            )

        seq = m.get("seq", 0) + 1
        new_dir = f"labels_{seq:08d}"
        labels.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, new_dir)
        )
        promoted = {
            "epoch": epoch_id if epoch_id is not None else m.get("epoch"),
            "labels_dir": new_dir,
            "seq": seq,
        }
        if self.checkpoint_id is not None:
            promoted["checkpoint_id"] = self.checkpoint_id
        elif m.get("checkpoint_id") is not None:
            # never silently drop the recorded checkpoint identity
            promoted["checkpoint_id"] = m["checkpoint_id"]
        self._promote(promoted)
        # superseded snapshot is dead after the atomic promote — reclaim it
        if prev_dir and prev_dir != new_dir:
            shutil.rmtree(
                os.path.join(self.state_dir, prev_dir), ignore_errors=True
            )
        return n_merge_pairs


def stream_connected_components(
    edge_stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Wire a streaming (src, dst) edge DataFrame into the incremental CC
    state via foreachBatch; drains available input (availableNow) and
    returns the StreamingQuery."""
    sink = StreamingConnectedComponents(
        edge_stream.sparkSession,
        state_dir,
        checkpoint_id=os.path.abspath(checkpoint_dir),
    )
    return (
        edge_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, eid: sink.process_batch(df, eid))
        .start()
    )
