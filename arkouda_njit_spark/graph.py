"""Graph / DiGraph / PropGraph over Spark DataFrames.

Reference semantics (capability parity, not a port):
  * ``Graph.add_edges_from`` canonicalization —
    /root/reference/arachne/client/arachne/graphclass.py:150-256
    (symmetrize, dedup with weight *sum* aggregation, keep self-loops once,
    dense vertex remap in ascending original-label order, CSR segments).
  * ``DiGraph.add_edges_from`` —
    /root/reference/arachne/client/arachne/digraphclass.py:74-197
    (no symmetrization, self-loops removed, isolated vertices dropped).
  * ``PropGraph`` attribute loading —
    /root/reference/arachne/client/arachne/propgraphclass.py:99-498.

Spark-first design (SURVEY.md §1.4): a graph is a pair of DataFrames

  ``edges(src long, dst long, weight double)``
     hash-partitioned on ``src`` into ``num_partitions`` partitions and
     sorted within partitions by (src, dst) — the Double-Index layout's
     moral equivalent. For undirected graphs the table is *symmetric*
     (each non-loop edge appears in both orientations; a self-loop once),
     mirroring the reference's symmetric SDI edge list.

  ``vertices(vid long, label long)``
     the VERTEX_MAP: dense internal id (0..n-1, dense rank of ascending
     original label — graphclass.py:213-223) → original label. String
     keys (urls, hosts) give ``vertices(vid, label = vid, url)``.

``Graph._build`` is the one place that turns (src, dst, weight) rows into
these tables, whatever the key type; ``_remap`` and ``_layout`` are the
pieces the relabels and ``Graph.read`` share with it. A build has one
materialization rule: an intermediate it reads more than once (the dedup
table, the dense rank's ordered labels) is a lazy ``localCheckpoint``,
freed with its last reference; only the tables a ``Graph`` owns (edges,
vertices, degrees) are persisted, and ``Graph.unpersist`` frees them all.
The key type picks the vertex schema and nothing else.

The CSR ``SEGMENTS`` arrays are NOT materialized: per-vertex adjacency is
recovered by hash partitioning + sort, and every kernel is a join/agg over
the edge table (SURVEY.md §1.4). At 100 TB this table lives as a bucketed
Parquet/Iceberg table; ``Graph.write`` / ``Graph.read`` round-trip that.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .plans.joins import BROADCAST_MAX_VERTICES
from .plans.partitioning import dense_rank_ids


def _remap(
    edges: DataFrame, vmap: DataFrame, old: str, new: str, n_vertices: int
) -> DataFrame:
    """Rewrite the src and dst of (src, dst, weight) rows through
    ``vmap(old -> new)``. The map's size is opaque to Catalyst after the
    mapInPandas dense rank, so hint broadcast explicitly while it fits
    (sort-merge with a full edge shuffle otherwise — correct at
    10^12-vertex scale, wasteful below it)."""
    vsrc = vmap.select(F.col(old).alias("src"), F.col(new).alias("_svid"))
    vdst = vmap.select(F.col(old).alias("dst"), F.col(new).alias("_dvid"))
    if n_vertices <= BROADCAST_MAX_VERTICES:
        vsrc, vdst = F.broadcast(vsrc), F.broadcast(vdst)
    return (
        edges.join(vsrc, "src").join(vdst, "dst")
        .select(F.col("_svid").alias("src"), F.col("_dvid").alias("dst"), "weight")
    )


def _layout(edges: DataFrame, P: int) -> DataFrame:
    """The edge-table contract, persisted: (src, dst, weight) hash-
    partitioned on src into ``P`` partitions, sorted by (src, dst) within
    each."""
    return (
        edges.select("src", "dst", "weight")
        .repartition(P, "src")
        .sortWithinPartitions("src", "dst")
        .persist()
    )


def _as_edge_df(
    spark: SparkSession,
    src: Sequence[int] | DataFrame,
    dst: Sequence[int] | None = None,
    wgt: Sequence[float] | None = None,
) -> DataFrame:
    """Accept either a DataFrame with (src, dst[, weight]) or python lists."""
    if isinstance(src, DataFrame):
        df = src
        cols = df.columns
        if "weight" not in cols:
            df = df.withColumn("weight", F.lit(1.0))
        return df.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
    if wgt is None:
        wgt = [1.0] * len(src)
    rows = list(zip([int(s) for s in src], [int(d) for d in dst], [float(w) for w in wgt]))
    return spark.createDataFrame(rows, "src long, dst long, weight double")


class Graph:
    """Undirected (optionally weighted) graph.

    Canonical edge table is symmetric; duplicate-edge weights are summed —
    reference graphclass.py:182-211. Self-loops are DROPPED by default
    (the reference's ``add_edges_from(no_self_loops=True)`` default,
    graphclass.py:154,199-203); pass ``no_self_loops=False`` to keep them
    (stored once, nx.Graph semantics: a loop contributes 2 to degree).
    """

    directed = False

    def __init__(
        self,
        edges: DataFrame,
        vertices: DataFrame,
        weighted: bool = False,
        num_partitions: int | None = None,
        n_vertices: int | None = None,
        n_edges: int | None = None,
    ):
        self.spark = edges.sparkSession
        self.edges = edges  # canonical, symmetric for undirected
        self.vertices = vertices  # (vid, label)
        self.weighted = weighted
        self.num_partitions = num_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        self._n_vertices = n_vertices
        self._n_edges = n_edges
        self._degrees: DataFrame | None = None

    # -- construction ------------------------------------------------------
    @classmethod
    def from_edges(
        cls,
        spark: SparkSession,
        src: Sequence[int] | DataFrame,
        dst: Sequence[int] | None = None,
        wgt: Sequence[float] | None = None,
        num_partitions: int | None = None,
        weighted: bool | None = None,
        no_self_loops: bool = True,
    ) -> "Graph":
        if cls.directed and not no_self_loops:
            # the reference DiGraph unconditionally removes self-loops
            # (digraphclass.py:118-127) — refuse rather than silently drop
            raise ValueError(
                "DiGraph always removes self-loops (digraphclass.py:118-127); "
                "no_self_loops=False is only meaningful for undirected Graph"
            )
        raw = _as_edge_df(spark, src, dst, wgt)
        if weighted is None:
            weighted = not isinstance(src, DataFrame) and wgt is not None
        return cls._build(spark, raw, weighted, num_partitions, no_self_loops)

    @classmethod
    def _build(
        cls,
        spark,
        raw: DataFrame,
        weighted: bool,
        num_partitions: int | None,
        no_self_loops: bool = True,
    ):
        """Canonical tables from raw (src, dst, weight) rows keyed by long
        labels, or by strings (urls, hosts): string keys give vertices
        (vid, label = vid, url) instead of (vid, label)."""
        P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        key = "url" if isinstance(raw.schema["src"].dataType, StringType) else "label"
        if not cls.directed:
            # Reference default drops self-loops (graphclass.py:199-203);
            # with no_self_loops=False a loop survives dedup once (its
            # symmetrized duplicate collapses) but the weight doubles under
            # symmetrize+sum — matching the reference's False branch.
            if no_self_loops:
                raw = raw.filter(F.col("src") != F.col("dst"))
            # Canonicalize to (least, greatest) and dedup ONCE, mirroring
            # back to the symmetric table after the remap joins: identical
            # rows/weights to the old symmetrize-then-dedup (each
            # orientation's group summed exactly the same multiset of raw
            # weights), but the aggregation shuffles E rows instead of 2E
            # and the input is scanned once instead of twice (guide §2.3).
            raw = raw.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                "weight",
            )
        else:
            # DiGraph: drop self-loops — digraphclass.py:118-127.
            raw = raw.filter(F.col("src") != F.col("dst"))

        # Dedup; duplicate weights sum-aggregated — graphclass.py:192-196.
        # The canonical pair set feeds three consumers (label extraction,
        # the dense rank's range-partitioner sampling pass, and the remap
        # joins), so it is a lazy checkpoint, like every intermediate the
        # build reads more than once: the dedup shuffle runs once, and the
        # plans downstream stop at the checkpoint leaf (a web graph's Arrow
        # link extraction is not re-rendered by AQE on each stage update).
        # Only the tables the Graph owns are persisted.
        dedup = raw.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
        if not cls.directed and not no_self_loops:
            # symmetrize+sum doubled a kept loop's weight (both mirrored
            # copies landed in the same group); reproduce that here
            dedup = dedup.withColumn(
                "weight",
                F.when(
                    F.col("src") == F.col("dst"), F.col("weight") * 2
                ).otherwise(F.col("weight")),
            )
        dedup = dedup.localCheckpoint(eager=False)

        # Dense vertex remap, ascending original label — graphclass.py:213-223.
        # Scalable two-pass dense rank (no single-partition window): see
        # plans/partitioning.dense_rank_ids. It already counts the labels,
        # so no vertices.count() action is needed; the persisted vertices
        # materialize inside the edge build's first broadcast construction.
        labels = (
            dedup.select(F.col("src").alias(key))
            .unionAll(dedup.select(F.col("dst").alias(key)))
            .distinct()
        )
        vertices, n_vertices = dense_rank_ids(labels, key, P, out_col="vid")
        if key == "url":
            vertices = vertices.select("vid", F.col("vid").alias("label"), "url")
        vertices = vertices.repartition(P, "vid").persist()

        remapped = _remap(dedup, vertices, key, "vid", n_vertices)
        if not cls.directed:
            # Mirror the canonical (lo, hi) rows back into the symmetric
            # table (each non-loop pair in both orientations, a self-loop
            # once) — a narrow union AFTER the remap joins, so the joins
            # probed E rows, not 2E.
            remapped = remapped.unionAll(
                remapped.filter(F.col("src") != F.col("dst")).select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "weight",
                )
            )
        edges = _layout(remapped, P)
        total = edges.count()  # materialize the canonical table
        # n_edges comes free from the materialization count whenever the
        # loop count is known by construction (loops were filtered, or the
        # table is directed) — the old lazy property re-ran a filter+count
        # job over the cached table per graph.
        n_edges = None
        if cls.directed:
            n_edges = total
        elif no_self_loops:
            n_edges = total // 2
        g = cls(
            edges,
            vertices,
            weighted=weighted,
            num_partitions=P,
            n_vertices=n_vertices,
            n_edges=n_edges,
        )
        return g

    # -- scalars -----------------------------------------------------------
    @property
    def n_vertices(self) -> int:
        if self._n_vertices is None:
            self._n_vertices = self.vertices.count()
        return self._n_vertices

    @property
    def n_edges(self) -> int:
        """Undirected: distinct undirected edges incl. self-loops
        (symmetric rows + self-loops, halved) — graphclass.py:199-211."""
        if self._n_edges is None:
            total = self.edges.count()
            if self.directed:
                self._n_edges = total
            else:
                loops = self.edges.filter(F.col("src") == F.col("dst")).count()
                self._n_edges = (total - loops) // 2 + loops
        return self._n_edges

    def __len__(self) -> int:
        return self.n_vertices

    def size(self) -> int:
        return self.n_edges

    # -- info ops (GraphInfoMsg.chpl:28-116 parity) -------------------------
    def nodes(self) -> DataFrame:
        """Original vertex labels, ascending — graphclass.py:67-80."""
        return self.vertices.orderBy("vid").select("label")

    def edge_list(self) -> DataFrame:
        """Edges mapped back to original labels — graphclass.py:82-102."""
        vs = self.vertices.select(F.col("vid").alias("src"), F.col("label").alias("src_label"))
        vd = self.vertices.select(F.col("vid").alias("dst"), F.col("label").alias("dst_label"))
        return (
            self.edges.join(vs, "src").join(vd, "dst")
            .select("src_label", "dst_label", "weight")
            .orderBy("src_label", "dst_label")
        )

    def has_reversed_arrays(self) -> bool:
        """Metadata probe parity (graphclass.py:108-114 / GraphInfoMsg.chpl:
        28-36). Undirected graphs store the symmetric table (both
        orientations present); DiGraph derives the reverse view on demand —
        either way the in-edge direction is always answerable."""
        return True

    def density(self) -> float:
        """2m/(n(n-1)) undirected, m/(n(n-1)) directed —
        graphclass.py:104-106 / digraphclass.py:69-71."""
        n, m = self.n_vertices, self.n_edges
        if n <= 1:
            return 0.0
        return (1.0 if self.directed else 2.0) * m / (n * (n - 1))

    # -- degrees -----------------------------------------------------------
    def degree(self) -> DataFrame:
        """(vid, degree): symmetric-list group sizes, self-loops +1 —
        graphclass.py:134-148; matches ``nx.Graph.degree`` (loop counts 2)."""
        if self._degrees is not None:
            return self._degrees
        deg = self.edges.groupBy("src").agg(
            (F.count("*") + F.count(F.when(F.col("src") == F.col("dst"), 1))).alias("degree")
        ).select(F.col("src").alias("vid"), "degree")
        out = (
            self.vertices.join(deg, "vid", "left")
            .select("vid", F.coalesce("degree", F.lit(0)).alias("degree"))
        )
        self._degrees = out.repartition(self.num_partitions, "vid").persist()
        return self._degrees

    # -- persistence (the bucketed-table path for 100 TB reuse) -------------
    def write(self, path: str, mode: str = "overwrite") -> None:
        self.edges.write.mode(mode).parquet(f"{path}/edges")
        self.vertices.write.mode(mode).parquet(f"{path}/vertices")

    def write_bucketed(
        self,
        name: str,
        mode: str = "overwrite",
        assignment: "DataFrame | None" = None,
        assignment_col: str = "block",
    ) -> None:
        """Persist as bucketed+sorted catalog tables (`<name>_edges`,
        `<name>_vertices`): the durable form of the Double-Index layout.
        Joins/aggregations on ``src`` against the reloaded table need NO
        exchange (bucket pruning + sorted buckets = the reference's
        pre-sorted edge list, kept across jobs). Iceberg would serve the
        same role with snapshot isolation; its jars aren't in this image.

        ``assignment`` — an optional (vid, block) DataFrame, e.g. from
        ``operators.balanced_partition`` — additionally DIRECTORY-partitions
        both tables by the source vertex's block, making the cut-minimized
        layout physical: an executor (or partition-pruned scan) reading
        block b touches exactly the edges whose exchange the partitioner
        kept local. Bucketing by src within each block is preserved, so
        the no-exchange src-keyed path is unchanged."""
        ew = self.edges
        vw = self.vertices
        if assignment is not None:
            # a vid absent from the assignment would silently vanish from
            # the persisted tables through the inner joins below — the
            # same failure mode balanced_partition validates on its init
            # path; refuse instead (round-5 ADVICE #1)
            missing = self.vertices.join(
                assignment.select("vid"), "vid", "left_anti"
            ).count()
            if missing:
                raise ValueError(
                    f"write_bucketed: assignment is missing {missing} "
                    "vertices of this graph; a partial (or foreign) "
                    "assignment would silently drop their rows from the "
                    "persisted layout"
                )
            blocks = assignment.select(
                F.col("vid").alias("src"),
                F.col(assignment_col).alias("_block"),
            )
            ew = ew.join(blocks, "src")
            vw = vw.join(
                assignment.select(
                    "vid", F.col(assignment_col).alias("_block")
                ),
                "vid",
            )
        ew_writer = ew.write.mode(mode)
        vw_writer = vw.write.mode(mode)
        if assignment is not None:
            ew_writer = ew_writer.partitionBy("_block")
            vw_writer = vw_writer.partitionBy("_block")
        (
            ew_writer.bucketBy(self.num_partitions, "src")
            .sortBy("src", "dst")
            .saveAsTable(f"{name}_edges")
        )
        (
            vw_writer.bucketBy(self.num_partitions, "vid")
            .saveAsTable(f"{name}_vertices")
        )

    def write_iceberg(self, table: str) -> None:
        """Persist as Iceberg tables (`<table>_edges` bucket-partitioned by
        src, `<table>_vertices` by vid) — the durable format BASELINE.json
        names, with snapshot isolation on a real deployment. Requires the
        Iceberg runtime jars + a configured catalog on the session; this
        image ships neither, so the call raises a clear RuntimeError and
        ``write_bucketed`` (bucketed parquet catalog tables) covers the
        same Double-Index reuse role."""
        try:
            (
                self.edges.writeTo(f"{table}_edges")
                .partitionedBy(F.bucket(self.num_partitions, F.col("src")))
                .using("iceberg")
                .createOrReplace()
            )
            (
                self.vertices.writeTo(f"{table}_vertices")
                .partitionedBy(F.bucket(self.num_partitions, F.col("vid")))
                .using("iceberg")
                .createOrReplace()
            )
        except Exception as e:  # jars/catalog absent in this image
            raise RuntimeError(
                "Iceberg runtime unavailable (needs iceberg-spark-runtime "
                "jars and a spark.sql.catalog.* configuration); use "
                "write_bucketed() for the parquet-catalog equivalent"
            ) from e

    @classmethod
    def from_table(cls, spark: SparkSession, name: str) -> "Graph":
        """Reload a bucketed graph; the bucket spec rides along in the
        catalog, so downstream src-keyed joins skip their shuffle."""
        # _block is the optional layout-partition column (write_bucketed
        # with an assignment); the in-memory graph contract doesn't carry it
        edges = spark.table(f"{name}_edges").drop("_block")
        vertices = spark.table(f"{name}_vertices").drop("_block")
        # bucket count recorded in the catalog
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}_edges").collect()
        buckets = None
        for r in desc:
            if r["col_name"] == "Num Buckets":
                buckets = int(r["data_type"])
        return cls(edges, vertices, num_partitions=buckets)

    @classmethod
    def read(cls, spark: SparkSession, path: str, num_partitions: int | None = None) -> "Graph":
        P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = _layout(spark.read.parquet(f"{path}/edges"), P)
        vertices = spark.read.parquet(f"{path}/vertices").repartition(P, "vid").persist()
        return cls(edges, vertices, num_partitions=P)

    def unpersist(self) -> None:
        for df in (self.edges, self.vertices, self._degrees):
            if df is not None:
                df.unpersist()


class DiGraph(Graph):
    """Directed graph: no symmetrization; self-loops removed; vertices are
    endpoints of surviving edges — digraphclass.py:74-197."""

    directed = True

    def out_degree(self) -> DataFrame:
        deg = self.edges.groupBy("src").count()
        return (
            self.vertices.join(deg, self.vertices.vid == deg.src, "left")
            .select("vid", F.coalesce("count", F.lit(0)).alias("out_degree"))
        )

    def in_degree(self) -> DataFrame:
        deg = self.edges.groupBy("dst").count()
        return (
            self.vertices.join(deg, self.vertices.vid == deg.dst, "left")
            .select("vid", F.coalesce("count", F.lit(0)).alias("in_degree"))
        )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Symmetric view of a directed edge table (used by kernels that need
    undirected semantics over a DiGraph, e.g. connected components)."""
    return edges.select("src", "dst", "weight").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    ).distinct()
