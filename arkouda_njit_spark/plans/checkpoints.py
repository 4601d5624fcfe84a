"""Lineage truncation for iterative kernels, without stats compounding.

``DataFrame.localCheckpoint`` cuts the *plan* (the result is a flat
``LogicalRDD`` leaf) but since SPARK-39748 it also preserves the
PRE-checkpoint plan's estimated ``Statistics`` on that leaf
(``LogicalRDD.originStats``). Catalyst's size-only estimator multiplies
child sizes at every join (``SizeInBytesOnlyStatsPlanVisitor.visitJoin``),
so in a loop of the shape

    state_{i+1} = checkpoint( edges ⋈ state_i ⋈ state_i ... )

the carried ``sizeInBytes`` estimate COMPOUNDS multiplicatively per
iteration: the number of digits in the BigInt multiplies by the number of
join references per step, and within ~10-15 iterations the optimizer
spends minutes per query doing million-digit ``BigInteger`` arithmetic
inside stats estimation (driver CPU pinned in
``BigInteger.multiplyToomCook3`` under ``visitJoin`` — observed on Louvain
level-2 sweeps growing 2.7x per sweep, and latent in every deep loop:
BFS on high-diameter graphs doubles the digit count per level).

:func:`wrap_local_checkpoint` is the engine-wide fix: it wraps
``DataFrame.localCheckpoint`` so the checkpointed ``LogicalRDD`` leaf is
rebuilt WITHOUT ``originStats``/``originConstraints``, and every iteration
restarts from the honest "unknown size" default
(``spark.sql.defaultSizeInBytes``) instead of the previous iteration's
inflated product. Kernels simply call ``localCheckpoint``. Join-strategy
quality is unaffected for these kernels: the state side's strategy is
pinned explicitly by a join hint, not left to size estimates.

The rebuilt leaf is also a new relation: fresh attribute ids
(``newInstance``) and no recorded partitioning or ordering. With the
source plan's ids, a join that reaches ``vid`` through a checkpoint on one
side and through the dense rank's ``mapInPandas`` on the other fails
analysis ("Failure when resolving conflicting references in Join"). A
recorded layout (Spark keeps one with AQE off, as ``__spark_entry__._tune``
sets) holds attribute ids that canonicalization does not normalize, so the
copy the analyzer renews in a self-join stops matching cached tables built
over the leaf and recomputes them: a whole graph build per self-join of
``graph.edges`` (triangle count, 301 vertices, 4 vCPUs: 3 s → 55 s).

The rebuild touches JVM internals (`LogicalRDD`'s constructor via py4j),
pinned by tests to the installed pyspark; if the internals ever move, the
helper degrades to the plain checkpoint (correct, just exposed to the
compounding) and remembers the failure so the fallback is decided once
per process, not once per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_STRIP_BROKEN = False
_INSTALLED = False


def wrap_local_checkpoint() -> None:
    """Make every ``DataFrame.localCheckpoint`` in the process stats-safe.

    The engine's kernels checkpoint per iteration in ~70 places (fixpoint
    loops, frontier expansions, streaming micro-batch state); every one of
    them compounds the inherited size estimate the same way, and a missed
    site is a latent multi-minute optimizer stall that only shows up at
    high iteration counts. Wrapping the classic ``DataFrame.localCheckpoint``
    once (called from the package ``__init__``) applies the strip uniformly
    — semantics are unchanged, only the leaf's *estimated* Statistics and
    recorded layout are reset, and AQE still re-plans from real runtime sizes at shuffle
    boundaries. Connect-mode DataFrames are untouched (no local JVM plan).
    Idempotent; falls back to the unwrapped behavior if Spark's internals
    move.
    """
    global _INSTALLED
    if _INSTALLED:
        return
    try:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    except ImportError:  # pragma: no cover - connect-only installs
        _INSTALLED = True
        return
    original = ClassicDataFrame.localCheckpoint

    def localCheckpoint(self, eager: bool = True):  # noqa: N802 - pyspark name
        return _stripped(original(self, eager=eager))

    localCheckpoint.__doc__ = (original.__doc__ or "") + (
        "\n\n.. note:: wrapped by arkouda_njit_spark.plans.checkpoints to"
        " drop inherited originStats (see that module's docstring)."
    )
    ClassicDataFrame.localCheckpoint = localCheckpoint
    _INSTALLED = True


def _stripped(ck: DataFrame) -> DataFrame:
    global _STRIP_BROKEN
    if _STRIP_BROKEN:
        return ck
    try:
        return _strip_origin_stats(ck)
    except Exception:  # pragma: no cover - depends on Spark internals
        _STRIP_BROKEN = True
        return ck


def _strip_origin_stats(ck: DataFrame) -> DataFrame:
    spark = ck.sparkSession
    jvm = spark._jvm  # type: ignore[attr-defined]
    plan = ck._jdf.queryExecution().logical()  # type: ignore[attr-defined]
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return ck
    # rebuilt without inherited stats or layout, under fresh attribute ids
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    nil = getattr(getattr(jvm.scala.collection.immutable, "Nil$"), "MODULE$")
    bare = jvm.org.apache.spark.sql.execution.LogicalRDD(
        plan.output(),
        plan.rdd(),
        jvm.org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
        nil,  # outputOrdering
        plan.isStreaming(),
        plan.stream(),
        spark._jsparkSession,  # type: ignore[attr-defined]
        none,  # originStats
        none,  # originConstraints
    ).newInstance()
    dataset_companion = getattr(
        getattr(jvm.org.apache.spark.sql.classic, "Dataset$"), "MODULE$"
    )
    jdf = dataset_companion.ofRows(spark._jsparkSession, bare)  # type: ignore[attr-defined]
    return DataFrame(jdf, spark)
