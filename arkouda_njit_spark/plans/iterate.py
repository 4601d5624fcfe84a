"""Driver-side fixpoint loop with lineage truncation, metrics, and resume.

The reference's iterative kernels (CC ConnectedComponents.chpl:33-104,
k-truss TrussMsg.chpl:128-617, BFS BreadthFirstSearch.chpl:27-138) all share
the shape: mutate a global state array until a change-counter stays zero.
Spark cannot express a fixpoint inside one plan (SURVEY.md §3), so the loop
lives on the driver:

  state_{i+1} = step(state_i, i)            # pure DataFrame -> DataFrame
  changed     = convergence(state_i, state_{i+1})   # one action

The loop eagerly ``localCheckpoint``s each new state *before* measuring
convergence, so each iteration's plan executes exactly once and lineage
never grows (without truncation the plan doubles per iteration and the
driver dies by iteration ~30).

North-rule requirements handled here:
  * **per-iteration, per-partition metrics** — wall time and the change
    metric per iteration; every durable epoch also records the state's row
    count per partition. Persisted as ``metrics.json`` next to the epochs.
    In-memory runs (no ``checkpoint_dir``) run no metric jobs at all.
  * **resumability** — with ``checkpoint_dir`` set, every
    :data:`EPOCH_INTERVAL` iterations and after the last one the state is
    written to ``<dir>/epoch=<i>`` (parquet; atomic via the _SUCCESS
    marker), ``i`` being the last completed iteration. ``run`` restarts
    from the latest complete epoch, so a killed job resumes mid-algorithm.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# durable runs write an epoch every this many iterations
EPOCH_INTERVAL = 5


@dataclass
class IterationMetrics:
    iteration: int
    wall_sec: float
    changed: float
    # state rows per partition; recorded for the iterations written as epochs
    partition_rows: dict[int, int] = field(default_factory=dict)


def count_changed(
    key: str | list[str], col: str
) -> Callable[[DataFrame, DataFrame], float]:
    """Convergence metric: number of rows whose ``col`` differs between
    consecutive states (the reference's CAS change counter). ``key`` is one
    column name or a list of them."""

    def metric(prev: DataFrame, cur: DataFrame) -> float:
        return float(
            cur.alias("n")
            .join(prev.alias("o"), key)
            .filter(F.col(f"n.{col}") != F.col(f"o.{col}"))
            .count()
        )

    return metric


def l1_diff(key: str, *cols: str) -> Callable[[DataFrame, DataFrame], float]:
    """Convergence metric: sum over rows and ``cols`` of |cur.col - prev.col|
    (PageRank's L1 error; HITS and SALSA pass both score columns)."""

    def metric(prev: DataFrame, cur: DataFrame) -> float:
        terms = [F.abs(F.col(f"n.{c}") - F.col(f"o.{c}")) for c in cols]
        v = (
            cur.alias("n")
            .join(prev.alias("o"), key)
            .agg(F.sum(sum(terms[1:], terms[0])))
            .collect()[0][0]
        )
        return float(v or 0.0)

    return metric


class FixpointLoop:
    """Run ``step`` on a keyed state DataFrame until convergence."""

    def __init__(
        self,
        name: str,
        step: Callable[[DataFrame, int], DataFrame],
        convergence: Callable[[DataFrame, DataFrame], float] | None,
        max_iterations: int = 200,
        tol: float = 0.0,
        checkpoint_dir: str | None = None,
        unroll: int = 1,
    ):
        """``convergence=None`` runs exactly ``max_iterations`` steps with no
        per-iteration convergence job (fixed-iteration mode — e.g. unrolled
        PageRank).

        ``unroll`` (fixed-iteration mode only, and only without a
        ``checkpoint_dir`` so durable epoch numbering stays per-step):
        chain this many ``step`` applications inside ONE plan between
        eager checkpoints. Each checkpoint is an action plus a full
        materialization barrier; at small per-iteration state sizes the
        barrier dominates the iteration (guide §1.2 — per-task work is
        fine, the job *shape* pays fixed cost per action). Measured on
        sf0.1 PageRank: unroll=2 8.0-10.8 s -> 5.6-6.1 s for 10
        iterations; deeper unrolls lose the win to plan-depth planning
        cost (unroll=10 measured 9.7-10.8 s). Values identical: the same
        power-iteration arithmetic, just fewer materialization points."""
        self.name = name
        self.step = step
        self.convergence = convergence
        self.max_iterations = max_iterations
        self.tol = tol
        self.checkpoint_dir = checkpoint_dir
        self.unroll = max(1, unroll)
        self.metrics: list[IterationMetrics] = []

    # -- durable epochs ----------------------------------------------------
    def _epoch_path(self, i: int) -> str:
        return os.path.join(self.checkpoint_dir, f"epoch={i}")

    def _metrics_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "metrics.json")

    def latest_epoch(self) -> int | None:
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        best = None
        for entry in os.listdir(self.checkpoint_dir):
            if entry.startswith("epoch="):
                i = int(entry.split("=", 1)[1])
                if os.path.exists(os.path.join(self.checkpoint_dir, entry, "_SUCCESS")):
                    best = i if best is None else max(best, i)
        return best

    def _write_epoch(self, state: DataFrame, i: int) -> None:
        """Persist the state after iteration ``i`` (whose metrics entry is
        the latest) together with its per-partition row counts."""
        rows = state.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        self.metrics[-1].partition_rows = {r["pid"]: r["count"] for r in rows}
        state.write.mode("overwrite").parquet(self._epoch_path(i))
        with open(self._metrics_path(), "w") as f:
            json.dump([asdict(m) for m in self.metrics], f)

    def _load_metrics(self) -> None:
        """Reload pre-crash metrics so the next epoch write doesn't clobber
        them (``self.metrics`` starts empty in a new process)."""
        if not os.path.exists(self._metrics_path()):
            return
        with open(self._metrics_path()) as f:
            self.metrics = [
                IterationMetrics(
                    iteration=m["iteration"],
                    wall_sec=m["wall_sec"],
                    changed=m["changed"],
                    partition_rows={
                        int(k): v for k, v in m.get("partition_rows", {}).items()
                    },
                )
                for m in json.load(f)
            ]

    # -- main loop ---------------------------------------------------------
    def run(self, state: DataFrame) -> DataFrame:
        start_iter = 0
        last = self.latest_epoch()
        if last is not None:
            state = state.sparkSession.read.parquet(self._epoch_path(last))
            start_iter = last + 1
            self._load_metrics()
        # the last completed iteration whose state is already on disk
        written = start_iter - 1

        state = state.localCheckpoint(eager=True)
        # unroll only applies when there is no per-iteration convergence
        # job to run and no durable per-step epoch contract to honour
        unroll = (
            self.unroll
            if (self.convergence is None and not self.checkpoint_dir)
            else 1
        )
        i = start_iter
        while i < self.max_iterations:
            t0 = time.time()
            k = min(unroll, self.max_iterations - i)
            # Eager localCheckpoint = the single action that materializes
            # this group of k chained steps and truncates lineage.
            nxt = state
            for j in range(k):
                nxt = self.step(nxt, i + j)
            nxt = nxt.localCheckpoint(eager=True)
            changed = self.convergence(state, nxt) if self.convergence else -1.0
            self.metrics.append(
                IterationMetrics(
                    iteration=i + k - 1, wall_sec=time.time() - t0, changed=changed
                )
            )

            state.unpersist()
            state = nxt
            i += k

            if self.checkpoint_dir and (i - 1) % EPOCH_INTERVAL == 0:
                self._write_epoch(state, i - 1)
                written = i - 1

            if self.convergence and changed <= self.tol:
                break

        if self.checkpoint_dir and written != i - 1:
            self._write_epoch(state, i - 1)
        return state
