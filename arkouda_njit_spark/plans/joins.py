"""Join-strategy selection for the iterative kernels.

The per-iteration ``state ⋈ edges`` join has two sane physical forms:

  * **broadcast** the state — optimal while the state fits comfortably in
    one executor (small graphs, test fixtures): zero shuffle, zero hash
    build on the big side;
  * **shuffle_hash** — the only form that exists at 10^12 vertices: the
    state is co-partitioned with the cached edge table, so only the
    (V-sized) state side moves and the edge side is never re-exchanged.

The reference faces the same dichotomy (shared- vs distributed-memory
kernels, dispatched on ``numLocales == 1`` — BreadthFirstSearchMsg.chpl:
87-99); we dispatch on vertex count. AQE would make the same call from
runtime sizes, but an explicit threshold keeps the decision deterministic
and testable.

PageRank, connected components and label propagation skip the dispatch and
hint ``shuffle_hash`` directly: their state is co-partitioned with a
checkpointed edge table, and a per-iteration broadcast measured slower
even on small graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ~64 MB of (vid long, value double) rows — mirrors the default
# autoBroadcastJoinThreshold; beyond this the state must shuffle.
BROADCAST_MAX_VERTICES = 2_000_000


def state_join_side(state: DataFrame, n_vertices: int) -> DataFrame:
    """Return the state DataFrame hinted for its size: broadcast up to
    :data:`BROADCAST_MAX_VERTICES` vertices, shuffle_hash beyond."""
    if n_vertices <= BROADCAST_MAX_VERTICES:
        return state.hint("broadcast")
    return state.hint("shuffle_hash")
