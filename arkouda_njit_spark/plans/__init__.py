from .iterate import FixpointLoop, count_changed, l1_diff
from .partitioning import dense_rank_ids

__all__ = [
    "FixpointLoop",
    "count_changed",
    "l1_diff",
    "dense_rank_ids",
]
