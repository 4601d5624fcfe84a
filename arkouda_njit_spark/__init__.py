"""arkouda_njit_spark — PySpark-native link-graph analytics engine.

A from-scratch rebuild of the capabilities of Bears-R-Us/arkouda-njit
("Arachne", reference at /root/reference) on idiomatic Spark:
DataFrame/SQL plans, explicit hash partitioning, Arrow-vectorized UDFs,
driver-side checkpointed fixpoint loops. See SURVEY.md for the capability
map and file:line parity citations.
"""

from .graph import DiGraph, Graph
from .plans.checkpoints import wrap_local_checkpoint
from .session import get_spark

# Engine-wide policy: every localCheckpoint drops inherited stats estimates
# so iterative kernels can't compound them (plans/checkpoints.py docstring).
wrap_local_checkpoint()

__all__ = ["Graph", "DiGraph", "get_spark"]
