"""RDD-block bookkeeping under the names ``perfbench/workloads.py`` imports.

This module exists only for that import: the implementation lives in
``plans/epoch.py``, which frees each epoch's checkpoint blocks the same way
the benchmark frees each batch's.
"""

from .plans.epoch import _free_epoch_blocks as _unpersist_new_rdds
from .plans.epoch import _persistent_rdd_ids

__all__ = ["_persistent_rdd_ids", "_unpersist_new_rdds"]
