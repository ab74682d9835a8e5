"""Streaming KMV distinct-count maintenance: the mergeable bottom-k
sketch of :mod:`..operators.sketches` driven by Structured Streaming
``foreachBatch``; the per-group bottom-k hash table runs the
:mod:`.store_base` lifecycle.

The KMV merge law — bottom-k(union of bottom-ks) == bottom-k(union)
— makes incremental maintenance LOSSLESS for the estimator: after any
number of micro-batches the store's estimate equals the at-rest
:func:`..operators.sketches.kmv_estimate` over the full stream
(pinned by ``tests/test_streaming_kmv.py``). The union-truncate merge
is idempotent (a set union), so replays converge.

Scale shape: per micro-batch cost is batch-sized hashing + a merge
bounded by ``groups x k`` store rows; the store never exceeds
``groups x k`` 8-byte hashes no matter how much data has streamed
through — a control-plane table.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.sketches import (
    kmv_bottom_k,
    kmv_estimate,
    kmv_hashes,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType(), False),
        T.StructField("h", T.LongType(), False),
    ]
)


def kmv_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    group_col: str = "source",
    value_col: str = "tokn",
    k: int = 256,
):
    """Return the ``foreachBatch`` function maintaining the bottom-k
    ``store`` and writing per-batch post-merge estimates
    ``(grp, n_hashes, kmv_est)`` under ``scores_path``."""

    def advance(batch_df, prev, _meta):
        new_h = kmv_hashes(batch_df, group_col, value_col)
        merged = kmv_bottom_k(prev.unionByName(new_h).distinct(), k)
        return merged, [(kmv_estimate(merged, k), scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["grp", "h"], advance)
