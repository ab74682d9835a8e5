"""Incremental Benford first-digit audit: the streaming twin of
:func:`..operators.profile.benford_audit`.

The digit census is the textbook mergeable summary — counts over
disjoint row sets ADD EXACTLY — so the store is just the 9-row
``(digit, n)`` table, a :func:`.store_base.sufficient_stat_step`
keyed sum, and the rendered report after any prefix of the stream is bit-for-bit the
at-rest audit over the same rows
(``tests/test_streaming_benford.py``). No arrival contract is needed:
the census is order-INVARIANT (a pure bag aggregate), unlike the
TWAP/basket legs.

Scale shape: per micro-batch one map-side-combined 9-group count;
store state is 9 rows forever.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    benford_digit_counts,
    benford_from_counts,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("digit", T.IntegerType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def benford_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str,
    cents: bool = True,
):
    """Return the ``foreachBatch`` function merging each batch's digit
    counts into ``store`` and writing the post-merge rendered audit
    under ``scores_path``."""
    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["digit"],
        lambda batch_df: benford_digit_counts(batch_df, value_col, cents),
        [(benford_from_counts, scores_path)],
        num_buckets=1,
    )
