"""Streaming TWAP maintenance: the mergeable
:func:`..operators.temporal.twap_partial` aggregate driven by
Structured Streaming ``foreachBatch``, with one partial row per group
in a store that runs the :mod:`.store_base` lifecycle.

Contract: MONOTONE ARRIVAL — every event in batch N+1 follows every
batch-N event of the same group in the (ts, id) total order (the
append-log ingest order; the same contract as the novelty/CDC
monotone-id stores). Under it, :func:`..operators.temporal.twap_merge2`
bridges the store's last observation to the batch's first with
exactly the segment the at-rest :func:`time_weighted_mean` would
build, so the rendered store equals the batch operator bit-for-bit
(pinned by ``tests/test_streaming_twap.py``). Out-of-order arrival
violates the contract and mis-weights the bridge — since round 11
the step ENFORCES it: a violating batch raises
:class:`.contracts.ArrivalContractError` before any store mutation
(use the batch operator over the at-rest table for late-data
corrections, or the watermark-bounded :mod:`.latebars` twin when
the source genuinely delivers out of order).

Scale shape: per micro-batch cost is one batch-sized window pass +
a groups-bounded full-outer merge; store state is ONE row per group
— control-plane, independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.temporal import (
    twap_merge2,
    twap_partial,
    twap_render,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.contracts import (
    check_monotone_groups,
)
from rootstock_collective_state_sync_spark.streaming.store_base import store_step


def store_schema(group_col: str = "user_id") -> T.StructType:
    return T.StructType(
        [
            T.StructField(group_col, T.LongType(), False),
            T.StructField("first_t", T.LongType(), False),
            T.StructField("first_id", T.LongType(), False),
            T.StructField("first_vc", T.LongType(), False),
            T.StructField("last_t", T.LongType(), False),
            T.StructField("last_id", T.LongType(), False),
            T.StructField("last_vc", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("span_us", T.LongType(), False),
            T.StructField("vdt", T.DecimalType(38, 0), False),
        ]
    )


def twap_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
):
    """Return the ``foreachBatch`` function maintaining the per-group
    TWAP partial ``store`` and writing each batch's post-merge
    rendered TWAPs under ``scores_path``."""

    def advance(batch_df, prev, _meta):
        new_p = twap_partial(batch_df, group_col, ts_col, value_col, id_col)
        # loud-fail BEFORE mutating: an out-of-order batch would
        # mis-weight the bridge segment (contract enforcement,
        # groups-bounded join — control-plane)
        check_monotone_groups(prev, new_p, group_col, "twap")
        merged = twap_merge2(prev, new_p, group_col)
        return merged, [(twap_render(merged, group_col), scores_path)], {}

    return store_step(store, store_schema(group_col), [group_col], advance)
