"""Incremental equi-depth histogram: the streaming twin of
:func:`..operators.profile.equidepth_histogram` (X-ST18; r12 verdict
item 6 — the prefix-sum family's first incremental leg).

The histogram itself is NOT mergeable (boundaries move with data),
but its sufficient statistic is: the per-VALUE count table ``(v, c)``
adds exactly over disjoint row sets — the same merge law as the
Count-Min cells (:mod:`.cm`) and the Benford digit census
(:mod:`.benford`). So the store holds the count table
(:class:`..sinks.table.VersionedTable`, hash-bucketed by value — an
upsert touches only the buckets its batch values hash into) and the
report after any stream prefix renders via
:func:`..operators.profile.equidepth_from_counts`, bit-for-bit equal
to the at-rest histogram over the same rows
(``tests/test_streaming_equidepth.py``). Order-invariant (a pure bag
aggregate) — no arrival contract needed, unlike the TWAP/basket legs.

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined per-value count;
store state is |distinct values| rows — the same cardinality the
at-rest operator's first shuffle produces, kept hash-bucketed so
merge cost tracks batch size, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    equidepth_from_counts,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("v", T.LongType(), False),
        T.StructField("c", T.LongType(), False),
    ]
)


def equidepth_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str,
    buckets: int = 8,
):
    """Return the ``foreachBatch`` function merging each batch's
    per-value counts into ``store`` and writing the post-merge
    rendered histogram under ``scores_path``. ``value_col`` must be
    integer-typed (snap monetary values to cents upstream — the
    package fixed-point policy)."""

    def extract(batch_df):
        return (
            batch_df.select(F.col(value_col).cast("long").alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["v"],
        extract,
        [(lambda m: equidepth_from_counts(m, buckets), scores_path)],
        op_name="equidepth_foreach_batch",
        integer_cols=[value_col],
    )
