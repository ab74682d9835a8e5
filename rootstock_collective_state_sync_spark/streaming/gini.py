"""Incremental Gini / Lorenz census (X-ST22): the streaming twin of
:func:`..operators.profile.gini_index` (X-A26) and the Lorenz decile
table (X-A35) — ONE store, TWO reports, the X-ST21 pattern.

Neither report is mergeable (ranks and decile boundaries move with
data), but both are pure functions of the same sufficient statistic
the equi-depth (X-ST18) and rank-test (X-ST21) legs already use: the
per-VALUE count table ``(v, c)``, which adds exactly over disjoint
row sets. The store holds that table (hash-bucketed by value); after
each merged batch the step renders BOTH the one-row Gini index
(:func:`..operators.profile.gini_from_counts`) and the decile Lorenz
table (:func:`..operators.profile.lorenz_from_counts`), each
bit-equal to its at-rest raw-row operator over the same rows
(``tests/test_streaming_gini.py``).

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined per-value count +
a keyed merge proportional to the batch's distinct values; store
state is |distinct values| rows — the same cardinality the at-rest
operators' first shuffle produces.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    gini_from_counts,
    lorenz_from_counts,
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


def gini_lorenz_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str,
    buckets: int = 10,
):
    """Return the ``foreachBatch`` function merging each batch's
    per-value counts into ``store`` and writing the post-merge Gini
    row under ``<scores_path>/gini`` and the Lorenz decile table
    under ``<scores_path>/lorenz``. ``value_col`` must be
    integer-typed (snap monetary values to cents upstream — the
    package fixed-point policy) and nonnegative (the Gini domain)."""

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
        [
            (gini_from_counts, f"{scores_path}/gini"),
            (lambda m: lorenz_from_counts(m, buckets), f"{scores_path}/lorenz"),
        ],
        op_name="gini_lorenz_foreach_batch",
        integer_cols=[value_col],
    )
