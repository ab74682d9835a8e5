"""Incremental rank correlation (X-ST23): the streaming twin of
Spearman rho (X-A41) and Kendall tau-b (X-A43) — ONE store, TWO
reports, the X-ST21/22 pattern.

Neither statistic is mergeable (every rank moves when data arrives),
but both are pure functions of the same sufficient statistic: the
``(x, y, n_xy)`` PAIR-count table, which adds exactly over disjoint
row sets. Spearman's marginal rank tables derive from the pair table
by summation (each column's rank depends only on its own value) and
Kendall's concordance sums are already defined over cells — so the
store holds the pair table (hash-bucketed by (x, y)) and each merged
batch renders BOTH :func:`..operators.profile.spearman_rho_from_pairs`
and :func:`..operators.profile.kendall_tau_from_pairs`, bit-equal to
the at-rest raw-row operators over the same rows
(``tests/test_streaming_rankcorr.py``). NULL x/y rows are filtered at
ingest, matching the at-rest operators' shared NULL policy.

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined pair count + a
keyed merge proportional to the batch's distinct pairs; store state
is |distinct (x, y) pairs| rows — for the bounded-ordinal inputs the
operators contract on (the Kendall cell-join bound), a control-plane-
sized table regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    kendall_tau_from_pairs,
    spearman_rho_from_pairs,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("n_xy", T.LongType(), False),
    ]
)


def rankcorr_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    x_col: str,
    y_col: str,
):
    """Return the ``foreachBatch`` function merging each batch's
    (x, y) pair counts into ``store`` and writing the post-merge
    Spearman row under ``<scores_path>/spearman`` and the Kendall
    row under ``<scores_path>/kendall``. Both columns must be
    integer-typed (fixed-point policy) and bounded-cardinality
    ordinals (the Kendall cell-join input contract)."""

    def extract(batch_df):
        return (
            batch_df.select(
                F.col(x_col).cast("long").alias("x"),
                F.col(y_col).cast("long").alias("y"),
            )
            .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        )

    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["x", "y"],
        extract,
        [
            (spearman_rho_from_pairs, f"{scores_path}/spearman"),
            (kendall_tau_from_pairs, f"{scores_path}/kendall"),
        ],
        op_name="rankcorr_foreach_batch",
        integer_cols=[x_col, y_col],
    )
