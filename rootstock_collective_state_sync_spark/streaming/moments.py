"""Incremental mean/variance test family (X-ST24): the streaming twin
of one-way ANOVA (X-A45), Welch's t, and Cohen's d / Hedges' g — ONE
store, THREE reports, the X-ST21/22/23 pattern.

The statistics are not mergeable but their sufficient statistic is
the textbook one: the per-group moment table ``(g, n, s, q)`` adds
exactly over disjoint row sets (counts, sums, sums of squares — all
in DECIMAL(38,0), so the merge itself is exact, unlike a
floating-point running-variance store which would drift under
re-bracketing). Each merged batch renders
:func:`..operators.profile.anova_from_moments`,
:func:`..operators.profile.welch_from_moments`, and
:func:`..operators.profile.effect_size_from_moments`, bit-equal to
the at-rest operators over the same rows
(``tests/test_streaming_moments.py``). NULL values are filtered at
ingest (the shared policy).

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined per-group moment
aggregate + a keyed merge proportional to the batch's group count;
store state is #groups rows — control-plane-sized forever.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    anova_from_moments,
    effect_size_from_moments,
    welch_from_moments,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("s", T.DecimalType(38, 0), False),
        T.StructField("q", T.DecimalType(38, 0), False),
    ]
)


def moments_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str,
    group_col: str,
    a_groups: "list[str]",
):
    """Return the ``foreachBatch`` function merging each batch's
    per-group moments into ``store`` and writing the post-merge ANOVA
    row under ``<scores_path>/anova``, the Welch row (``a_groups``
    vs rest) under ``<scores_path>/welch``, and the Cohen's d /
    Hedges' g row under ``<scores_path>/cohend`` (one store, THREE
    reports as of r15). ``value_col`` must be
    integer-typed (fixed-point policy)."""
    dec = "decimal(38,0)"

    def extract(batch_df):
        return (
            batch_df.select(
                F.col(group_col).alias("g"),
                F.col(value_col).cast("long").alias("v"),
            )
            .filter(F.col("v").isNotNull())
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("v").cast(dec)).alias("s"),
                F.sum(F.col("v").cast(dec) * F.col("v")).alias("q"),
            )
        )

    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["g"],
        extract,
        [
            (anova_from_moments, f"{scores_path}/anova"),
            (lambda m: welch_from_moments(m, a_groups), f"{scores_path}/welch"),
            (
                lambda m: effect_size_from_moments(m, a_groups),
                f"{scores_path}/cohend",
            ),
        ],
        op_name="moments_foreach_batch",
        integer_cols=[value_col],
    )
