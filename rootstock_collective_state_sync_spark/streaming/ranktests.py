"""Incremental two-sample rank tests: the streaming twin of
:func:`..operators.profile.mann_whitney_u` AND
:func:`..operators.profile.ks_two_sample` (X-ST21).

One store serves all seven reports: the tests' shared sufficient
statistic is the per-VALUE count table ``(v, c, ca)`` (total rows and
group-A rows at each value), which adds exactly over disjoint row
sets — the same merge law as the equi-depth (:mod:`.equidepth`) and
vocabulary (:mod:`.vocab`) legs. After any stream prefix every test
renders from the merged counts (``mann_whitney_u_from_counts`` /
``ks_two_sample_from_counts`` / …) bit-for-bit equal to the at-rest
operators over the same rows (``tests/test_streaming_ranktests.py``).
The use case is the online experiment monitor: an A/B split's rank
statistics re-rendered per micro-batch without re-scanning history.

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined per-value count
over the batch only; store state is |distinct values| rows,
hash-bucketed so merge cost tracks batch size.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.profile import (
    cliffs_delta_from_counts,
    hellinger_from_counts,
    energy_from_counts,
    psi_from_counts,
    wasserstein_from_counts,
    ks_two_sample_from_counts,
    mann_whitney_u_from_counts,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("v", T.LongType(), False),
        T.StructField("c", T.LongType(), False),
        T.StructField("ca", T.LongType(), False),
    ]
)


def ranktests_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str,
    group_expr: str,
):
    """Return the ``foreachBatch`` function merging each batch's
    per-value (total, group-A) counts into ``store`` and writing the
    post-merge MWU + KS + Wasserstein-1 + energy + PSI + Cliff's
    delta + Hellinger reports under ``scores_path`` (subdirs
    ``mwu``/``ks``/``w1``/``energy``/``psi``/``cliffs``/``hellinger``
    — one store, SEVEN reports as of r15: X-A50's effect size and
    X-A54's bounded drift metric render from the same (v, c, ca)
    counts). ``value_col`` must be integer-typed (fixed-point
    policy); ``group_expr`` is the SQL boolean defining group A."""

    def extract(batch_df):
        return (
            batch_df.select(
                F.col(value_col).cast("long").alias("v"),
                F.expr(group_expr).cast("long").alias("a"),
            )
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(
                F.count(F.lit(1)).cast("long").alias("c"),
                F.sum("a").cast("long").alias("ca"),
            )
        )

    renderers = [
        (mann_whitney_u_from_counts, f"{scores_path}/mwu"),
        (ks_two_sample_from_counts, f"{scores_path}/ks"),
        (wasserstein_from_counts, f"{scores_path}/w1"),
        (energy_from_counts, f"{scores_path}/energy"),
        (psi_from_counts, f"{scores_path}/psi"),
        (cliffs_delta_from_counts, f"{scores_path}/cliffs"),
        (hellinger_from_counts, f"{scores_path}/hellinger"),
    ]
    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["v"],
        extract,
        renderers,
        op_name="ranktests_foreach_batch",
        integer_cols=[value_col],
    )
