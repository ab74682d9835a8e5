"""Incremental daily-volume censuses (X-ST25): ONE (event_type, day,
n) count store renders BOTH the Pettitt changepoint test (X-A52) and
the CUSUM changepoint census (X-A30) at every stream prefix — the
X-ST21/22/23/24 "one store, N reports" split applied to the
calendar-spine family.

Neither census is mergeable (a changepoint found in two halves is not
the changepoint of the union; the CUSUM mean/threshold move with
every batch), but their shared sufficient statistic is: per-(type,
day) event counts over disjoint row sets add exactly, so the store
merge is a plain integer sum and each batch re-renders the
at-rest operators (:func:`..plans.analytics.pettitt_from_daily` /
:func:`..plans.analytics.cusum_from_daily`) over the merged spine —
bit-equal to at-rest over the same rows
(``tests/test_streaming_dailyvol.py``).

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one map-side-combined (type, day) count
aggregate + a keyed merge proportional to the batch's distinct days;
store state is the DAYS-SPINE size (#types × #days) — calendar-
bounded forever, the same contract the at-rest plans document.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.plans.analytics import (
    cusum_from_daily,
    pettitt_from_daily,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("day", T.TimestampNTZType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def dailyvol_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
):
    """Return the ``foreachBatch`` function merging each batch's
    per-(type, day) counts into ``store`` and writing the post-merge
    Pettitt report under ``<scores_path>/pettitt`` and the CUSUM
    top-3 census under ``<scores_path>/cusum``."""

    def extract(batch_df):
        return (
            batch_df.select(
                F.col(type_col).alias("event_type"),
                # STORE_SCHEMA declares TimestampNTZ; a TIMESTAMP_LTZ
                # stream column (Spark's parquet default) would fail
                # the unionByName/overwrite type check on the first
                # batch, so normalize like ohlc._with_t_and_bar_end
                F.date_trunc(
                    "day", F.col(ts_col).cast("timestamp_ntz")
                ).alias("day"),
            )
            .filter(F.col("day").isNotNull())
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["event_type", "day"],
        extract,
        [
            (pettitt_from_daily, f"{scores_path}/pettitt"),
            (cusum_from_daily, f"{scores_path}/cusum"),
        ],
        op_name="dailyvol_foreach_batch",
    )
