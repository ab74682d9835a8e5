"""Streaming Misra-Gries heavy-hitter maintenance: the mergeable
m-counter summary of :mod:`..operators.sketches` driven by Structured
Streaming ``foreachBatch``; the counter table runs the
:mod:`.store_base` lifecycle.

The MG merge law (Agarwal et al. 2012, "Mergeable summaries"): adding
EXACT batch counts into the summary and then compacting back to m
counters — subtract the (m+1)-th largest value from every counter,
drop the non-positive — preserves the estimator bounds
``est <= true <= est + delta_total`` where ``delta_total``
accumulates every compaction's subtraction (persisted in the store's
commit meta). Heavy items keep their no-false-negative guarantee:
anything with true frequency > N/(m+1) survives every compaction.

Scale shape: per micro-batch cost is one map-side-combined batch
count + a merge over ``m`` store rows; the store never exceeds ``m``
counters no matter how much data has streamed through.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("item", T.StringType(), False),
        T.StructField("est", T.LongType(), False),
    ]
)


def mg_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    value_col: str = "tokn",
    m: int = 16,
):
    """Return the ``foreachBatch`` function maintaining the m-counter
    ``store`` and writing per-batch post-merge summaries
    ``(item, est, est_upper, rk)`` under ``scores_path``. The
    accumulated compaction debt rides in the commit meta as
    ``delta``."""

    def advance(batch_df, prev, meta):
        delta = int(meta.get("delta", 0))
        batch_counts = (
            batch_df.select(F.col(value_col).cast("string").alias("item"))
            .groupBy("item")
            .agg(F.count(F.lit(1)).cast("long").alias("est"))
        )
        # merged counter table: m store rows + batch vocabulary —
        # batch-bounded; collect is the same control-plane policy as
        # the at-rest heavy_hitters merge
        merged: dict[str, int] = {r["item"]: int(r["est"]) for r in prev.collect()}
        for r in batch_counts.collect():
            merged[r["item"]] = merged.get(r["item"], 0) + int(r["est"])
        if len(merged) > m:
            cut = sorted(merged.values(), reverse=True)[m]
            delta += cut
            merged = {k: v - cut for k, v in merged.items() if v > cut}

        ranked = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
        spark = batch_df.sparkSession
        scores = spark.createDataFrame(
            [(item, est, est + delta, i + 1) for i, (item, est) in enumerate(ranked)],
            "item string, est long, est_upper long, rk int",
        )
        state = spark.createDataFrame(ranked, STORE_SCHEMA)
        return state, [(scores, scores_path)], {"delta": delta}

    return store_step(store, STORE_SCHEMA, ["item"], advance)
