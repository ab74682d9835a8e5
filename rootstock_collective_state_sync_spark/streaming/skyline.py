"""Streaming 2-D skyline maintenance: the Pareto front of
:mod:`..operators.skyline` kept current over a stream via
``foreachBatch``, with the frontier itself as the store state (the
:mod:`.store_base` lifecycle).

The skyline merge law makes this lossless AND idempotent:
``skyline(A ∪ B) == skyline(skyline(A) ∪ B)`` — dominated rows can
never dominate anything, so dropping them early loses nothing; and
re-merging an already-applied batch is a no-op set-wise (the replay
guard still gates it, by convention, so replays skip even the wasted
work). After any number of micro-batches the store EQUALS the at-rest
:func:`..operators.skyline.skyline_2d` over the full stream
(pinned by ``tests/test_streaming_skyline.py``).

Scale shape: per micro-batch cost is one batch-sized local skyline +
a merge over (store ∪ batch-skyline) — both bounded by the frontier
size, which is the number of distinct Pareto-optimal trade-off
points, not the stream length.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.skyline import skyline_2d
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.LongType(), False),
    ]
)


def skyline_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    bucket_width: int = 100,
):
    """Return the ``foreachBatch`` function maintaining the Pareto
    frontier (minimize ``x``, maximize ``y``) of everything streamed
    so far. Batch rows: ``(id, x, y)``. The post-merge frontier is
    both the store state and the per-batch score snapshot."""

    def advance(batch_df, prev, _meta):
        merged = skyline_2d(
            prev.unionByName(batch_df.select("id", "x", "y")),
            minimize="x",
            maximize="y",
            bucket=F.expr(f"CAST(x AS BIGINT) div {bucket_width}"),
        ).select("id", "x", "y")
        return merged, [(merged, scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["id"], advance)
