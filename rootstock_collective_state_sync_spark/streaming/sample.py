"""Incremental deterministic bottom-k sampling: a uniform per-group
sample of a stream, maintained exactly under any batch split, any
batch order, AND replays.

The sample is the group's ``k`` smallest ``md5(id)`` rows (the same
salted-hash schedule as the KMV sketch and the deterministic centroid
trainer): hash-order IS uniform-random order with a replayable RNG,
and bottom-k is a MIN-MERGE structure — ``bottomk(A ∪ B) =
bottomk(bottomk(A) ∪ B)`` — so the maintenance loop is idempotent
and commutative by algebra (the novelty/cdc min-merge family;
contrast the sum-merge legs in :mod:`.cm`/:mod:`.twap`). The store
runs the :mod:`.store_base` lifecycle, whose replay guard skips a
same-id replay outright; ``tests/test_streaming_sample.py`` pins
stream==batch under shuffled arrival and rows applied twice under
fresh batch ids.

Scale shape: state is k rows per group — control-plane; per batch
one (group)-keyed window over (stored ∪ batch) rows, both k- and
batch-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step


def store_schema(group_col: str = "event_type") -> T.StructType:
    return T.StructType(
        [
            T.StructField(group_col, T.StringType(), False),
            T.StructField("h", T.StringType(), False),
            T.StructField("id_", T.LongType(), False),
            T.StructField("payload", T.StringType(), True),
        ]
    )


def _keep_bottom_k(df: DataFrame, group_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(group_col).orderBy("h", "id_")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bottom_k_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    payload_col: "str | None" = None,
) -> DataFrame:
    """The at-rest twin: each group's ``k`` smallest md5(id) rows —
    ``(group, h, id_, payload)``."""
    base = df.select(
        F.col(group_col),
        F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
        F.col(id_col).cast("long").alias("id_"),
        (
            F.col(payload_col).cast("string")
            if payload_col
            else F.lit(None).cast("string")
        ).alias("payload"),
    )
    return _keep_bottom_k(base, group_col, k)


def sample_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    k: int,
    group_col: str = "event_type",
    id_col: str = "event_id",
    payload_col: "str | None" = None,
):
    """Return the ``foreachBatch`` function maintaining the bottom-k
    sample store; the post-merge sample is also the per-batch score
    snapshot. The min-merge + the (group, h)-keyed dedup make rows
    applied twice a semantic no-op."""

    def advance(batch_df, prev, _meta):
        batch_rows = bottom_k_sample(batch_df, group_col, id_col, k, payload_col)
        merged = prev.unionByName(batch_rows).dropDuplicates(
            [group_col, "h", "id_"]
        )
        new_state = _keep_bottom_k(merged, group_col, k)
        return new_state, [(new_state, scores_path)], {}

    return store_step(store, store_schema(group_col), [group_col, "h"], advance)
