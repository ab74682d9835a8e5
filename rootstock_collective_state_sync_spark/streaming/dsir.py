"""Streaming DSIR scoring: the incremental
:func:`..operators.text.dsir_increment` driven by Structured Streaming
``foreachBatch``; the hashed-n-gram model counts run the
:mod:`.store_base` lifecycle. The count merge is a plain SUM, so a
replayed batch would double-count without the lifecycle's replay
guard.

Scoring is prequential (progressive validation): each micro-batch is
scored by the model as of its own arrival (post-merge), so early docs
carry early-model scores — the online analog of the paper's static
weights. The final store equals the at-rest model exactly; re-scoring
any corpus against it reproduces the batch operator bit-for-bit
(``tests/test_streaming_dsir.py``).

Scale shape: per micro-batch cost is batch-sized + one ≤ B-row store
merge; the corpus is never re-scanned and the store never exceeds
``num_buckets`` rows — a control-plane table no matter how much data
has streamed through.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.text import dsir_increment
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("c_raw", T.LongType(), False),
        T.StructField("c_tgt", T.LongType(), False),
    ]
)


def dsir_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    target_col: str = "is_target",
    num_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Return the ``foreachBatch`` function maintaining the bucket
    count ``store`` and writing per-batch DSIR scores under
    ``scores_path``."""

    def advance(batch_df, prev, _meta):
        updated, scores = dsir_increment(
            batch_df,
            None if prev.isEmpty() else prev,
            target_col=target_col,
            num_buckets=num_buckets,
            id_col=id_col,
            text_col=text_col,
        )
        return updated, [(scores, scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["bucket"], advance)
