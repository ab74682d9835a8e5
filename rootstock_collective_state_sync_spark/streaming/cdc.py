"""Streaming chunk-level dedup: the incremental
:func:`..operators.text.cdc_dup_increment` driven by Structured
Streaming ``foreachBatch``; the chunk-owner store runs the
:mod:`.store_base` lifecycle.

Contract: ids are monotone across batches (append-log ingest order).
Equality with the at-rest :func:`..operators.text.cdc_dup_stats`
batch pass is pinned by ``tests/test_streaming_cdc.py``.

Scale shape: per micro-batch cost is batch-sized (the zero-shuffle
CDC scan) + one store min-merge on 16-byte chunk hashes — the corpus
is never re-chunked, and the store never carries text.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.text import cdc_dup_increment
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("chunk_hash", T.StringType(), False),
        T.StructField("first_id", T.LongType(), False),
    ]
)


def cdc_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    window: int = 8,
    modulus: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Return the ``foreachBatch`` function maintaining ``store`` and
    writing per-batch chunk-dup scores under ``scores_path``."""

    def advance(batch_df, prev, _meta):
        updated, scores = cdc_dup_increment(
            batch_df,
            prev,
            window=window,
            modulus=modulus,
            id_col=id_col,
            text_col=text_col,
        )
        return updated, [(scores, scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["chunk_hash"], advance, num_buckets=16)
