"""Streaming crawl-novelty scoring: the incremental
:func:`..operators.dedup.ngram_novelty_incremental` driven by
Structured Streaming ``foreachBatch``; the gram-owner store runs the
:mod:`.store_base` lifecycle.

Contract (same as the batch op): ids are monotone across batches —
the append-log ingest order. Equality with the at-rest batch pass
is pinned by ``tests/test_streaming_novelty.py``.

Scale shape: per micro-batch cost is batch-sized + one store
min-merge; the corpus is never re-scanned, and the store carries
8-byte gram hashes, not text.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.operators.dedup import (
    ngram_novelty_incremental,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("gram_hash", T.LongType(), False),
        T.StructField("first_id", T.LongType(), False),
    ]
)


def novelty_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
):
    """Return the ``foreachBatch`` function maintaining ``store`` and
    writing per-batch novelty scores under ``scores_path``."""

    def advance(batch_df, prev, _meta):
        updated, scores = ngram_novelty_incremental(
            batch_df, prev, text_col=text_col, id_col=id_col, n=n
        )
        return updated, [(scores, scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["gram_hash"], advance, num_buckets=16)
