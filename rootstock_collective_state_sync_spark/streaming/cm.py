"""Incremental Count-Min maintenance: the engine's
:func:`..operators.sketches.count_min` cell table kept in a
:class:`..sinks.table.VersionedTable` and advanced per micro-batch.

Because every partition AND every batch uses the same salted md5 hash
rows, Count-Min cells merge by EXACT addition under any batch split
and any batch ORDER — like OHLC (and unlike TWAP/basket), this leg
needs no arrival contract at all; the stream==batch equality is
pinned by ``tests/test_streaming_cm.py``. The store runs the
:mod:`.store_base` lifecycle; per-batch point estimates for the
caller's watchlist are its scores.

Scale shape: per batch one Arrow pass per partition builds a
depth×width integer table; state is exactly depth×width cells —
control-plane, independent of stream length; the watchlist render is
a cells-bounded driver read (same policy as the batch operator's
collect).
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.sketches import (
    _cm_hash,
    _cm_partition,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

STORE_SCHEMA = T.StructType(
    [
        T.StructField("row", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def _estimates(cells: dict, watch: list[str], depth: int, width: int):
    return [
        (str(v), int(min(cells.get((r, _cm_hash(str(v), r, width)), 0)
                         for r in range(depth))))
        for v in watch
    ]


def render_estimates(
    store: VersionedTable, watch: list[str], depth: int, width: int
) -> "list[tuple[str, int]]":
    """Point-query the stored sketch for ``watch`` items —
    ``min over rows of cell(row, hash(item, row))``, the CM estimate
    with its usual one-sided guarantee. Cells-bounded driver read."""
    cells = {
        (r["row"], r["bucket"]): r["cnt"] for r in store.read().collect()
    }
    return _estimates(cells, watch, depth, width)


def cm_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    col: str,
    watch: list[str],
    depth: int = 4,
    width: int = 256,
):
    """Return the ``foreachBatch`` function merging each batch's cell
    table into ``store`` (exact cell-wise sums) and writing the
    post-merge watchlist estimates under ``scores_path``."""

    def advance(batch_df, prev, _meta):
        batch_cells = (
            batch_df.select(F.col(col).cast("string").alias(col))
            .mapInPandas(
                lambda it: _cm_partition(it, col, depth, width),
                schema="row int, bucket int, cnt long, n_items long",
            )
            .select("row", "bucket", "cnt")
        )
        merged = (
            prev.unionByName(batch_cells)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        cells = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
        spark = batch_df.sparkSession
        scores = spark.createDataFrame(
            _estimates(cells, watch, depth, width), "item string, est long"
        )
        state = spark.createDataFrame(
            [(k[0], k[1], v) for k, v in sorted(cells.items())], STORE_SCHEMA
        )
        return state, [(scores, scores_path)], {}

    return store_step(store, STORE_SCHEMA, ["row", "bucket"], advance)
