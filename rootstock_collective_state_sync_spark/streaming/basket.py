"""Streaming market-basket maintenance: the mergeable count stages of
:mod:`..operators.basket` driven by Structured Streaming
``foreachBatch``, with item counts, pair counts, and the basket total
kept in one store that runs the :mod:`.store_base` lifecycle.

Contract: BASKET-ALIGNED BATCHES — a basket's rows never straddle a
micro-batch boundary (the order-keyed append-log ingest; the same
family of arrival contract as TWAP's monotone arrival). Under it,
counts over disjoint basket sets ADD EXACTLY, so rendering rules from
the store equals the at-rest :func:`..operators.basket` pipeline over
the full stream bit-for-bit (pinned by ``tests/test_streaming_basket.py``).
A basket split across batches would double-count its items — since
round 11 the step ENFORCES the contract: basket keys are monotone
under the order-keyed ingest, so a batch whose min key does not
strictly exceed the store's high-water key raises
:class:`.contracts.ArrivalContractError` before any store mutation
(route late basket fragments through a batch recompute instead).

Scale shape: per micro-batch cost is one basket-keyed batch
aggregation; store state is one row per item + one per co-occurring
pair + one total — #items² bounded (categorical alphabets), never
data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.operators.basket import (
    assoc_rules_from_counts,
    basket_item_counts,
    basket_pair_counts,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.contracts import (
    check_basket_alignment,
)
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

# one unified count store: kind 'N' (total baskets), 'I' (item), 'P' (pair)
STORE_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def _batch_counts(baskets: DataFrame) -> DataFrame:
    n = baskets.select("bk").distinct().count()
    items = basket_item_counts(baskets).select(
        F.lit("I").alias("kind"),
        F.col("item").alias("a"),
        F.lit("").alias("b"),
        F.col("cnt"),
    )
    pairs = basket_pair_counts(baskets).select(
        F.lit("P").alias("kind"),
        F.col("item_a").alias("a"),
        F.col("item_b").alias("b"),
        F.col("pair_cnt").alias("cnt"),
    )
    spark = baskets.sparkSession
    total = spark.createDataFrame([("N", "", "", n)], STORE_SCHEMA)
    return items.unionByName(pairs).unionByName(total)


def _rules(counts: DataFrame, min_sup_e6: int, min_conf_e6: int) -> DataFrame:
    """Association rules from an N/I/P count table."""
    n = int(
        counts.filter(F.col("kind") == "N").agg(F.sum("cnt")).collect()[0][0]
    )
    item_cnt = counts.filter(F.col("kind") == "I").select(
        F.col("a").alias("item"), "cnt"
    )
    pair_cnt = counts.filter(F.col("kind") == "P").select(
        F.col("a").alias("item_a"),
        F.col("b").alias("item_b"),
        F.col("cnt").alias("pair_cnt"),
    )
    return assoc_rules_from_counts(
        n, item_cnt, pair_cnt, min_sup_e6, min_conf_e6
    )


def render_rules(
    store: VersionedTable, min_sup_e6: int, min_conf_e6: int
) -> DataFrame:
    """Rules from the store's current counts — identical to the
    at-rest operator over every basket streamed so far."""
    return _rules(store.read(), min_sup_e6, min_conf_e6)


def basket_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    min_sup_e6: int,
    min_conf_e6: int,
):
    """Return the ``foreachBatch`` function merging each batch's
    counts into ``store`` (exact sums) and writing the post-merge
    rendered rules under ``scores_path``. Batch rows must be distinct
    ``(bk, item)`` pairs of whole baskets."""

    def advance(batch_df, prev, meta):
        baskets = batch_df.select("bk", "item").distinct()
        lo, hi = baskets.agg(F.min("bk"), F.max("bk")).collect()[0]
        # loud-fail BEFORE mutating: a straddling basket fragment
        # would double-count its items (two scalars vs one manifest
        # integer — control-plane)
        check_basket_alignment(meta.get("max_bk"), lo, hi, "basket")
        merged = (
            prev.unionByName(_batch_counts(baskets))
            .groupBy("kind", "a", "b")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        rules = _rules(merged, min_sup_e6, min_conf_e6)
        return merged, [(rules, scores_path)], {"max_bk": int(hi)}

    return store_step(store, STORE_SCHEMA, ["kind", "a", "b"], advance)
