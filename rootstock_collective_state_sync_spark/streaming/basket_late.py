"""Watermark-bounded streaming market basket: the out-of-order twin
of :mod:`.basket` (r11 verdict item 9 — the one order-sensitive leg
still hard-raising on ANY misaligned batch).

:mod:`.basket`'s basket-aligned-batch contract is the strict leg:
a basket's rows must never straddle a micro-batch boundary, enforced
by :func:`.contracts.check_basket_alignment` (raise before mutation).
This leg re-expresses Structured Streaming's late-data model over the
same mergeable count stages, exactly as :mod:`.latebars` did for
TWAP:

- The store atomically holds the FINALIZED count rows (kinds ``N`` /
  ``I`` / ``P`` — total, item, pair, covering every basket at or
  below the finalize boundary) plus kind ``E`` PENDING raw
  ``(bk, item)`` rows above the watermark, still accumulating
  fragments in ANY arrival order.
- Watermark = ``max basket key seen − allowed_lateness_bk``
  (monotone; basket keys are monotone-ISH under the order-keyed
  ingest, the horizon absorbs the jitter).
- Per batch: fragments of baskets at or below the PREVIOUS finalize
  boundary are DROPPED and logged to ``late_path/batch=<id>/`` —
  merging them would double-count a basket already folded into the
  counts; everything else joins the pending pool (dedup on
  ``(bk, item)`` so replays rebuild identical state). Pending
  baskets at or below the new watermark then FINALIZE: counted once
  (distinct baskets / items / pairs) and summed into ``N``/``I``/``P``.
- Rendered rules come from finalized ⊕ pending counts — equal to the
  at-rest :mod:`..operators.basket` pipeline over every non-dropped
  row; after a flush batch pushes the watermark past the stream, the
  equality is exact and bit-for-bit
  (``tests/test_streaming_basket_late.py``: shuffled-arrival-within-
  horizon == at-rest).

The store runs the :mod:`.store_base` lifecycle: late drops and
rules are its batch-keyed outputs, ``max_bk_seen``/``fin_bk`` its leg
meta.

Scale shape: finalized state is #items²-bounded as in the strict
leg; the pending pool is bounded by horizon × basket rate — the same
bound Structured Streaming's state store carries under a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.basket import (
    _batch_counts,
    _rules,
)
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

# kinds: N (basket total) / I (item) / P (pair) finalized counts,
# E (pending raw row: a = item, bk set); count rows zero bk
STORE_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("bk", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)
KEYS = ["kind", "a", "b", "bk"]


def _count_rows(baskets: DataFrame) -> DataFrame:
    """N/I/P count rows for a FINALIZED basket set (distinct
    (bk, item) rows in)."""
    return _batch_counts(baskets).withColumn("bk", F.lit(-1).cast("long"))


def _sum_counts(df: DataFrame) -> DataFrame:
    return df.groupBy(*KEYS).agg(F.sum("cnt").cast("long").alias("cnt"))


def basket_late_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    late_path: str,
    allowed_lateness_bk: int,
    min_sup_e6: int,
    min_conf_e6: int,
):
    """Return the ``foreachBatch`` function maintaining the
    finalized-counts + pending-pool ``store`` under the watermark
    contract (module docstring). Batch rows: ``(bk, item)``."""

    def advance(batch_df, prev, meta):
        base = (
            batch_df.select(
                F.col("bk").cast("long").alias("bk"), F.col("item")
            )
            .filter(F.col("bk").isNotNull())
            .distinct()
        )
        prev_counts = prev.filter(F.col("kind") != "E")
        prev_pend = prev.filter(F.col("kind") == "E").select(
            "bk", F.col("a").alias("item")
        )
        prev_fin = meta.get("fin_bk")
        prev_max = meta.get("max_bk_seen")

        # pending ∪ batch, dedup — replayed half-applied batches
        # rebuild identical state
        pool = prev_pend.unionByName(base).dropDuplicates(["bk", "item"])

        # fragments of already-finalized baskets: drop + log (merging
        # would double-count the basket's items)
        if prev_fin is not None:
            late = pool.filter(F.col("bk") <= F.lit(int(prev_fin)))
            live = pool.filter(F.col("bk") > F.lit(int(prev_fin)))
        else:
            late = pool.limit(0)
            live = pool

        batch_max = base.agg(F.max("bk")).collect()[0][0]
        if prev_max is None and batch_max is None:
            # first batch held only NULL-bk rows (filtered above as
            # contract-violating): no watermark can be derived —
            # keep the empty state instead of raising inside
            # foreachBatch and killing the stream (r12 advisor)
            return prev, [(late, late_path)], {}
        new_max = max(
            x for x in (prev_max, batch_max) if x is not None
        )
        wm = int(new_max) - int(allowed_lateness_bk)

        to_fin = live.filter(F.col("bk") <= F.lit(wm))
        pend = live.filter(F.col("bk") > F.lit(wm))

        merged = _sum_counts(prev_counts.unionByName(_count_rows(to_fin)))
        # render over finalized ⊕ pending: equals the at-rest pipeline
        # over every non-dropped row (exact once the watermark passes)
        combined = _sum_counts(merged.unionByName(_count_rows(pend)))
        e_rows = pend.select(
            F.lit("E").alias("kind"),
            F.col("item").alias("a"),
            F.lit("").alias("b"),
            "bk",
            F.lit(0).cast("long").alias("cnt"),
        )
        return (
            merged.unionByName(e_rows),
            [
                (late, late_path),
                (_rules(combined, min_sup_e6, min_conf_e6), scores_path),
            ],
            {"max_bk_seen": int(new_max), "fin_bk": int(wm)},
        )

    return store_step(store, STORE_SCHEMA, KEYS, advance)
