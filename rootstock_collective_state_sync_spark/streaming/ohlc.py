"""Streaming OHLC bar maintenance: the mergeable
:func:`..operators.temporal.ohlc_partial` aggregate driven by
Structured Streaming ``foreachBatch``, with the per-(key, bucket)
partial bars kept in a store that runs the :mod:`.store_base`
lifecycle.

Every OHLC accumulator is associative and commutative — struct-min /
struct-max on the (ts, id)-coordinated open/close picks, min/max on
high/low, sums on count/volume — so merging each micro-batch's
partials into the store with :func:`..operators.temporal.ohlc_merge`
reproduces the at-rest bars EXACTLY, regardless of how events split
across batches AND regardless of batch ORDER: unlike the TWAP and
basket legs, this leg needs no arrival contract at all (pinned by the
shuffled-arrival e2e in ``tests/test_streaming_ohlc.py``).

What order-freedom does NOT give consumers is bar FINALITY: with
unbounded lateness an already-emitted bar may be revised by any
future batch. ``allowed_lateness_us`` opts into Structured
Streaming's own late-data model (the watermark contract of
``withWatermark`` + windowed aggs, re-expressed over this engine's
mergeable store): the watermark is ``max event time seen −
allowed_lateness``; a bar whose bucket END ≤ watermark is FINAL
(rendered with ``is_final = true``, immutable forever after — the
watermark is monotone because max-event-time is); an event landing
in a finalized bar is DROPPED and logged to ``late_path`` instead of
merged (batch-keyed overwrite → replay-idempotent, like scores).
Within the watermark, bucket-reopen stays allowed and exact — the
at-rest equality holds over every non-dropped event.

Scale shape: per micro-batch cost is one map-side-combined batch
aggregation + a merge bounded by the store (keys x buckets rows —
control-plane); raw events are never retained; the watermark is one
integer in the manifest meta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.operators.temporal import (
    ohlc_merge,
    ohlc_partial,
    ohlc_render,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step


def store_schema(key_col: str = "event_type") -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, T.StringType(), False),
            T.StructField("bar_ts", T.TimestampNTZType(), False),
            T.StructField("o_t", T.LongType(), False),
            T.StructField("o_id", T.LongType(), False),
            T.StructField("open_c", T.LongType(), False),
            T.StructField("c_t", T.LongType(), False),
            T.StructField("c_id", T.LongType(), False),
            T.StructField("close_c", T.LongType(), False),
            T.StructField("high_c", T.LongType(), False),
            T.StructField("low_c", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("volume_c", T.LongType(), False),
        ]
    )


def _with_t_and_bar_end(
    df: DataFrame, ts_col: str, bar: str
) -> DataFrame:
    """Project naive-epoch-microsecond event time ``t`` and the
    enclosing bucket's END ``bar_end_us`` (both tz-invariant longs)."""
    return df.withColumn(
        "t",
        F.expr(
            f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
            f"cast({ts_col} as timestamp_ntz))"
        ),
    ).withColumn(
        "bar_end_us",
        F.expr(
            f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
            f"timestampadd({bar.upper()}, 1, "
            f"date_trunc('{bar}', cast({ts_col} as timestamp_ntz))))"
        ),
    )


def ohlc_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bar: str = "hour",
    allowed_lateness_us: "int | None" = None,
    late_path: "str | None" = None,
):
    """Return the ``foreachBatch`` function maintaining the partial-bar
    ``store`` and writing each batch's post-merge rendered bars under
    ``scores_path``.

    With ``allowed_lateness_us`` set (requires ``late_path``), bars
    whose bucket end ≤ watermark are final: rendered rows gain
    ``is_final`` and events arriving for finalized bars are dropped to
    ``late_path/batch=<id>/`` instead of merged (see module docstring
    for the exact watermark semantics)."""
    if (allowed_lateness_us is None) != (late_path is None):
        raise ValueError(
            "allowed_lateness_us and late_path must be set together"
        )

    def advance(batch_df, prev, meta):
        outputs, leg_meta = [], {}
        accepted = batch_df
        if allowed_lateness_us is not None:
            tagged = _with_t_and_bar_end(batch_df, ts_col, bar)
            prev_max_t = meta.get("max_t_us")
            if prev_max_t is None:
                late, accepted = tagged.filter(F.lit(False)), tagged
            else:
                end = F.col("bar_end_us")
                wm_prev = F.lit(prev_max_t - allowed_lateness_us)
                late = tagged.filter(end <= wm_prev)
                accepted = tagged.filter(end > wm_prev)
            outputs.append((late.drop("t", "bar_end_us"), late_path))
            batch_max_t = accepted.agg(F.max("t")).collect()[0][0]
            maxes = [x for x in (prev_max_t, batch_max_t) if x is not None]
            leg_meta["max_t_us"] = int(max(maxes)) if maxes else None
            accepted = accepted.drop("t", "bar_end_us")

        new_p = ohlc_partial(accepted, key_col, ts_col, value_col, id_col, bar)
        merged = ohlc_merge(prev.unionByName(new_p), key_col)
        rendered = ohlc_render(merged)
        if leg_meta.get("max_t_us") is not None:
            wm_new = leg_meta["max_t_us"] - allowed_lateness_us
            rendered = rendered.withColumn(
                "is_final",
                F.expr(
                    f"timestampdiff(MICROSECOND, "
                    f"to_timestamp_ntz('1970-01-01'), "
                    f"timestampadd({bar.upper()}, 1, bar_ts))"
                )
                <= F.lit(wm_new),
            )
        outputs.append((rendered, scores_path))
        return merged, outputs, leg_meta

    return store_step(store, store_schema(key_col), [key_col, "bar_ts"], advance)
