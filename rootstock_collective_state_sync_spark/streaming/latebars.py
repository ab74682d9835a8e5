"""Watermark-bounded streaming TWAP: the out-of-order/late-data twin
of :mod:`.twap`.

:mod:`.twap`'s monotone-arrival contract is realistic for chain
events only because the reorg watcher (T6) rewinds the one source
that can go back in time; a multi-source 100 TB deployment won't
have that guarantee. This leg re-expresses Structured Streaming's
own late-data model (``withWatermark``: accept within the horizon,
drop-and-log beyond) over the engine's mergeable TWAP partials:

- The store atomically holds TWO kinds of rows per group: ``S`` — the
  FINALIZED partial (one row per group, covering every event at or
  below the finalize boundary), and ``E`` — PENDING raw events above
  the watermark, still re-orderable.
- Watermark = ``max event time seen − allowed_lateness`` (monotone,
  one integer in the manifest meta).
- Per batch: events landing inside a group's finalized span —
  ``(t, id) ≤ (S.last_t, S.last_id)`` — are DROPPED and logged to
  ``late_path/batch=<id>/`` (they can no longer be woven into the
  already-served prefix); everything else joins the pending pool,
  which may arrive in ANY order. Pending events at or below the new
  watermark are then FINALIZED: sorted into a chunk partial
  (:func:`..operators.temporal.twap_partial_from_base` re-sorts, so
  shuffled arrival within the horizon is harmless) and merged into
  ``S`` via the same bridge law as the monotone leg — valid because
  every chunk event strictly follows the group's finalized suffix.
- Rendered scores are the TWAP over finalized ⊕ pending — equal to
  the at-rest :func:`..operators.temporal.time_weighted_mean` over
  every non-dropped event (pinned by
  ``tests/test_streaming_latebars.py``: shuffled-arrival stream ==
  at-rest within the watermark).

Replay safety: the store runs the :mod:`.store_base` lifecycle
(scores and late drops are its batch-keyed outputs, ``max_t_us`` its
leg meta); the pending-pool update dedups on ``(group, id)`` so a
replayed half-applied batch rebuilds the identical state.

Scale shape: state is one ``S`` row per group + pending events
bounded by the lateness horizon × arrival rate (the same bound
Structured Streaming's own state store carries under a watermark) —
never stream-length-sized. Per batch: one batch projection, one
groups-bounded join against ``S``, one window pass over the
(bounded) pending pool.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.temporal import (
    twap_merge2,
    twap_partial_from_base,
    twap_render,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import store_step

_PARTIAL_COLS = (
    "first_t first_id first_vc last_t last_id last_vc n_events span_us"
).split()


def store_schema(group_col: str = "user_id") -> T.StructType:
    """Union schema: kind 'S' rows carry the finalized partial fields,
    kind 'E' rows carry one pending event in (t, id_, vc); the unused
    side is zero-filled (never null — merge keys must hash)."""
    return T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField(group_col, T.LongType(), False),
            *[
                T.StructField(c, T.LongType(), False)
                for c in _PARTIAL_COLS
            ],
            T.StructField("vdt", T.DecimalType(38, 0), False),
            T.StructField("t", T.LongType(), False),
            T.StructField("id_", T.LongType(), False),
            T.StructField("vc", T.LongType(), False),
        ]
    )


def _zero(col: str):
    if col == "vdt":
        return F.lit(0).cast("decimal(38,0)").alias("vdt")
    return F.lit(-1).cast("long").alias(col)


def twap_late_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    late_path: str,
    allowed_lateness_us: int,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
):
    """Return the ``foreachBatch`` function maintaining the
    finalized-partial + pending-pool ``store`` under the watermark
    contract (module docstring). Event ids must be unique per group
    (they key the replay dedup)."""

    def advance(batch_df, prev, meta):
        base = batch_df.select(
            F.col(group_col),
            F.col(id_col).cast("long").alias("id_"),
            F.expr(
                f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
                f"cast({ts_col} as timestamp_ntz))"
            ).alias("t"),
            F.round(F.col(value_col) * 100).cast("long").alias("vc"),
        )
        prev_s = prev.filter(F.col("kind") == "S").select(
            group_col, *_PARTIAL_COLS, "vdt"
        )
        prev_e = prev.filter(F.col("kind") == "E").select(
            group_col, "t", "id_", "vc"
        )

        # pending pool ∪ batch, dedup by (group, id): a replayed
        # half-applied batch rebuilds identical state
        events = prev_e.unionByName(base).dropDuplicates([group_col, "id_"])

        # beyond-watermark drops: inside the group's finalized span
        bound = prev_s.select(
            group_col,
            F.col("last_t").alias("_bt"),
            F.col("last_id").alias("_bid"),
        )
        j = events.join(bound, group_col, "left")
        is_late = F.col("_bt").isNotNull() & (
            (F.col("t") < F.col("_bt"))
            | ((F.col("t") == F.col("_bt")) & (F.col("id_") <= F.col("_bid")))
        )
        late = j.filter(is_late).select(group_col, "t", "id_", "vc")
        live = j.filter(~is_late).select(group_col, "t", "id_", "vc")

        batch_max_t = base.agg(F.max("t")).collect()[0][0]
        new_max_t = max(
            x for x in (meta.get("max_t_us"), batch_max_t) if x is not None
        )
        wm = new_max_t - allowed_lateness_us

        to_fin = live.filter(F.col("t") <= F.lit(wm))
        pend = live.filter(F.col("t") > F.lit(wm))
        new_s = twap_merge2(
            prev_s, twap_partial_from_base(to_fin, group_col), group_col
        )
        full = twap_merge2(
            new_s, twap_partial_from_base(pend, group_col), group_col
        )

        s_rows = new_s.select(
            F.lit("S").alias("kind"),
            group_col,
            *_PARTIAL_COLS,
            "vdt",
            _zero("t"),
            _zero("id_"),
            F.lit(0).cast("long").alias("vc"),
        )
        e_rows = pend.select(
            F.lit("E").alias("kind"),
            group_col,
            *[_zero(c) for c in _PARTIAL_COLS],
            _zero("vdt"),
            "t",
            "id_",
            "vc",
        )
        return (
            s_rows.unionByName(e_rows),
            [(late, late_path), (twap_render(full, group_col), scores_path)],
            {"max_t_us": int(new_max_t)},
        )

    return store_step(
        store, store_schema(group_col), ["kind", group_col, "id_"], advance
    )
