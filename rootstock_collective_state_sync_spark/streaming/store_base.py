"""The one store lifecycle of every incremental ``foreachBatch`` leg.

Each incremental leg keeps its state in ONE
:class:`..sinks.table.VersionedTable` and is a declaration of four
things: the store schema, its merge keys, its bucket count, and one
``advance`` function holding the leg's merge law::

    advance(batch_df, prev_state, prev_meta)
        -> (new_state, [(df, path), ...], leg_meta)

``prev_state`` is the last committed store version (projected to the
declared schema; empty on the first batch), ``prev_meta`` its manifest
meta. ``new_state`` replaces the store; every ``(df, path)`` output
(rendered scores, dropped late rows) is written batch-keyed under
``path``; ``leg_meta`` rides in the new manifest next to ``batch_id``
(MG's compaction ``delta``, a watermark's ``max_t_us``, ...).

:func:`store_step` is the only code that runs the lifecycle, in this
order:

1. ``require_integer_cols`` on declared integer columns (fixed-point
   policy — a silently fractional column truncates on the
   ``cast('long')`` and corrupts the store forever);
2. an empty batch is a no-op;
3. ``create_if_not_exists``;
4. the :mod:`.replay` ``batch_id`` guard. ``foreachBatch`` is
   at-least-once: a crash before the offset commit replays the SAME
   batch. Sum merges would double-count, and even the idempotent
   min-merges (novelty, CDC, sample) would re-score a replayed batch
   against the post-merge store, so a fully-applied replay is skipped;
5. read the previous state and its meta;
6. write every batch-keyed output (``path/batch=<id>/``, overwrite in
   place) BEFORE the store commits;
7. ``store.overwrite(new_state, meta={"batch_id": ..., **leg_meta})``.

The order makes every crash recoverable: a crash between 6 and 7
re-runs the batch from the last committed store and its outputs
overwrite their own partial directories; once 7 commits, the guard
turns the replay into a pure no-op.

:func:`sufficient_stat_step` is the keyed-sum ``advance`` for the
"one store, N reports" family (equidepth, rank tests, vocabulary,
Gini/Lorenz, rank correlation, moments, daily volume, Benford): the
report is not mergeable, but a keyed sufficient-statistic table adds
exactly over disjoint row sets, so each batch reduces to that table,
keyed-sums into the store (every sum cast back to the column's
declared type — longs stay longs, Decimal(38,0) moments stay exact),
and re-renders every report from the merged table — bit-equal to the
at-rest operator over the same rows. With more than one renderer the
merged table is locally checkpointed so N renders cost one scan.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.replay import (
    batch_already_applied,
    require_integer_cols,
    write_batch_scores,
)

Outputs = list[tuple[DataFrame, str]]
Advance = Callable[[DataFrame, DataFrame, dict], tuple[DataFrame, Outputs, dict]]
Renderer = tuple[Callable[[DataFrame], DataFrame], str]


def store_step(
    store: VersionedTable,
    schema: T.StructType,
    merge_keys: Sequence[str],
    advance: Advance,
    *,
    num_buckets: int = 4,
    integer_cols: Sequence[str] = (),
    op_name: str = "",
):
    """Build the ``foreachBatch`` step running the store lifecycle
    (module docstring) around ``advance``."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if integer_cols:
            require_integer_cols(batch_df, list(integer_cols), op_name)
        if batch_df.isEmpty():
            return
        created = store.create_if_not_exists(
            schema, merge_keys=list(merge_keys), num_buckets=num_buckets
        )
        if not created and batch_already_applied(store, batch_id):
            return
        prev = store.read().select(*schema.names)
        new_state, outputs, leg_meta = advance(
            batch_df, prev, store.manifest().meta
        )
        for df, path in outputs:
            write_batch_scores(df, path, batch_id)
        store.overwrite(new_state, meta={"batch_id": int(batch_id), **leg_meta})

    return step


def sufficient_stat_step(
    store: VersionedTable,
    schema: T.StructType,
    merge_keys: Sequence[str],
    extract: Callable[[DataFrame], DataFrame],
    renderers: Sequence[Renderer],
    *,
    op_name: str = "",
    integer_cols: Sequence[str] = (),
    num_buckets: int = 8,
):
    """Build the ``foreachBatch`` step for one sufficient-statistic
    store. ``extract`` reduces a batch to the store's schema;
    ``renderers`` is a list of ``(render_fn, score_path)`` pairs, each
    rendered from the merged store per batch."""
    sum_fields = [f for f in schema.fields if f.name not in merge_keys]

    def advance(batch_df, prev, _meta):
        merged = (
            prev.unionByName(extract(batch_df))
            .groupBy(*merge_keys)
            .agg(*[F.sum(f.name).cast(f.dataType).alias(f.name) for f in sum_fields])
        )
        if len(renderers) > 1:
            merged = merged.localCheckpoint(eager=True)  # N renders, 1 scan
        return merged, [(render(merged), path) for render, path in renderers], {}

    return store_step(
        store, schema, merge_keys, advance, num_buckets=num_buckets,
        integer_cols=integer_cols, op_name=op_name,
    )
