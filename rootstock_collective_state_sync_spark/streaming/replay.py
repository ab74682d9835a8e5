"""Replay idempotency helpers for the ``foreachBatch`` store lifecycle.

Structured Streaming's ``foreachBatch`` contract is at-least-once: a
crash between the side-effect and the streaming offset commit replays
the SAME batch (same ``batch_id``) on restart. Two hazards follow for
an incremental store:

1. **Store double-merge.** A sum merge would double-count a replayed
   batch, permanently diverging from the at-rest result. Guard: every
   commit writes ``batch_id`` into the
   :class:`..sinks.table.VersionedTable` manifest meta and the step
   SKIPS when the latest committed meta already carries it.
   ``foreachBatch`` only ever replays the most recent batch, so
   equality with the last applied id is a complete check.

2. **Scores double-append.** A plain ``mode("append")`` parquet write
   re-appends the replayed batch's rows even where the store itself
   recovers. Guard: scores land in a ``batch=<id>`` partition
   directory with ``overwrite`` mode, so a replay overwrites its own
   output in place. Readers ``spark.read.parquet(scores_path)`` as
   before (partition discovery adds a ``batch`` bookkeeping column).

:func:`.store_base.store_step` is the one caller; it orders the steps
scores-then-store, so a fully-applied replay is a pure no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable


def batch_already_applied(store: VersionedTable, batch_id: int) -> bool:
    """True when ``store``'s latest committed manifest records this
    ``batch_id`` — i.e. the replayed batch already ran to completion."""
    if not store.exists():
        return False
    return store.manifest().meta.get("batch_id") == int(batch_id)


def write_batch_scores(
    scores: DataFrame, scores_path: str, batch_id: int
) -> None:
    """Idempotently materialize a batch's score rows under
    ``scores_path/batch=<id>/`` (overwrite-in-place on replay)."""
    scores.write.mode("overwrite").parquet(
        f"{scores_path}/batch={int(batch_id)}"
    )


def require_integer_cols(batch_df: DataFrame, cols: "list[str]", op: str) -> None:
    """Fail fast when a streamed value column is fractional-typed.

    The incremental twins share the package fixed-point policy with
    their at-rest operators: value columns must be integer-typed (snap
    monetary values to cents upstream). The at-rest side raises ``ValueError`` on
    ``FractionalType`` (``operators/profile.py::group_moments`` et
    al.); before this guard the streaming side silently did
    ``cast('long')`` — truncating a double-typed stream and quietly
    diverging from the documented bit-equal-twin contract. Mirror the
    raise here, on the batch schema, for every leg that declares
    integer columns."""
    from pyspark.sql.types import FractionalType

    for c in cols:
        if isinstance(batch_df.schema[c].dataType, FractionalType):
            raise ValueError(
                f"{op} requires integer-typed column {c!r} (snap to "
                f"cents first — fixed-point policy); got "
                f"{batch_df.schema[c].dataType.simpleString()}"
            )
