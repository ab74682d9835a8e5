"""Incremental benchmark decontamination: the ingest-time leg of
X-D6 (``benchmark_contamination``) — r12 verdict item 10 / X-ST19.

A training-data pipeline does not re-scan the corpus per eval-set
check; it checks each INGEST BATCH against a FIXED evaluation set as
the batch lands. The eval set's word n-gram shingle index is bounded
(benchmarks are thousands of docs, corpora are billions), so it is a
natural :class:`..sinks.table.VersionedTable` store: built once by
:func:`build_eval_index`, read (bounded) per batch, broadcast into
the same overlap join the at-rest operator plans —
:func:`..operators.dedup.contamination_against_index` is shared code,
not a reimplementation, so the two tiers cannot drift.

Equivalence contract: each doc arrives in exactly one batch and the
check is per-doc against a FIXED index, so the flagged-docs store
after any stream prefix equals the at-rest
``benchmark_contamination`` over exactly the rows ingested so far —
bit-for-bit, under any batch split
(``tests/test_streaming_contamination.py``), like the X-D9/X-D18
incremental stores.

Replay safety: the same guard and scores-then-store order as the
:mod:`.store_base` lifecycle, so a replayed batch is a structural
no-op (no new store version, no duplicate score files).

Scale shape: per micro-batch one shingle explode over the batch only
(the corpus is never re-scanned), one broadcast join against the
bounded eval index, one keyed upsert proportional to the batch's
flagged docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.operators.dedup import (
    contamination_against_index,
    shingle_index,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.sinks.upsert import merge_upsert
from rootstock_collective_state_sync_spark.streaming.replay import (
    batch_already_applied,
    write_batch_scores,
)

EVAL_INDEX_SCHEMA = T.StructType(
    [T.StructField("s", T.StringType(), False)]
)

FLAGGED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_shared", T.LongType(), False),
        T.StructField("n_shingles", T.LongType(), False),
        T.StructField("share_pct", T.DoubleType(), False),
    ]
)


def build_eval_index(
    store: VersionedTable,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Build (or rebuild) the fixed eval-set shingle index store.
    Returns the committed version. Idempotent by content: rebuilding
    from the same benchmark produces an identical index."""
    idx = (
        shingle_index(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("s")
        .distinct()
    )
    store.create_if_not_exists(EVAL_INDEX_SCHEMA, merge_keys=["s"], num_buckets=4)
    return store.overwrite(idx, meta={"n": int(n)})


def contamination_foreach_batch(
    flag_store: VersionedTable,
    eval_store: VersionedTable,
    scores_path: str,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Return the ``foreachBatch`` function checking each ingest batch
    against the fixed eval index, writing the batch's flagged docs
    under ``scores_path`` and upserting them into ``flag_store`` (tip
    == at-rest ``benchmark_contamination`` over all rows so far)."""

    # outside store_step: the flagged store takes a keyed upsert, not an overwrite
    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        created = flag_store.create_if_not_exists(
            FLAGGED_SCHEMA, merge_keys=["doc_id"], num_buckets=4
        )
        if not created and batch_already_applied(flag_store, batch_id):
            return
        n = int(eval_store.manifest().meta["n"])
        report = contamination_against_index(
            batch_df,
            eval_store.read(),
            n=n,
            min_shared=min_shared,
            text_col=text_col,
            id_col=id_col,
        ).select(
            F.col("doc_id").cast("long"),
            F.col("n_shared").cast("long"),
            F.col("n_shingles").cast("long"),
            F.col("share_pct").cast("double"),
        )
        write_batch_scores(report, scores_path, batch_id)
        prev = flag_store.current_version()
        merge_upsert(flag_store, report, meta={"batch_id": int(batch_id)})
        if flag_store.current_version() == prev:
            # clean batch (no flagged docs): merge_upsert skips empty
            # batches, but the replay guard reads the LATEST manifest's
            # batch_id — commit a data-identical manifest carrying it
            # so a replayed clean batch is still a structural no-op
            flag_store.commit_buckets({}, prev, meta={"batch_id": int(batch_id)})

    return step
