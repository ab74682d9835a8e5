"""Incremental vocabulary census: the streaming twin of
:func:`..operators.text.vocab_census` (X-ST20).

Same decomposition as the equi-depth leg (:mod:`.equidepth`): the
census itself (types, hapax counts, ratios) is NOT mergeable — a term
hapax in two batches is not hapax in their union — but its sufficient
statistic is: the ``(source, term, n)`` frequency table adds exactly
over disjoint document sets. The store holds that table
(hash-bucketed by term so a batch merge touches only the buckets its
terms hash into) and the census after any stream prefix renders via
``vocab_census_from_tf``, bit-for-bit equal to the at-rest census
over the same documents (``tests/test_streaming_vocab.py``).

A :func:`.store_base.sufficient_stat_step` declaration: the statistic
and its renderers.

Scale shape: per micro-batch one token explode reduced to the batch's
own (source, term) counts, then a keyed merge proportional to the
batch vocabulary; store state is corpus-vocabulary-sized (Heaps:
~O(n^0.5) of token volume), the same cardinality the at-rest census
materializes per run.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.text import (
    tokens,
    vocab_census_from_tf,
)
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.store_base import (
    sufficient_stat_step,
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def vocab_foreach_batch(
    store: VersionedTable,
    scores_path: str,
    text_col: str = "text",
    group_col: str = "source",
    overlap_scores_path: "str | None" = None,
):
    """Return the ``foreachBatch`` function merging each batch's
    (source, term) counts into ``store`` and writing the post-merge
    rendered census under ``scores_path``. With
    ``overlap_scores_path`` set, ALSO renders the X-T30 cross-source
    overlap matrix from the same merged store (its ``n > 0`` rows ARE
    the (g, term) incidence — one store, two reports, r13 verdict
    item 6) bit-equal to the at-rest `vocab_overlap_matrix` at every
    prefix."""

    def extract(batch_df):
        return (
            batch_df.select(
                F.col(group_col).alias("g"),
                F.explode(tokens(F.col(text_col))).alias("term"),
            )
            .groupBy("g", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    renderers = [
        (lambda m: vocab_census_from_tf(m, group_col), scores_path)
    ]
    if overlap_scores_path is not None:
        from rootstock_collective_state_sync_spark.operators.text import (
            vocab_overlap_from_incidence,
        )

        renderers.append(
            (
                lambda m: vocab_overlap_from_incidence(m.select("g", "term")),
                overlap_scores_path,
            )
        )
    return sufficient_stat_step(
        store,
        STORE_SCHEMA,
        ["g", "term"],
        extract,
        renderers,
        op_name="vocab_foreach_batch",
    )
