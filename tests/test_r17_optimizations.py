"""Focused tests for the r17 optimization-round internals.

Each optimization that changed an operator's internals gets a direct
contract test here: Arrow-backed literal frames (`localrel.local_df`),
size-adaptive versioned-table read compaction, the per-session parquet
schema cache, and the in-row rule explode in
`assoc_rules_from_counts`.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F, types as T

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# localrel.local_df — value/schema equivalence with plain createDataFrame
# ---------------------------------------------------------------------------


def test_local_df_matches_plain_createdataframe(spark):
    from rootstock_collective_state_sync_spark.localrel import local_df

    rows = [
        (1, [0.125, -0.5], [[1.5, 2.5], [3.0, 4.0]], "abc", None),
        (None, None, None, None, 7),
        (2, [], [[], [0.1 + 0.2]], "", 0),
    ]
    sch = (
        "a bigint, v array<float>, luts array<array<double>>, "
        "s string, z long"
    )
    got = local_df(spark, rows, sch)
    want = spark.createDataFrame(rows, sch)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_df_float_bits_exact(spark):
    from rootstock_collective_state_sync_spark.localrel import local_df

    vals = [(0.1 + 0.2,), (1e-308,), (-0.0,), (2.0**53 + 1.0,)]
    a = [r.x for r in local_df(spark, vals, "x double").collect()]
    b = [r.x for r in spark.createDataFrame(vals, "x double").collect()]
    assert all(
        math.copysign(1, x) == math.copysign(1, y) and x == y
        for x, y in zip(a, b)
    )


def test_local_df_nan_falls_back_to_exact_path(spark):
    from rootstock_collective_state_sync_spark.localrel import local_df

    rows = [(float("nan"),), (1.5,)]
    got = [r.x for r in local_df(spark, rows, "x double").collect()]
    assert math.isnan(got[0]) and got[1] == 1.5  # NOT nulled by Arrow


def test_local_df_empty_rows(spark):
    from rootstock_collective_state_sync_spark.localrel import local_df

    df = local_df(spark, [], "a bigint, b string")
    assert df.count() == 0 and df.schema == T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
        ]
    )


def test_local_df_declares_every_column_nullable(spark):
    """The Arrow path does not check nullability, so the frame must not
    claim NOT NULL: a null there would make ``IS NULL`` fold to false."""
    from rootstock_collective_state_sync_spark.localrel import local_df

    sch = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), False),
        ]
    )
    df = local_df(spark, [(1, None), (2, "x")], sch)
    assert all(f.nullable for f in df.schema.fields)
    assert df.filter(F.col("b").isNull()).count() == 1
    ddl = local_df(spark, [(1,)], "a bigint NOT NULL")
    assert ddl.schema == T.StructType([T.StructField("a", T.LongType())])


# ---------------------------------------------------------------------------
# VersionedTable.read — size-adaptive coalesce
# ---------------------------------------------------------------------------


def test_versioned_read_coalesces_tiny_snapshot(spark, tmp_path):
    from rootstock_collective_state_sync_spark.sinks.table import (
        VersionedTable,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = VersionedTable(spark, tmp_path / "t").create(
        schema, merge_keys=["k"], num_buckets=16
    )
    rows = spark.range(500).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    t.overwrite(rows)
    df = t.read()
    # a KB-scale 16-bucket snapshot must NOT read as 16 near-empty
    # partitions
    assert df.rdd.getNumPartitions() <= 2
    # and the rows are exactly what was written
    assert sorted((r.k, r.v) for r in df.collect()) == [
        (i, str(i)) for i in range(500)
    ]


# ---------------------------------------------------------------------------
# plans.tables schema cache — same schema, no footer inference on reuse
# ---------------------------------------------------------------------------


def test_load_table_schema_cache_consistent(spark):
    from rootstock_collective_state_sync_spark.plans import tables

    tables._SCHEMAS.pop((id(spark), SF_SMOKE, "events"), None)
    first = tables.load_table(spark, SF_SMOKE, "events")
    assert (id(spark), SF_SMOKE, "events") in tables._SCHEMAS
    second = tables.load_table(spark, SF_SMOKE, "events")
    assert first.schema == second.schema
    # the ts column must be a (possibly NTZ) timestamp on BOTH paths —
    # the nanos->micros conversion (when the file carries long nanos)
    # must survive the cached-schema read identically
    assert isinstance(
        second.schema["ts"].dataType,
        (T.TimestampType, T.TimestampNTZType),
    )
    assert first.count() == second.count()
    assert first.agg(F.max("ts")).first()[0] == second.agg(F.max("ts")).first()[0]


# ---------------------------------------------------------------------------
# assoc_rules_from_counts — one explode emits both rule directions
# ---------------------------------------------------------------------------


def test_assoc_rules_from_counts_directions_and_plan(spark):
    from rootstock_collective_state_sync_spark.operators.basket import (
        assoc_rules_from_counts,
    )

    item_cnt = spark.createDataFrame(
        [("a", 6), ("b", 5), ("c", 4)], "item string, cnt long"
    )
    pair_cnt = spark.createDataFrame(
        [("a", "b", 4), ("b", "c", 1)], "item_a string, item_b string, pair_cnt long"
    )
    out = assoc_rules_from_counts(
        10, item_cnt, pair_cnt, min_sup_e6=200_000, min_conf_e6=500_000
    ).collect()
    # pair (a,b): cnt 4 >= minsup 2; conf a->b = 4/6 -> 666666 e6,
    # conf b->a = 4/5 -> 800000; both directions present exactly once.
    # pair (b,c): below min support - absent.
    got = {(r.antecedent, r.consequent): r.confidence_e6 for r in out}
    assert got == {("a", "b"): 666666, ("b", "a"): 800000}
    # the plan must hold ONE copy of the pair source (no self-union):
    plan = assoc_rules_from_counts(
        10, item_cnt, pair_cnt, 200_000, 500_000
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan


# ---------------------------------------------------------------------------
# min-owner window rewrites — join-form equivalence + no-join plan
# ---------------------------------------------------------------------------


def test_ngram_novelty_matches_join_form_and_plan(spark):
    """The window-min rewrite must reproduce the old owner-join form
    row-for-row, and the optimized plan must hold no Join at all."""
    from rootstock_collective_state_sync_spark.operators.dedup import (
        ngram_novelty,
        shingle_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),  # shares one 3-gram w/ 1
            (3, "alpha beta gamma delta"),    # exact dup of 1: novelty 0
            (4, "zeta eta theta iota"),       # all novel
            (5, "x"),                         # shorter than one 3-gram
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_first, r.novelty_e6)
        for r in ngram_novelty(docs).collect()
    }
    # reference: the pre-r17 owner-aggregate-join form, inline
    idx = shingle_index(docs, "text", "doc_id", n=3).select(
        "id", F.xxhash64("s").alias("h")
    )
    owners = idx.groupBy("h").agg(F.min("id").alias("first_id"))
    ref = {
        r.id: (r.n_grams, r.n_first)
        for r in idx.join(owners, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("id") == F.col("first_id"), 1).otherwise(0)
            ).alias("n_first"),
        )
        .collect()
    }
    assert set(got) == set(ref) == {1, 2, 3, 4}  # doc 5 emits no grams
    for d, (n_grams, n_first) in ref.items():
        assert got[d][:2] == (n_grams, n_first)
    assert got[3] == (2, 0, 0)  # exact dup: zero novelty
    assert got[4][2] == 1_000_000  # all novel
    plan = (
        ngram_novelty(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_cdc_dup_stats_matches_join_form(spark):
    """Same contract for the chunk-level twin: window annotation equals
    the owner-join reference, chars conserved, no Join in the plan."""
    from rootstock_collective_state_sync_spark.operators.text import (
        cdc_chunks,
        cdc_dup_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 4),
            (2, "the quick brown fox jumps over the lazy dog " * 4),
            (3, "an entirely different document body here " * 4),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_chars, r.total_chars)
        for r in cdc_dup_stats(docs).collect()
    }
    chunks = cdc_chunks(docs)
    owners = chunks.groupBy("chunk_hash").agg(F.min("doc_id").alias("_o"))
    dup = F.col("_o") < F.col("doc_id")
    ref = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_chars, r.total_chars)
        for r in chunks.join(owners, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("chunk_len")).otherwise(0)).alias(
                "dup_chars"
            ),
            F.sum("chunk_len").alias("total_chars"),
        )
        .collect()
    }
    assert got == ref
    # doc 2 is byte-identical to doc 1 -> every chunk duplicated
    assert got[2][1] == got[2][0] and got[2][2] == got[2][3]
    # doc 3 shares nothing -> zero dup chars
    assert got[3][1] == 0 and got[3][2] == 0
    plan = (
        cdc_dup_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
