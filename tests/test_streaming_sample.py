"""Incremental bottom-k sample e2e: the min-merge algebra makes the
maintenance loop correct under shuffled arrival AND rows applied twice
(under a fresh batch id, past the replay guard) — stream == at-rest
bit-for-bit."""

from __future__ import annotations

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.sample import (
    bottom_k_sample,
    sample_foreach_batch,
)

ROWS = [(i, "t" + str(i % 3), f"p{i}") for i in range(90)]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, event_type string, payload string"
    )


def _snap(df):
    return sorted(map(tuple, df.select(
        "event_type", "h", "id_", "payload").collect()))


def test_streaming_sample_matches_at_rest_under_double_apply(spark, tmp_path):
    store = VersionedTable(spark, tmp_path / "s_store")
    step = sample_foreach_batch(
        store, str(tmp_path / "s_scores"), k=5,
        group_col="event_type", id_col="event_id", payload_col="payload",
    )
    # shuffled arrival + a DOUBLE-APPLIED middle batch under a fresh
    # batch id (the replay guard would skip a same-id replay): the
    # min-merge makes the second apply a semantic no-op
    step(_df(spark, ROWS[60:]), 0)
    step(_df(spark, ROWS[:30]), 1)
    step(_df(spark, ROWS[:30]), 2)
    step(_df(spark, ROWS[30:60]), 3)

    want = _snap(
        bottom_k_sample(
            _df(spark, ROWS), "event_type", "event_id", 5, "payload"
        )
    )
    assert _snap(store.read()) == want
    assert len(want) == 15  # k=5 x 3 groups — state is k-bounded

    # determinism: rebuilding from scratch in a different split gives
    # the identical sample (hash order is the replayable RNG)
    store2 = VersionedTable(spark, tmp_path / "s_store2")
    step2 = sample_foreach_batch(
        store2, str(tmp_path / "s_scores2"), k=5,
        group_col="event_type", id_col="event_id", payload_col="payload",
    )
    step2(_df(spark, ROWS[::2]), 0)
    step2(_df(spark, ROWS[1::2]), 1)
    assert _snap(store2.read()) == want
