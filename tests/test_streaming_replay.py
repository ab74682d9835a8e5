"""foreachBatch replay idempotency (r09 advice), for every leg that runs
the :mod:`..streaming.store_base` lifecycle. Structured Streaming is
at-least-once around ``foreachBatch``, so each leg must tolerate
(a) a replay of a FULLY-committed batch — nothing on disk changes —
and (b) a crash after the batch-keyed outputs are written but BEFORE
the store commits — the replay overwrites the partial outputs in
place and the store advances exactly one version.

Driven against the step functions directly (the e2e stream harnesses
live in each leg's ``test_streaming_<leg>.py``, whose row builders are
reused here); a real replay is just the same ``(batch_df, batch_id)``
call repeated.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.streaming.basket import (
    basket_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.basket_late import (
    basket_late_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.benford import (
    benford_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.cdc import cdc_foreach_batch
from rootstock_collective_state_sync_spark.streaming.cm import cm_foreach_batch
from rootstock_collective_state_sync_spark.streaming.dailyvol import (
    dailyvol_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.dsir import dsir_foreach_batch
from rootstock_collective_state_sync_spark.streaming.equidepth import (
    equidepth_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.gini import (
    gini_lorenz_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.kmv import kmv_foreach_batch
from rootstock_collective_state_sync_spark.streaming.latebars import (
    twap_late_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.mg import mg_foreach_batch
from rootstock_collective_state_sync_spark.streaming.moments import (
    moments_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.novelty import (
    novelty_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.ohlc import (
    ohlc_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.rankcorr import (
    rankcorr_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.ranktests import (
    ranktests_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.sample import (
    sample_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.skyline import (
    skyline_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.twap import (
    twap_foreach_batch,
)
from rootstock_collective_state_sync_spark.streaming.vocab import (
    vocab_foreach_batch,
)
from tests import (
    test_streaming_basket as basket_t,
    test_streaming_benford as benford_t,
    test_streaming_cm as cm_t,
    test_streaming_dailyvol as dailyvol_t,
    test_streaming_equidepth as equidepth_t,
    test_streaming_gini as gini_t,
    test_streaming_kmv as kmv_t,
    test_streaming_latebars as latebars_t,
    test_streaming_mg as mg_t,
    test_streaming_moments as moments_t,
    test_streaming_ohlc as ohlc_t,
    test_streaming_rankcorr as rankcorr_t,
    test_streaming_ranktests as ranktests_t,
    test_streaming_sample as sample_t,
    test_streaming_skyline as skyline_t,
    test_streaming_twap as twap_t,
    test_streaming_vocab as vocab_t,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("is_target", T.BooleanType(), True),
    ]
)

BATCH1 = [
    (1, "clean prose about science and careful reasoning today", True),
    (2, "the quick brown fox jumps over the lazy dog again", False),
]
BATCH2 = [
    (3, "clean prose about careful science writing for the win", False),
    (4, "zzz qqq spam spam buy now zzz qqq and more spam here", False),
]


def _docs(spark):
    return (
        spark.createDataFrame(BATCH1, DOC_SCHEMA),
        spark.createDataFrame(BATCH2, DOC_SCHEMA),
    )


def _split(df, col, k=2):
    """Two disjoint batches of an at-rest table: ``col % k == 0`` first."""
    return df.filter(F.col(col) % k == 0), df.filter(F.col(col) % k != 0)


# name -> (factory(store, out_dir) -> step, batches(spark) -> (b1, b2))
LEGS = {
    "basket": (
        lambda st, o: basket_foreach_batch(
            st, f"{o}/scores", basket_t.SUP, basket_t.CONF
        ),
        lambda s: (
            s.createDataFrame(basket_t._baskets(0, 30), basket_t.SCHEMA),
            s.createDataFrame(basket_t._baskets(30, 75), basket_t.SCHEMA),
        ),
    ),
    "basket_late": (
        lambda st, o: basket_late_foreach_batch(
            st, f"{o}/scores", f"{o}/late", 10, basket_t.SUP, basket_t.CONF
        ),
        lambda s: (
            s.createDataFrame(basket_t._baskets(0, 30), basket_t.SCHEMA),
            s.createDataFrame(basket_t._baskets(30, 60), basket_t.SCHEMA),
        ),
    ),
    "benford": (
        lambda st, o: benford_foreach_batch(st, f"{o}/scores", "o_totalprice"),
        lambda s: _split(benford_t._orders(s), "o_orderkey"),
    ),
    "cdc": (
        lambda st, o: cdc_foreach_batch(st, f"{o}/scores", window=4, modulus=4),
        _docs,
    ),
    "cm": (
        lambda st, o: cm_foreach_batch(
            st, f"{o}/scores", "tok", cm_t.WATCH, depth=4, width=64
        ),
        lambda s: (cm_t._df(s, cm_t.ROWS[:60]), cm_t._df(s, cm_t.ROWS[60:])),
    ),
    "dailyvol": (
        lambda st, o: dailyvol_foreach_batch(st, f"{o}/scores"),
        lambda s: _split(dailyvol_t._events(s), "event_id"),
    ),
    "dsir": (
        lambda st, o: dsir_foreach_batch(st, f"{o}/scores", num_buckets=64),
        _docs,
    ),
    "equidepth": (
        lambda st, o: equidepth_foreach_batch(st, f"{o}/scores", "vc"),
        lambda s: _split(equidepth_t._orders(s), "o_orderkey"),
    ),
    "gini": (
        lambda st, o: gini_lorenz_foreach_batch(st, f"{o}/scores", "vc"),
        lambda s: _split(gini_t._orders(s), "o_orderkey"),
    ),
    "kmv": (
        lambda st, o: kmv_foreach_batch(st, f"{o}/scores", k=kmv_t.K),
        lambda s: (
            s.createDataFrame(kmv_t._rows(0, 40), kmv_t.SCHEMA),
            s.createDataFrame(kmv_t._rows(30, 90), kmv_t.SCHEMA),
        ),
    ),
    "latebars": (
        lambda st, o: twap_late_foreach_batch(
            st, f"{o}/scores", f"{o}/late", allowed_lateness_us=5 * latebars_t.MS
        ),
        lambda s: (
            latebars_t._events(s, latebars_t.ROWS[:2]),
            latebars_t._events(s, latebars_t.ROWS[2:]),
        ),
    ),
    "mg": (
        lambda st, o: mg_foreach_batch(st, f"{o}/scores", m=mg_t.M),
        lambda s: (
            s.createDataFrame(mg_t._batch1(), mg_t.SCHEMA),
            s.createDataFrame(mg_t._batch2(), mg_t.SCHEMA),
        ),
    ),
    "moments": (
        lambda st, o: moments_foreach_batch(
            st, f"{o}/scores", "vc", "o_orderpriority", moments_t.A_GROUPS
        ),
        lambda s: _split(moments_t._orders(s), "o_orderkey"),
    ),
    "novelty": (lambda st, o: novelty_foreach_batch(st, f"{o}/scores"), _docs),
    "ohlc": (
        lambda st, o: ohlc_foreach_batch(
            st,
            f"{o}/scores",
            allowed_lateness_us=30 * 60 * latebars_t.MS,
            late_path=f"{o}/late",
        ),
        lambda s: (ohlc_t._df(s, ohlc_t.B1), ohlc_t._df(s, ohlc_t.B2)),
    ),
    "rankcorr": (
        lambda st, o: rankcorr_foreach_batch(st, f"{o}/scores", "q", "disc"),
        lambda s: _split(rankcorr_t._lineitems(s), "l_orderkey"),
    ),
    "ranktests": (
        lambda st, o: ranktests_foreach_batch(
            st, f"{o}/scores", "vc", ranktests_t.GROUP
        ),
        lambda s: _split(ranktests_t._orders(s), "o_orderkey"),
    ),
    "sample": (
        lambda st, o: sample_foreach_batch(
            st, f"{o}/scores", k=5, payload_col="payload"
        ),
        lambda s: (
            sample_t._df(s, sample_t.ROWS[:45]),
            sample_t._df(s, sample_t.ROWS[45:]),
        ),
    ),
    "skyline": (
        lambda st, o: skyline_foreach_batch(st, f"{o}/scores"),
        lambda s: (
            s.createDataFrame(skyline_t._pts(0, 120), skyline_t.SCHEMA),
            s.createDataFrame(skyline_t._pts(120, 300), skyline_t.SCHEMA),
        ),
    ),
    "twap": (
        lambda st, o: twap_foreach_batch(st, f"{o}/scores"),
        lambda s: (twap_t._df(s, twap_t.B1), twap_t._df(s, twap_t.B2)),
    ),
    "vocab": (
        lambda st, o: vocab_foreach_batch(st, f"{o}/scores"),
        lambda s: _split(vocab_t._docs(s), "doc_id"),
    ),
}


def _leg(spark, tmp_path, name):
    factory, batches = LEGS[name]
    store = VersionedTable(spark, tmp_path / "store")
    out = tmp_path / "out"
    return factory(store, str(out)), store, out, *batches(spark)


def _files(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def _batch_outputs(spark, out: Path, batch_id: int) -> dict[str, list[str]]:
    """Rows of every ``batch=<id>`` output directory, keyed by path."""
    return {
        str(d.relative_to(out)): sorted(
            repr(tuple(r)) for r in spark.read.parquet(str(d)).collect()
        )
        if any(d.glob("*.parquet"))
        else []
        for d in sorted(out.rglob(f"batch={batch_id}"))
    }


@pytest.mark.parametrize("name", sorted(LEGS))
def test_replay_of_committed_batch_is_noop(spark, tmp_path, name):
    step, store, out, b1, b2 = _leg(spark, tmp_path, name)
    step(b1, 0)
    step(b2, 1)
    before = _files(tmp_path)
    step(b2, 1)  # offset-commit crash -> same batch replayed
    assert _files(tmp_path) == before, f"{name}: committed replay must be a no-op"


@pytest.mark.parametrize("name", sorted(LEGS))
def test_replay_after_partial_scores_write_overwrites(
    spark, tmp_path, monkeypatch, name
):
    """Crash between the outputs write and the store commit: the replay
    recomputes from the last COMMITTED store, overwrites the partial
    batch directories in place (no torn or duplicate rows survive) and
    commits exactly one new store version."""
    step, store, out, b1, b2 = _leg(spark, tmp_path, name)
    step(b1, 0)
    want_version = store.current_version()

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash before the store commit")

    monkeypatch.setattr(store, "overwrite", crash)
    with pytest.raises(RuntimeError, match="crash before the store commit"):
        step(b2, 1)
    monkeypatch.undo()
    assert store.current_version() == want_version
    crashed = _batch_outputs(spark, out, 1)
    assert crashed, f"{name}: outputs must be written before the commit"
    torn = [out / d / "part-torn.parquet" for d in crashed]
    for p in torn:
        p.write_bytes(b"torn write")

    step(b2, 1)  # the replay
    assert not any(p.exists() for p in torn), name
    assert _batch_outputs(spark, out, 1) == crashed, name
    assert store.current_version() == want_version + 1
    assert store.manifest().meta["batch_id"] == 1


def test_dsir_store_sum_not_doubled(spark, tmp_path):
    """The DSIR-specific hazard: its merge is a SUM, so a double-apply
    would inflate counts. Compare the replayed store to a clean run."""
    clean = VersionedTable(spark, tmp_path / "clean_store")
    replayed = VersionedTable(spark, tmp_path / "replay_store")
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    b2 = spark.createDataFrame(BATCH2, DOC_SCHEMA)
    step_clean = dsir_foreach_batch(
        clean, str(tmp_path / "clean_scores"), num_buckets=64
    )
    step_replay = dsir_foreach_batch(
        replayed, str(tmp_path / "replay_scores"), num_buckets=64
    )
    step_clean(b1, 0)
    step_clean(b2, 1)
    step_replay(b1, 0)
    step_replay(b2, 1)
    step_replay(b2, 1)
    step_replay(b2, 1)
    want = sorted(map(tuple, clean.read().collect()))
    got = sorted(map(tuple, replayed.read().collect()))
    assert got == want
