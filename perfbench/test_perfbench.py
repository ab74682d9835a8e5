"""Self-tests of the benchmark: ``python3 -m pytest perfbench``.

The smoke tests start a Spark session per workload (about a minute each).
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import metrics
from perfbench.trace import Tracer
from perfbench.world import CHANGELOG, PROPOSAL, VOTE, World, answer, bulk_transport

ROOT = Path(__file__).resolve().parent.parent


def _world(seed: int, blocks: int = 30) -> World:
    w = World(seed, n_accounts=20, n_proposals=15)
    for _ in range(blocks):
        w.add_block(votes=7, proposal_updates=3)
    return w


# ---- generator -------------------------------------------------------------------------


def test_same_seed_gives_identical_inputs():
    a, b = _world(5), _world(5)
    assert a.digest() == b.digest()
    a.reorg(4)
    b.reorg(4)
    for w in (a, b):
        w.add_block(votes=3, proposal_updates=2)
    assert a.digest() == b.digest()
    assert _world(6).digest() != _world(5).digest()


def test_reorg_restores_the_ancestor_state():
    w = _world(3, blocks=30)
    w.reorg(6)
    assert w.head == 25
    assert w.digest() == _world(3, blocks=24).digest()


def _brute(w: World, entity: str, where: dict, first: int) -> list[dict]:
    recs = sorted(
        (w.record(entity, rid) for rid in w.ids(entity)), key=lambda r: r["id"]
    )
    lo, hi = where.get("id_gt"), where.get("id_lt")
    out = [r for r in recs if (lo is None or r["id"] > lo) and (hi is None or r["id"] < hi)]
    if "blockNumber_gte" in where:
        out = [r for r in out if int(r["blockNumber"]) >= where["blockNumber_gte"]]
    if "blockNumber_gt" in where:
        out = [r for r in out if int(r["blockNumber"]) > where["blockNumber_gt"]]
    return out[:first]


def test_indexed_pages_match_a_full_scan():
    w = _world(9)
    rng = random.Random(0)
    ids = w.ids(VOTE)
    for _ in range(50):
        cursor = rng.choice(ids)
        since = rng.randrange(1, w.head + 1)
        first = rng.randrange(1, 40)
        for where in ({"id_gt": cursor}, {"id_gt": cursor, "blockNumber_gte": since}):
            doc = (
                "query {\n  VoteCast_0: voteCasts(first: %d, where: %s) { id }\n}"
                % (first, json.dumps(where).replace('"id_gt"', "id_gt").replace(
                    '"blockNumber_gte"', "blockNumber_gte"))
            )
            got = answer(w, doc)["data"]["VoteCast_0"]
            assert got == _brute(w, VOTE, where, first)
    doc = 'query {\n  BlockChangeLog_0: blockChangeLogs(first: 1000, where: {blockNumber_gt: 20, id_gt: "0x00"}) { id }\n}'
    got = answer(w, doc)["data"]["BlockChangeLog_0"]
    assert got == _brute(w, CHANGELOG, {"blockNumber_gt": 20, "id_gt": "0x00"}, 1000)
    assert [r["id"] for r in got] == sorted(r["id"] for r in got)


def test_change_block_filter_returns_rows_written_since():
    w = _world(4)
    doc = (
        "query {\n  Proposal_0: proposals(first: 1000, where: "
        '{_change_block: {number_gte: 25}, id_gt: "0x00"}) { id }\n}'
    )
    got = {r["id"] for r in answer(w, doc)["data"]["Proposal_0"]}
    assert got == set(w.changed_since(PROPOSAL, 25))
    assert got and len(got) < w.count(PROPOSAL)


def test_snapshot_transport_serves_the_same_pages(tmp_path):
    w = _world(8)
    url = w.dump(tmp_path)
    for entity, root in ((VOTE, "voteCasts"), (PROPOSAL, "proposals")):
        for direction in ("asc", "desc"):
            doc = (
                f"query {{\n  {entity}_0: {root}(first: 5, orderBy: id, "
                f'orderDirection: {direction}, where: {{id_gt: "0x4"}}) {{ id }}\n}}'
            )
            body = {"query": doc}
            assert bulk_transport(url, body) == w.transport(url, body)


# ---- metrics and spans ------------------------------------------------------------------


def test_metric_names_and_units_follow_the_contract():
    from perfbench.analytics import SEATS

    e2e = [(n, u) for n, u, _, _ in metrics.END_TO_END]
    layer = metrics.PER_LAYER + metrics.seat_metrics(SEATS)
    named = [m for ms in metrics.NAMED_METRICS.values() for m in ms]
    for name, unit in e2e + layer + named:
        assert metrics.NAME_RE.fullmatch(name), name
        assert metrics.UNIT_RE.fullmatch(unit), (name, unit)
    assert len({n for n, _ in e2e + layer}) == len(e2e) + len(layer)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layer


class _FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


def test_self_times_of_a_span_tree_sum_to_the_root_wall_time():
    t = Tracer(_FakeContext(), enabled=True)
    with t.span("streaming.run_block"):
        time.sleep(0.01)
        with t.span("sources.fetch"):
            time.sleep(0.01)
        with t.span("sinks.merge"):
            with t.span("sinks.manifest"):
                time.sleep(0.01)
            time.sleep(0.01)
        time.sleep(0.01)
    root = t.spans[0]
    selfs = t.self_times()
    assert sum(selfs.values()) == pytest.approx(root.wall, abs=1e-9)
    assert all(v >= 0 for v in selfs.values())
    assert [s.layer for s in t.spans] == ["streaming", "sources", "sinks", "sinks"]


# ---- engine defect the tail workload steps around -------------------------------------------


@pytest.mark.xfail(
    strict=True,
    reason="engine defect: sync_append_only merges carry no block height, so "
    "a reorg restore keeps the orphaned rows of an append-only table",
)
def test_reorg_recovery_rolls_back_an_append_only_entity(tmp_path):
    """Why ``sync_tail_reorg`` runs its reorgs before any append-only
    merge. When this starts to pass, move the reorgs after the blocks."""
    from perfbench import run
    from perfbench.sync import make_engine, mismatched_tables, seed_tables
    from rootstock_collective_state_sync_spark.streaming import ReorgManager

    run.host_sizing(tmp_path)
    spark = run.start_spark(tmp_path)
    try:
        world = _world(2, blocks=4)
        world.changelog_names = {PROPOSAL}
        engine = make_engine(spark, world, tmp_path / "tables")
        seed_tables(spark, engine, world, tmp_path)
        for _ in range(3):
            block = world.add_block(votes=3, proposal_updates=1)
            engine.run_block(block, append_only_entities=[VOTE])
        world.reorg(2)
        for _ in range(3):
            world.add_block(votes=3, proposal_updates=1)
        status = ReorgManager(engine=engine, chain=world).detect_and_recover()
        assert status.startswith("restored")
        assert mismatched_tables(engine, world) == []
    finally:
        run.stop_spark(spark)


# ---- smoke runs ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "workload, trace",
    [("analytics", 0), ("sync_tail_reorg", 1), ("sync_hydrate", 1)],
)
def test_smoke_run_has_no_failed_ops(workload, trace, tmp_path):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["failed"] == 0 and result["correct"], lines[:-1]
    assert result["attempted"] >= 1
    assert f"{workload} ops_failed_ratio = 0 ratio" in lines
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = bench["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in listed]
