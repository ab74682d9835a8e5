"""The sync-loop workloads: ``sync_tail_reorg`` and ``sync_hydrate``.

Both drive the engine only through its public surface (``SyncEngine``,
``ReorgManager``, ``VersionedTable``) against a :class:`World`, and check
the tables against the world's canonical state with an order-insensitive
digest: row count plus the sum of the CRC-32 of each row's rendering,
computed by Spark on the tables (one job) and by Python on the generator's
records.
"""

from __future__ import annotations

import functools
import os
import zlib
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from rootstock_collective_state_sync_spark.config import compile_entity, load_entities
from rootstock_collective_state_sync_spark.sinks import TableCatalog
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable
from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient
from rootstock_collective_state_sync_spark.sources.subgraph_source import records_to_rows
from rootstock_collective_state_sync_spark.streaming import ReorgManager, SyncEngine
from rootstock_collective_state_sync_spark.streaming import sync as sync_mod

from perfbench.metrics import Outcome, keep_going, median, totals
from perfbench.trace import Tracer
from perfbench.world import (
    CHANGELOG,
    COLUMNS,
    DATA_ENTITIES,
    ENTITIES_YML,
    PROPOSAL,
    VOTE,
    World,
)

_SEP, _NULL = "\x1f", "\\N"
_TABLES = (*DATA_ENTITIES, CHANGELOG)


#: Traffic of a measured block. A sync-loop probe taken before this
#: benchmark existed timed blocks of 20 changed rows and a depth-5 reorg
#: (RECORD.md); a block here changes the same 20 data rows: 16 new votes
#: and 4 proposal rewrites (the split between the two is an assumption).
VOTES_PER_BLOCK = 16
PROPOSAL_UPDATES = 4
#: Quiet blocks (0 and 2 votes, no rewrite) are the second traffic point.
#: They run in traced runs only: the time budget of a run has no room for
#: them.
QUIET_VOTES = (0, 2)
REORG_DEPTH = 5
#: at least this many reorg recoveries and blocks per run, whatever
#: ``--seconds`` says; more do not fit the time budget of a run
MIN_REORGS = 2
MIN_BLOCKS = 2


@dataclass(frozen=True)
class TailSize:
    history_blocks: int = 200
    history_votes: int = 500  # per history block: 10^5 VoteCast rows
    votes: int = VOTES_PER_BLOCK
    proposal_updates: int = PROPOSAL_UPDATES

    @classmethod
    def smoke(cls) -> "TailSize":
        return cls(history_blocks=4, history_votes=20, votes=5, proposal_updates=2)


@dataclass(frozen=True)
class HydrateSize:
    history_blocks: int = 40
    history_votes: int = 250  # per history block

    @classmethod
    def smoke(cls) -> "HydrateSize":
        return cls(history_blocks=4, history_votes=20)


# ---- canonical-state check ---------------------------------------------------------


def _row_expr(cols):
    parts = []
    for name, kind in cols:
        c = F.col(name)
        e = F.lower(F.hex(c)) if kind == "hex" else (
            F.array_join(c, ",") if kind == "list" else c.cast("string")
        )
        parts.append(F.coalesce(e, F.lit(_NULL)))
    return F.crc32(F.concat_ws(_SEP, *parts).cast("binary"))


def spark_digests(catalog, tables) -> dict[str, tuple[int, int]]:
    """(row count, sum of row checksums) of each table, in one job."""
    tagged = [
        catalog.table(e).read().select(F.lit(e).alias("t"), _row_expr(COLUMNS[e]).alias("h"))
        for e in tables
    ]
    union = functools.reduce(lambda a, b: a.unionByName(b), tagged)
    rows = union.groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()
    out = {e: (0, 0) for e in tables}
    out.update({r["t"]: (int(r["n"]), int(r["h"])) for r in rows})
    return out


#: id(record) -> (record, hash); a generated record never changes, and
#: holding it keeps its id from being reused
_row_hashes: dict[int, tuple[dict, int]] = {}


def _row_hash(rec: dict, cols) -> int:
    hit = _row_hashes.get(id(rec))
    if hit is not None:
        return hit[1]
    vals = []
    for name, kind in cols:
        v = rec.get(name)
        if isinstance(v, dict):
            v = v["id"]
        if v is None:
            vals.append(_NULL)
        elif kind == "hex":
            vals.append(v[2:].lower())
        elif kind == "list":
            vals.append(",".join(v))
        else:
            vals.append(str(v))
    h = zlib.crc32(_SEP.join(vals).encode())
    _row_hashes[id(rec)] = (rec, h)
    return h


def world_digest(records: list[dict], cols) -> tuple[int, int]:
    return len(records), sum(_row_hash(rec, cols) for rec in records)


def mismatched_tables(engine: SyncEngine, world: World) -> list[str]:
    """Tables whose content differs from the world's canonical state,
    plus the watermark if it is not at the head."""
    got = spark_digests(engine.catalog, _TABLES)
    bad = [e for e in _TABLES if got[e] != world_digest(world.rows(e), COLUMNS[e])]
    wm = engine.get_watermark()
    if wm is None or (wm.number, wm.hash) != (world.head, world.head_block().hash):
        bad.append(sync_mod.WATERMARK_ENTITY)
    return bad


# ---- engine construction and instrumentation ------------------------------------------


def make_engine(spark, world: World, root: Path, **kw) -> SyncEngine:
    return SyncEngine(
        spark=spark,
        schema=load_entities(ENTITIES_YML),
        catalog=TableCatalog(spark, root),
        # late-bound, so a traced run sees the wrapped transport
        client=SubgraphClient(
            url=kw.pop("url", "perfbench://world"),
            transport=lambda url, body: world.transport(url, body),
        ),
        page_size=1000,
        **kw,
    )


_manifest = VersionedTable.manifest  # unwrapped, for the tracer's own reads


def _manifest_before(args, kwargs):
    table = args[0]
    return table, _manifest(table)


def _merge_after(span, state, _result):
    """Write amplification of one merge, from the manifest diff and the
    new files' parquet footers."""
    import pyarrow.parquet as pq

    table, old = state
    new = _manifest(table)
    span.counts["buckets_rewritten"] = sum(
        1 for b in set(old.buckets) | set(new.buckets) if old.buckets.get(b) != new.buckets.get(b)
    )
    before = {f for fs in old.buckets.values() for f in fs}
    added = [f for fs in new.buckets.values() for f in fs if f not in before]
    span.counts["bytes_written"] = sum(os.path.getsize(table.path / f) for f in added)
    span.counts["rows_written"] = sum(pq.read_metadata(table.path / f).num_rows for f in added)


def instrument(tracer: Tracer, world: World) -> None:
    """Spans around the sync loop's public calls (no-op untraced)."""
    w = tracer.wrap
    w(SyncEngine, "run_block", "streaming.run_block")
    w(SyncEngine, "bootstrap", "streaming.bootstrap")
    w(SyncEngine, "get_watermark", "streaming.get_watermark")
    w(SyncEngine, "sync_from_changelog", "streaming.sync_from_changelog")
    w(SyncEngine, "hydrate_entity_bulk", "sources.bulk_read")
    w(sync_mod, "merge_upsert", "sinks.merge", before=_manifest_before, after=_merge_after)
    w(sync_mod, "records_to_rows", "sources.decode")
    w(VersionedTable, "manifest", "sinks.manifest")
    w(VersionedTable, "restore", "sinks.restore")
    w(ReorgManager, "detect_and_recover", "streaming.reorg.detect_and_recover")
    w(ReorgManager, "detect", "streaming.reorg.detect")
    w(ReorgManager, "find_common_ancestor", "streaming.reorg.ancestor")
    w(ReorgManager, "recover_restore", "streaming.reorg.recover")
    w(world, "transport", "sources.fetch")


def files_live(engine: SyncEngine) -> int:
    return sum(
        len(fs)
        for name in engine.catalog.list_tables()
        for fs in _manifest(engine.catalog.table(name)).buckets.values()
    )


def _arrow_type(dt):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {
        T.BinaryType: pa.binary(),
        T.StringType: pa.string(),
        T.IntegerType: pa.int32(),
        T.BooleanType: pa.bool_(),
    }.get(type(dt)) or pa.decimal128(dt.precision, dt.scale)


def write_state(spark, engine: SyncEngine, world: World, work: Path, since: int = 0) -> None:
    """Write the world's state at its head as one more version of every
    table through the public ``VersionedTable`` API, each version carrying
    the head's height, and set the watermark to the head. Without
    ``since`` every table is overwritten; with it, the rows written above
    that height are appended to the immutable tables (VoteCast,
    BlockChangeLog) and Proposal is overwritten. Rows are decoded by the
    engine's ``records_to_rows`` and staged as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for e in _TABLES:
        table = engine.catalog.table(e)
        if since and e != PROPOSAL:
            records = [world.record(e, rid) for rid in world.changed_since(e, since + 1)]
            write = table.append
        else:
            records, write = world.rows(e), table.overwrite
        struct = compile_entity(engine.schema, engine.schema[e])
        rows = records_to_rows(engine.schema, engine.schema[e], records)
        staged = work / "seed" / f"{e}-{world.head}.parquet"
        staged.parent.mkdir(parents=True, exist_ok=True)
        arrays = [pa.array(c, _arrow_type(f.dataType)) for c, f in zip(zip(*rows), struct.fields)]
        pq.write_table(pa.table(arrays, names=struct.names), staged)
        write(spark.read.schema(struct).parquet(str(staged)), meta={"blockNumber": world.head})
    engine.set_watermark(world.head_block())


def seed_tables(spark, engine: SyncEngine, world: World, work: Path) -> None:
    engine.create_tables()
    write_state(spark, engine, world, work)


def _failed(result: dict) -> bool:
    return any(isinstance(v, Exception) for v in result.values())


# ---- sync_tail_reorg ------------------------------------------------------------------


def _advance(world: World, size: TailSize, blocks: int) -> None:
    for _ in range(blocks):
        world.add_block(size.votes, size.proposal_updates)


def run_tail_reorg(
    spark, tracer: Tracer, seed: int, seconds: float, work: Path, size=TailSize()
) -> Outcome:
    """Set-up writes two versions of every table: the world's state at its
    head, and the ``REORG_DEPTH`` blocks after it, so that the first fork
    lies above a version. Then two measured phases, each given half of
    ``seconds`` (and at least its minimum of ops):

    1. reorg recoveries: orphan the top ``REORG_DEPTH`` blocks, extend the
       canonical branch one block past them, ``detect_and_recover()``, and
       check the tables against the canonical state. Every entity syncs
       through the changelog here: the append-only strategy is not
       reorg-safe in the engine (its merges carry no block height, so a
       restore leaves orphaned rows), so this phase runs before any
       append-only merge;
    2. catch-up blocks: ``run_block`` with the changelog strategy plus
       VoteCast append-only, so each block's first pages go out as one
       coalesced request.

    Ops: each recovery and each measured block."""
    t0 = time.perf_counter()
    world = World(seed)
    for _ in range(size.history_blocks):
        world.add_block(size.history_votes, size.proposal_updates)
    engine = make_engine(spark, world, work / "tail")
    seed_tables(spark, engine, world, work)
    seeded = world.head
    _advance(world, size, REORG_DEPTH)
    write_state(spark, engine, world, work, since=seeded)
    setup_s = time.perf_counter() - t0

    instrument(tracer, world)
    mgr = ReorgManager(engine=engine, chain=world)
    recover: list[float] = []
    lat: list[float] = []
    quiet: list[float] = []
    notes: list[str] = []
    changed = failed = block_failures = 0
    try:
        start = time.perf_counter()
        while keep_going(recover, MIN_REORGS, start, seconds / 2):
            world.reorg(REORG_DEPTH)
            _advance(world, size, REORG_DEPTH + 1)
            tracer.trace_id = f"reorg:{len(recover)}"
            t = time.perf_counter()
            status = mgr.detect_and_recover()
            recover.append(time.perf_counter() - t)
            tracer.trace_id = "check"
            bad = mismatched_tables(engine, world)
            if not status.startswith("restored") or mgr.detect() is not None or bad:
                failed += 1
                notes.append(f"recovery {len(recover)}: {status}, differing: {bad}")

        world.changelog_names = {PROPOSAL}  # VoteCast syncs append-only now
        req0 = engine.client.http_requests
        start = time.perf_counter()
        while keep_going(lat, MIN_BLOCKS, start, seconds / 2):
            block = world.add_block(size.votes, size.proposal_updates)
            # new votes, rewritten proposals, one changelog entry, the watermark
            changed += len(world.changed_since(VOTE, block.number))
            changed += len(world.changed_since(PROPOSAL, block.number)) + 2
            tracer.trace_id = f"block:{block.number}"
            t = time.perf_counter()
            result = engine.run_block(block, append_only_entities=[VOTE])
            lat.append(time.perf_counter() - t)
            block_failures += _failed(result)
        loop_s = time.perf_counter() - start
        requests = engine.client.http_requests - req0
        if tracer.enabled:
            for votes in QUIET_VOTES:
                block = world.add_block(votes, 0)
                tracer.trace_id = f"quiet:{block.number}"
                t = time.perf_counter()
                block_failures += _failed(engine.run_block(block, append_only_entities=[VOTE]))
                quiet.append(time.perf_counter() - t)
    finally:
        tracer.restore()

    bad = mismatched_tables(engine, world)
    if bad:  # a final-state mismatch fails every block
        block_failures = len(lat) + len(quiet)
        notes.append(f"tables differing from canonical state after the blocks: {bad}")
    n = len(lat)
    out = Outcome(
        attempted=len(recover) + n + len(quiet),
        failed=failed + block_failures,
        setup_s=setup_s,
        cold_s=median(recover),
        steady_s=median(lat),
        named={
            "block_p50_s": median(lat),
            "catchup_blocks_per_s": n / loop_s,
            "reorg_recover_p50_s": median(recover),
            "blocks": n,
            "reorgs": len(recover),
        },
        notes=notes,
    )
    if tracer.enabled:
        tracer.resolve()
        blocks = {f"block:{b}" for b in range(world.head + 1)}
        t = totals(tracer, blocks)
        r = len(recover)
        reorgs = {f"reorg:{i}" for i in range(r)}
        reorg = totals(tracer, reorgs)
        replay = totals(tracer, reorgs, under="streaming.sync_from_changelog")
        merge_s = t.wall_s["sinks.merge"]
        out.layers = {
            "sources.fetch_s": t.wall_s["sources.fetch"] / n,
            "sources.requests": requests / n,
            "sources.decode_s": t.wall_s["sources.decode"] / n,
            "sources.self_s": t.self_s["sources"] / n,
            "sinks.merge_s": merge_s / n,
            "sinks.merge_calls": t.calls["sinks.merge"] / n,
            "sinks.jobs": t.jobs["sinks"] / n,
            "sinks.buckets_rewritten": t.counts["buckets_rewritten"] / n,
            "sinks.bytes_written": t.counts["bytes_written"] / n,
            "sinks.rows_written_per_row_changed": t.counts["rows_written"] / changed,
            "sinks.files_live": files_live(engine),
            "sinks.self_s": t.self_s["sinks"] / n,
            "sinks.restore_s": reorg.wall_s["sinks.restore"] / r,
            "sinks.tables_restored": reorg.calls["sinks.restore"] / r,
            "streaming.watermark_reads": t.calls["streaming.get_watermark"] / n,
            "streaming.jobs": t.jobs["streaming"] / n,
            "streaming.block_jobs": sum(v for k, v in t.jobs.items() if k != "trace") / n,
            "streaming.self_s": t.self_s["streaming"] / n,
            "streaming.merge_share": merge_s / t.wall_s["streaming.run_block"],
            "streaming.quiet_block_s": median(quiet),
            "streaming.reorg.detect_s": reorg.wall_s["streaming.reorg.detect"] / r,
            "streaming.reorg.ancestor_s": reorg.wall_s["streaming.reorg.ancestor"] / r,
            "streaming.reorg.replay_s": replay.root_wall_s / r,
            "trace.self_s": t.self_s["trace"] / n,
            "trace.steady_s": out.steady_s,
            "trace.cold_s": out.cold_s,
        }
    return out


# ---- sync_hydrate (outside BENCHMARK.json) ------------------------------------------------


def run_hydrate(spark, tracer: Tracer, seed: int, seconds: float, work: Path, size=HydrateSize()) -> Outcome:
    """Bootstrap empty tables from the world through the driver
    pagination path and through the ``format("subgraph")`` DataSource
    path (executors import :func:`perfbench.world.bulk_transport`). One
    op per entity and path; ``seconds`` is not used, the work is fixed.
    ``cold_s`` and ``steady_s`` carry the two paths' bootstrap times."""
    t0 = time.perf_counter()
    world = World(seed)
    for _ in range(size.history_blocks):
        world.add_block(size.history_votes, PROPOSAL_UPDATES)
    state_url = world.dump(work)
    rows = sum(world.count(e) for e in _TABLES)
    setup_s = time.perf_counter() - t0

    instrument(tracer, world)
    engines = {
        "driver": make_engine(spark, world, work / "driver"),
        "bulk": make_engine(
            spark,
            world,
            work / "bulk",
            url=state_url,
            config_path=str(ENTITIES_YML),
            transport_path="perfbench.world:bulk_transport",
            bulk_num_partitions=spark.sparkContext.defaultParallelism,
        ),
    }
    wall: dict[str, float] = {}
    try:
        for path, engine in engines.items():
            tracer.trace_id = f"hydrate:{path}"
            t = time.perf_counter()
            engine.bootstrap(at_block=world.head)
            wall[path] = time.perf_counter() - t
    finally:
        tracer.restore()
    failed, notes = 0, []
    for path, engine in engines.items():
        engine.set_watermark(world.head_block())
        bad = mismatched_tables(engine, world)
        failed += len(set(bad) & set(_TABLES))
        notes += [f"{path} hydration differs: {bad}"] if bad else []

    out = Outcome(
        attempted=2 * len(_TABLES),
        failed=failed,
        setup_s=setup_s,
        cold_s=wall["bulk"],
        steady_s=wall["driver"],
        named={
            "hydrate_rows_per_s": rows / wall["driver"],
            "hydrate_bulk_rows_per_s": rows / wall["bulk"],
            "rows": rows,
        },
        notes=notes,
    )
    if tracer.enabled:
        tracer.resolve()
        t = totals(tracer, {"hydrate:driver", "hydrate:bulk"})
        # DataSource load + count, without the merge nested in it
        out.named["bulk_read_s"] = t.self_by_name["sources.bulk_read"]
        out.layers = {
            "sources.fetch_s": t.wall_s["sources.fetch"],
            "sources.requests": t.calls["sources.fetch"],
            "sources.decode_s": t.wall_s["sources.decode"],
            "sources.self_s": t.self_s["sources"],
            "sinks.merge_s": t.wall_s["sinks.merge"],
            "sinks.merge_calls": t.calls["sinks.merge"],
            "sinks.jobs": t.jobs["sinks"],
            "sinks.bytes_written": t.counts["bytes_written"],
            "sinks.self_s": t.self_s["sinks"],
            "streaming.jobs": t.jobs["streaming"],
            "streaming.self_s": t.self_s["streaming"],
            "trace.self_s": t.self_s["trace"],
            "trace.steady_s": out.steady_s,
            "trace.cold_s": out.cold_s,
        }
    return out
