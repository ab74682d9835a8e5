"""The ``analytics`` workload: ``bench`` seats of ``plans.registry``.

Set-up runs one untimed aging pass over the seats (JIT, Python workers,
parquet footers). The measured loop then runs passes while another fits
in ``seconds`` (at least one); in a pass each seat runs **cold** (after
``clearCache()`` and ``release_tracked()``) and then ``STEADY_RUNS`` times
**steady** (on the cache the cold run filled). A run is build (the seat
function) plus ``collect()`` of the result, which is what a client of the
query pays. Every result is checked
against the seat's DuckDB oracle SQL: row count and an order-insensitive
hash of the values. The seed sets the seat order.

The seats are two of the 29 bench seats, as many as fit the benchmark's
time budget: one whose cold time is dominated by building the query
(eager ``tracked_persist`` barriers and driver collects) and whose steady
runs hit the cache those barriers fill, and a relational join that
persists nothing, so a change to caching shows its cost and gain on the
first and no change on the second. The data is the sf0.01 scale of the
repo's test tables, kept in ``data/``.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import time
from decimal import Decimal
from pathlib import Path

from rootstock_collective_state_sync_spark.caching import release_tracked
from rootstock_collective_state_sync_spark.plans import registry
from rootstock_collective_state_sync_spark.plans.tables import TABLES

from perfbench.metrics import Outcome, keep_going, median, totals
from perfbench.trace import Tracer

DATA = Path(__file__).with_name("data") / "sf0.01"

SEATS = ["kmv_overlap", "q3_shipping_priority"]
SMOKE_SEATS = ["q3_shipping_priority"]
#: warm-cache runs per seat and pass; a seat's steady time is their median
STEADY_RUNS = 2


# ---- oracle --------------------------------------------------------------------------


def _norm(v) -> str:
    if isinstance(v, Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes | bytearray):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash of the column-name-sorted, row-sorted values)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    body = json.dumps([[cols[i] for i in order], canon])
    return len(rows), hashlib.sha256(body.encode()).hexdigest()


def oracle_hashes(seats: list[str], cache: Path) -> dict[str, list]:
    """DuckDB results of the seats' oracle SQL on ``DATA``, cached by
    the SQL text (the data is part of the benchmark)."""
    import duckdb

    sql = registry.oracle_sql()
    out = {}
    cache.mkdir(parents=True, exist_ok=True)
    for seat in seats:
        key = hashlib.sha256(f"{DATA.name}\n{sql[seat]}".encode()).hexdigest()[:16]
        path = cache / f"oracle-{seat}-{key}.json"
        if not path.exists():
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            cur = con.execute(sql[seat])
            cols = [d[0] for d in cur.description]
            path.write_text(json.dumps(result_hash(cols, cur.fetchall())))
            con.close()
        out[seat] = json.loads(path.read_text())
    return out


# ---- plan metrics ----------------------------------------------------------------------


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


_PLAN_KEYS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
}


def plan_metrics(jdf) -> dict[str, float]:
    """Summed SQL metrics of the final adaptive plan the last action
    ran: shuffle bytes written, spill, and broadcast data size."""
    out = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "broadcast_bytes": 0.0}
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec") and kind != "TableCacheQueryStageExec":
            stack.append(node.plan())
            continue
        for kv in _scala_iter(node.metrics()):
            key = kv._1()
            if key in _PLAN_KEYS:
                out[_PLAN_KEYS[key]] += kv._2().value()
            elif key == "dataSize" and kind == "BroadcastExchangeExec":
                out["broadcast_bytes"] += kv._2().value()
        stack.extend(_scala_iter(node.children()))
        stack.extend(_scala_iter(node.subqueries()))
    return out


# ---- the workload ------------------------------------------------------------------------


def _run_seat(spark, tracer: Tracer, fn) -> tuple[float, float, object]:
    """Build and collect one seat; returns (latency, build time, result)."""
    t0 = time.perf_counter()
    with tracer.span("plans.build"):
        df = fn(spark, str(DATA))
    t1 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("operators.execute") as s:
        rows = df.collect()
    t2 = time.perf_counter()
    if s is not None:
        with tracer.span("trace.plan_metrics"):
            s.counts.update(plan_metrics(df._jdf))
    return t2 - t0, t1 - t0, (df.columns, rows)


def run(spark, tracer: Tracer, seed: int, seconds: float, base: Path, smoke: bool = False) -> Outcome:
    seats = list(SMOKE_SEATS if smoke else SEATS)
    random.Random(seed).shuffle(seats)
    fns = {n: registry.bench_queries()[n] for n in seats}
    expected = oracle_hashes(seats, base / "oracle")

    t0 = time.perf_counter()
    untraced = Tracer(spark.sparkContext, enabled=False)
    for seat in seats:  # aging pass
        spark.catalog.clearCache()
        release_tracked()
        _run_seat(spark, untraced, fns[seat])
    spark.catalog.clearCache()
    release_tracked()
    setup_s = time.perf_counter() - t0

    cold: dict[str, list[float]] = {s: [] for s in seats}
    steady: dict[str, list[float]] = {s: [] for s in seats}
    build: dict[str, list[float]] = {s: [] for s in seats}
    bad: list[str] = []
    pass_s: list[float] = []
    persists = 0
    loop0 = time.perf_counter()
    while keep_going(pass_s, 1, loop0, seconds):
        t = time.perf_counter()
        passes = len(pass_s)
        for seat in seats:
            spark.catalog.clearCache()
            persists += release_tracked()
            failure = None
            try:
                for phase, lats in [("cold", cold)] + [("steady", steady)] * STEADY_RUNS:
                    tracer.trace_id = f"seat:{seat}:{phase}:{passes}"
                    lat, b, res = _run_seat(spark, tracer, fns[seat])
                    lats[seat].append(lat)
                    if phase == "cold":
                        build[seat].append(b)
                    if result_hash(*res) != tuple(expected[seat]):
                        failure = f"{phase} result differs from the oracle"
            except Exception as exc:  # a seat that raised is a failed op
                failure = repr(exc)[:300]
            if failure is not None:
                bad.append(f"{seat} (pass {passes}): {failure}")
        persists += release_tracked()
        spark.catalog.clearCache()
        pass_s.append(time.perf_counter() - t)
    passes = len(pass_s)

    ran = [s for s in seats if cold[s] and steady[s]]
    cold_total = sum(median(cold[s]) for s in ran)
    steady_total = sum(median(steady[s]) for s in ran)
    out = Outcome(
        attempted=len(seats) * passes,
        failed=len(bad),
        setup_s=setup_s,
        cold_s=cold_total,
        steady_s=steady_total,
        named={
            "query_cold_total_s": cold_total,
            "query_steady_total_s": steady_total,
            "passes": passes,
        },
        notes=bad,
    )
    if tracer.enabled:
        tracer.resolve()
        c, w = (
            totals(tracer, {f"seat:{s}:{phase}:{p}" for s in seats for p in range(passes)})
            for phase in ("cold", "steady")
        )
        out.layers = {
            "plans.build_s": c.wall_s["plans.build"] / passes,
            "plans.build_jobs": c.jobs["plans"] / passes,
            "plans.plan_s": c.wall_s["plans.plan"] / passes,
            "caching.persists": persists / passes,
            "operators.execute_s": c.wall_s["operators.execute"] / passes,
            "operators.execute_steady_s": w.wall_s["operators.execute"] / (passes * STEADY_RUNS),
            "operators.jobs": c.jobs["operators"] / passes,
            "operators.stages": c.stages["operators"] / passes,
            **{
                f"operators.{k}": c.counts[k] / passes
                for k in ("shuffle_write_bytes", "spill_bytes", "broadcast_bytes")
            },
            **{f"seat.{s}.cold_s": median(cold[s]) for s in ran},
            **{f"seat.{s}.build_s": median(build[s]) for s in ran},
            "trace.self_s": (c.self_s["trace"] + w.self_s["trace"]) / passes,
            "trace.cold_s": cold_total,
            "trace.steady_s": steady_total,
        }
    return out
