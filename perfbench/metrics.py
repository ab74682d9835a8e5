"""Metric catalog, statistics and span aggregation shared by the workloads.

The end-to-end metrics are shared by every workload; what "cold" and
"steady" mean differs per workload. ``NAMED_METRICS`` lists the
workload-specific names each run also prints.
Per-layer metrics are reported by every traced run; a layer a workload
does not touch reports 0, which is the prediction for it.
"""

from __future__ import annotations

import re
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.trace import Tracer

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: (name, unit, better, bound) — the contract's end-to-end metrics.
#: ``cold_s``: a request that finds no warm state (analytics: the seats'
#: cold latencies summed; sync_tail_reorg: median reorg recovery).
#: ``steady_s``: a request in steady state (analytics: the seats' median
#: warm-cache latencies summed; sync_tail_reorg: median block).
#: Throughput (catch-up blocks per second) and peak RSS are printed but
#: not bounded: with two blocks per run the first carries what
#: ``steady_s`` does, and the JVM's adaptive heap sizing moves the second
#: by more than any bound from run to run.
END_TO_END: list[tuple[str, str, str, float]] = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("steady_s", "s", "lower", 0.25),
]

#: workload -> the metrics a run prints by name, with units
NAMED_METRICS: dict[str, list[tuple[str, str]]] = {
    "analytics": [
        ("setup_s", "s"),
        ("ops_failed_ratio", "ratio"),
        ("query_cold_total_s", "s"),
        ("query_steady_total_s", "s"),
        ("peak_rss_mb", "MB"),
    ],
    "sync_tail_reorg": [
        ("setup_s", "s"),
        ("ops_failed_ratio", "ratio"),
        ("block_p50_s", "s"),
        ("catchup_blocks_per_s", "1/s"),
        ("reorg_recover_p50_s", "s"),
        ("peak_rss_mb", "MB"),
    ],
    "sync_hydrate": [
        ("setup_s", "s"),
        ("ops_failed_ratio", "ratio"),
        ("hydrate_rows_per_s", "rows/s"),
        ("hydrate_bulk_rows_per_s", "rows/s"),
        ("bulk_read_s", "s"),
        ("peak_rss_mb", "MB"),
    ],
}

#: the layer metrics every traced run reports, with units
PER_LAYER: list[tuple[str, str]] = [
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.plan_s", "s"),
    ("caching.persists", "count"),
    ("operators.execute_s", "s"),
    ("operators.execute_steady_s", "s"),
    ("operators.jobs", "count"),
    ("operators.stages", "count"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"),
    ("operators.broadcast_bytes", "bytes"),
    ("sources.fetch_s", "s"),
    ("sources.requests", "count"),
    ("sources.decode_s", "s"),
    ("sinks.merge_s", "s"),
    ("sinks.merge_calls", "count"),
    ("sinks.jobs", "count"),
    ("sinks.buckets_rewritten", "count"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.rows_written_per_row_changed", "ratio"),
    ("sinks.files_live", "count"),
    ("sinks.restore_s", "s"),
    ("sinks.tables_restored", "count"),
    ("sinks.self_s", "s"),
    ("sources.self_s", "s"),
    ("streaming.watermark_reads", "count"),
    ("streaming.jobs", "count"),
    ("streaming.block_jobs", "count"),
    ("streaming.self_s", "s"),
    ("streaming.merge_share", "ratio"),
    ("streaming.quiet_block_s", "s"),
    ("streaming.reorg.detect_s", "s"),
    ("streaming.reorg.ancestor_s", "s"),
    ("streaming.reorg.replay_s", "s"),
    ("trace.self_s", "s"),
    ("trace.cold_s", "s"),
    ("trace.steady_s", "s"),
]


def seat_metrics(seats: list[str]) -> list[tuple[str, str]]:
    return [(f"seat.{n}.{k}", "s") for n in seats for k in ("cold_s", "build_s")]


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def keep_going(done: list[float], minimum: int, start: float, budget: float) -> bool:
    """Whether a measured loop runs another op: while fewer than
    ``minimum`` ran, or while one more, as long as the last, still ends
    within ``budget`` seconds of ``start``."""
    if len(done) < minimum:
        return True
    return time.perf_counter() - start + done[-1] <= budget


@dataclass
class Outcome:
    """What one workload run measured."""

    attempted: int
    failed: int
    setup_s: float
    cold_s: float
    steady_s: float
    named: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


# ---- span aggregation ------------------------------------------------------------


@dataclass
class Totals:
    """Sums over a set of traces (seats, blocks, recoveries)."""

    self_s: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    self_by_name: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    wall_s: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    calls: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    jobs: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    stages: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    root_wall_s: float = 0.0


def totals(tracer: Tracer, traces: set[str], under: str | None = None) -> Totals:
    """Aggregate the spans of ``traces``. Self time, jobs and stages go
    to the span's layer; wall time and calls to its name. With ``under``,
    only spans below a span of that name count (and the ``under`` span
    itself)."""
    t = Totals()
    selfs = tracer.self_times()
    for s in tracer.spans:
        if s.trace not in traces:
            continue
        if under is not None and s.name != under and not any(
            a.name == under for a in tracer.ancestors(s)
        ):
            continue
        if s.parent is None or (under is not None and s.name == under):
            t.root_wall_s += s.wall
        layer = s.layer
        t.self_s[layer] += selfs[s.id]
        t.self_by_name[s.name] += selfs[s.id]
        t.jobs[layer] += s.counts.get("jobs", 0)
        t.stages[layer] += s.counts.get("stages", 0)
        t.wall_s[s.name] += s.wall
        t.calls[s.name] += 1
        for k, v in s.counts.items():
            if k not in ("jobs", "stages"):
                t.counts[k] += v
    return t
