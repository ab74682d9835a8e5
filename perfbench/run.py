"""The repo benchmark: one workload per run, on ``local[<nproc>]``.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Workloads (closed loops: the benchmark issues the next operation only
after the previous one returned):

- ``analytics``: the ``bench`` seats of ``plans.registry``, cold and on a
  warm cache, checked against the DuckDB oracle SQL;
- ``sync_tail_reorg``: over tables seeded with 10^5 VoteCast rows,
  fixed-depth reorgs recovered by ``ReorgManager.detect_and_recover``, then
  ``SyncEngine.run_block`` block after block (changelog strategy plus
  VoteCast append-only), checked against the generator's state;
- ``sync_hydrate``: bootstrap of empty tables through the driver
  pagination path and the ``format("subgraph")`` path (outside
  ``BENCHMARK.json``: it does not fit the time budget).

``--size smoke`` shrinks every workload for the self-tests.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, taken from spans the
benchmark records around the engine's public calls (written to
``.bench_build/perfbench/trace-<workload>-<seed>.json``). The lines before
it print the workload's own metric names, the host and the Spark version.

Every file the run writes stays under ``.bench_build/perfbench`` in the
working directory; the per-run directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

#: the first two are the benchmark's (BENCHMARK.json); ``sync_hydrate``
#: does not fit its time budget and runs by hand
WORKLOADS = ("analytics", "sync_tail_reorg", "sync_hydrate")


def host_sizing(work: Path) -> dict[str, object]:
    """Size the session from this host and keep every scratch file under
    ``work``. Applied through the engine's environment knobs, before the
    JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # a quarter of RAM, at most 4g: the machine is shared
    driver_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
    )
    return {"nproc": cpus, "ram_gb": round(ram_gb, 1), "driver_mem": f"{driver_gb}g"}


def start_spark(work: Path):
    from rootstock_collective_state_sync_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus the driver Python's."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def run_workload(spark, tracer, args, base: Path, work: Path):
    smoke = args.size == "smoke"
    if args.workload == "analytics":
        from perfbench import analytics

        return analytics.run(spark, tracer, args.seed, args.seconds, base, smoke=smoke)
    from perfbench import sync

    if args.workload == "sync_tail_reorg":
        size = sync.TailSize.smoke() if smoke else sync.TailSize()
        return sync.run_tail_reorg(spark, tracer, args.seed, args.seconds, work, size)
    size = sync.HydrateSize.smoke() if smoke else sync.HydrateSize()
    return sync.run_hydrate(spark, tracer, args.seed, args.seconds, work, size)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    base = Path.cwd() / ".bench_build" / "perfbench"
    work = base / f"run-{os.getpid()}"
    try:
        host = host_sizing(work)
        # the engine's imports: in a directory without the engine they
        # fail here, before anything is printed
        import pyspark

        from perfbench import metrics
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            out = run_workload(spark, tracer, args, base, work)
            rss = peak_rss_mb(spark)
            if tracer.enabled:
                tracer.write(base / f"trace-{args.workload}-{args.seed}.json")
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + out.setup_s
    named = {**out.named, "setup_s": setup_s, "peak_rss_mb": rss}
    named["ops_failed_ratio"] = out.failed / out.attempted
    print(
        f"host nproc={host['nproc']} ram_gb={host['ram_gb']} "
        f"driver_mem={host['driver_mem']} spark={pyspark.__version__}"
    )
    for name, unit in metrics.NAMED_METRICS[args.workload]:
        if name in named:  # some are measured only by a traced run
            print(f"{args.workload} {name} = {named[name]:.6g} {unit}")
    for note in out.notes:
        print(f"note: {note}")

    if args.trace:
        from perfbench.analytics import SEATS

        units = dict(metrics.PER_LAYER + metrics.seat_metrics(SEATS))
        values = {n: 0.0 for n in units} | out.layers
    else:
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
        values = {
            "setup_s": setup_s,
            "cold_s": out.cold_s,
            "steady_s": out.steady_s,
        }
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
