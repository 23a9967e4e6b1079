"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the seed,
drives the library for ``--seconds`` seconds on ``local[<cpus>]`` Spark,
checks every output against an independent reference and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans are written to ``.bench_traces/``. Everything the run writes
stays under the repository root, in ``.bench_work/`` (removed at exit),
``.bench_traces/`` and ``.bench_build/`` (the serve index, built in a
process of its own before the first serve run and reused while the
library is unchanged). See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_EXIT_WAIT_S = 60
# driver JVM heap, fixed so the caller's environment cannot change it (see
# NOTES.md for why 2g)
DRIVER_MEM = "2g"
# share of CPU time taken by other guests of the hypervisor above which a
# run's timings are flagged as not comparable
STEAL_WARN_SHARE = 0.05


class Run:
    """State of one benchmark run, shared by the workload and its probes."""

    def __init__(self, spark, args, work: str, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = tracer
        self.cpus = spark.sparkContext.defaultParallelism
        self.metrics: dict[str, float] = {}
        self.setup_s = math.nan
        self.attempted = 0
        self.failed = 0
        self.checks_failed: list[str] = []
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{prefix}-{self._dirs}")

    def op(self, kind: str, fn, span: str) -> float | None:
        """Run one measured operation; its latency in seconds, or None if it
        raised (the failure is counted, never propagated)."""
        self.attempted += 1
        try:
            with self.tracer.span(span, op_id=f"{kind}-{self.attempted}"):
                t0 = time.perf_counter()
                fn()
                return time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - every op failure is counted
            self.failed += 1
            print(f"op {kind} failed: {exc!r}", file=sys.stderr)
            return None

    @staticmethod
    def p50(latencies: list) -> float:
        """Median with failed ops (None) counted as infinitely slow."""
        return statistics.median(math.inf if x is None else x for x in latencies)

    def check(self, name: str, ok: bool) -> None:
        if not ok:
            self.checks_failed.append(name)
            print(f"check failed: {name}", file=sys.stderr)

    def e2e(self, **metrics: float) -> None:
        """The workload's end-to-end figures. A traced run keeps only its op
        latency, so the tracing overhead can be read against an untraced run."""
        if self.tracer.enabled:
            self.metrics["perfbench.traced_latency_p50_ms"] = metrics["latency_p50_ms"]
        else:
            self.metrics.update(metrics)


def _start_spark(work: str, cpus: int):
    from search_engine_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark, seen: dict[int, int]) -> None:
    """Stop the session, close the JVM's stdin (its exit signal) and wait
    until the JVM and every process it started have ended. ``seen`` maps
    each descendant pid ever sampled to its start time; a pid whose start
    time differs now belongs to another process and is left alone."""
    from pyspark import SparkContext

    from perfbench.tracing import start_time

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=JVM_EXIT_WAIT_S)
        except Exception:  # noqa: BLE001 - a hung JVM is killed below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + JVM_EXIT_WAIT_S
    alive = [p for p, start in seen.items() if start_time(p) == start]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if start_time(p) == seen[p]]
    for p in alive:
        if start_time(p) == seen[p]:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _host_cpu() -> tuple[int, int, float]:
    """(steal jiffies, all jiffies) summed over CPUs since boot, and the
    10 s average CPU pressure. Steal is time the hypervisor gave this
    machine's CPUs to other guests: the load other tenants put on the host,
    which slows every timing of a run."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    pressure = math.nan
    try:
        with open("/proc/pressure/cpu") as f:
            pressure = float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass
    steal = cpu[7] if len(cpu) > 7 else 0
    return steal, sum(cpu[:8]), pressure


def _cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded loop, the fastest of five: how
    fast a CPU of this machine runs right now. Other tenants can slow it
    without it showing as steal (a busy SMT sibling, shared caches)."""
    best = math.inf
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x ^= i * 2654435761 & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def _host_sample() -> tuple:
    return (*_host_cpu(), os.getloadavg()[0], _cpu_probe_ms())


def _host_report(start: tuple, end: tuple) -> dict:
    steal = (end[0] - start[0]) / max(1, end[1] - start[1])
    return {
        "loadavg_1m": [start[3], end[3]],
        "cpu_pressure_avg10": [start[2], end[2]],
        "cpu_probe_ms": [start[4], end[4]],
        "steal_share": steal,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def _finite(x: float) -> float:
    # JSON has no infinity: a p50 lost to failed ops reads as 1e18
    return x if math.isfinite(x) else 1e18


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # only make the workload's prepared inputs (see workloads.PREPARE)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # Python workers import the library from the repo root, whatever cwd is
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        from perfbench.tracing import MemorySampler, Tracer
        from perfbench.workloads import PREPARE, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    ready, prepare = PREPARE.get(args.workload, (lambda: True, None))
    step = prepare if args.prepare else WORKLOADS[args.workload]
    if not args.prepare and not ready():
        # in a process of its own, so that this run's JVM starts as cold as
        # the JVM of a run that finds the inputs made
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), *argv, "--prepare"],
            stdout=sys.stderr,
            check=True,
        )

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run (launcher and driver) keeps its temp files in
    # the work dir and writes no perf-data file under the system temp dir
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    cpus = len(os.sched_getaffinity(0))
    host_start = _host_sample()
    tracer = Tracer(enabled=bool(args.trace))

    try:
        with MemorySampler() as mem:
            spark = _start_spark(work, cpus)
            try:
                run = Run(spark, args, work, tracer)
                step(run)
            finally:
                _stop_spark(spark, mem.seen)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    if args.prepare:
        return 0
    host = _host_report(host_start, _host_sample())
    print(f"perfbench host: {json.dumps(host)}", file=sys.stderr)
    if host["steal_share"] > STEAL_WARN_SHARE:
        print(
            f"perfbench: WARNING other guests took {host['steal_share']:.1%} of this "
            "machine's CPU time during the run; its timings are not comparable",
            file=sys.stderr,
        )
    metrics = dict(run.metrics)
    if args.trace:
        t0 = time.perf_counter()
        probe = Tracer(enabled=True)
        for _ in range(10_000):
            with probe.span("probe"):
                pass
        metrics["perfbench.span_cost_us"] = (time.perf_counter() - t0) * 100
        tracer.write(
            os.path.join(ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics, "host": host},
        )
    else:
        metrics["setup_s"] = run.setup_s
        metrics["peak_pss_mb"] = mem.peak_mb
    units = _units()
    out = {
        "correct": not run.checks_failed and run.attempted > run.failed,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": _finite(float(v)), "unit": units.get(k, "")} for k, v in sorted(metrics.items())
        },
    }
    print(json.dumps(out))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
