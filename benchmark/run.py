#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload tenant_elt --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md) on ``local[nproc]`` and prints, as
its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics from untraced passes; ``--trace 1`` reports the per-layer
metrics from traced passes, plus the tracing overhead measured against
untraced passes of the same run. The line before it is an ``info``
object: environment used, input sizes, per-operation latencies, sample
counts, the host's interference and the first errors.

Every file the run makes lives under ``.bench_run/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: untraced runs set up this many times, each with a fresh JVM
SETUPS = 3


def host_env(run_dir: str) -> dict[str, str]:
    """Settings fitted to this host and scoped to the run directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_mb = min(4096, mem_kb // 1024 // 4)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # mkdtemp'd streaming checkpoints and model dirs of the program
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Python workers import the package from the checkout, whatever
        # the working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time of this machine since boot, in clock
    ticks, from ``/proc/stat``. Steal is time a virtual CPU was ready
    to run but the hypervisor ran another guest of the host."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 1
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_times()
    return (steal - since[0]) / max(1, total - since[1])


def measured_pass(workload, spark):
    """One untraced pass, with the share of CPU time the host took
    meanwhile."""
    t0 = cpu_times()
    res = workload.run_pass(spark)
    res.steal_share = steal_share(t0)
    return res


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Session:
    """The program's SparkSession, started through ``get_spark`` with the
    host environment; owns the JVM and stops it on close."""

    def __init__(self, run_dir: str, event_log: bool):
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        }
        if event_log:
            self.log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None

    def start(self) -> float:
        """A fresh JVM and session through the program's ``get_spark``;
        returns seconds. A session started before is stopped first, JVM
        included."""
        from mozart_etl_spark.session import get_spark

        self.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="mozart-benchmark", extra_conf=self.conf)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId
        return elapsed

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def stop(self) -> str | None:
        """Stop Spark and the JVM; returns the finished event-log file."""
        from pyspark import SparkContext

        log = None
        if self.spark is not None:
            self.spark.stop()
            if self.conf.get("spark.eventLog.enabled"):
                log = os.path.join(self.log_dir, self.app_id)
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        return log


def pass_count(seconds: float, pass_s: float, minimum: int) -> int:
    """Timed passes for a run of about ``seconds``. The count depends on
    the argument and the workload's nominal pass time only, never on
    measured speed: the JVM keeps getting faster over the first passes,
    so a speed-dependent count would move the figures by itself."""
    return min(MAX_PASSES, max(minimum, round(seconds / pass_s)))


def e2e_metrics(setup_s: list[float], first, passes: list, rss_mb: float) -> tuple[dict, dict]:
    """``wall_s`` is one pass made of each operation's fastest latency
    over the timed passes. Other load on the host only ever adds time,
    so the fastest of a few runs of the same operation is the steadiest
    estimate of its own cost; as query_bank rotates its order from pass
    to pass, it is also robust to a slow position."""
    op_s = {k: min(p.latencies[k] for p in passes if k in p.latencies) for k in passes[0].latencies}
    metrics = {
        "setup_s": (statistics.median(setup_s), "s"),
        "first_pass_s": (first.wall_s, "s"),
        "wall_s": (sum(op_s.values()), "s"),
    }
    info = {
        "peak_rss_mb": round(rss_mb, 1),
        "op_samples": sum(len(p.latencies) for p in passes),
        "timed_passes": len(passes),
        "pass_wall_s": [round(p.wall_s, 4) for p in passes],
        "pass_steal_share": [round(p.steal_share, 4) for p in passes],
        "op_min_s": {k: round(v, 4) for k, v in op_s.items()},
        "setup_runs_s": [round(s, 4) for s in setup_s],
        "first_pass_steal_share": round(first.steal_share, 4),
    }
    return metrics, info


#: each run times at least this many passes (traced runs: this many
#: traced passes), and at most MAX_PASSES
MIN_PASSES = 3
MIN_TRACED = 2
MAX_PASSES = 8


def main(argv: list[str] | None = None, factories: dict | None = None) -> int:
    """``factories`` maps workload names to constructors (default: the
    benchmark's workloads); the self-test passes smaller ones."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import workloads

    factories = factories or workloads.WORKLOADS
    if args.workload not in factories:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import mozart_etl_spark
    except ImportError as e:
        print(f"the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(mozart_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"mozart_etl_spark resolves outside {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    env = host_env(run_dir)
    for d in ("SPARK_GRAFT_WAREHOUSE", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    os.environ.update(env)
    session = Session(run_dir, event_log=bool(args.trace))
    try:
        return _run(args, factories[args.workload](), session, run_dir, env)
    finally:
        try:
            session.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass


def _run(args, workload, session: Session, run_dir: str, env: dict) -> int:
    t0 = time.perf_counter()
    inputs = workload.prepare(args.seed, run_dir)
    prep_s = time.perf_counter() - t0

    run_cpu = cpu_times()
    setup_s = [session.start() for _ in range(1 if args.trace else SETUPS)]
    spark = session.spark
    # cold (tenant_elt: the initial backfill of every tenant); the JVM
    # keeps compiling hot paths through the first timed passes too, and
    # each operation's fastest latency mostly comes from a later one
    first = measured_pass(workload, spark)
    all_passes = [first]

    if not args.trace:
        n = pass_count(args.seconds, workload.pass_s, MIN_PASSES)
        passes = [measured_pass(workload, spark) for _ in range(n)]
        all_passes += passes
        rss = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid() or 0)
        metrics, info = e2e_metrics(setup_s, first, passes, rss)
    else:
        from spans import Tracer

        import layers

        # untraced passes before, between and after the traced ones:
        # each traced pass is compared with its two neighbours, so the
        # JVM's warming and tenant_elt's growing tables cancel out of
        # the overhead estimate. They fall steeply right after the cold
        # pass, so one more pass runs first.
        all_passes.append(workload.run_pass(spark))
        tracer = Tracer()
        plain, traced = [workload.run_pass(spark)], []
        for _ in range(pass_count(args.seconds, 2 * workload.pass_s, MIN_TRACED)):
            tracer.install()
            try:
                traced.append(workload.run_pass(spark, tracer))
            finally:
                tracer.uninstall()
            plain.append(workload.run_pass(spark))
        all_passes += plain + traced
        log_file = session.stop()
        metrics, info = layers.per_layer_metrics(tracer, traced, plain, log_file)

    attempted = sum(p.attempted for p in all_passes)
    failed = sum(p.failed for p in all_passes)
    errors = [e for p in all_passes for e in p.errors]
    info.update(
        {
            "workload": workload.name,
            "seed": args.seed,
            "env": env,
            "inputs": inputs,
            "bench_prep_s": round(prep_s, 4),
            "steal_share": round(steal_share(run_cpu), 4),
            "failed_frac": failed / attempted,
            "errors": errors[:10],
        }
    )
    print(json.dumps({"info": info}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
