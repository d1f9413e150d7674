"""Per-layer metrics of a traced run: spans joined with Spark's event log.

Every figure is per traced pass (the sum over traced passes divided by
their number), so runs with different pass counts compare directly.
"""

from __future__ import annotations

import datetime as dt
import statistics

from spans import HARNESS_SPANS, LAYER_FUNCTIONS, OPERATOR_MODULES, EventLog, union_length

SPAN_NAMES = (
    tuple(LAYER_FUNCTIONS) + tuple(f"operators.{m}" for m in OPERATOR_MODULES) + HARNESS_SPANS
)
#: the per-layer metrics a traced run prints, in order; spans that
#: submit no job report no job count
_STATS = {"calls": "count", "s": "s", "jobs": "count", "self_s": "s"}  # self_s: minus child spans
_SPAN_STATS = {
    "pipeline.ingest": ("calls", "s", "jobs", "self_s"),
    "sources.extract_table": ("calls", "s", "jobs"),
    "writers.full_replace": ("calls", "s", "jobs"),
    "writers.merge_upsert": ("calls", "s", "jobs"),
    "writers.append": ("calls", "s", "jobs"),
    "plans.graph": ("calls", "s"),
    "plans.render_model": ("calls", "s"),
    "plans.runner": ("calls", "s", "jobs", "self_s"),
    "cursor.get": ("calls", "s"),
    "cursor.set": ("calls", "s"),
    "querybank.build": ("calls", "s", "jobs"),
    "io.table": ("calls", "s", "jobs"),
    "catalyst.plan": ("s",),
    "query.execute": ("s", "jobs"),
    "streaming.run_to_memory": ("calls", "s", "jobs"),
    "streaming.stream_merge_to_table": ("calls", "s", "jobs"),
    **{f"operators.{m}": ("calls", "s", "jobs") for m in OPERATOR_MODULES},
}
DECLARED: tuple[tuple[str, str], ...] = (
    *((f"{span}.{stat}", _STATS[stat]) for span, stats in _SPAN_STATS.items() for stat in stats),
    ("io.table.jobs_per_call", "ratio"),
    ("writers.rows_written_per_delta_row", "ratio"),
    ("writers.delta_rows", "rows"),
    ("driver.self_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.trigger_execution_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "rows"),
    *((f"spark.{k}", "count") for k in ("jobs", "stages", "tasks", "failed_tasks")),
    *((f"spark.{k}", "s") for k in ("task_s", "cpu_s", "gc_s", "task_wait_s", "python_stage_s")),
    *(
        (f"spark.{k}", "bytes")
        for k in ("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    ),
    ("spark.output_rows", "rows"),
    ("trace.overhead_s", "s"),
)

TASK_SUMS = (
    "task_s", "cpu_s", "gc_s", "task_wait_s", "python_stage_s", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_rows", "failed_tasks",
)

STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "query_planning_ms": "queryPlanning",
    "trigger_execution_ms": "triggerExecution",
}


def _inside(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in intervals)


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer_metrics(tracer, traced: list, plain: list, log_file: str) -> tuple[dict, dict]:
    """Per-layer metrics of the traced passes, and an info dict."""
    n = len(traced)
    log = EventLog.read(log_file)
    windows = [iv for p in traced for iv in p.intervals]
    jobs = {j: job for j, job in log.jobs.items() if _inside(job["t0"], windows)}
    name_of = {s.id: s.name for s in tracer.spans}
    m: dict[str, float] = {}

    # -- spans: calls, inclusive seconds, innermost-attributed jobs ----------
    child_s: dict[int, float] = {}
    for s in tracer.spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.t1 - s.t0)
    jobs_by_span: dict[int, int] = {}
    for job in jobs.values():
        if job["span"] is not None:
            jobs_by_span[job["span"]] = jobs_by_span.get(job["span"], 0) + 1
    for name in SPAN_NAMES:
        mine = [s for s in tracer.spans if s.name == name]
        m[f"{name}.calls"] = len(mine)
        m[f"{name}.s"] = sum(s.t1 - s.t0 for s in mine)
        m[f"{name}.jobs"] = sum(jobs_by_span.get(s.id, 0) for s in mine)
        m[f"{name}.self_s"] = sum(s.t1 - s.t0 - child_s.get(s.id, 0.0) for s in mine)

    # -- tasks of the attributed jobs ----------------------------------------
    tasks = [t for t in log.tasks if log.stage_job.get(t["Stage ID"]) in jobs]
    for key in TASK_SUMS:
        m[f"spark.{key}"] = 0.0
    writer_rows = 0
    for t in tasks:
        tm = t.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        out = tm.get("Output Metrics") or {}
        shuffle_read = tm.get("Shuffle Read Metrics") or {}
        stage_t0 = log.stage_t0.get(t["Stage ID"])
        launch = t["Task Info"]["Launch Time"] / 1000.0
        sums = {
            "task_s": run_s,
            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            "task_wait_s": max(0.0, launch - stage_t0) if stage_t0 is not None else 0.0,
            "python_stage_s": run_s if t["Stage ID"] in log.python_stages else 0.0,
            "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
            "output_bytes": out.get("Bytes Written", 0),
            "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
            + shuffle_read.get("Local Bytes Read", 0),
            "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "output_rows": out.get("Records Written", 0),
            "failed_tasks": (t.get("Task End Reason") or {}).get("Reason") != "Success",
        }
        for key, value in sums.items():
            m[f"spark.{key}"] += value
        span = jobs[log.stage_job[t["Stage ID"]]]["span"]
        if name_of.get(span, "").startswith("writers."):
            writer_rows += out.get("Records Written", 0)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len({t["Stage ID"] for t in tasks})
    m["spark.tasks"] = len(tasks)

    # -- driver time outside Spark jobs --------------------------------------
    driver_s = 0.0
    for a, b in windows:
        ivs = [
            (max(a, job["t0"]), min(b, job.get("t1", b)))
            for job in jobs.values()
            if job["t0"] <= b and job.get("t1", b) >= a
        ]
        driver_s += (b - a) - union_length(ivs)
    m["driver.self_s"] = driver_s

    # -- streaming progress --------------------------------------------------
    prog = [p for p in log.progress if _inside(_epoch(p["timestamp"]), windows)]
    m["streaming.batches"] = len(prog)
    for key, field in STREAM_PHASES.items():
        m[f"streaming.{key}"] = sum(p["durationMs"].get(field, 0) for p in prog)
    ops = [op for p in prog for op in p.get("stateOperators", [])]
    m["streaming.state_commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
    m["streaming.state_rows"] = sum(op.get("numRowsUpdated", 0) for op in ops)

    # every figure so far is a sum over the traced passes
    m = {k: v / n for k, v in m.items()}

    # -- ratios and the tracing cost -----------------------------------------
    m["io.table.jobs_per_call"] = m["io.table.jobs"] / m["io.table.calls"] if m["io.table.calls"] else 0.0
    delta_rows = sum(p.delta_rows for p in traced)
    m["writers.delta_rows"] = delta_rows / n
    m["writers.rows_written_per_delta_row"] = writer_rows / delta_rows if delta_rows else 0.0
    # plain[i] and plain[i + 1] ran just before and just after traced[i]
    m["trace.overhead_s"] = statistics.median(
        t.wall_s - (a.wall_s + b.wall_s) / 2 for t, a, b in zip(traced, plain, plain[1:])
    )
    traced_wall = statistics.median(p.wall_s for p in traced)
    plain_wall = statistics.median(p.wall_s for p in plain)

    off = tracer.epoch_offset
    top = [(s.t0 + off, s.t1 + off) for s in tracer.spans if s.parent is None]
    total = sum(b - a for a, b in windows)
    info = {
        "traced_passes": n,
        "plain_passes": len(plain),
        "traced_wall_s": round(traced_wall, 4),
        "plain_wall_s": round(plain_wall, 4),
        # share of the timed windows inside a top-level span; the rest is
        # the benchmark's own loop between operations
        "span_coverage": union_length(top) / total if total else 0.0,
    }
    return {name: (m[name], unit) for name, unit in DECLARED}, info
