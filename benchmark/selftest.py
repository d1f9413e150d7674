#!/usr/bin/env python3
"""Self-test of the benchmark on small inputs (at most sf 0.001).

    python3 benchmark/selftest.py

For each workload it makes one untraced and one traced run through
``run.main`` (each in a child process, from a working directory outside
the checkout, so Python workers must find the package through the
environment the benchmark sets) and checks that:

- every metric declared in BENCHMARK.json is printed with its unit;
- the untraced run is correct and fails no operation;
- every span the workload exercises records at least one call;
- a planted wrong expectation (traced run) raises ``failed``;
- top-level spans cover at least 95% of the traced windows.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: spans each workload must call at least once per traced pass
EXERCISED = {
    "tenant_elt": (
        "pipeline.ingest",
        "sources.extract_table",
        "writers.full_replace",
        "writers.merge_upsert",
        "writers.append",
        "plans.graph",
        "plans.render_model",
        "plans.runner",
        "cursor.get",
        "cursor.set",
    ),
    "query_bank": (
        "querybank.build",
        "io.table",
        "streaming.run_to_memory",
        "streaming.stream_merge_to_table",
        "operators.dedup",
        "operators.similarity",
        "operators.text",
        "operators.corpus",
        "operators.multimodal",
    ),
}


def small_workloads(plant: bool) -> dict:
    """The benchmark's workloads on smaller inputs; ``plant`` corrupts
    one expected output of each."""
    import workloads

    def tenant():
        w = workloads.TenantEltWorkload(tenants=2, cycles=8)
        if plant:
            real = w.expected_after

            def wrong(cycle: int) -> dict:
                out = real(cycle)
                out[w.tenants[0]]["counts"]["orders"] += 1
                return out

            w.expected_after = wrong
        return w

    def bank():
        w = workloads.QueryBankWorkload(keep=0.5, corpus_docs=60, corpus_copies=4)
        if plant:
            prepare = w.prepare

            def planted(seed: int, run_dir: str) -> dict:
                out = prepare(seed, run_dir)
                w.expected[w.queries[0]] += 1
                return out

            w.prepare = planted
        return w

    return {"tenant_elt": tenant, "query_bank": bank}


def child(workload: str, trace: int) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import run

    argv = ["--workload", workload, "--seed", "0", "--seconds", "1", "--trace", str(trace)]
    return run.main(argv, small_workloads(plant=bool(trace)))


def _run_child(workload: str, trace: int) -> tuple[dict, dict]:
    with tempfile.TemporaryDirectory() as cwd:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", workload, str(trace)],
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=600,
        )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {0: bench["end_to_end"], 1: bench["per_layer"]}
    _check({w["name"] for w in bench["workloads"]} == set(EXERCISED), "workloads match BENCHMARK.json")
    for workload, spans in EXERCISED.items():
        for trace in (0, 1):
            info, res = _run_child(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared[trace]}
            _check(got == want, f"{workload} trace={trace}: every declared metric, with its unit")
            _check(res["attempted"] >= 1, f"{workload} trace={trace}: operations attempted")
            if trace == 0:
                _check(
                    res["correct"] and res["failed"] == 0,
                    f"{workload}: correct, 0 of {res['attempted']} failed {info['errors']}",
                )
                continue
            missing = [s for s in spans if res["metrics"][f"{s}.calls"]["value"] < 1]
            _check(not missing, f"{workload}: every exercised span called (missing: {missing})")
            _check(
                res["failed"] >= 1 and not res["correct"],
                f"{workload}: planted wrong expectation counted ({res['failed']} failed)",
            )
            cov = info["span_coverage"]
            _check(cov >= 0.95, f"{workload}: spans cover {cov:.3f} of the traced windows")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2], int(sys.argv[3])))
    sys.exit(main())
