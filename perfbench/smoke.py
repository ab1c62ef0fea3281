"""Smoke test for the benchmark, at minimal input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (all of BENCHMARK.json's by default):
- an untraced run emits exactly the BENCHMARK.json end-to-end metrics with
  their units, passes every correctness check (error_rate 0), and its
  details line carries the workload's named per-operation metrics;
- two traced runs with one seed emit exactly the per-layer metrics with
  their units (and dataplane's registry_pass_s in details), and agree on
  every exact count (spans.EXACT_COUNTS).
Finally, a copy holding only BENCHMARK.json and perfbench/ must make
run.py exit non-zero without printing a result.  Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench.spans import EXACT_COUNTS  # noqa: E402

NAMED = {  # per-operation metrics each workload's details line must carry
    "commit_log": ["commit_p50_ms", "commit_tail_ms", "log_bytes_per_commit"],
    "table_read": ["open_p50_ms", "time_travel_p50_ms", "change_feed_p50_ms",
                   "scan_plan_p50_ms"],
    "dataplane": ["dp_read_p50_ms", "dp_agg_p50_ms", "dp_write_p50_ms", "dp_write_tail_ms"],
}
NAMED_TRACED = {"dataplane": ["registry_pass_s"]}
SEED = 7


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_metrics(metrics: dict, spec: list[dict], what: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    errs = []
    if set(got) != set(want):
        errs.append(f"{what}: metric names differ: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}")
    errs += [f"{what}: {k} unit {got[k]} != {u}" for k, u in want.items()
             if k in got and got[k] != u]
    return errs


def parse(lines: list[str]) -> tuple[dict, dict]:
    result = json.loads(lines[-1])
    details = json.loads(lines[-2].removeprefix("perfbench-details "))
    return result, details


def smoke(workload: str, bench: dict) -> list[str]:
    errs = []
    rc, lines = run(workload, 0)
    if rc != 0:
        return [f"{workload}: untraced run exited {rc}"]
    result, details = parse(lines)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or details["error_rate"]["value"] != 0:
        errs.append(f"{workload}: failed checks {details['failures']}")
    errs += check_metrics(result["metrics"], bench["end_to_end"], f"{workload} end_to_end")
    for name in NAMED[workload]:
        if "unit" not in details.get(name, {}):
            errs.append(f"{workload}: details lack {name} with a unit")

    counts = []
    for _ in range(2):
        rc, lines = run(workload, 1)
        if rc != 0:
            return errs + [f"{workload}: traced run exited {rc}"]
        result, details = parse(lines)
        if not result["correct"]:
            errs.append(f"{workload} traced: failed checks {details['failures']}")
        errs += check_metrics(result["metrics"], bench["per_layer"], f"{workload} per_layer")
        for name in NAMED_TRACED.get(workload, []):
            if "unit" not in details.get(name, {}):
                errs.append(f"{workload} traced: details lack {name} with a unit")
        counts.append({k: result["metrics"][k]["value"] for k in EXACT_COUNTS})
    if counts[0] != counts[1]:
        diff = {k: (counts[0][k], counts[1][k]) for k in EXACT_COUNTS
                if counts[0][k] != counts[1][k]}
        errs.append(f"{workload}: exact counts differ between traced runs: {diff}")
    return errs


def bare_copy_fails() -> list[str]:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run("commit_log", 0, cwd=d)
    if rc == 0 or (lines and lines[-1].startswith("{")):
        return [f"bare copy: exit {rc}, output {lines[-1:]}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    errs = bare_copy_fails()
    for w in workloads:
        e = smoke(w, bench)
        print(f"{w}: {'ok' if not e else 'FAIL'}", flush=True)
        errs += e
    for e in errs:
        print("  " + e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
