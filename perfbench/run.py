"""Layered Delta benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Every input is generated from --seed into
`.perfbench/<workload>/` (wiped first), so nothing outside the checkout
is read or written.  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end set, with --trace 1 the per-layer set.  The line
before it ("perfbench-details ...") carries per-operation medians and
tails, the run environment and, in a traced run, per-module self time.

Untraced runs loop closed (one client) over whole cycles of a fixed op
mix until --seconds have passed and a minimum op count is reached.  A
traced run instead replays a fixed, seed-determined schedule three times —
a warm-up, an untraced pass, a traced pass — so its exact counts repeat for
one seed and the difference between the last two is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("commit_log", "table_read", "dataplane")
SETUP_REPEATS = 3  # setup_s is the median of this many set-ups


def _load(name: str):
    if name in ("commit_log", "table_read"):
        from perfbench import wl_log

        return {"commit_log": wl_log.CommitLog, "table_read": wl_log.TableRead}[name]
    from perfbench.wl_spark import Dataplane

    return Dataplane


def _env(seed: int) -> dict:
    from perfbench.common import loadavg_1m, nproc, versions

    return {"nproc": nproc(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "seed": seed, "loadavg_1m_start": loadavg_1m(), "versions": versions()}


def _closed_loop(w, book, seconds: float) -> None:
    """Whole op cycles until `seconds` have passed and at least
    `w.min_ops` ops ran, so every run measures the same op mix."""
    deadline = time.perf_counter() + seconds
    done = 0
    while time.perf_counter() < deadline or done < w.min_ops or done % w.cycle_len:
        w.one_op(book, None)
        done += 1


def _fixed(w, book, n: int, tracer=None) -> float:
    """Run n scheduled ops; returns the summed latency of every sample."""
    for _ in range(n):
        if tracer is not None:
            tracer.next_op()
        w.one_op(book, tracer)
    return sum(sum(book.samples.get(k, [])) for k in w.kinds)


def run(args) -> dict:
    from perfbench.common import OpBook, loadavg_1m, metric, peak_rss_mb

    workdir = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    env = _env(args.seed)
    w = _load(args.workload)(workdir, args.seed, args.scale)
    try:
        setup_s = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup(rep)
            setup_s.append(time.perf_counter() - t0)

        details: dict = {"workload": args.workload, "env": env,
                         "setup_s_samples": setup_s}
        if not args.trace:
            book = OpBook()
            t0 = time.perf_counter()
            _closed_loop(w, book, args.seconds)
            details["measured_s"] = time.perf_counter() - t0
            w.final_check(book)
            headline = book.samples.get(w.headline, [])
            if not headline:
                book.fail(f"no {w.headline} samples")
                metrics = {}
            else:
                metrics = {
                    "setup_s": metric(statistics.median(setup_s), "s"),
                    "p50_ms": metric(statistics.median(headline), "ms"),
                    "mean_ms": metric(book.mean(w.kinds), "ms"),
                    "peak_rss_mb": metric(peak_rss_mb(), "MB"),
                }
                details.update(w.details(book))
        else:
            from perfbench import spans

            n = w.traced_ops()
            # warm-up pass first, so neither measured pass pays the first-run
            # (JIT, page cache) costs and their difference is the overhead
            plain = OpBook()
            _fixed(w, plain, n)
            plain.samples.clear()
            plain_ms = _fixed(w, plain, n)
            tracer = spans.Tracer()
            w.install_tracing(tracer)
            w.open_handle(tracer)
            book = OpBook()
            try:
                traced_ms = _fixed(w, book, n, tracer)
                w.traced_extra(book, tracer)
            finally:
                tracer.unpatch_all()
                w.open_handle(None)
            w.final_check(book)
            book.attempted += plain.attempted
            book.failed += plain.failed
            book.failures += plain.failures
            layer = spans.layer_metrics(tracer)
            layer.update(w.layer_metrics(tracer))
            layer["trace.overhead_pct"] = (100.0 * (traced_ms / plain_ms - 1.0), "%")
            metrics = {name: metric(v, unit) for name, (v, unit) in layer.items()}
            details.update(w.traced_details(book))
            details["self_ms"] = tracer.self_ms_by_module()
            details["traced_ops"] = n
            spans_path = os.path.join(workdir, "spans.jsonl")
            tracer.dump(spans_path)
            details["spans_file"] = os.path.relpath(spans_path, ROOT)
    finally:
        w.close()  # stops the Spark JVM, if the workload started one
    details["ops"] = book.summary()
    details["error_rate"] = metric(book.failed / max(book.attempted, 1), "ratio")
    details["failures"] = book.failures
    details["env"]["loadavg_1m_end"] = loadavg_1m()
    return {"details": details,
            "result": {"correct": book.failed == 0, "attempted": book.attempted,
                       "failed": book.failed, "metrics": metrics}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' is the minimal size the smoke test uses")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "delta_go_spark", "__init__.py")):
        print(f"perfbench: no delta_go_spark package under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    # Import the engine and this package from the checkout, and keep every
    # temporary file (Python, Spark, JVM) inside it.
    sys.path[:0] = [ROOT]
    tmp = os.path.join(ROOT, ".perfbench", args.workload, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    from perfbench.common import nproc

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))

    out = run(args)
    print("perfbench-details " + json.dumps(out["details"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
