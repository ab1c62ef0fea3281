"""Shared helpers: percentiles, per-op sample books, run environment."""

from __future__ import annotations

import math
import os
import platform
import resource
import statistics

# Percentile ladder for tails: the highest rung with at least ten samples
# beyond it is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (same rule as numpy's default)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values: list[float]) -> dict | None:
    """Highest ladder percentile with >= MIN_BEYOND samples above it."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = math.floor(n * (100.0 - p) / 100.0)
        if beyond >= MIN_BEYOND:
            return {"p": p, "value": percentile(values, p), "beyond": beyond}
    return None


class OpBook:
    """Latency samples per op type, plus attempted/failed counts.

    Correctness checks run outside the timed region; a failed check or an
    unexpected exception is recorded with `fail` and counts toward the
    error rate.
    """

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add(self, kind: str, ms: float) -> None:
        self.samples.setdefault(kind, []).append(ms)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def p50(self, kind: str) -> float:
        return statistics.median(self.samples[kind])

    def summary(self) -> dict:
        out = {}
        for kind, vals in sorted(self.samples.items()):
            out[kind] = {"n": len(vals), "p50_ms": statistics.median(vals),
                         "mean_ms": sum(vals) / len(vals), "max_ms": max(vals),
                         "tail": tail(vals)}
        return out

    def mean(self, kinds: list[str]) -> float:
        """Mean latency over every sample of the listed kinds: the
        amortized cost of one op of the workload's fixed mix."""
        vals = [v for k in kinds for v in self.samples.get(k, [])]
        return sum(vals) / len(vals)


def peak_rss_mb() -> float:
    """Peak resident set of this Python process (ru_maxrss is KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Workload:
    """Defaults shared by every workload; run.py runs the loop."""

    min_ops = 1  # an untraced run completes at least this many ops
    cycle_len = 1  # ... and stops only at the end of a whole op cycle

    def open_handle(self, tracer) -> None:
        """(Re)open long-lived engine handles, traced when `tracer` is set."""

    def install_tracing(self, tracer) -> None:
        from perfbench.spans import install_protocol_patches

        install_protocol_patches(tracer)

    def layer_metrics(self, tracer) -> dict:
        """Workload-specific per-layer metrics (the data-plane and
        registry set, zero where the workload never reaches the layer)."""
        from perfbench.spans import spark_layer_defaults

        return spark_layer_defaults()

    def final_check(self, book) -> None:
        """Checks after the loop (ops are otherwise checked as they end)."""

    def traced_extra(self, book, tracer) -> None:
        """Ops a traced run adds after its traced pass."""

    def traced_details(self, book) -> dict:
        return {}

    def close(self) -> None:
        pass
