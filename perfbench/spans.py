"""Span recorder and per-layer instrumentation, applied from outside the
engine.

Tracing wraps the public entry points of each engine module (and a
counting LocalStore subclass handed to DeltaLog) for the duration of a
traced block, then restores the originals, so an untraced run executes
the engine unmodified.  Spans are (name, start, end, parent, op id) and
stay in memory until `dump`.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from delta_go_spark.store import FileAlreadyExistsError, LocalStore

# Exact counts that must repeat across two traced runs of one seed.
EXACT_COUNTS = (
    "store.list_calls", "store.read_calls", "store.read_bytes",
    "store.write_calls", "store.write_bytes",
    "scan.files_total", "scan.files_after_partition", "scan.files_after_stats",
    "txn.conflicts_raised", "checkpoint.rows",
)

MODULES = ("store", "log", "snapshot", "checkpoint", "history", "scan", "txn",
           "datareader", "writer", "dml")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self.counts: dict[str, int] = defaultdict(int)
        self.op_id = 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def next_op(self) -> None:
        self.op_id += 1

    # -- patching -----------------------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def spanned(self, name: str):
        """Wrapper factory: run the original inside a span."""
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    # -- aggregation --------------------------------------------------------
    def total_ms(self, name: str) -> float:
        return sum((s[2] - s[1]) * 1000.0 for s in self.spans if s[0] == name)

    def self_ms_by_module(self) -> dict[str, float]:
        """Span duration minus its direct children's, summed per module
        (the span-name prefix).  Spans of one thread nest, so the direct
        children cover disjoint parts of the parent's interval."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0:
                child_ms[s[3]] += (s[2] - s[1]) * 1000.0
        out = {m: 0.0 for m in MODULES}
        for i, s in enumerate(self.spans):
            mod = s[0].split(".", 1)[0]
            if mod in out:
                out[mod] += (s[2] - s[1]) * 1000.0 - child_ms[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start_ms": (start - t0) * 1000.0,
                                    "end_ms": (end - t0) * 1000.0,
                                    "parent": parent, "op": op}) + "\n")


class TracingStore(LocalStore):
    """LocalStore that counts and times every log-store call.  Being a
    LocalStore subclass keeps the engine's `isinstance(store, LocalStore)`
    fast paths (checkpoint read/write) identical to an untraced run."""

    def __init__(self, root_dir: str, tracer: Tracer):
        super().__init__(root_dir)
        self._t = tracer

    def read(self, path):
        with self._t.span("store.read"):
            lines = super().read(path)
        self._t.counts["store.read_calls"] += 1
        self._t.counts["store.read_bytes"] += os.path.getsize(path)
        return lines

    def read_bytes(self, path):
        with self._t.span("store.read"):
            data = super().read_bytes(path)
        self._t.counts["store.read_calls"] += 1
        self._t.counts["store.read_bytes"] += len(data)
        return data

    def read_range(self, path, start, length):
        with self._t.span("store.read"):
            data = super().read_range(path, start, length)
        self._t.counts["store.read_calls"] += 1
        self._t.counts["store.read_bytes"] += len(data)
        return data

    def list_from(self, path):
        # callers always drain the listing, so draining it here keeps the
        # listing's stat() calls inside the span without changing results
        with self._t.span("store.list"):
            metas = list(super().list_from(path))
        self._t.counts["store.list_calls"] += 1
        return iter(metas)

    def write(self, path, lines, overwrite=False):
        lines = list(lines)
        with self._t.span("store.write"):
            try:
                super().write(path, lines, overwrite)
            except FileAlreadyExistsError:
                self._t.counts["store.write_conflicts"] += 1
                raise
        self._t.counts["store.write_calls"] += 1
        self._t.counts["store.write_bytes"] += sum(len(x.encode()) + 1 for x in lines)

    def write_bytes(self, path, data, overwrite=True):
        with self._t.span("store.write"):
            super().write_bytes(path, data, overwrite)
        self._t.counts["store.write_calls"] += 1
        self._t.counts["store.write_bytes"] += len(data)


def install_protocol_patches(t: Tracer) -> None:
    """Spans and counts around log replay, checkpoints, history, scan
    planning and transactions."""
    from delta_go_spark import checkpoint, history, log, scan, snapshot, transaction

    t.patch(log, "get_log_segment_for_version", t.spanned("snapshot.segment"))
    t.patch(checkpoint, "load_last_checkpoint", t.spanned("checkpoint.load_last"))

    def update(orig):
        def wrapper(self):
            before = self._snapshot
            with t.span("log.update"):
                snap = orig(self)
            t.counts["log.update_calls"] += 1
            t.counts["log.update_reused"] += snap is before
            return snap
        return wrapper
    t.patch(log.DeltaLog, "update", update)

    def state(orig):
        def wrapper(self):
            if self._state is not None:
                return orig(self)
            with t.span("snapshot.fold"):
                st = orig(self)
            t.counts["snapshot.folds"] += 1
            t.counts["snapshot.files_folded"] += len(st.active_files)
            return st
        return wrapper
    t.patch(snapshot.Snapshot, "state", state)

    def resolve_pm(orig):
        def wrapper(self):
            if self._pm is not None:
                return orig(self)
            with t.span("snapshot.pm"):
                return orig(self)
        return wrapper
    t.patch(snapshot.Snapshot, "_resolve_pm", resolve_pm)

    def write_checkpoint(orig):
        def wrapper(store, log_path, version, protocol, metadata, active_files,
                    tombstones, set_transactions, *args, **kwargs):
            with t.span("checkpoint.write"):
                r = orig(store, log_path, version, protocol, metadata, active_files,
                         tombstones, set_transactions, *args, **kwargs)
            t.counts["checkpoint.writes"] += 1
            t.counts["checkpoint.rows"] += (
                2 + len(active_files) + len(tombstones) + len(set_transactions))
            prefix = f"{version:020d}.checkpoint"
            t.counts["checkpoint.bytes"] += sum(
                os.path.getsize(os.path.join(log_path, n))
                for n in os.listdir(log_path)
                if n.startswith(prefix) and n.endswith(".parquet"))
            return r
        return wrapper
    t.patch(checkpoint, "write_checkpoint", write_checkpoint)

    t.patch(history.HistoryManager, "active_commit_at_time",
            t.spanned("history.active_commit"))

    def changes(orig):
        def wrapper(self, *args, **kwargs):
            with t.span("history.changes"):
                out = list(orig(self, *args, **kwargs))
            t.counts["history.changes_versions"] += len(out)
            return iter(out)
        return wrapper
    t.patch(history.HistoryManager, "changes", changes)

    def files(orig):
        def wrapper(self):
            with t.span("scan.plan"):
                out = list(orig(self))
            t.counts["scan.plans"] += 1
            t.counts["scan.files_after_stats"] += len(out)
            return iter(out)
        return wrapper
    t.patch(scan.DeltaScan, "files", files)

    def accept(orig):
        def wrapper(self, add):
            ok = orig(self, add)
            t.counts["scan.files_total"] += 1
            t.counts["scan.files_after_partition"] += ok
            return ok
        return wrapper
    t.patch(scan.DeltaScan, "_accept", accept)

    def commit(orig):
        def wrapper(self, *args, **kwargs):
            with t.span("txn.commit"):
                try:
                    v = orig(self, *args, **kwargs)
                except transaction.DeltaConcurrentModificationError:
                    t.counts["txn.conflicts_raised"] += 1
                    raise
            t.counts["txn.commits"] += 1
            return v
        return wrapper
    t.patch(transaction.OptimisticTransaction, "commit", commit)
    t.patch(transaction.OptimisticTransaction, "_check_conflicts",
            t.spanned("txn.check_conflicts"))


def install_spark_patches(t: Tracer) -> None:
    """Spans around the data plane, plus a counting store for every
    DeltaLog the data plane opens."""
    from delta_go_spark import datareader, dml, log, table
    from delta_go_spark.store import is_cloud_uri

    install_protocol_patches(t)
    t.patch(datareader, "files_to_df", t.spanned("datareader.build"))
    t.patch(table, "write_dataframe", t.spanned("writer.write"))
    t.patch(dml.DeltaDml, "delete", t.spanned("dml.delete"))
    t.patch(dml.DeltaDml, "update", t.spanned("dml.update"))
    t.patch(dml.DeltaDml, "merge", t.spanned("dml.merge"))

    def store_for(orig):
        def wrapper(path):
            if is_cloud_uri(path):
                return orig(path)
            return TracingStore(path.removeprefix("file://"), t)
        return wrapper
    t.patch(log, "store_for", store_for)


def spark_job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st is not None else 0
    return len(jobs), stages, tasks


def layer_metrics(t: Tracer) -> dict[str, tuple[float, str]]:
    """The protocol-layer per_layer metrics from one traced block."""
    c = t.counts
    files_folded = c["snapshot.files_folded"]
    commits = c["txn.commits"]
    selfs = t.self_ms_by_module()
    out = {
        "store.list_calls": (c["store.list_calls"], "count"),
        "store.read_calls": (c["store.read_calls"], "count"),
        "store.read_bytes": (c["store.read_bytes"], "bytes"),
        "store.write_calls": (c["store.write_calls"], "count"),
        "store.write_bytes": (c["store.write_bytes"], "bytes"),
        "store.list_ms": (t.total_ms("store.list"), "ms"),
        "store.read_ms": (t.total_ms("store.read"), "ms"),
        "store.write_ms": (t.total_ms("store.write"), "ms"),
        "snapshot.segment_ms": (t.total_ms("snapshot.segment"), "ms"),
        "snapshot.fold_ms": (t.total_ms("snapshot.fold"), "ms"),
        "snapshot.folds": (c["snapshot.folds"], "count"),
        "snapshot.fold_us_per_file": (
            t.total_ms("snapshot.fold") * 1000.0 / files_folded if files_folded else 0.0,
            "us"),
        "snapshot.pm_ms": (t.total_ms("snapshot.pm"), "ms"),
        "log.update_reuse_ratio": (
            c["log.update_reused"] / c["log.update_calls"] if c["log.update_calls"] else 0.0,
            "ratio"),
        "checkpoint.write_ms": (t.total_ms("checkpoint.write"), "ms"),
        "checkpoint.rows": (c["checkpoint.rows"], "count"),
        "checkpoint.bytes": (c["checkpoint.bytes"], "bytes"),
        "checkpoint.load_last_ms": (t.total_ms("checkpoint.load_last"), "ms"),
        "history.active_commit_ms": (t.total_ms("history.active_commit"), "ms"),
        "history.changes_ms_per_version": (
            t.total_ms("history.changes") / c["history.changes_versions"]
            if c["history.changes_versions"] else 0.0, "ms"),
        "scan.files_total": (c["scan.files_total"], "count"),
        "scan.files_after_partition": (c["scan.files_after_partition"], "count"),
        "scan.files_after_stats": (c["scan.files_after_stats"], "count"),
        "scan.plan_ms": (t.total_ms("scan.plan"), "ms"),
        "txn.commit_ms": (t.total_ms("txn.commit"), "ms"),
        "txn.attempts_per_commit": (
            (commits + c["store.write_conflicts"]) / commits if commits else 0.0, "ratio"),
        "txn.conflicts_raised": (c["txn.conflicts_raised"], "count"),
        "txn.self_ms": (selfs["txn"], "ms"),
        "trace.spans": (len(t.spans), "count"),
    }
    for mod in MODULES:
        if mod != "txn":
            out[f"{mod}.self_ms"] = (selfs[mod], "ms")
    return out


REGISTRY_QUERIES = (
    "q3_shipping_priority", "minhash_near_dup_docs", "cosine_near_dup_docs",
    "minhash_incremental_docs", "streaming_delta_aggsink_events", "delta_snapshot_diff",
)


def spark_layer_defaults() -> dict[str, tuple[float, str]]:
    out = {
        "datareader.build_ms": (0.0, "ms"),
        "datareader.action_ms": (0.0, "ms"),
        "writer.write_ms": (0.0, "ms"),
        "writer.files_written": (0, "count"),
        "writer.bytes_written": (0, "bytes"),
        "dml.delete_ms": (0.0, "ms"),
        "dml.update_ms": (0.0, "ms"),
        "dml.merge_ms": (0.0, "ms"),
        "dml.files_rewritten": (0, "count"),
        "spark.jobs": (0.0, "count"),
        "spark.stages": (0.0, "count"),
        "spark.tasks": (0.0, "count"),
    }
    for q in REGISTRY_QUERIES:
        out[f"registry.{q}.build_ms"] = (0.0, "ms")
        out[f"registry.{q}.action_ms"] = (0.0, "ms")
        out[f"registry.{q}.jobs"] = (0, "count")
    return out
