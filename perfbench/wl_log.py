"""Protocol workloads: `commit_log` (the write path) and `table_read`
(the read path).  Both run the engine in-process with no Spark session."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from delta_go_spark.config import Clock
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.store import LocalStore
from delta_go_spark.transaction import DeltaConcurrentModificationError

from perfbench import gen
from perfbench.common import OpBook, Workload, metric, tail
from perfbench.spans import TracingStore


def _store(root: str, tracer) -> LocalStore:
    return TracingStore(root, tracer) if tracer is not None else LocalStore(root)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# commit_log
# ---------------------------------------------------------------------------

@dataclass
class CommitSize:
    versions: int  # generated versions before the loop
    adds_per_version: int
    interval: int  # delta.checkpointInterval
    traced_cycles: int  # fixed schedule length of a traced pass
    min_cycles: int  # an untraced run completes at least this many cycles


COMMIT_SIZES = {
    "full": CommitSize(versions=11, adds_per_version=500, interval=10,
                       traced_cycles=3, min_cycles=5),
    "smoke": CommitSize(versions=3, adds_per_version=40, interval=10,
                        traced_cycles=1, min_cycles=1),
}

# One cycle of transactions.  A fixed structure (only the data varies
# with the seed) keeps the alignment of checkpointing commits, and so each
# kind's median, the same on every seed: 13 versions per cycle against a
# checkpoint every 10.  A race opens transaction A, lands a competing
# commit B first, then commits A: disjoint B must let A retry and
# succeed, overlapping B must make A raise.
COMMIT_CYCLE = ["append", "append", "append", "rewrite", "append", "append",
                "race_disjoint", "append", "append", "rewrite", "append",
                "race_overlap"]


class CommitLog(Workload):
    name = "commit_log"
    headline = "commit"
    kinds = ["append", "rewrite", "retry", "conflict", "checkpoint"]

    cycle_len = len(COMMIT_CYCLE)

    def __init__(self, workdir: str, seed: int, scale: str):
        self.workdir = workdir
        self.seed = seed
        self.size = COMMIT_SIZES[scale]
        self.min_ops = self.size.min_cycles * self.cycle_len

    def setup(self, rep: int) -> None:
        """Generate the table, then open it once (full fold) so the loop
        starts from a warm handle."""
        s = self.size
        self.root = _fresh_dir(os.path.join(self.workdir, "table"))
        self.model = gen.TableModel(self.seed)
        gen.write_table(self.root, self.model, s.versions, s.adds_per_version,
                        checkpoint_version=s.versions - 1, removes_per_tail_version=0,
                        interval=s.interval)
        self.clock = gen.StepClock(gen.BASE_MS + s.versions * gen.COMMIT_GAP_MS)
        self.open_handle(None)
        self.n_ops = 0
        self.commits = 0
        self.bytes_at_start = gen.log_bytes(self.root)

    def open_handle(self, tracer) -> None:
        self.log = DeltaLog(self.root, clock=self.clock, store=_store(self.root, tracer))
        self.log.update().state()

    # -- transactions; model work and checks stay outside the timers ---------
    def _plan_rewrite(self, part: str, victim_idx: int):
        """(files the read must see, new files, removed paths, actions)."""
        files = self.model.in_part(part)
        victim = files[victim_idx % len(files)]
        new = self.model.new_add(part, self.clock.ms)
        return (len(files), [new], [victim.add.path],
                [victim.add.remove(self.clock.ms), new.add])

    def _read_part(self, txn, part: str) -> int:
        return len(txn.mark_files_as_read(EqualTo(Column("part"), Literal(part))))

    def one_op(self, book: OpBook, tracer) -> None:
        """One scheduled transaction; its latency goes to `book`."""
        m = self.model
        i = self.n_ops
        self.n_ops += 1
        step = COMMIT_CYCLE[i % self.cycle_len]
        checks: list = []
        book.attempted += 1
        expected_version = self.log.snapshot().version + 1
        try:
            if step == "append":
                adds = [m.new_add(m.pick_part(), self.clock.ms)
                        for _ in range(m.rng.randint(1, 4))]
                t0 = time.perf_counter()
                self.log.start_transaction().commit([f.add for f in adds], operation="WRITE")
                ms = (time.perf_counter() - t0) * 1000.0
                self._record(book, "append", ms, expected_version, adds, [], 1 + len(adds))
            elif step == "rewrite":
                part = m.pick_part()
                want, adds, removed, actions = self._plan_rewrite(part, 0)
                t0 = time.perf_counter()
                txn = self.log.start_transaction()
                got = self._read_part(txn, part)
                txn.commit(actions, operation="UPDATE")
                ms = (time.perf_counter() - t0) * 1000.0
                checks.append((f"mark_files_as_read({part})", got, want))
                self._record(book, "rewrite", ms, expected_version, adds, removed,
                             1 + len(actions))
            else:
                self._race(book, checks, step == "race_overlap", expected_version)
        except Exception as e:  # noqa: BLE001 - any unplanned error is a failed op
            book.fail(f"{self.name} op {i}: {type(e).__name__}: {e}")
            return
        for what, got, want in checks:
            if got != want:
                book.fail(f"{what}: got {got}, expected {want}")

    def _race(self, book: OpBook, checks: list, overlap: bool, expected_version: int) -> None:
        """Transaction A reads a partition; a competing commit B lands
        first; then A commits.  Disjoint B (another partition, blind
        append) lets A's retry succeed; overlapping B (rewrites a file A
        read) must make A raise."""
        m = self.model
        part = m.pick_part()
        want, adds_a, removed_a, actions_a = self._plan_rewrite(part, 0)
        t0 = time.perf_counter()
        txn_a = self.log.start_transaction()
        got = self._read_part(txn_a, part)
        a_open_ms = (time.perf_counter() - t0) * 1000.0
        checks.append((f"mark_files_as_read({part})", got, want))
        if overlap:
            _, adds_b, removed_b, actions_b = self._plan_rewrite(part, 1)
            t0 = time.perf_counter()
            txn_b = self.log.start_transaction()
            got = self._read_part(txn_b, part)
            txn_b.commit(actions_b, operation="UPDATE")
            kind_b = "rewrite"
            checks.append((f"mark_files_as_read({part})", got, want))
        else:
            other = next(p for p in gen.PARTS if p != part)
            adds_b, removed_b = [m.new_add(other, self.clock.ms)], []
            actions_b = [adds_b[0].add]
            t0 = time.perf_counter()
            self.log.start_transaction().commit(actions_b, operation="WRITE")
            kind_b = "append"
        ms_b = (time.perf_counter() - t0) * 1000.0
        self._record(book, kind_b, ms_b, expected_version, adds_b, removed_b,
                     1 + len(actions_b))
        t0 = time.perf_counter()
        try:
            txn_a.commit(actions_a, operation="UPDATE")
        except DeltaConcurrentModificationError:
            if not overlap:
                raise
            # planned: A's new file id was drawn but never committed
            book.add("conflict", a_open_ms + (time.perf_counter() - t0) * 1000.0)
            return
        if overlap:
            raise AssertionError("overlapping competitor did not conflict")
        ms_a = a_open_ms + (time.perf_counter() - t0) * 1000.0
        self._record(book, "retry", ms_a, expected_version + 1, adds_a, removed_a,
                     1 + len(actions_a))

    def _record(self, book: OpBook, kind: str, ms: float, expected_version: int,
                adds: list, removed: list, n_actions: int) -> None:
        version = self.log.snapshot().version
        if version != expected_version:
            raise AssertionError(f"committed version {version}, expected {expected_version}")
        if version % self.size.interval == 0:
            kind = "checkpoint"
        book.add(kind, ms)
        book.add("commit", ms)
        self.model.apply(adds, removed, n_actions)
        self.commits += 1

    def final_check(self, book: OpBook) -> None:
        """Fresh handle, full fold: the table must equal the model."""
        snap = DeltaLog(self.root, store=LocalStore(self.root)).update()
        got = {a.path for a in snap.all_files()}
        if snap.version != self.model.version:
            book.fail(f"final version {snap.version}, expected {self.model.version}")
        if got != set(self.model.active):
            book.fail(f"final active set differs: {len(got)} vs {len(self.model.active)}")

    def details(self, book: OpBook) -> dict:
        commits = book.samples.get("commit", [])
        return {
            "commit_p50_ms": metric(book.p50("commit"), "ms"),
            "commit_tail_ms": {**metric(_tail_value(commits), "ms"), "tail": tail(commits)},
            "log_bytes_per_commit": metric(
                (gen.log_bytes(self.root) - self.bytes_at_start) / max(self.commits, 1),
                "bytes"),
            "active_files": len(self.model.active),
        }

    def traced_ops(self) -> int:
        return self.size.traced_cycles * self.cycle_len


def _tail_value(values: list[float]) -> float:
    t = tail(values)
    return t["value"] if t else max(values)


# ---------------------------------------------------------------------------
# table_read
# ---------------------------------------------------------------------------

@dataclass
class ReadSize:
    versions: int
    adds_per_version: int
    checkpoint_version: int
    removes_per_tail_version: int
    scans_per_cycle: int
    traced_cycles: int
    min_cycles: int


READ_SIZES = {
    "full": ReadSize(versions=16, adds_per_version=500, checkpoint_version=12,
                     removes_per_tail_version=50, scans_per_cycle=6, traced_cycles=2,
                     min_cycles=5),
    "smoke": ReadSize(versions=8, adds_per_version=30, checkpoint_version=5,
                      removes_per_tail_version=5, scans_per_cycle=3, traced_cycles=1,
                      min_cycles=1),
}


# Cold ops of one cycle, each on a fresh handle; two opens per cycle give
# the headline median twice the samples.
READ_CYCLE = ["open", "time_travel_version", "open", "time_travel_timestamp", "changes"]


class TableRead(Workload):
    name = "table_read"
    headline = "open"
    kinds = ["open", "time_travel_version", "time_travel_timestamp", "changes", "scan"]

    def __init__(self, workdir: str, seed: int, scale: str):
        self.workdir = workdir
        self.seed = seed
        self.size = READ_SIZES[scale]
        self.cycle_len = len(READ_CYCLE) + self.size.scans_per_cycle
        self.min_ops = self.size.min_cycles * self.cycle_len

    def setup(self, rep: int) -> None:
        s = self.size
        self.root = _fresh_dir(os.path.join(self.workdir, "table"))
        self.model = gen.TableModel(self.seed)
        gen.write_table(self.root, self.model, s.versions, s.adds_per_version,
                        s.checkpoint_version, s.removes_per_tail_version, interval=1000)
        self.latest = self.model.version
        self.open_handle(None)
        self.n_ops = 0

    def open_handle(self, tracer) -> None:
        """The long-lived handle the warm scans share."""
        self.tracer = tracer
        self.warm = DeltaLog(self.root, store=_store(self.root, tracer))
        self.warm.update().state()

    def _fresh(self) -> DeltaLog:
        return DeltaLog(self.root, clock=Clock(), store=_store(self.root, self.tracer))

    def one_op(self, book: OpBook, tracer) -> None:
        """Cycle: READ_CYCLE, then `scans_per_cycle` warm scans."""
        s, m = self.size, self.model
        i = self.n_ops % self.cycle_len
        step = READ_CYCLE[i] if i < len(READ_CYCLE) else "scan"
        self.n_ops += 1
        book.attempted += 1
        try:
            if step == "open":
                t0 = time.perf_counter()
                n = self._fresh().update().num_of_files()
                book.add("open", (time.perf_counter() - t0) * 1000.0)
                self._check(book, "open", n, m.count_at[self.latest])
            elif step == "time_travel_version":
                v = m.rng.randint(s.checkpoint_version, self.latest - 1)
                t0 = time.perf_counter()
                n = self._fresh().snapshot_for_version_as_of(v).num_of_files()
                book.add("time_travel_version", (time.perf_counter() - t0) * 1000.0)
                self._check(book, f"version_as_of({v})", n, m.count_at[v])
            elif step == "time_travel_timestamp":
                v = m.rng.randint(s.checkpoint_version, self.latest - 1)
                ts = gen.BASE_MS + v * gen.COMMIT_GAP_MS + gen.COMMIT_GAP_MS // 2
                t0 = time.perf_counter()
                snap = self._fresh().snapshot_for_timestamp_as_of(ts)
                n = snap.num_of_files()
                book.add("time_travel_timestamp", (time.perf_counter() - t0) * 1000.0)
                self._check(book, f"timestamp_as_of({ts}).version", snap.version, v)
                self._check(book, f"timestamp_as_of({ts})", n, m.count_at[v])
            elif step == "changes":
                v = m.rng.randint(s.checkpoint_version + 1, self.latest)
                t0 = time.perf_counter()
                n = sum(len(vl.actions) for vl in self._fresh().changes(v))
                book.add("changes", (time.perf_counter() - t0) * 1000.0)
                self._check(book, f"changes({v})", n, sum(m.actions_at[v:]))
            else:
                pred = m.random_predicate()
                expr = gen.predicate_expr(pred)
                t0 = time.perf_counter()
                n = sum(1 for _ in self.warm.update().scan(expr).files())
                book.add("scan", (time.perf_counter() - t0) * 1000.0)
                self._check(book, f"scan({pred})", n, m.survivors(pred))
        except Exception as e:  # noqa: BLE001 - any unplanned error is a failed op
            book.fail(f"{self.name} op {self.n_ops - 1}: {type(e).__name__}: {e}")

    @staticmethod
    def _check(book: OpBook, what: str, got, want) -> None:
        if got != want:
            book.fail(f"{what}: got {got}, expected {want}")

    def traced_ops(self) -> int:
        return self.size.traced_cycles * self.cycle_len

    def details(self, book: OpBook) -> dict:
        return {
            "open_p50_ms": metric(book.p50("open"), "ms"),
            "time_travel_p50_ms": metric(
                _median(book.samples["time_travel_version"]
                        + book.samples["time_travel_timestamp"]), "ms"),
            "change_feed_p50_ms": metric(book.p50("changes"), "ms"),
            "scan_plan_p50_ms": metric(book.p50("scan"), "ms"),
            "active_files": self.model.count_at[self.latest],
        }


def _median(values: list[float]) -> float:
    import statistics

    return statistics.median(values)
