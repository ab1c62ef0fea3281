"""Deterministic Delta log generator for the protocol workloads.

Tables carry metadata-only AddFiles (no parquet data files): the log is
the workload.  The generator keeps its own model of every version, so
expected active-file counts, scan survivors and change-feed action counts
come from here and never from the engine under test.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from delta_go_spark.actions import (
    AddFile,
    CommitInfo,
    Metadata,
    Protocol,
    action_to_json,
)
from delta_go_spark.checkpoint import write_checkpoint
from delta_go_spark.config import Clock
from delta_go_spark.store import LocalStore

BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
COMMIT_GAP_MS = 60_000
PARTS = [f"p{i:02d}" for i in range(32)]
TAGS = [a + b for a in "abcdefgh" for b in "abcdefgh"]
ROWS_PER_FILE = 100

SCHEMA_JSON = json.dumps({"type": "struct", "fields": [
    {"name": "part", "type": "string", "nullable": True, "metadata": {}},
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "tag", "type": "string", "nullable": True, "metadata": {}},
    {"name": "x", "type": "double", "nullable": True, "metadata": {}},
]})


class StepClock(Clock):
    """Deterministic clock: each reading advances one second, so commit
    timestamps and tombstone times (and therefore log bytes) repeat
    exactly for one seed."""

    def __init__(self, start_ms: int):
        self.ms = start_ms

    def now_millis(self) -> int:
        self.ms += 1000
        return self.ms


@dataclass
class FileInfo:
    add: AddFile
    part: str
    lo: int
    hi: int
    tag: str


@dataclass
class TableModel:
    """What the table must contain: active files, per-version counts."""

    seed: int
    rng: random.Random = field(init=False)
    active: dict[str, FileInfo] = field(default_factory=dict)
    next_file: int = 0
    version: int = -1
    count_at: list[int] = field(default_factory=list)  # active files per version
    actions_at: list[int] = field(default_factory=list)  # log actions per version

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def new_add(self, part: str, ts: int) -> FileInfo:
        n = self.next_file
        self.next_file += 1
        lo = n * 100
        hi = lo + self.rng.randint(10, 99)
        tag = self.rng.choice(TAGS)
        stats = json.dumps({
            "numRecords": ROWS_PER_FILE,
            "minValues": {"id": lo, "tag": tag},
            "maxValues": {"id": hi, "tag": tag},
            "nullCount": {"id": 0, "tag": 0},
        }, separators=(",", ":"))
        add = AddFile(path=f"part={part}/f-{n:07d}.parquet", partition_values={"part": part},
                      size=self.rng.randint(50_000, 200_000), modification_time=ts,
                      data_change=True, stats=stats)
        return FileInfo(add, part, lo, hi, tag)

    def pick_part(self) -> str:
        return self.rng.choice(PARTS)

    def in_part(self, part: str) -> list[FileInfo]:
        return sorted((f for f in self.active.values() if f.part == part),
                      key=lambda f: f.add.path)

    def apply(self, adds: list[FileInfo], removed: list[str], n_actions: int) -> None:
        for p in removed:
            del self.active[p]
        for f in adds:
            self.active[f.add.path] = f
        self.version += 1
        self.count_at.append(len(self.active))
        self.actions_at.append(n_actions)

    def survivors(self, pred_spec: tuple) -> int:
        """Files the scan must return for one generated predicate."""
        kind, arg = pred_spec
        n = 0
        for f in self.active.values():
            if kind == "part":
                ok = f.part == arg
            elif kind == "in":
                ok = f.part in arg
            elif kind == "range":
                a, b = arg
                ok = f.hi >= a and f.lo < b
            elif kind == "mixed":
                part, a = arg
                ok = f.part == part and f.hi > a
            elif kind == "prefix":
                ok = f.tag.startswith(arg)
            else:
                raise ValueError(kind)
            n += ok
        return n

    def random_predicate(self) -> tuple:
        r = self.rng
        kind = r.choice(["part", "in", "range", "mixed", "prefix"])
        if kind == "part":
            return kind, r.choice(PARTS)
        if kind == "in":
            return kind, tuple(sorted(r.sample(PARTS, 3)))
        top = max(self.next_file, 1) * 100
        if kind == "range":
            a = r.randrange(top)
            return kind, (a, a + top // 20)
        if kind == "mixed":
            return kind, (r.choice(PARTS), r.randrange(top))
        return kind, r.choice("abcdefgh")


def predicate_expr(pred_spec: tuple):
    from delta_go_spark.expressions import (
        And, Column, EqualTo, GreaterThan, GreaterThanOrEq, In, LessThan, Literal,
        StartsWith,
    )

    kind, arg = pred_spec
    if kind == "part":
        return EqualTo(Column("part"), Literal(arg))
    if kind == "in":
        return In(Column("part"), tuple(Literal(x) for x in arg))
    if kind == "range":
        return And(GreaterThanOrEq(Column("id"), Literal(arg[0])),
                   LessThan(Column("id"), Literal(arg[1])))
    if kind == "mixed":
        return And(EqualTo(Column("part"), Literal(arg[0])),
                   GreaterThan(Column("id"), Literal(arg[1])))
    return StartsWith(Column("tag"), arg)


def metadata(seed: int, interval: int) -> Metadata:
    return Metadata(id=f"perfbench-{seed}", schema_string=SCHEMA_JSON,
                    partition_columns=["part"],
                    configuration={"delta.checkpointInterval": str(interval)},
                    created_time=BASE_MS)


def write_table(root: str, model: TableModel, versions: int, adds_per_version: int,
                checkpoint_version: int, removes_per_tail_version: int,
                interval: int) -> None:
    """Write versions 0..versions-1 as JSON commits with fixed mtimes
    (BASE_MS + v minutes) and one checkpoint at `checkpoint_version`.
    Versions after the checkpoint also remove files, so the tail carries
    tombstones."""
    log_path = os.path.join(root, "_delta_log")
    os.makedirs(log_path)
    meta = metadata(model.seed, interval)
    for v in range(versions):
        ts = BASE_MS + v * COMMIT_GAP_MS
        actions = [CommitInfo(timestamp=ts, operation="WRITE",
                              operation_parameters={"mode": "Append"})]
        if v == 0:
            actions += [Protocol(), meta]
        adds = [model.new_add(model.pick_part(), ts) for _ in range(adds_per_version)]
        removed: list[str] = []
        if v > checkpoint_version and removes_per_tail_version:
            removed = model.rng.sample(sorted(model.active), removes_per_tail_version)
            actions += [model.active[p].add.remove(ts) for p in removed]
        actions += [f.add for f in adds]
        path = os.path.join(log_path, f"{v:020d}.json")
        with open(path, "w") as fh:
            fh.write("".join(action_to_json(a) + "\n" for a in actions))
        os.utime(path, (ts / 1000, ts / 1000))
        model.apply(adds, removed, len(actions))
        if v == checkpoint_version:
            write_checkpoint(LocalStore(root), log_path, v, Protocol(), meta,
                             [f.add for f in model.active.values()], [], [])


def log_bytes(root: str) -> int:
    log_path = os.path.join(root, "_delta_log")
    return sum(os.path.getsize(os.path.join(log_path, n)) for n in os.listdir(log_path))
