"""History manager: commit timestamps, time travel resolution, change feed.

Reference: history_manager.go, version_log.go, log.go:156-281.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from delta_go_spark import filenames
from delta_go_spark.actions import Action, CommitInfo, read_commit_actions
from delta_go_spark.snapshot import DeltaError
from delta_go_spark.store import LogStore


@dataclass(frozen=True)
class Commit:
    version: int
    timestamp: int  # file modification time, millis


@dataclass(frozen=True)
class VersionLog:
    """One version's actions (reference: version_log.go:9-71)."""

    version: int
    actions: tuple[Action, ...]


class HistoryManager:
    """reference: history_manager.go."""

    def __init__(self, store: LogStore, log_path: str):
        self.store = store
        self.log_path = log_path

    def _list_commits(self, start_version: int = 0) -> list[Commit]:
        anchor = os.path.join(self.log_path, f"{start_version:020d}")
        out = []
        for m in self.store.list_from(anchor):
            name = os.path.basename(m.path)
            if filenames.is_delta_file(name):
                out.append(Commit(filenames.delta_version(name), m.modification_time))
        return out

    def commit_info_at(self, version: int) -> CommitInfo:
        """First CommitInfo of a version (reference:
        history_manager.go:20-48)."""
        path = filenames.delta_file(self.log_path, version)
        if not self.store.exists(path):
            raise DeltaError(f"no commit found at version {version}")
        for a in read_commit_actions(self.store, path):
            if isinstance(a, CommitInfo):
                a.version = version
                return a
        return CommitInfo(version=version)

    def checked_version_bounds(self, version: int, latest_version: int) -> None:
        """Time-travel target must be within [earliest reproducible,
        latest] (reference: history_manager.go:50-66)."""
        earliest = self.earliest_reproducible_version()
        if version < earliest or version > latest_version:
            raise DeltaError(
                f"cannot time travel to version {version}: reproducible range is "
                f"[{earliest}, {latest_version}]"
            )

    def _adjusted_timeline(self) -> list[Commit]:
        """The monotonically-clamped (version, mtime) sequence over EVERY
        commit file present — the ONE timeline all timestamp resolution
        uses.  Both active_commit_at_time (end bounds) and
        first_version_at_or_after (start bounds) slice this same list, so
        under commit-mtime clock skew a given commit always resolves to
        the same adjusted timestamp regardless of which helper asks."""
        commits = sorted(self._list_commits(0), key=lambda c: c.version)
        adjusted: list[Commit] = []
        prev_ts = None
        for c in commits:
            ts = c.timestamp if prev_ts is None else max(c.timestamp, prev_ts + 1)
            adjusted.append(Commit(c.version, ts))
            prev_ts = ts
        return adjusted

    def active_commit_at_time(
        self,
        latest_version: int,
        timestamp_millis: int,
        can_return_last_commit: bool = False,
        must_be_recreatable: bool = True,
        can_return_earliest_commit: bool = False,
    ) -> Commit:
        """Last commit with mtime <= ts (reference:
        history_manager.go:68-104).  The clamp runs over the full commit
        list BEFORE the reproducibility filter, so it shares one timeline
        with first_version_at_or_after."""
        start = self.earliest_reproducible_version() if must_be_recreatable else 0
        adjusted = [
            c
            for c in self._adjusted_timeline()
            if start <= c.version <= latest_version
        ]
        if not adjusted:
            raise DeltaError("no commits found")
        chosen = None
        for c in adjusted:
            if c.timestamp <= timestamp_millis:
                chosen = c
            else:
                break
        if chosen is None:
            if can_return_earliest_commit:
                return adjusted[0]
            raise DeltaError(
                f"timestamp {timestamp_millis} is before the earliest version available"
            )
        if chosen.version == adjusted[-1].version and chosen.timestamp < timestamp_millis:
            if not can_return_last_commit and timestamp_millis > adjusted[-1].timestamp:
                raise DeltaError(
                    f"timestamp {timestamp_millis} is after the latest commit timestamp "
                    f"{adjusted[-1].timestamp}"
                )
        return chosen

    def first_version_at_or_after(self, timestamp_millis: int) -> int | None:
        """The first committed version whose timestamp is >= the given
        time — Delta's `startingTimestamp` streaming semantics (start with
        changes committed at or after the timestamp).  None when every
        commit predates it (the stream starts past the current tip).
        Resolution slices the same _adjusted_timeline as
        active_commit_at_time, so start and end bounds agree on one
        timeline under commit-mtime skew."""
        for c in self._adjusted_timeline():
            if c.timestamp >= timestamp_millis:
                return c.version
        return None

    def earliest_reproducible_version(self) -> int:
        """Earliest version reconstructable from the files present
        (reference: history_manager.go:130-189): a version is reproducible
        if v0 onward is contiguous, or a complete checkpoint covers it."""
        anchor = os.path.join(self.log_path, f"{0:020d}")
        deltas: list[int] = []
        checkpoint_cands: list[str] = []
        for m in self.store.list_from(anchor):
            name = os.path.basename(m.path)
            if filenames.is_delta_file(name):
                deltas.append(filenames.delta_version(name))
            elif filenames.is_checkpoint_file(name) and m.size > 0:
                checkpoint_cands.append(m.path)
        deltas.sort()
        latest = deltas[-1] if deltas else None
        delta_set = set(deltas)
        # complete checkpoints: single-file, or multi-part with every part
        singles = {
            filenames.checkpoint_version(p)
            for p in checkpoint_cands
            if filenames.checkpoint_part(p)[0] is None
        }
        parts_seen: dict[tuple[int, int], set[int]] = {}
        for p in checkpoint_cands:
            part, total = filenames.checkpoint_part(p)
            if part is not None:
                v = filenames.checkpoint_version(p)
                parts_seen.setdefault((v, total), set()).add(part)
        multi = {v for (v, total), seen in parts_seen.items() if len(seen) == total}
        checkpoints = sorted(singles | multi)

        def contiguous_through_latest(anchor: int) -> bool:
            # every version in (anchor, latest] must have its delta file
            return all(v in delta_set for v in range(anchor + 1, latest + 1))

        # NOTE: the reference (history_manager.go:158-160) returns 0 as soon as
        # a version-0 delta exists, without checking the prefix is contiguous —
        # which lets checked_version_bounds accept a target inside a log gap
        # that then fails reconstruction with a misleading contiguity error.
        # We walk instead: an anchor (v0 delta or complete checkpoint) counts
        # only if the delta chain from it reaches the latest version.
        if deltas and deltas[0] == 0 and contiguous_through_latest(0):
            return 0
        for c in checkpoints:
            if latest is None or c >= latest or contiguous_through_latest(c):
                return c
        if deltas:
            raise DeltaError(
                f"no reproducible version found: log starts at {deltas[0]} "
                "with a gap and no complete checkpoint covering later versions"
            )
        raise DeltaError("empty delta log")

    def changes(self, start_version: int, fail_on_data_loss: bool = False):
        """Ordered (version, actions) iterator from start_version
        (reference: log.go:188-226, version_log.go).  A version gap raises
        when fail_on_data_loss."""
        if start_version < 0:
            raise DeltaError("invalid startVersion")
        commits = sorted(self._list_commits(start_version), key=lambda c: c.version)
        commits = [c for c in commits if c.version >= start_version]
        if not commits:
            raise DeltaError(f"no changes at or after version {start_version}")
        expected = start_version
        for c in commits:
            if fail_on_data_loss and c.version != expected:
                raise DeltaError(
                    f"versions are not contiguous: expected {expected}, got {c.version}"
                )
            expected = c.version + 1
            path = filenames.delta_file(self.log_path, c.version)
            actions = tuple(read_commit_actions(self.store, path))
            yield VersionLog(c.version, actions)
