"""Versioned state-directory commits for foreachBatch sinks — the ONE
implementation of the epoch commit/replay/prune discipline that
operators/upsert_sink.py, operators/viewmaint.py and
operators/ingestdedup.py share (review round
6: the copied machinery had already drifted — viewmaint's seed version
-1 was invisible to the copied ``isdigit`` parser, breaking restart
recovery in the init-only window and exempting the seed from pruning).

Contract (documented at length in upsert_sink's module docstring):
- an epoch commits by writing to ``v{batch_id}.tmp`` then one atomic
  ``os.rename`` — a crash never publishes partial state;
- the committed version directory IS the idempotency token: a replayed
  batch_id finds it and skips, only advancing the pointer (never
  rewinding it — an out-of-order replay after recovery must not make
  the next merge build on pre-replay state);
- a restarted driver recovers the pointer from the highest version on
  disk (negative seed versions included);
- retention keeps the 2 newest commits — the newest is
  live, one predecessor preserves the replay token across the
  crash-between-commits window.
"""

from __future__ import annotations

import os


class VersionedStateDir:
    """Base class: version parsing, pointer recovery, atomic commit,
    replay detection, and pruning. Subclasses write their payload via
    ``_write_version(tmp_dir, ...)`` and call ``_commit``."""

    def __init__(self, state_root: str) -> None:
        os.makedirs(state_root, exist_ok=True)
        self.state_root = state_root
        done = self._versions_on_disk()
        self.current: str | None = (
            os.path.join(state_root, f"v{done[-1]}") if done else None
        )

    def _versions_on_disk(self) -> list[int]:
        out = []
        for d in os.listdir(self.state_root):
            if not d.startswith("v") or d.endswith(".tmp"):
                continue
            try:
                out.append(int(d[1:]))  # handles negative seed versions
            except ValueError:
                continue
        return sorted(out)

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.state_root, f"v{version}")

    def _note_replay(self, version: int) -> None:
        """A replayed epoch advances (never rewinds) the pointer."""
        done = self._versions_on_disk()
        if done and (self.current is None or version >= done[-1]):
            self.current = self._version_dir(version)

    def _commit(self, version: int, write) -> None:
        """``write(tmp_dir)`` materializes the payload; then one atomic
        rename publishes it. A stale tmp from a crashed attempt is
        clobbered by the overwrite-mode writes inside ``write``."""
        vdir = self._version_dir(version)
        tmp = vdir + ".tmp"
        write(tmp)
        os.rename(tmp, vdir)
        self.current = vdir
        self._prune()

    def _prune(self) -> None:
        import shutil

        done = self._versions_on_disk()
        for v in done[:-2]:
            shutil.rmtree(self._version_dir(v), ignore_errors=True)
