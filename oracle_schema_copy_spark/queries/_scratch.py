"""Scratch-dir management for queries that materialize intermediate state
(warehouse roundtrips, MoR tables, embedded Derby databases).

Two invariants (ADVICE r9):
- the root lives next to THIS checkout (a second tree — e.g. the
  tools/ab.py A/B worktree — scratches in its own repo, never in
  another one), overridable via ``SPARK_GRAFT_SCRATCH``;
- per-uuid dirs are swept once stale: every query builds a fresh dir and
  collects within its own run, so an entry untouched for hours can only
  belong to an earlier JVM — without the sweep a full-registry pass leaves
  ~1 GB of parquet/Derby state behind per run.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

SCRATCH_ROOT = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
    ),
)

# Longer than any single registry pass; entries this old are unreferenced.
_STALE_SEC = 6 * 3600


def sweep_stale(root: str = SCRATCH_ROOT, *, stale_sec: float = _STALE_SEC) -> None:
    """Delete scratch entries untouched for ``stale_sec`` seconds."""
    try:
        entries = list(os.scandir(root))
    except OSError:
        return
    now = time.time()
    for e in entries:
        try:
            if e.is_dir(follow_symlinks=False) and now - e.stat().st_mtime > stale_sec:
                shutil.rmtree(e.path, ignore_errors=True)
        except OSError:
            continue


def scratch_dir(prefix: str) -> str:
    """Fresh per-uuid scratch path (not created), sweeping stale siblings."""
    sweep_stale()
    return os.path.join(SCRATCH_ROOT, f"{prefix}_{uuid.uuid4().hex[:8]}")
