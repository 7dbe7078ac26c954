"""Crash-safe directory swap for compacting append-only parquet state.

The naive compact — write merged data to ``tmp``, ``rename(live, old)``,
``rename(tmp, live)``, ``rmtree(old)`` — has a window between the two
renames where the live directory does not exist.  A crash there, plus a
restart whose ``makedirs(exist_ok=True)`` recreates the directory
empty, silently loses the whole index while the data sits intact in the
orphaned ``old`` dir.  (The exact failure mode the continuous rollup
fixed with versioned dirs; this is the shared fix for the streaming
dedup/ANN index compactions.)

``swap_publish`` performs the swap; ``recover_interrupted_swap`` heals
every crash state on startup:

- live dir has data              → any ``-compact-*`` / ``-old-*``
  orphans are leftovers of a completed or aborted run; delete them.
- live dir missing/empty, a COMPLETE ``-compact-*`` exists (Spark's
  ``_SUCCESS`` marker) → the merge finished but publishing didn't:
  promote it.
- live dir missing/empty, only ``-old-*`` exists → crashed before the
  tmp write completed *and* after the first rename cannot happen in
  one run (tmp is written first), but a partial tmp plus a complete
  old can: restore the old dir.

Completeness = the ``_SUCCESS`` marker Spark writes after a successful
job commit — a partially-written directory is never promoted.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Callable


def _complete(d: str) -> bool:
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def n_parquet_files(d: str) -> int:
    """Parquet files under ``d``, partition subdirectories included
    (0 for a missing directory)."""
    return sum(f.endswith(".parquet") for _, _, files in os.walk(d) for f in files)


def _has_data(d: str) -> bool:
    return n_parquet_files(d) > 0


def swap_publish(live_dir: str, write_tmp: Callable[[str], None]) -> None:
    """Write merged state via ``write_tmp(tmp_path)`` then atomically-ish
    swap it into ``live_dir``.  Call ``recover_interrupted_swap`` on
    startup to heal any crash window."""
    token = uuid.uuid4().hex[:8]
    tmp = f"{live_dir}-compact-{token}"
    write_tmp(tmp)
    if not os.path.isdir(live_dir):
        # first publish: nothing to retire
        os.rename(tmp, live_dir)
        return
    old = f"{live_dir}-old-{token}"
    os.rename(live_dir, old)
    os.rename(tmp, live_dir)
    shutil.rmtree(old)


def recover_interrupted_swap(live_dir: str) -> str | None:
    """Heal an interrupted ``swap_publish``.  Returns the path the live
    dir was restored from, or None if no recovery was needed."""
    tmps = sorted(glob.glob(f"{live_dir}-compact-*"))
    olds = sorted(glob.glob(f"{live_dir}-old-*"))
    if _has_data(live_dir):
        for d in tmps + olds:
            shutil.rmtree(d, ignore_errors=True)
        return None
    src = next((d for d in tmps if _complete(d)), None) or next(
        (d for d in olds if _complete(d)), None
    )
    if src is None:
        # nothing recoverable (fresh index, or only partial orphans)
        for d in tmps:
            shutil.rmtree(d, ignore_errors=True)
        return None
    if os.path.isdir(live_dir):
        os.rmdir(live_dir)  # empty placeholder from makedirs
    os.rename(src, live_dir)
    for d in tmps + olds:
        if d != src:
            shutil.rmtree(d, ignore_errors=True)
    return src
