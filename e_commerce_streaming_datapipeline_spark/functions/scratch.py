"""Process-scoped scratch directories for builders that must round-trip
through real files (the write-then-read-back connectors, compaction
rewrite, vacuum, streaming checkpoints, foreachBatch parquet sinks).

Each builder invocation gets a fresh uuid directory (streaming checkpoints
MUST be fresh — a reused checkpoint resumes instead of recomputing), but
every directory created here is registered and removed at interpreter exit,
so repeated invocations (bench warms + 3 timed runs x 4 harness runs) no
longer accumulate full-table parquet copies in /tmp across runs (r6 ADVICE
finding #3).  Cleanup is per-process: only paths THIS process created are
removed, so a concurrently running harness is never affected.

Removal happens at exit rather than per-query because the returned
DataFrames read these paths lazily — the consuming action (driver collect,
noop write) runs after the builder returns.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

_SCRATCH_DIRS: list[str] = []


def scratch_dir(family: str) -> str:
    """Create and register a fresh scratch directory for ``family``."""
    path = os.path.join(
        tempfile.gettempdir(), f"e_commerce_streaming_datapipeline_{family}", uuid.uuid4().hex
    )
    os.makedirs(path, exist_ok=True)
    _SCRATCH_DIRS.append(path)
    return path


def cleanup_scratch_dirs() -> int:
    """Remove every scratch dir this process created; returns the count."""
    n = 0
    while _SCRATCH_DIRS:
        path = _SCRATCH_DIRS.pop()
        try:
            shutil.rmtree(path, ignore_errors=True)
            n += 1
        except OSError:
            pass
    return n


atexit.register(cleanup_scratch_dirs)
