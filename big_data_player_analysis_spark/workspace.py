"""Scratch-space management: every byte this engine writes outside the
repo lands under ONE workspace root, split into a `scratch/` tier that is
always reclaimed (per-invocation try/finally + wipe-on-tool-startup) and a
`cache/` tier for content-keyed artifacts that are deliberately reused
across runs (composed scale-factor tables, partitioned-layout copies).

Why this exists (round-4 post-mortem): registry streaming entries used to
mkdir `/tmp/bdpa_ingest/<uuid>` / `/tmp/bdpa_mv/<uuid>` per invocation and
never removed them; Spark's shuffle spill also defaults to /tmp. Over a
multi-hour driver round the leftovers accumulated until the disk filled,
and six correctness rows died on `FileOutputStream.writeBytes` /
`mkdir ckpt/sources/0 failed` — environment failures, not logic failures.
The contract now is: scratch is leak-proof by construction, spark.local.dir
points inside the workspace so spill is co-located and reclaimable, and
every long-running tool calls `clean_scratch()` on startup so even a
SIGKILL'd predecessor cannot poison the next run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator

def workspace_root() -> str:
    """Root for all out-of-repo writes (override: $BDPA_WORKSPACE)."""
    root = os.environ.get("BDPA_WORKSPACE", "/tmp/bdpa_workspace")
    os.makedirs(root, exist_ok=True)
    return root


def scratch_root() -> str:
    """Always-reclaimable tier: per-invocation temp dirs live here."""
    d = os.path.join(workspace_root(), "scratch")
    os.makedirs(d, exist_ok=True)
    return d


def cache_root() -> str:
    """Reused tier: content-keyed artifacts (composed sf tables,
    partitioned layouts). Bounded by construction — artifacts are
    keyed on source content, so regenerated testdata replaces rather than
    accumulates; `clean_cache()` wipes it for a cold run."""
    d = os.path.join(workspace_root(), "cache")
    os.makedirs(d, exist_ok=True)
    return d


def _proc_start_time(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot, /proc/<pid>/stat field
    22) — the discriminator that makes a (pid, start) pair unique across
    pid recycling. None when unreadable (non-Linux, or the process died
    between the liveness probe and this read)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read().decode("ascii", "replace")
        # comm (field 2) may itself contain spaces/parens; everything
        # after the LAST ')' is fields 3+, so starttime is index 19 there
        rest = data.rsplit(")", 1)[1].split()
        return int(rest[19])
    except (OSError, IndexError, ValueError):
        return None


def _owner_tag() -> str:
    """`<pid>s<starttime>` for the current process; falls back to bare
    pid where /proc is unavailable."""
    start = _proc_start_time(os.getpid())
    return f"{os.getpid()}s{start}" if start is not None else str(os.getpid())


def _owner_is_live(pid: int, start: int | None) -> bool:
    """True iff the directory's recorded owner is still running. With a
    recorded start time, pid liveness alone is not enough — a recycled
    pid belonging to an unrelated process must NOT keep a dead run's
    bytes alive (round-5 ADVICE), so the start times must match too.
    Legacy tags without a start time keep the conservative pid-only
    check."""
    if pid == os.getpid():
        return True
    if not _pid_alive(pid):
        return False
    if start is None:
        return True  # legacy tag: conservative
    current = _proc_start_time(pid)
    # unreadable stat for a live pid -> keep (conservative direction)
    return current is None or current == start


def spark_local_dir() -> str:
    """Target for spark.local.dir (shuffle spill, block-manager disk,
    broadcast files): a PER-PROCESS subdir, so `clean_scratch()` can
    reclaim dead runs' spill by liveness-checking the owning pid instead
    of blind deletion — a concurrent live JVM's spill must never be
    touched (a bench run once wiped a running test session's shuffle
    files mid-suite: 302 failures from one clean_scratch)."""
    d = os.path.join(workspace_root(), "spark-local", f"pid-{_owner_tag()}")
    os.makedirs(d, exist_ok=True)
    return d


@contextlib.contextmanager
def scratch_dir(prefix: str = "job") -> Iterator[str]:
    """A private scratch directory removed on exit NO MATTER WHAT.

    Callers that return a lazy DataFrame rooted in the scratch (streaming
    sinks, checkpoints) must detach it from the files before the block
    exits — `df.localCheckpoint(eager=True)` materializes the partitions
    into the block manager so the backing files can be deleted.

    The name embeds the owning pid + process start time
    (`-pid<N>s<start>-`): a concurrent process's clean_scratch()
    liveness-checks BOTH and leaves in-flight scratch of a LIVE run alone
    instead of wiping it mid-query — and a recycled pid can't make a dead
    run's scratch look live, because the start times won't match.
    """
    d = tempfile.mkdtemp(prefix=f"{prefix}-pid{_owner_tag()}-", dir=scratch_root())
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clean_scratch(spark_local: bool = True) -> None:
    """Wipe the reclaimable tier. Called by tool/bench entrypoints BEFORE
    building a SparkSession. Scratch-tier contents are per-invocation by
    contract (try/finally-reclaimed), so anything found there that is not
    pid-tagged by a live process is reclaimed; spark-local subdirs
    are per-pid and removed ONLY when their owning process is gone — a
    concurrent live session's spill is never touched (spark_local=False
    skips even the dead-pid sweep, for callers that want scratch-only)."""
    import re

    def _owner_alive(entry: str) -> bool:
        m = re.search(r"-pid(\d+)(?:s(\d+))?-", entry)
        if not m:
            return False  # no owner tag -> reclaimable
        pid = int(m.group(1))
        start = int(m.group(2)) if m.group(2) else None
        return _owner_is_live(pid, start)

    scratch = scratch_root()
    for entry in os.listdir(scratch):
        if not _owner_alive(entry):
            shutil.rmtree(os.path.join(scratch, entry), ignore_errors=True)
    if spark_local:
        local_root = os.path.join(workspace_root(), "spark-local")
        if os.path.isdir(local_root):
            for entry in os.listdir(local_root):
                m = re.match(r"pid-(\d+)(?:s(\d+))?$", entry)
                if m:
                    pid = int(m.group(1))
                    start = int(m.group(2)) if m.group(2) else None
                    if _owner_is_live(pid, start):
                        continue
                shutil.rmtree(
                    os.path.join(local_root, entry), ignore_errors=True
                )


def clean_cache() -> None:
    """Wipe the reused tier (cold-run switch for tools)."""
    shutil.rmtree(cache_root(), ignore_errors=True)
    os.makedirs(cache_root(), exist_ok=True)
