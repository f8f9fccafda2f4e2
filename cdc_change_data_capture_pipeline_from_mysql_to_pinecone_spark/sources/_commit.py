"""The commit primitive for plain-parquet keyed tables.

Everything that makes the engine's tables crash-safe funnels through
this module: atomic single-file writes (a keyed table's
``_table.json`` state, a store's watermarks), the rename-aside
directory swap, post-crash restore, and a table-scoped writer lock.
There is no reader lock: every decision a reader makes from metadata
reads one atomically replaced file.

CONTRACT — read before pointing this at production storage:

* **Single writer per table.** The merge path is read-modify-write
  (read touched buckets -> union -> last-writer-wins -> swap). Two
  unsynchronized writers can interleave reads and lose one writer's
  rows even though every individual rename is atomic. Within one
  machine, :func:`table_lock` enforces the contract (``flock`` —
  threads and processes on the same host mutually exclude); across
  machines there is no lock, and coordination is the caller's job.
* **POSIX rename atomicity.** ``os.replace`` / ``os.rename`` are
  atomic on a local filesystem (and NFS in practice), which is what
  makes the state-file write and the directory swap crash-safe. Object
  stores (S3/GCS) do NOT have atomic rename — on such storage this
  protocol does not hold, and the same call sites should target a
  transactional table format (Delta/Iceberg MERGE) whose commit
  protocol is object-store-aware. The operator contract (keyed
  last-writer-wins MERGE) is format-independent by design so that
  swap is a backend change, not a rewrite.

Readers never need the lock: Spark's file listing ignores the
underscore-prefixed tmp/aside/state names, so a reader sees either
the pre-swap or post-swap committed directory, never a mix of live
and in-flight files within one bucket.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid
from contextlib import contextmanager


def atomic_write_file(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically (unique tmp + rename).

    A crash inside a truncating ``open(path, "w")`` would leave a
    half-written or empty file; the tmp+replace pair leaves either the
    old content or the new, never anything in between. The tmp file is
    fsync'd before the rename and the parent directory after it, so
    the guarantee holds across power loss too — without the fsyncs the
    kernel may persist the rename before the data blocks, leaving a
    zero-length state file (ADVICE r6)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path) or ".")


def _fsync_dir(dirpath: str) -> None:
    """fsync a directory so a just-committed rename survives power
    loss; best-effort (some filesystems reject O_RDONLY dir fsync)."""
    try:
        fd = os.open(dirpath, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def swap_in(path: str, tmp: str) -> None:
    """Crash-safe directory swap: rename the live dir aside, rename the
    new one in, then delete the old. A crash between the two renames
    leaves the aside copy recoverable (see :func:`restore_or_clean`);
    rmtree-before-replace would lose the table."""
    old = None
    base = os.path.basename(path.rstrip("/"))
    if os.path.exists(path):
        # underscore prefix: invisible to Spark's file/partition listing,
        # so a concurrent reader never sees the aside copy as data; the
        # target's name is embedded so recover_table can attribute it
        old = os.path.join(
            os.path.dirname(path) or ".", f"_old-{base}-{uuid.uuid4().hex[:8]}"
        )
        os.rename(path, old)
    os.rename(tmp, path)
    # persist both renames before deleting the only remaining copy of
    # the old table — power loss after an un-fsync'd rename pair could
    # otherwise resurface a path with neither version intact
    _fsync_dir(os.path.dirname(path.rstrip("/")) or ".")
    if old:
        shutil.rmtree(old)


def restore_or_clean(parent: str, base: str) -> str:
    """If ``parent/base`` is missing but an ``_old-{base}-*`` aside
    exists, promote the aside back; delete any remaining matching
    asides and tmp dirs. Returns 'ok' | 'restored' | 'cleaned'."""
    target = os.path.join(parent, base)
    entries = os.listdir(parent) if os.path.isdir(parent) else []
    asides = sorted(d for d in entries if d.startswith(f"_old-{base}-"))
    tmps = [
        d for d in entries if d.startswith((f"{base}.tmp-", f"{base}.regrow-"))
    ]
    status = "ok"
    if not os.path.exists(target) and asides:
        os.rename(os.path.join(parent, asides.pop(0)), target)
        status = "restored"
    for d in asides + tmps:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        if status == "ok":
            status = "cleaned"
    return status


@contextmanager
def table_lock(path: str):
    """Exclusive writer lock for the table at ``path`` (blocking).

    ``flock`` on a ``<table>.lockfile`` sentinel BESIDE the table (not
    inside it: regrow/compaction swap the whole table directory, and an
    in-dir lock file would be replaced mid-swap, splitting waiters
    across two inodes). Every holder opens its own descriptor, so both
    threads and processes on the same host mutually exclude; the lock
    dies with the holder (no stale-lock cleanup). This is the
    mechanical half of the single-writer contract — it does NOT extend
    across machines or object storage (module docstring)."""
    lock_path = path.rstrip("/") + ".lockfile"
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
