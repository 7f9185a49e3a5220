"""The commit-primitive seam (r10 verdict #5).

Every writer in this package commits through exactly three filesystem
primitives, and this module is the only one that calls them:

1. **exclusive-create** — ``O_CREAT|O_EXCL`` on the lease lock: at most one
   creator wins.
2. **atomic-rename** — ``os.replace`` publishing a metadata file or
   swapping staged data files and directories: readers see the old name
   or the new name, never a torn intermediate, and an existing
   destination is replaced atomically.
3. **listing** — directory enumeration the resume/adoption gates reason
   over: a listing must not show a file that a completed rename already
   retired.

Small metadata files publish through :func:`write_atomic` (a uniquely
named ``.tmp`` sibling, then :func:`replace`): the streaming offset
gate's ``_COMMITTED_BATCH`` and ``JoinViewSink``'s ``_STATE``
(``streaming/sink.py``), ``AtomicWriter``'s ``_BQ_COMMIT``
(``sinks/atomic.py``), ``_LINEAGE.json`` (``lineage.py``), the
connector's ``_manifest-<job>`` (``sources/connector.py``), the export
``_MANIFEST.json`` of ``sinks/wds.py``, ``sinks/jsonl.py`` and
``sinks/arrow.py``, ``_PACKING.json`` (``sinks/packing.py``), the
re-drive markers (``sinks/quarantine.py``, ``streaming/sink.py``), the
IVF generation pointer (``operators/simsearch.py``), the lease record
(``operators/lease.py``), the planners' manifest upgrade and decision log
(``operators/planner.py``), and the maintenance manifests — compaction
marker, ``_STATS.json``, the ``_PURGE-`` / ``_MERGE-`` / ``_RETENTION-``
audits and the snapshot ``manifest.json`` (``operators/maintenance.py``,
``sinks/merge.py``).  Every other rename in the package — data-directory
swaps (``sinks/wap.py``, ``sinks/merge.py``, the sketch sink), staged file
moves (``AtomicWriter``, compaction, the connector's pending parts, the
per-task shard publishes of ``sinks/wds.py`` / ``sinks/arrow.py``), the
lease break and the quarantine re-drive rename — calls :func:`replace`.

POSIX guarantees all three; S3-class object stores historically guarantee
NONE of them (rename = copy+delete, visible in between; no O_EXCL;
eventually-consistent listings on older stores).  Running the marker
protocol on such a store silently reopens every crash window the protocol
closes, so the seam makes the assumption EXPLICIT and the failure LOUD:

- Writers call :func:`require_commit_capabilities` when they take the
  table lease (the one choke point every mutating pass goes through).
  A backend that does not declare both ``atomic_rename`` and
  ``exclusive_create`` raises :class:`UnsupportedCommitStoreError`
  instead of corrupting quietly.
- Every rename routes through :func:`replace`, the lock create through
  :func:`create_exclusive`, and the gates' listings through
  :func:`listdir` — so a capable non-POSIX backend (below) plugs in at
  ONE place.

Object-store strategies, in preference order:

1. **Delegate the table format**: land the table as Delta/Iceberg via
   ``sinks/lakehouse.py`` — those formats already solve object-store
   commits (Delta: conditional-PUT / a DynamoDB LogStore; Iceberg: a
   catalog swap), and the maintenance surface here is then expressed as
   OPTIMIZE/expire-snapshots against the format instead of raw renames.
2. **Conditional-PUT backend**: S3 (since 2024-08) supports
   ``If-None-Match: *`` on PUT — an honest exclusive-create — and GCS/
   Azure have generation/etag preconditions.  A backend implementing
   ``create_exclusive`` with a conditional PUT and ``replace`` as
   PUT-new + conditional-delete-old CAN declare ``exclusive_create`` but
   must still leave ``atomic_rename`` False (copy+delete is visibly
   torn), so marker-protocol writers refuse while lease-only
   coordination (e.g. readers' freshness checks) still works.
3. **External lock service** (DynamoDB/ZooKeeper-style) replacing the
   lease file entirely — out of scope here, the seam is where it would
   plug in.

The default backend is POSIX.  :func:`write_atomic` does not fsync: a
publish survives a process crash but not necessarily a power loss, and
that policy is decided here, once.  ``set_backend`` exists for tests and
for real non-POSIX deployments.
"""

from __future__ import annotations

import contextlib
import os
import uuid


class UnsupportedCommitStoreError(RuntimeError):
    """The active commit backend cannot host the marker protocol."""


class PosixBackend:
    """The default: a real POSIX filesystem (or NFSv4+/local-attached
    storage with POSIX rename semantics)."""

    name = "posix"
    #: os.replace is atomic and overwrite-safe within a filesystem
    atomic_rename = True
    #: O_CREAT|O_EXCL loses to at most one concurrent creator
    exclusive_create = True

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def create_exclusive(self, path: str, data: bytes = b"") -> int:
        """Create ``path`` exclusively and return an open fd (the lease
        keeps it for its flock liveness beacon).  Raises FileExistsError
        when another creator won.

        On a failed payload write the half-created file is unlinked and
        the OSError re-raised.  A contender racing into the
        create-to-unlink window sees FileExistsError and backs off — a
        TRANSIENT spurious loss its next retry resolves (the unlink only
        ever removes THIS call's own file; O_EXCL guarantees ownership).
        That beats the alternative of leaving an empty marker, which
        would block every contender until the stale-lock break
        timeout."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        if data:
            try:
                os.write(fd, data)
            except OSError:
                # A created-but-empty marker would silently drop the caller's
                # payload (r11 advice): undo the half-created file and
                # re-raise so the caller sees the failure, not a bogus win.
                os.close(fd)
                with contextlib.suppress(OSError):
                    os.unlink(path)
                raise
        return fd

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)


_BACKEND: PosixBackend = PosixBackend()


def backend():
    return _BACKEND


def set_backend(b) -> object:
    """Install a commit backend (tests / non-POSIX deployments).  Returns
    the previous backend so callers can restore it."""
    global _BACKEND
    prev = _BACKEND
    _BACKEND = b
    return prev


def replace(src: str, dst: str) -> None:
    _BACKEND.replace(src, dst)


def write_atomic(path: str, text: str) -> None:
    """Publish ``text`` as the whole content of ``path``: write
    ``<path>.<uuid-hex>.tmp`` in the same directory, then :func:`replace`
    it into place, so a reader sees the old content or the new, never a
    torn file.  The per-call name keeps concurrent writers from sharing a
    staging file; the ``.tmp`` suffix is what ``vacuum`` sweeps after a
    crash, and a ``_``-prefixed ``path`` keeps the staging file hidden
    from Spark's readers just like the published one."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    replace(tmp, path)


def create_exclusive(path: str, data: bytes = b"") -> int:
    return _BACKEND.create_exclusive(path, data)


def listdir(path: str) -> list[str]:
    return _BACKEND.listdir(path)


def require_commit_capabilities(operation: str, exclusive_create: bool = True) -> None:
    """Refuse loudly when the active backend cannot host the rename-swap
    marker protocol — called where every mutating pass converges (lease
    acquisition), so no writer can start a commit it cannot finish
    atomically.  ``exclusive_create=False`` checks atomic rename only —
    for publishers that rename but never take the O_EXCL lock
    (AtomicWriter's PENDING publish, merge's orphan recovery)."""
    b = _BACKEND
    missing = []
    if not getattr(b, "atomic_rename", False):
        missing.append("atomic rename")
    if exclusive_create and not getattr(b, "exclusive_create", False):
        missing.append("exclusive create")
    if missing:
        raise UnsupportedCommitStoreError(
            f"{operation}: commit backend {getattr(b, 'name', b)!r} lacks "
            f"{' and '.join(missing)} — the rename-swap marker protocol "
            "cannot run safely on this store.  Use the Delta/Iceberg "
            "lakehouse sink (sinks/lakehouse.py) whose format solves "
            "object-store commits, or plug in a backend with conditional-"
            "PUT exclusive-create plus an external lock (see "
            "operators/fsops.py)."
        )
