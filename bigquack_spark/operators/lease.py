"""Table-level writer lease — the concurrency fence for the maintenance
writers (r8 verdict #3).

Every filesystem-coordinated writer in this repo (``merge_upsert``,
``compact_small_files``, ``purge_rows``, ``apply_retention``,
``restore_snapshot``, ``snapshot_table``, ``optimize_layout``) documents
"run while no concurrent writer mutates the table" — the marker/roll-forward
protocol makes each writer crash-safe against ITSELF, but two writers
interleaving on the same table could adopt each other's staging or retire
files the other just published.  The lease turns that documented discipline
into an enforced one: writers REFUSE to interleave, loudly, instead of
corrupting.

Design (the classic lock-file + TTL + fencing-generation recipe —
single-writer leases as in HDFS lease recovery / Delta's commit-owner
protocols, reduced to what a filesystem gives us):

- ``_LEASE.json`` at the table root holds ``{generation, holder, owner,
  deadline}``.  ``generation`` increases monotonically across every
  acquisition — the fencing token.
- **Mutex**: every read-modify-write of the lease record (acquire,
  renew, release) runs inside a tiny critical section guarded by
  ``_LEASE.json.lock``, created with ``O_CREAT|O_EXCL`` — the one
  genuinely atomic create a plain filesystem offers.  Plain
  write-then-read-back is NOT enough: two acquirers can interleave
  A-write / A-read-back / B-write / B-read-back and both believe they
  won, with the same generation (r9 review finding).  The critical
  section is milliseconds; contenders retry briefly, and a lock file
  orphaned by a crash mid-section is broken after ``_LOCK_BREAK_S``.
- **Acquire**: under the mutex — refuse while a live (unexpired,
  unreleased) lease is held (:class:`LeaseHeldError`); otherwise claim
  with generation+1.  A crashed writer can never release; its lease
  simply expires (TTL) and the next writer steals with a strictly
  higher generation.
- **Check** (at every leaf commit point, immediately before the marker
  write that commits a swap): under the mutex, re-read; if our token no
  longer holds — stolen after our TTL lapsed — raise
  :class:`LeaseFencedError` BEFORE the commit point, leaving only
  pre-commit staging that the next writer's roll-forward discards.  A
  successful check renews the deadline inside the same critical
  section, so a renew can never clobber a legitimate stealer's newer
  record (the second r9 review race).
- **Release**: under the mutex, tombstone the record (``holder: null``)
  keeping the generation, so the next acquire continues the monotonic
  sequence.

Scale posture: the lease is one KB-sized JSON at the table root — O(1)
bytes and O(leaves) checks per maintenance pass, nothing per-row.  On a
real object store the same protocol rides conditional PUTs
(if-generation-match); the ``O_EXCL`` lock plays that role on a POSIX
filesystem.

The reference has no multi-writer story at all (its pipeline is a
one-shot single-process BQ->DuckDB pump, bigquack.go:64-141); this module
is part of the lakehouse-maintenance extension the 100 TB mandate needs.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

from bigquack_spark.operators import fsops

LEASE_FILE = "_LEASE.json"

#: Long enough that a huge single-leaf rewrite between two commit-point
#: checks (each check renews) does not self-expire; short enough that a
#: crashed writer's table unblocks within the hour.
DEFAULT_TTL_S = 3600.0

#: The mutex critical section is a read + a write of one small JSON —
#: milliseconds.  A lock file older than this was orphaned by a crash
#: mid-section and is broken.
_LOCK_BREAK_S = 30.0

#: How long a contender spins for the mutex before giving up.  Far above
#: any legitimate hold time; reached only under pathological load.
_LOCK_WAIT_S = 10.0


class LeaseHeldError(RuntimeError):
    """Another writer holds a live lease on this table — refuse to start."""


class LeaseFencedError(RuntimeError):
    """Our lease was lost (TTL lapsed and another writer took over) — the
    commit point must not be crossed."""


def _lease_path(path: str) -> str:
    return os.path.join(path, LEASE_FILE)


def _read_lease(path: str) -> dict | None:
    try:
        with open(_lease_path(path)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_lease(path: str, rec: dict) -> None:
    os.makedirs(path, exist_ok=True)
    fsops.write_atomic(_lease_path(path), json.dumps(rec))


def _try_flock_nb(fd: int) -> bool:
    """Non-blocking exclusive flock; False when unavailable or already
    held.  Advisory only — the O_EXCL create stays the real mutex; the
    flock is the liveness beacon the break path consults."""
    try:
        import fcntl
    except ImportError:  # pragma: no cover - non-POSIX fallback
        return False
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except OSError:
        return False


def _mtime_only_break(lock: str) -> bool:
    """Rename-then-unlink break gated on mtime alone — the fallback for
    environments without flock (non-POSIX, or flock-less mounts).  Carries
    the documented narrower race window the flock protocol closes."""
    try:
        if time.time() - os.path.getmtime(lock) > _LOCK_BREAK_S:
            breaking = f"{lock}.{uuid.uuid4().hex}.breaking"
            fsops.replace(lock, breaking)
            os.remove(breaking)
            return True
    except OSError:
        return True  # vanished: holder released or another breaker won
    return False


def _try_break_orphan(lock: str) -> bool:
    """Break ``lock`` iff it is provably orphaned; True when the caller
    should immediately retry the O_EXCL create (the path is clear or was
    cleared by someone), False when a live holder (or fresher lock) owns
    it and the caller should keep spinning.

    Why mtime alone is not enough (r10 review): contender B observes a
    stale lock, contender C breaks it and re-creates a FRESH lock, then
    B's pending rename steals C's fresh lock — double entry.  The break
    therefore (1) takes a non-blocking exclusive flock on the lock's
    inode — a LIVE holder keeps its fd flocked for the whole section, so
    flock success proves the holder died; it also serializes breakers —
    then (2) re-checks staleness and path identity on THAT flocked inode
    (fstat vs stat), so a fresh lock re-created at the same path is never
    touched, and only then (3) renames-and-unlinks.  While the breaker
    holds the flock, no one else can remove or replace the path (every
    remover needs the flock; creators need the path absent)."""
    try:
        import fcntl
    except ImportError:  # pragma: no cover - non-POSIX: mtime-only break
        return _mtime_only_break(lock)
    try:
        bfd = os.open(lock, os.O_RDONLY)
    except OSError:
        return True  # path already clear
    try:
        try:
            fcntl.flock(bfd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError as exc:
            import errno

            if exc.errno in (errno.ENOLCK, errno.EOPNOTSUPP, errno.ENOSYS):
                # filesystem without flock support (NFS nolock, some
                # SMB/overlay mounts): liveness proof unavailable — fall
                # back to the mtime-only break rather than wedging the
                # table forever (r10 review pass 2)
                return _mtime_only_break(lock)
            return False  # live holder (or a racing breaker) owns the inode
        st = os.fstat(bfd)
        if time.time() - st.st_mtime <= _LOCK_BREAK_S:
            return False  # fresh lock: we opened a newer inode than observed
        try:
            if os.stat(lock).st_ino != st.st_ino:
                return False  # path re-created since our open — not ours
        except OSError:
            return True  # path vanished mid-inspection
        breaking = f"{lock}.{uuid.uuid4().hex}.breaking"
        fsops.replace(lock, breaking)
        os.remove(breaking)
        return True
    finally:
        os.close(bfd)  # releases the breaker's flock


@contextmanager
def _lease_mutex(path: str):
    """The atomic critical section every lease-record mutation runs in:
    ``O_CREAT|O_EXCL`` on ``_LEASE.json.lock`` succeeds for exactly one
    process.  Contenders spin briefly (the section is milliseconds); a
    lock orphaned by a crash mid-section is broken after ``_LOCK_BREAK_S``
    via the flock-verified protocol in :func:`_try_break_orphan`.  The
    holder keeps the created fd flocked for the section's duration — the
    liveness beacon that makes orphan detection exact rather than
    mtime-guesswork."""
    os.makedirs(path, exist_ok=True)
    lock = _lease_path(path) + ".lock"
    deadline = time.time() + _LOCK_WAIT_S
    while True:
        try:
            fd = fsops.create_exclusive(lock)
            # A breaker may hold the flock for microseconds while
            # inspecting our fresh lock (it sees a fresh mtime and backs
            # off).  Contenders are momentary inspectors, so spinning the
            # non-blocking flock converges in microseconds — and holding
            # it for the whole section is what makes orphan detection
            # exact rather than mtime-guesswork (r10 advice).
            flock_deadline = time.time() + 1.0
            while not _try_flock_nb(fd) and time.time() < flock_deadline:
                time.sleep(0.0005)
            break
        except FileExistsError:
            if _try_break_orphan(lock):
                continue
            if time.time() > deadline:
                raise LeaseHeldError(
                    f"lease mutex on {path!r} is stuck (lock held past "
                    f"{_LOCK_WAIT_S}s) — a contender crashed mid-section "
                    "younger than the break window; retry shortly"
                )
            time.sleep(0.01)
    try:
        yield
    finally:
        # POSIX order: remove WHILE the fd is still flocked (deleting an
        # open file is fine there), so no breaker can touch the path in
        # the gap; Windows cannot delete an open file, so retry the
        # remove after the close for that platform.  Guard: only remove
        # the path if it still names OUR inode — a holder stalled past
        # _LOCK_BREAK_S whose orphaned lock was legitimately broken must
        # not delete the NEXT holder's live lock (r10 advice).
        removed = True
        try:
            my_ino = os.fstat(fd).st_ino
        except OSError:
            my_ino = None
        try:
            if my_ino is not None and os.stat(lock).st_ino == my_ino:
                os.remove(lock)
        except OSError:
            removed = False
        try:
            os.close(fd)  # releases the holder's flock beacon
        except OSError:
            pass
        if not removed:
            try:
                if my_ino is not None and os.stat(lock).st_ino == my_ino:
                    os.remove(lock)
            except OSError:
                pass


class TableLease:
    """A held lease.  ``check()`` at every commit point; ``release()`` when
    done (the ``table_lease`` context manager does both)."""

    def __init__(self, path: str, owner: str, token: str, generation: int,
                 ttl_s: float):
        self.path = path
        self.owner = owner
        self.token = token
        self.generation = generation
        self.ttl_s = ttl_s

    def check(self) -> None:
        """Fencing gate: confirm we still hold the table, renew the
        deadline — one atomic critical section, so the renewal can never
        clobber a stealer that legitimately took over after our TTL
        lapsed.  Raises :class:`LeaseFencedError` when the lease was
        stolen (or the file vanished) — callers MUST invoke this before
        each marker write, so a fenced writer dies pre-commit."""
        with _lease_mutex(self.path):
            cur = _read_lease(self.path)
            if not cur or cur.get("holder") != self.token:
                raise LeaseFencedError(
                    f"lease on {self.path!r} lost by {self.owner!r} "
                    f"(generation {self.generation}): now held by "
                    f"{(cur or {}).get('owner')!r} generation "
                    f"{(cur or {}).get('generation')} — aborting before the "
                    "commit point; pre-commit staging will be discarded by "
                    "the next writer's roll-forward"
                )
            cur["deadline"] = time.time() + self.ttl_s
            _write_lease(self.path, cur)

    def release(self) -> None:
        """Tombstone the lease (keep the generation for monotonic fencing).
        Only releases if we still hold it — a fenced lease must not
        clobber its successor."""
        with _lease_mutex(self.path):
            cur = _read_lease(self.path)
            if cur and cur.get("holder") == self.token:
                _write_lease(
                    self.path,
                    {"generation": self.generation, "holder": None,
                     "owner": None, "deadline": 0.0},
                )


def acquire_table_lease(
    path: str, owner: str = "maintenance", ttl_s: float = DEFAULT_TTL_S
) -> TableLease:
    """Take the single-writer lease on ``path`` or raise
    :class:`LeaseHeldError`.  An expired lease is stolen with a strictly
    higher generation.  The whole decide-and-claim runs inside the
    ``O_EXCL`` mutex, so exactly one contender wins and generations
    never duplicate.

    This is the choke point every mutating pass converges on, so the
    commit-store capability gate lives here (r10 verdict #5): a backend
    without atomic rename + exclusive create refuses BEFORE any writer
    stages a swap it cannot commit atomically."""
    fsops.require_commit_capabilities(f"acquire_table_lease({owner})")
    with _lease_mutex(path):
        now = time.time()
        cur = _read_lease(path)
        if cur and cur.get("holder") and now < float(cur.get("deadline", 0.0)):
            raise LeaseHeldError(
                f"table {path!r} is leased to {cur.get('owner')!r} "
                f"(generation {cur.get('generation')}, "
                f"{float(cur['deadline']) - now:.0f}s of TTL left) — "
                "maintenance writers refuse to interleave; retry after it "
                "releases or expires"
            )
        gen = int(cur.get("generation", 0)) + 1 if cur else 1
        token = uuid.uuid4().hex
        _write_lease(
            path,
            {"generation": gen, "holder": token, "owner": owner,
             "deadline": now + ttl_s},
        )
    return TableLease(path, owner, token, gen, ttl_s)


@contextmanager
def table_lease(
    path: str,
    owner: str = "maintenance",
    ttl_s: float = DEFAULT_TTL_S,
    lease: TableLease | None = None,
):
    """Hold the writer lease for a maintenance pass.  When ``lease`` is
    supplied (a composed pass, e.g. ``optimize_layout`` driving
    ``compact_small_files``), it is checked and reused WITHOUT releasing —
    the outermost owner releases.  In-process failures release in
    ``finally`` (only a real process death leaves the lease to expire)."""
    if lease is not None:
        lease.check()
        yield lease
        return
    held = acquire_table_lease(path, owner=owner, ttl_s=ttl_s)
    try:
        yield held
    finally:
        held.release()
