"""Concurrent-mutator safety of the mount lifecycle: one write lock,
one publish rule, and GC.

1. ``mount_write_lock`` — an advisory, re-entrant, crash-recoverable
   write lock every MUTATING lifecycle op takes (appends, deletes,
   compactions, refresh, the streaming sinks' per-batch bodies).  The
   races it closes are real at production cadence: ``compact_dedup``
   reads the live index, rewrites it and commits — an append committed
   between the read and the commit would be silently dropped; a
   ``refresh`` retrain concurrent with an append loses the delta the
   same way; two appends interleaving can double-commit through the
   idempotency probe.  READS never take the lock.

   Scope and honesty: the lock is a same-host advisory file lock
   (atomic ``O_CREAT|O_EXCL``), which matches the engine's coordinator
   model — ONE driver (or a set of drivers on one submit host) owns a
   mount's mutations, exactly like Delta/Iceberg single-writer
   deployments.  Multi-host writers on an object store need an external
   coordinator (the lock payload records host+pid so a foreign holder
   is at least diagnosable); that deployment shape is out of scope and
   documented here rather than half-solved.

2. One publish rule (``mount/artifacts.py``): every artifact version is
   written once into a new directory that is never renamed, and
   ``artifacts.save_manifest`` — run under this lock — commits the
   manifest naming each artifact's live directories.  A reader takes
   one manifest snapshot per call and resolves every path through it,
   so it sees one commit whatever publishes meanwhile.  A failure
   before the commit leaves the live mount untouched.  Each commit is
   fenced: if the manifest changed since the op's snapshot, a writer
   bypassed the lock, and the commit is refused
   (``ConcurrentMutationError``) instead of dropping its mutation.

3. GC, inside the commit: every version directory that neither the new
   manifest nor the previous one names is deleted.  A reader's snapshot
   therefore survives at least one further commit, and a crashed op's
   debris — written, never named — is collected by the next commit.
   Crash recovery is GC; nothing is ever restored.

Reference parity note: the reference engine is a single-process
in-memory service (``eu/smartdatalake/simsearch/coordinator``) whose
index mutations are serialized by construction; a shared-storage Spark
deployment has to earn the same guarantee explicitly, which is what
this module does.
"""

from __future__ import annotations

import functools
import json
import os
import socket
import threading
import time

__all__ = [
    "ConcurrentMutationError",
    "MountLockTimeout",
    "holds_lock",
    "locked",
    "mount_write_lock",
]

LOCK_NAME = ".write_lock"
#: default seconds a second writer waits before giving up — sized for
#: "a compaction or refresh is ahead of me", not for interactive use
DEFAULT_TIMEOUT = 600.0
_POLL = 0.05

_GUARD = threading.Lock()
#: (realpath, thread_ident) -> re-entrancy depth.  Keyed per THREAD so
#: nesting (auto_maintain -> refresh -> mount, a stream sink ->
#: dedup_append) is free while two threads of one process still
#: exclude each other.
_HELD: dict[tuple[str, int], int] = {}


class MountLockTimeout(RuntimeError):
    """A second writer timed out waiting for the mount write lock."""


class ConcurrentMutationError(RuntimeError):
    """A commit's fence found the manifest changed since the op's
    snapshot — some writer bypassed the mount write lock.  The op
    aborted with the live mount untouched."""


def _lock_path(mount_dir: str) -> str:
    return os.path.join(os.path.realpath(mount_dir), LOCK_NAME)


def _payload(op: str) -> bytes:
    """The lock file's content: who holds it, for what, since when."""
    return json.dumps(
        {"pid": os.getpid(), "host": socket.gethostname(), "op": op, "ts": time.time()}
    ).encode()


def _read_holder(lock_path: str) -> dict:
    try:
        with open(lock_path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}  # vanished or torn mid-write — retry loop handles it


def _pid_alive(pid) -> bool:
    if not isinstance(pid, int) or pid <= 0:
        return True  # unparseable payload: never treat as dead
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: it exists, just isn't ours
    return True


def _held_by_this_process(real: str) -> bool:
    return any(k[0] == real and d > 0 for k, d in _HELD.items())


def holds_lock(mount_dir: str) -> bool:
    """Whether THIS thread holds ``mount_dir``'s write lock."""
    with _GUARD:
        return _HELD.get((os.path.realpath(mount_dir), threading.get_ident()), 0) > 0


def _break_stale(lp: str, judged: dict) -> None:
    """Single-winner stale-lock break (review r14): unlink-after-decide
    races two waiters into both deleting — the second can destroy the
    first's FRESH lock.  Claim the file by atomic rename first (exactly
    one waiter wins), re-verify the claimed payload still matches the
    holder that was judged stale, and only then discard it.  If the
    payload changed (released-and-reacquired between the read and the
    claim), restore the live lock via ``os.link`` — which fails rather
    than overwrites if a new holder took the slot; that three-writer
    microsecond interleaving is the documented residual."""
    claim = f"{lp}.stale.{os.getpid()}.{threading.get_ident()}"
    try:
        os.rename(lp, claim)
    except OSError:
        return  # someone else broke or released it first
    h2 = _read_holder(claim)
    if {k: h2.get(k) for k in ("pid", "host", "ts")} == {
        k: judged.get(k) for k in ("pid", "host", "ts")
    }:
        os.unlink(claim)  # confirmed stale — slot is now free
        return
    try:  # we claimed a LIVE lock: put it back if the slot is still empty
        os.link(claim, lp)
    except OSError:
        pass  # slot re-taken in the window — residual, see docstring
    os.unlink(claim)


class mount_write_lock:
    """``with mount_write_lock(mount_dir, "compact_dedup"):`` — acquire
    the mount's advisory write lock (re-entrant within the thread),
    breaking a holder that is provably dead (same host, pid gone) and
    raising ``MountLockTimeout`` with the holder's identity otherwise.

    ``stale_after`` (seconds) additionally breaks a holder older than
    the given age regardless of liveness — OFF by default because a
    long compaction is indistinguishable from a wedged one by age
    alone; deployments with a known op-duration ceiling can opt in.
    """

    def __init__(
        self,
        mount_dir: str,
        op: str = "write",
        timeout: float | None = None,
        stale_after: float | None = None,
        makedirs: bool = False,
    ):
        self.mount_dir = mount_dir
        self.op = op
        self.timeout = DEFAULT_TIMEOUT if timeout is None else float(timeout)
        self.stale_after = stale_after
        self.makedirs = makedirs
        self._key: tuple[str, int] | None = None

    def __enter__(self) -> "mount_write_lock":
        if self.makedirs:  # mount-time ops lock a dir they create
            os.makedirs(self.mount_dir, exist_ok=True)
        real = os.path.realpath(self.mount_dir)
        key = (real, threading.get_ident())
        lp = _lock_path(self.mount_dir)
        deadline = time.monotonic() + self.timeout
        while True:
            with _GUARD:
                if _HELD.get(key, 0) > 0:  # re-entrant: already ours
                    _HELD[key] += 1
                    self._key = key
                    return self
                if not _held_by_this_process(real):
                    try:
                        fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    except FileExistsError:
                        pass
                    except FileNotFoundError:
                        raise FileNotFoundError(
                            f"{self.op}: mount directory "
                            f"{self.mount_dir!r} does not exist"
                        ) from None
                    else:
                        os.write(fd, _payload(self.op))
                        os.close(fd)
                        _HELD[key] = 1
                        self._key = key
                        return self
            # contended: decide stale vs wait OUTSIDE the guard, but with
            # a FRESH in-process ownership check at decision time — a
            # stale holder_here from before the payload read could judge
            # our own thread's newly-acquired lock as leaked (review r14)
            h = _read_holder(lp)
            with _GUARD:
                holder_here = _held_by_this_process(real)
            same_host = h.get("host") == socket.gethostname()
            dead = (
                same_host
                and not holder_here
                and h.get("pid") is not None
                and not _pid_alive(h.get("pid"))
            )
            # our own pid with no _HELD entry = leaked by a crashed
            # context in THIS process (os._exit mid-op, abandoned
            # generator) — equally safe to break
            leaked_ours = (
                same_host and h.get("pid") == os.getpid() and not holder_here
            )
            aged = (
                self.stale_after is not None
                and not holder_here
                and isinstance(h.get("ts"), (int, float))
                and time.time() - h["ts"] > self.stale_after
            )
            if h and (dead or leaked_ours or aged):
                _break_stale(lp, h)
                continue
            if time.monotonic() >= deadline:
                raise MountLockTimeout(
                    f"mount write lock on {self.mount_dir!r} held by "
                    f"pid={h.get('pid')} host={h.get('host')} "
                    f"op={h.get('op')} since ts={h.get('ts')} — waited "
                    f"{self.timeout:.1f}s ({self.op!r} gave up)"
                )
            time.sleep(_POLL)

    def __exit__(self, exc_type, exc, tb) -> None:
        key = self._key
        if key is None:
            return
        with _GUARD:
            depth = _HELD.get(key, 0)
            if depth <= 1:
                _HELD.pop(key, None)
                try:
                    os.unlink(_lock_path(self.mount_dir))
                except FileNotFoundError:
                    pass
            else:
                _HELD[key] = depth - 1


def locked(op: str, arg: int = 1, makedirs: bool = False):
    """Decorator form for mutators whose ``mount_dir`` is positional
    argument ``arg`` (or the ``mount_dir`` keyword)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            mount_dir = kwargs.get("mount_dir")
            if mount_dir is None:
                mount_dir = args[arg]
            with mount_write_lock(mount_dir, op, makedirs=makedirs):
                return fn(*args, **kwargs)

        return wrapper

    return deco
