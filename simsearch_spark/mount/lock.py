"""Concurrent-mutator safety and the publish rules of the mount lifecycle.

Three mechanisms, layered:

1. ``mount_write_lock`` — an advisory, re-entrant, crash-recoverable
   write lock every MUTATING lifecycle op takes (appends, deletes,
   compactions, refresh, the streaming sinks' per-batch bodies).  The
   races it closes are real at production cadence: ``compact_dedup``
   reads the live index, rewrites it, and swaps — an append landing
   between the read and the swap would be silently destroyed; a
   ``refresh`` retrain-and-swap concurrent with an append loses the
   delta the same way; two appends interleaving can double-commit
   through the idempotency probe.  READS never take the lock — serving
   stays lock-free (both publish rules below keep a complete artifact on
   disk at every instant).  Every acquisition first repairs what a
   crashed publish left behind (``restore_crashed_swap``).

   Scope and honesty: the lock is a same-host advisory file lock
   (atomic ``O_CREAT|O_EXCL``), which matches the engine's coordinator
   model — ONE driver (or a set of drivers on one submit host) owns a
   mount's mutations, exactly like Delta/Iceberg single-writer
   deployments.  Multi-host writers on an object store need an external
   coordinator (the lock payload records host+pid so a foreign holder
   is at least diagnosable); that deployment shape is out of scope and
   documented here rather than half-solved.

2. Two publish rules, and no others:

   - ``next_generation`` publishes a NEW GENERATION of the whole mount
     (``refresh`` in both modes, ``split_cell``, ``merge_cells``):
     ``<mount>__next`` is a hardlink tree of every entry the op does not
     rewrite, the op writes its new pieces and manifest into it, and a
     fence + two directory renames swap it in.  Readers see the old
     generation or the new one; a failure before the renames leaves the
     live mount untouched; a crash between them leaves ``<mount>__old``,
     which the next lock acquisition renames back.
   - ``_swap_dirs`` replaces ONE artifact in place (the compactions and
     ``append_rows``' text statistics): the old directory is renamed
     aside, the new one renamed in, the aside deleted.  A crash between
     the renames leaves ``<artifact>__old``, which the next lock
     acquisition renames back.

   The manifest itself is only ever written by
   ``artifacts.save_manifest`` (temp file + ``os.replace``), so it is
   never half-written and never written through a hardlink.

3. Snapshot fences (``parquet_census`` / ``snapshot_read`` /
   ``fence`` / ``mount_state_fence``) — compactions read an EXPLICIT
   file-list snapshot of the artifact and re-census immediately before
   the swap, and a new generation re-checks the manifest and tombstones
   it was built from; a change means some writer bypassed the lock, and
   the op aborts loudly (``ConcurrentMutationError``, staging removed,
   live mount untouched) instead of publishing a rewrite that silently
   drops the bypasser's rows.  Detection for the discipline the lock
   can't enforce.

Reference parity note: the reference engine is a single-process
in-memory service (``eu/smartdatalake/simsearch/coordinator``) whose
index mutations are serialized by construction; a shared-storage Spark
deployment has to earn the same guarantee explicitly, which is what
this module does.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import socket
import threading
import time

__all__ = [
    "ConcurrentMutationError",
    "MountLockTimeout",
    "fence",
    "locked",
    "manifest_bytes",
    "mount_state_fence",
    "mount_state_token",
    "mount_write_lock",
    "next_generation",
    "parquet_census",
    "plant_lock",
    "restore_crashed_swap",
    "snapshot_read",
]

LOCK_NAME = ".write_lock"
#: suffix of the previous copy while a swap is between its renames
ASIDE = "__old"
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
    """A compaction's pre-swap fence found the artifact's file census
    changed since its snapshot read — some writer bypassed the mount
    write lock.  The compaction aborted with the artifact untouched."""


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


#: grace for a momentarily-missing mount dir while waiting (the full
#: refresh's two-rename window); first-call typos still fail fast
_DIR_GRACE = 2.0

#: how old a foreign-host holder's timestamp must be before
#: ``restore_crashed_swap`` treats its mid-swap state as a crash (no
#: pid-liveness signal across hosts; mirrors the lock's own
#: never-break-a-fresh-foreign-holder rule)
STALE_AFTER_DEFAULT = 3600.0


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
        # BEFORE makedirs: a crashed whole-mount swap leaves the live
        # directory missing, and creating it empty would hide the intact
        # old generation
        restore_crashed_swap(self.mount_dir)
        if self.makedirs:  # mount-time ops lock a dir they create
            os.makedirs(self.mount_dir, exist_ok=True)
        real = os.path.realpath(self.mount_dir)
        key = (real, threading.get_ident())
        lp = _lock_path(self.mount_dir)
        start = time.monotonic()
        deadline = start + self.timeout
        # a missing mount dir is loud — but only after a short grace
        # measured from when the dir was LAST SEEN (not from acquisition
        # start — a waiter already contending for minutes can poll into
        # a refresh/split two-rename window and must retry, not die;
        # review r14 twice): None = dir currently present
        missing_since: float | None = None
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
                        missing_since = None  # dir exists (lock file does)
                    except FileNotFoundError:
                        now = time.monotonic()
                        if missing_since is None:
                            missing_since = now
                        if (
                            now - missing_since >= _DIR_GRACE
                            or now >= deadline
                        ):
                            raise FileNotFoundError(
                                f"{self.op}: mount directory "
                                f"{self.mount_dir!r} does not exist"
                            ) from None
                        fd = None
                    else:
                        os.write(fd, _payload(self.op))
                        os.close(fd)
                        _HELD[key] = 1
                        self._key = key
                        break
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
        # the per-artifact dual runs only now: just the holder knows no
        # lock-respecting _swap_dirs is between its renames
        try:
            _restore_asides(self.mount_dir)
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        key = self._key
        if key is None:
            return
        with _GUARD:
            depth = _HELD.get(key, 0)
            if depth <= 1:
                _HELD.pop(key, None)
                lp = _lock_path(self.mount_dir)
                h = _read_holder(lp)
                # a full refresh renames the whole mount dir, carrying
                # the lock file away with the old generation — only
                # unlink what is verifiably OUR lock file
                if h.get("pid") == os.getpid():
                    try:
                        os.unlink(lp)
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


def parquet_census(path: str) -> frozenset:
    """The artifact's parquet files as mount-relative paths — the unit
    of the compaction snapshot and of the pre-swap fence."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), path))
    return frozenset(out)


def snapshot_read(spark, path: str, files: frozenset):
    """Read EXACTLY the censused files (``basePath`` keeps the partition
    columns) — the compaction's input is pinned to its snapshot instead
    of whatever the directory holds at Spark's listing time."""
    return spark.read.option("basePath", path).parquet(
        *(os.path.join(path, f) for f in sorted(files))
    )


def restore_crashed_swap(mount_dir: str) -> None:
    """If a previous ``next_generation`` swap crashed between its two
    renames, the live directory is missing but the old generation is
    intact under ``<mount>__old`` — restore it.  Runs at the top of every
    lock acquisition, BEFORE the lock file is created: the lock file
    lives inside the mount directory, which does not exist in this
    crash state.  Two racing restorers are benign — exactly one rename
    succeeds.

    A LIVE swapper mid-window looks identical from the filesystem, so
    the old generation's lock file (the swapper's HELD lock travels
    into ``__old`` with the first rename) disambiguates: if it names a
    live same-host pid, the swap is in flight — do nothing and let the
    acquisition path's missing-dir grace ride the window out.  A
    foreign-host holder is trusted while its timestamp is fresh (the
    same single-submit-host model as the lock itself; review r14)."""
    old = mount_dir.rstrip("/") + ASIDE
    if os.path.isdir(mount_dir) or not os.path.isdir(old):
        return
    h = _read_holder(os.path.join(old, LOCK_NAME))
    if h:
        same_host = h.get("host") == socket.gethostname()
        if same_host and _pid_alive(h.get("pid")):
            return  # live swapper mid-window — not a crash
        if not same_host and (
            isinstance(h.get("ts"), (int, float))
            and time.time() - h["ts"] <= STALE_AFTER_DEFAULT
        ):
            return  # possibly-live foreign swapper — never break it
    try:
        os.rename(old, mount_dir)
    except OSError:
        if not os.path.isdir(mount_dir):
            raise


def _restore_asides(mount_dir: str) -> None:
    """Rename back every ``<artifact>__old`` whose ``<artifact>`` is
    missing — the state a crash between ``_swap_dirs``' two renames
    leaves.  An aside next to a live artifact is the swap's own
    leftover and is removed by the next swap of that artifact."""
    for name in os.listdir(mount_dir):
        if name.endswith(ASIDE) and not os.path.lexists(
            os.path.join(mount_dir, name[: -len(ASIDE)])
        ):
            os.rename(
                os.path.join(mount_dir, name),
                os.path.join(mount_dir, name[: -len(ASIDE)]),
            )


def plant_lock(mount_dir: str, op: str) -> None:
    """Write THIS thread's lock payload into ``mount_dir`` directly (no
    O_EXCL).  Only valid for a directory the caller privately owns that
    is about to be renamed into a locked mount's place:
    ``next_generation`` plants the lock into ``<mount>__next`` so the
    swap carries an owned lock file into position atomically — without
    it the rename discards the held lock file and the rest of the
    critical section (e.g. auto_maintain's compactions) runs without
    cross-process exclusion (review r14)."""
    with open(os.path.join(mount_dir, LOCK_NAME), "wb") as f:
        f.write(_payload(op))


def _hardlink_tree(src: str, dst: str, skip: set[str]) -> None:
    """Hardlink-copy a mount directory into ``dst``, skipping the
    ``skip`` set of top-relative paths (files or whole directories).
    Artifact files are immutable (every writer writes NEW files and
    swaps, the manifest is replaced, never rewritten), so hardlinks are
    safe and the copy is O(metadata) — no data bytes move regardless of
    mount size."""
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        relp = "" if rel == "." else rel
        dirs[:] = [d for d in dirs if os.path.join(relp, d) not in skip]
        os.makedirs(os.path.join(dst, relp) if relp else dst, exist_ok=True)
        for f in files:
            fp = os.path.join(relp, f) if relp else f
            if fp in skip:
                continue
            os.link(os.path.join(root, f), os.path.join(dst, fp))


@contextlib.contextmanager
def next_generation(mount_dir: str, op: str, token: tuple, rewrite):
    """``with next_generation(mount_dir, op, token, rewrite) as nxt:`` —
    the one way a new mount generation becomes visible (module
    docstring, rule 1); runs under the mount write lock.  ``nxt``
    hardlinks every live entry not named in ``rewrite`` (top-relative
    paths); the caller writes the new pieces and
    ``artifacts.save_manifest(nxt, ...)``.  A clean exit fences against
    ``token`` (``mount_state_token`` taken before the caller read the
    live mount), plants the held lock and swaps by two renames; any
    exception removes ``nxt`` and leaves the live mount untouched."""
    base = mount_dir.rstrip("/")
    nxt, old = base + "__next", base + ASIDE
    for debris in (nxt, old):  # a crashed earlier publish left these
        if os.path.isdir(debris):
            shutil.rmtree(debris)
    try:
        _hardlink_tree(mount_dir, nxt, skip=set(rewrite) | {LOCK_NAME})
        yield nxt
        mount_state_fence(mount_dir, token, op)
        plant_lock(nxt, op)
    except BaseException:
        shutil.rmtree(nxt, ignore_errors=True)
        raise
    os.rename(mount_dir, old)
    os.rename(nxt, mount_dir)
    shutil.rmtree(old)


def _swap_dirs(
    tmp: str, path: str, census: frozenset | None = None, op: str = "swap"
) -> None:
    """Replace ONE artifact directory with ``tmp`` (module docstring,
    rule 2; ADVICE r13): move the old copy aside, move the new one in,
    then delete the aside — every intermediate state keeps one complete
    copy on disk, and ``_restore_asides`` repairs a crash between the
    renames.  Runs under the mount write lock.  With the ``census`` a
    rewrite was read from, the live artifact is fenced first and ``tmp``
    is removed if the fence fails."""
    if census is not None:
        try:
            fence(path, census, op)
        except ConcurrentMutationError:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    aside = path + ASIDE
    if os.path.isdir(aside):
        shutil.rmtree(aside)  # stale aside from a prior crashed swap
    if os.path.isdir(path):
        shutil.move(path, aside)
    shutil.move(tmp, path)
    if os.path.isdir(aside):
        shutil.rmtree(aside)


def manifest_bytes(mount_dir: str) -> bytes:
    """Raw manifest.json bytes — one component of the refresh fence's
    snapshot token (appends rewrite the manifest's counts/stream_state).
    Deletes do NOT touch the manifest, which is why the refresh fence
    compares ``mount_state_token`` — manifest bytes PLUS the tombstone
    censuses — not this value alone."""
    try:
        with open(os.path.join(mount_dir, "manifest.json"), "rb") as f:
            return f.read()
    except FileNotFoundError:
        return b""


#: the tombstone artifacts a DELETE mutates without touching the manifest
TOMBSTONE_DIRS = ("tombstones", "dedup_tombstones")


def mount_state_token(mount_dir: str) -> tuple:
    """The refresh fence's full snapshot token: manifest bytes (appends
    rewrite counts/stream_state) PLUS the tombstone-dir censuses —
    deletes only add tombstone files, so a manifest-only fence would let
    a lock-bypassing delete during a retrain be silently resurrected by
    the new generation (review r14)."""
    return (
        manifest_bytes(mount_dir),
        tuple(
            parquet_census(p) if os.path.isdir(p) else frozenset()
            for p in (os.path.join(mount_dir, t) for t in TOMBSTONE_DIRS)
        ),
    )


def mount_state_fence(mount_dir: str, before: tuple, op: str) -> None:
    """Raise ``ConcurrentMutationError`` if the mount's mutation-visible
    state (manifest + tombstones) changed since ``before`` — called
    immediately before a refresh publishes."""
    if mount_state_token(mount_dir) != before:
        raise ConcurrentMutationError(
            f"{op}: manifest or tombstones of {mount_dir!r} changed "
            "since the retrain began — a writer bypassed the mount "
            "write lock; aborting before publication so its mutation "
            "is not silently dropped from the new generation"
        )


def fence(path: str, before: frozenset, op: str) -> None:
    """Raise ``ConcurrentMutationError`` if the artifact's file census
    changed since ``before`` — called immediately before a swap."""
    after = parquet_census(path)
    if after != before:
        gained = sorted(after - before)[:5]
        lost = sorted(before - after)[:5]
        raise ConcurrentMutationError(
            f"{op}: file census of {path!r} changed since the snapshot "
            f"read (+{len(after - before)}/-{len(before - after)} files; "
            f"e.g. gained {gained}, lost {lost}) — a writer bypassed the "
            "mount write lock; aborting before the swap so no rows are "
            "lost"
        )
