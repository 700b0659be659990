"""One commit primitive for every table format: txlog, Delta, Iceberg,
Hudi and the ``uniform`` exports.

* ``publish(path, payload, conflict, orphans=())`` creates a log or
  metadata entry once, through the installed ``CommitBackend``.  When
  another writer owns the name it unlinks ``orphans`` (the caller's
  staged files, which no entry references) and raises ``conflict``.
* ``replace(path, payload)`` atomically overwrites a mutable single
  file: a table-level sidecar, a version hint, a checkpoint.  It writes
  a uuid-named tmp file, fsyncs it and renames it over ``path``, so a
  reader sees the old or the new content, never a torn one, and two
  writers never share a tmp name.

The reader rule that goes with ``publish``: a zero-length log or
metadata name is an in-flight claim, never a commit.  Readers skip it
and writers take their head from committed names only, so a claim a
crashed writer left behind is reclaimed after ``_CLAIM_GRACE_SECONDS``
at the same name instead of being committed past.

Both rest on put-if-absent or an atomic rename of a fully written file,
the one primitive the Delta Lake paper (VLDB 2020, section 3.2) and the
Iceberg spec ("File System Tables") build atomicity on.  Data files are
not committed here: they are immutable and unreferenced until an entry
names them (``_files``).
"""

from __future__ import annotations

import os
import time
import uuid

# A zero-length claim file older than this is treated as abandoned by a
# crashed writer and reclaimed (see _acquire_claim).  Also the minimum age
# before txlog's vacuum may delete an unreferenced data directory.
_CLAIM_GRACE_SECONDS = 60.0


class TxLogConflict(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


def _acquire_claim(final: str) -> int:
    """Exclusive O_CREAT|O_EXCL claim on a log-entry name, with crash
    recovery: a writer that dies between claiming and ``os.replace`` leaves
    a permanent zero-length file at the next version's name, which would
    wedge the table forever (every later commit recomputes that version and
    hits FileExistsError).  A zero-length claim older than
    ``_CLAIM_GRACE_SECONDS`` is treated as abandoned — unlink and retry
    ONCE.  A non-empty file is a committed entry and a young empty file is
    a live writer's in-flight claim; both stay a genuine conflict."""
    try:
        return os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            st = os.stat(final)
            abandoned = (
                st.st_size == 0
                and (time.time() - st.st_mtime) > _CLAIM_GRACE_SECONDS
            )
        except FileNotFoundError:
            abandoned = False  # owner published or recovered concurrently
        if not abandoned:
            raise
        # re-stat immediately before the unlink: if the owner published
        # (os.replace swaps in a new inode with content) or a recoverer
        # already reclaimed, the inode/size changed and we must NOT delete
        # a committed entry.  POSIX has no conditional unlink, so a window
        # remains between this stat and the unlink — it is (re-stat →
        # unlink) nanoseconds wide, vs the original (first-stat → unlink)
        # which spanned the whole abandonment judgment.
        try:
            st2 = os.stat(final)
            if st2.st_ino != st.st_ino or st2.st_size != 0:
                raise FileExistsError(final)
            os.unlink(final)
        except FileNotFoundError:
            pass
        # single retry; a concurrent recoverer winning the re-claim
        # surfaces as FileExistsError -> TxLogConflict at the caller
        return os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)


class CommitBackend:
    """The SEAM every table commit rests on: one primitive — atomically
    publish ``payload`` at ``path`` iff no committed entry exists there,
    raising ``TxLogConflict`` when another writer won the name.  Every log
    and metadata entry of txlog, Delta, Iceberg, Hudi and the ``uniform``
    exports is published through it by ``publish``; everything above it
    (optimistic retry, conflict surfacing, schema re-validation, WAP) is
    backend-agnostic.

    The default ``PosixCommitBackend`` is correct for any filesystem with
    atomic exclusive-create and rename (local disk, NFSv4, HDFS-via-mount).
    The 100 TB deployment target is an OBJECT STORE, which has neither
    inodes nor O_EXCL — there this seam maps onto the store's conditional
    write, exactly as the public formats do:

    * S3: ``PutObject`` with ``If-None-Match: *`` (or, pre-2024, a DynamoDB
      lock table — Delta's S3DynamoDBLogStore; Iceberg uses a catalog
      compare-and-swap on the metadata pointer)
    * GCS: ``x-goods-if-generation-match: 0`` preconditioned insert
    * Azure: ``If-None-Match: *`` on the Put Blob

    An object-store backend's ``publish`` is one conditional PUT: no tmp
    file, no fsync, no claim recovery (a failed PUT leaves nothing behind).
    Install with ``set_commit_backend``.  The mutable single files
    (sidecars, version hints, checkpoints) go through ``replace``, not the
    backend: they are overwritten, not created once."""

    def publish(self, path: str, payload: bytes) -> None:
        raise NotImplementedError


class PosixCommitBackend(CommitBackend):
    """Exclusive-create + fsync + rename publish for POSIX filesystems,
    with crash recovery for abandoned claims (see ``_acquire_claim``)."""

    def publish(self, path: str, payload: bytes) -> None:
        # exclusive claim: O_CREAT|O_EXCL makes the loser of a same-version
        # race fail here (POSIX rename would silently clobber); abandoned
        # claims from crashed writers are reclaimed after a grace period
        try:
            fd = _acquire_claim(path)
        except FileExistsError as exc:
            raise TxLogConflict(
                f"{os.path.basename(path)} already committed or claimed"
            ) from exc
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            # ownership check: if we stalled >grace between claiming and
            # here, a recoverer may have unlinked our claim and re-claimed
            # (or even published) this version — `path` then names a
            # DIFFERENT inode than the one our fd holds, and os.replace
            # would silently clobber it, forking the log.  A residual
            # window remains between this check and the replace (POSIX
            # offers no compare-and-rename); it is nanoseconds wide vs the
            # unbounded claim->publish stall it guards.
            try:
                owned = os.stat(path).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                owned = False
            if not owned:
                os.unlink(tmp)
                raise TxLogConflict(
                    f"claim on {os.path.basename(path)} was reclaimed by "
                    "another writer (stalled past the "
                    f"{_CLAIM_GRACE_SECONDS:.0f}s grace?) — re-read and "
                    "retry; this commit's data dir is an orphan vacuum "
                    "will collect"
                )
            os.replace(tmp, path)  # atomic publish of the full content
        finally:
            os.close(fd)


_commit_backend: CommitBackend = PosixCommitBackend()


def set_commit_backend(backend: CommitBackend) -> CommitBackend:
    """Swap the atomic-publish primitive (e.g. an object-store conditional
    PUT); returns the previous backend so callers can restore it."""
    global _commit_backend
    prev = _commit_backend
    _commit_backend = backend
    return prev


def publish(path: str, payload: bytes, conflict, orphans=()) -> None:
    """Create ``path`` holding ``payload`` once, through the installed
    backend.  When another writer owns the name, unlink ``orphans`` and
    raise ``conflict`` (an exception class or instance) from the
    backend's ``TxLogConflict``; ``TxLogConflict`` itself propagates the
    backend's own exception unchanged."""
    try:
        _commit_backend.publish(path, payload)
    except TxLogConflict as exc:
        for orphan in orphans:
            try:
                os.unlink(orphan)
            except OSError:
                pass
        if conflict is TxLogConflict:
            raise
        raise conflict from exc


def replace(path: str, payload: bytes | str) -> None:
    """Atomically overwrite the mutable single file ``path``: write a
    uuid-named tmp file beside it, fsync it, rename it over ``path``."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(payload.encode() if isinstance(payload, str) else payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
