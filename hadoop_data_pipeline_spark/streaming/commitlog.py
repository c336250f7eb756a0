"""Manifest-last atomic commit across the multi-directory state a
streaming sink mutates per micro-batch — the upgrade from the sinks'
previous honest at-least-once concession to EXACTLY-ONCE clean-zone
rows across crashes.

The problem: one micro-batch appends to several plain parquet
directories (clean zone, band index, digest store). Each append is
atomic on its own, but a crash BETWEEN appends leaves the stores
mutually inconsistent, and the streaming engine's replay of the
uncommitted batch then re-appends rows that already landed — the
duplication `StreamingDedupSink`'s module doc used to concede.

The protocol (same family as the repo's 2-phase-commit
`sources/pydatasource.py` writer, applied across N directories):

1. ``begin(batch_id)`` — acquire the writer lock, then snapshot the
   file listing of every store into ``pending-{batch_id}.json``
   (written tmp-fsync-rename, so the intent record itself is atomic
   AND durable). Nothing has been mutated yet.
2. the sink runs its appends — any number, any order
   (``commit_appends`` wraps steps 1-3 around a list of appends);
3. ``commit(batch_id)`` — write the ``commit-{batch_id}.json``
   marker (again tmp-fsync-rename: the RENAME is the commit point),
   then drop the pending record and release the writer lock.

Crash anywhere before the marker rename: ``recover()`` (run before
the next tick's first batch) finds a pending record without its
marker and deletes every file that is not in the snapshot — the
stores roll back to their exact pre-batch state, and the engine's
replay recomputes the batch against clean state. Crash AFTER the
marker but before the engine's own checkpoint commit: the replayed
batch sees ``is_committed(batch_id)`` and becomes a no-op instead of
a double append. Every window is covered; clean-zone rows are
exactly-once.

Crash model and enforced assumptions:

* **durable markers** — ``_write_atomic`` fsyncs the record before
  the rename and fsyncs the log directory after it, so the protocol
  survives power loss / kernel crash, not just process crash: a
  renamed record is never empty or torn, and a commit marker cannot
  vanish while the batch's parquet appends survived (which would
  re-open the double-append window on replay).
* **single writer, ENFORCED** — rollback deletes files the snapshot
  does not list, so a second writer racing a crashed batch's
  ``recover()`` would lose its files. ``begin()``/``recover()``
  therefore take a ``writer.lock`` lease (atomic O_EXCL create) and
  raise :class:`ConcurrentWriterError` fail-fast if another LIVE
  process holds it; a lease whose pid is dead (or is this process —
  the restart-after-crash path) is reclaimed. This hardens the
  discipline the reference's pending-file ledger leaves implicit
  (`jobs/finance_itsc_pipeline.py:32-56`, markers via
  `jobs/utils/hdfs.py:29-33`). Liveness is checked via the pid on
  the SAME host; for a lease from ANOTHER host (shared filesystem)
  two modes exist — the default never reclaims it automatically
  (delete it manually after verifying the holder is gone), while
  ``lease_ttl_sec`` enables heartbeat-based expiry: the holder
  refreshes the lease mtime (``heartbeat()``, implicit in begin/
  commit) and a peer may reclaim only after a full TTL of silence,
  re-verified under the steal marker so a late heartbeat aborts the
  reclaim. Size the TTL above the longest batch + heartbeat cadence
  + clock skew. KNOWN RESIDUAL WINDOW (inherent to mtime-TTL leases
  without fencing): a holder whose ``heartbeat()`` lands between the
  reclaimer's expiry re-check and its ``os.remove`` is displaced
  without noticing, and any store append it makes AFTER that
  heartbeat but BEFORE its next ownership verification can land
  after the peer's ``recover()`` — permanent rows outside the
  protocol. The enforced discipline that shrinks this window to the
  verify→append gap: a TTL-enabled sink must call ``heartbeat()``
  (which verifies ownership) IMMEDIATELY before each store append,
  not merely once per batch — and the TTL must dwarf the append
  cadence. Closing it fully requires a fencing token (e.g. a lease
  epoch embedded in appended file names so the new holder's
  ``recover()`` can discard a displaced writer's late files) or a
  filesystem with compare-and-swap leases — both are the
  transactional-format territory this module's seam hands over to.
* **run identity** — markers are stamped with the streaming query id
  (``run_id_file``, conventionally ``{checkpoint}/metadata``); a
  marker from a different query lineage never no-ops a real batch
  (e.g. the commitlog subdir survived a checkpoint reset, so batch
  ids restarted at 0). The checkpoint must still be treated as ONE
  unit: delete or restore it wholesale, never piecemeal — a restore
  to an older snapshot of the SAME checkpoint reuses batch ids under
  the same query id and is indistinguishable from normal replay.
* stores are append-only during a batch (parquet ``mode="append"``
  creates new uniquely-named part files and never rewrites old ones
  — rollback-by-listing-diff is lossless). The one ``overwrite`` in
  the sink family fires only on an EMPTY store (bucketed-table
  bootstrap), where there is nothing to lose.
* readers that list a store directory mid-batch can observe not-yet-
  committed part files; exactly-once here is the pipeline's own
  ingest guarantee. Snapshot isolation for concurrent readers is a
  transactional table format's job, not a plain directory's.

At 100 TB the snapshot is one recursive listing per store per batch
— a driver-side metadata operation (no data read), linear in file
count; compacted stores keep it small, and a transactional format
replaces this module wholesale (the sink seam is unchanged).
"""

from __future__ import annotations

import json
import os
import socket
import time
from collections.abc import Callable, Sequence
from contextlib import contextmanager


class ConcurrentWriterError(RuntimeError):
    """A second live writer holds the commit-log lease. Proceeding
    would let one writer's rollback delete the other's files —
    fail-fast instead of silent corruption."""


class BatchCommitLog:
    """Two-phase, manifest-last commit over named store directories.

    ``stores`` maps a stable name to a directory path. The log itself
    lives in ``log_dir`` (conventionally ``{checkpoint}/commitlog``),
    beside the engine's checkpoint so the pair travels together.
    ``run_id_file`` (conventionally ``{checkpoint}/metadata``, the
    engine-written ``{"id": ...}`` JSON) stamps commit markers with
    the query lineage; omit it for non-streaming uses.
    """

    #: commit markers older than (latest - KEEP) are pruned at commit
    #: time; the engine only ever replays the LAST uncommitted batch,
    #: so a short tail is ample.
    KEEP = 16

    def __init__(
        self,
        log_dir: str,
        stores: dict[str, str],
        run_id_file: str | None = None,
        lease_ttl_sec: float | None = None,
    ):
        """``lease_ttl_sec`` enables CROSS-HOST lease expiry: a lease
        held by a DIFFERENT host (where pid-liveness cannot be probed)
        is reclaimable once its file mtime is older than the TTL — the
        holder keeps it alive by heartbeating (:meth:`heartbeat`
        refreshes the mtime; ``begin``/``commit`` heartbeat
        implicitly). Choose a TTL comfortably above the longest batch
        PLUS the heartbeat cadence PLUS any clock skew between hosts
        and the shared filesystem — stealing from a live-but-slow
        holder is the failure this margin buys off. ``None`` (default)
        keeps the conservative behavior: a remote lease is never
        reclaimed automatically (delete it manually after verifying
        the holder is gone)."""
        self.log_dir = log_dir.rstrip("/")
        self.stores = dict(stores)
        self.run_id_file = run_id_file
        self.lease_ttl_sec = lease_ttl_sec
        self._run_id_cache: str | None = None
        self._lock_held = False
        os.makedirs(self.log_dir, exist_ok=True)

    # -- paths ----------------------------------------------------------

    def _pending_path(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"pending-{batch_id}.json")

    def _commit_path(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"commit-{batch_id}.json")

    def _lock_path(self) -> str:
        return os.path.join(self.log_dir, "writer.lock")

    @staticmethod
    def _files(root: str) -> list[str]:
        """Relative paths of every file under ``root`` (the snapshot
        unit). Metadata-only; never opens a file."""
        out: list[str] = []
        if not os.path.isdir(root):
            return out
        for r, _dirs, files in os.walk(root):
            for f in files:
                out.append(os.path.relpath(os.path.join(r, f), root))
        return sorted(out)

    @staticmethod
    def _write_atomic(path: str, payload: dict) -> None:
        """tmp → fsync(file) → rename → fsync(dir): the rename is the
        atomicity point; the two fsyncs make it DURABLE (without them
        a power loss can surface the renamed name with torn contents,
        or lose the rename while later data writes survived)."""
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    # -- identity ---------------------------------------------------------

    def _run_id(self) -> str | None:
        """Query-lineage id from ``run_id_file`` (None until the engine
        writes it, or when no file was configured). Cached after the
        first successful read — the id is immutable for a checkpoint's
        lifetime."""
        if self._run_id_cache is not None:
            return self._run_id_cache
        if not self.run_id_file or not os.path.exists(self.run_id_file):
            return None
        try:
            with open(self.run_id_file, encoding="utf-8") as fh:
                rid = json.load(fh).get("id")
        except (json.JSONDecodeError, OSError):
            return None
        if rid is not None:
            self._run_id_cache = str(rid)
        return self._run_id_cache

    # -- writer lease -------------------------------------------------------

    def _lease_expired(self, path: str) -> bool:
        """True iff the TTL is enabled and the lease file's mtime is
        older than it. The comparison is ASYMMETRIC: the mtime comes
        from the shared filesystem's clock but ``time.time()`` is this
        host's LOCAL clock — so the effective TTL on any given peer is
        shortened (local clock ahead of the FS) or lengthened (behind)
        by that peer's local-clock-vs-FS-clock skew, not merely by
        host-vs-host skew. The TTL margin must cover the worst
        local-vs-FS skew across every participating host; an
        FS-derived "now" (touch a probe file, read its mtime) would
        remove the asymmetry at the cost of a write per check."""
        if self.lease_ttl_sec is None:
            return False
        try:
            return (
                os.stat(path).st_mtime < time.time() - self.lease_ttl_sec
            )
        except FileNotFoundError:
            return False

    def _reclaim_stale(
        self, path: str, holder: dict, require_expired: bool = False
    ) -> None:
        """Remove a dead holder's lease. Serialized through an O_EXCL
        ``.steal`` marker so two writers that BOTH observed the dead
        holder cannot both run remove+create (the loser of the marker
        race would otherwise delete the winner's freshly created valid
        lease — a TOCTOU that silently yields two 'exclusive' writers).
        Only the marker winner removes the lock, and only after
        re-reading it to confirm it is STILL the dead holder it saw —
        and, for a TTL-based (cross-host) reclaim, that the lease is
        STILL expired (a heartbeat between our observation and the
        steal leaves the holder's content identical but the mtime
        fresh; ``require_expired`` re-checks it under the marker)."""
        steal = path + ".steal"
        me = {"pid": os.getpid(), "host": socket.gethostname()}
        try:
            fd = os.open(steal, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, json.dumps(me).encode("utf-8"))
            finally:
                os.close(fd)
        except FileExistsError:
            # the marker itself is pid-stamped and self-healing: a
            # reclaimer that died mid-steal must not wedge recovery
            # forever (crash-recovery code a crash can disable is no
            # recovery code). A marker held by a live same-host
            # process is a genuinely concurrent reclaim — fail fast.
            stale_marker = False
            try:
                with open(steal, encoding="utf-8") as fh:
                    thief = json.load(fh)
            except (FileNotFoundError, json.JSONDecodeError, OSError):
                thief = None  # gone or torn; re-read next loop pass
            if thief and thief.get("host") == me["host"]:
                tp = thief.get("pid")
                if tp == me["pid"]:
                    stale_marker = True  # our own crashed attempt
                else:
                    try:
                        os.kill(int(tp), 0)
                    except (ProcessLookupError, ValueError, TypeError):
                        stale_marker = True
                    except PermissionError:
                        pass
            if not stale_marker:
                raise ConcurrentWriterError(
                    f"another writer is concurrently reclaiming {path} "
                    f"({steal} exists, holder {thief}); retry after it "
                    f"finishes — or remove {steal} manually if its "
                    f"holder is a dead remote process"
                )
            try:
                os.remove(steal)
            except FileNotFoundError:
                pass
            return  # loop re-reads the lock and retries the reclaim
        try:
            try:
                with open(path, encoding="utf-8") as fh:
                    current = json.load(fh)
            except FileNotFoundError:
                return  # already reclaimed+released; lock name is free
            except (json.JSONDecodeError, OSError):
                return  # changed under us; let the acquire loop re-read
            if current == holder:  # still the dead holder we observed
                if require_expired and not self._lease_expired(path):
                    return  # holder heartbeated under us — it is alive
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass
        finally:
            try:
                os.remove(steal)
            except FileNotFoundError:
                pass

    def _acquire_lock(self) -> None:
        """Take the single-writer lease (atomic O_EXCL create). A held
        lease is reclaimed only when its pid is dead on THIS host, or
        is this very process (the restart-after-crash path — the old
        instance died with the process, so its lease is ours)."""
        if self._lock_held:
            return
        path = self._lock_path()
        me = {"pid": os.getpid(), "host": socket.gethostname()}
        for attempt in range(8):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, json.dumps(me).encode("utf-8"))
                    os.fsync(fd)
                finally:
                    os.close(fd)
                self._lock_held = True
                return
            except FileExistsError:
                pass
            try:
                with open(path, encoding="utf-8") as fh:
                    holder = json.load(fh)
            except FileNotFoundError:
                continue  # holder released between create and read
            except (json.JSONDecodeError, OSError):
                # glimpsed between the holder's O_EXCL create and its
                # payload write — give it a beat, then re-read; a lock
                # that STAYS unreadable needs a human, not a guess.
                time.sleep(0.05)
                continue
            if holder.get("host") == me["host"]:
                pid = holder.get("pid")
                if pid == me["pid"]:
                    self._lock_held = True  # our own lease (pre-crash instance)
                    return
                try:
                    os.kill(int(pid), 0)
                except (ProcessLookupError, ValueError, TypeError):
                    self._reclaim_stale(path, holder)
                    continue
                except PermissionError:
                    pass  # alive, different user
            elif self._lease_expired(path):
                # cross-host holder past its TTL: pid-liveness cannot
                # be probed remotely, but a holder that stopped
                # heartbeating for a full TTL is declared dead — the
                # steal marker + expiry re-check serialize the reclaim
                # (and abort it if the holder heartbeats meanwhile).
                self._reclaim_stale(path, holder, require_expired=True)
                continue
            raise ConcurrentWriterError(
                f"commit log {self.log_dir} is held by another live "
                f"writer {holder}; a second writer would corrupt "
                f"rollback state — stop it (or remove {path} if the "
                f"holder is a dead remote process"
                + (
                    f", or wait for its {self.lease_ttl_sec}s lease "
                    f"TTL to lapse)"
                    if self.lease_ttl_sec is not None
                    else ")"
                )
            )
        raise ConcurrentWriterError(
            f"could not acquire {path}: lease file persistently unreadable"
        )

    def exclusive(self):
        """Hold the single-writer lease across a NON-BATCH maintenance
        operation (store compaction, manual repair) as a context
        manager. The lease is what makes maintenance safe: rollback
        deletes store files absent from a pending snapshot, so a
        rewrite racing a live batch would either lose the rewrite or
        corrupt the rollback — under the lease neither writer can
        start. Raises :class:`ConcurrentWriterError` if a live writer
        holds it — INCLUDING this very instance: maintenance while our
        own batch is in flight would roll back / rewrite under it, and
        the naive acquire would be a no-op whose exit then released
        the batch's lease out from under it. (The in-process guard is
        per-INSTANCE: the sinks share one commit log per checkpoint,
        so their maintenance methods are covered; a second
        BatchCommitLog object over the same log_dir in the same live
        process is outside the protocol — the documented discipline is
        one writer per checkpoint, maintenance between ticks.)

        Exit is STRICT: ownership is re-verified before release, so a
        TTL displacement DURING the maintenance body (the rewrite ran
        unprotected) surfaces as :class:`ConcurrentWriterError` to the
        caller instead of a silent successful return. When the BODY
        itself raised, the body's exception stays primary — a
        displacement detected at release is chained onto it as the
        ``__cause__`` rather than replacing it (the primary failure is
        what the operator must see first; the displacement is context)."""
        if self._lock_held:
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: exclusive() called while "
                f"this instance already holds the lease (a batch is in "
                f"flight); run maintenance between ticks"
            )

        @contextmanager
        def _ctx():
            self._acquire_lock()
            try:
                yield self
            except BaseException as body_exc:
                # The body's exception stays primary NO MATTER what the
                # strict release raises (displacement, PermissionError
                # from os.remove, ...) — any release failure is chained
                # as __cause__, never substituted (ADVICE r11).
                try:
                    self._release_lock(strict=True)
                except BaseException as release_exc:
                    raise body_exc from release_exc
                raise
            else:
                self._release_lock(strict=True)

        return _ctx()

    def _verify_owner(self) -> dict:
        """Re-read the lease file and confirm it is still OURS. With
        TTL reclaim enabled, a live-but-slow writer can lose the lease
        (a peer declared it dead after a full TTL of silence); from
        that moment its rollback safety is gone and every further
        lease operation must fail loudly instead of mutating the NEW
        holder's lease file."""
        me = {"pid": os.getpid(), "host": socket.gethostname()}
        try:
            with open(self._lock_path(), encoding="utf-8") as fh:
                holder = json.load(fh)
        except FileNotFoundError:
            self._lock_held = False
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: our lease file vanished — "
                f"a peer reclaimed it (TTL expiry or manual removal); "
                f"this writer's batch is no longer protected"
            )
        except (json.JSONDecodeError, OSError) as ex:
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: lease unreadable while "
                f"held ({ex}); refusing to proceed"
            )
        if holder != me:
            self._lock_held = False
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: lease now held by {holder} "
                f"— it was reclaimed out from under this writer (TTL "
                f"expiry after a heartbeat gap); aborting instead of "
                f"corrupting the new holder's rollback state"
            )
        return me

    def heartbeat(self) -> None:
        """Refresh the held lease's mtime so a TTL-enabled peer does
        not declare this writer dead mid-batch. ``begin``/``commit``
        call it implicitly; a sink whose single batch can run longer
        than the TTL must call it periodically from the batch body
        (e.g. between store appends). No-op when the lease is not
        held. Verifies OWNERSHIP first: losing the lease mid-batch
        means a peer reclaimed it and rollback safety is already gone
        — that surfaces as :class:`ConcurrentWriterError`, never as a
        silent utime on the new holder's file.

        TTL DISCIPLINE: call this immediately BEFORE each store
        append, not merely once per batch. The verify-then-append gap
        is the only window in which a displacement (a peer's reclaim
        racing a heartbeat — see the module doc's residual-window
        note) can leak an unprotected append past the peer's
        recover(); per-append heartbeats shrink that window to
        microseconds and make every append's protection explicit."""
        if not self._lock_held:
            return
        self._verify_owner()
        try:
            os.utime(self._lock_path())
        except FileNotFoundError:
            # reclaimed in the verify->utime window: same displacement
            # contract as _verify_owner, same exception type (never a
            # raw FileNotFoundError with _lock_held still claiming it).
            self._lock_held = False
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: lease vanished between "
                f"ownership check and heartbeat — a peer reclaimed it; "
                f"this writer's batch is no longer protected"
            )

    def _release_lock(self, strict: bool = False) -> None:
        """Release our lease. Displacement handling depends on the
        caller: the default quietly drops our claim (commit() verified
        ownership immediately before, so a displacement here is a
        microsecond TOCTOU with nothing left to protect), while
        ``strict=True`` (the maintenance path) re-raises — the caller's
        whole body ran on the assumption of exclusivity and must learn
        it was displaced."""
        if not self._lock_held:
            return
        try:
            self._verify_owner()
        except ConcurrentWriterError:
            # the lease is no longer ours (vanished or reclaimed):
            # there is nothing of OURS to remove, and removing would
            # delete the new holder's lease.
            self._lock_held = False
            if strict:
                raise
            return
        try:
            os.remove(self._lock_path())
        except FileNotFoundError:
            pass
        self._lock_held = False

    # -- protocol ---------------------------------------------------------

    def is_committed(self, batch_id: int) -> bool:
        """True iff ``batch_id`` committed IN THIS QUERY LINEAGE. A
        marker stamped with a different run id is a leftover from a
        reset/foreign checkpoint whose batch numbering restarted —
        treating it as committed would silently drop a real batch."""
        path = self._commit_path(batch_id)
        if not os.path.exists(path):
            return False
        try:
            with open(path, encoding="utf-8") as fh:
                marker = json.load(fh)
        except (json.JSONDecodeError, OSError):
            raise RuntimeError(f"unreadable commit marker: {path}")
        mine, theirs = self._run_id(), marker.get("run_id")
        if mine and theirs and mine != theirs:
            return False
        return True

    def begin(self, batch_id: int) -> None:
        """Record the pre-batch snapshot of every store. Call before
        the first state append of the batch (reads are fine earlier).
        Takes the writer lease (held until ``commit``)."""
        self._acquire_lock()
        self.heartbeat()
        snap = {name: self._files(path) for name, path in self.stores.items()}
        self._write_atomic(
            self._pending_path(batch_id),
            {"batch_id": batch_id, "snapshot": snap, "run_id": self._run_id()},
        )

    def commit(self, batch_id: int) -> None:
        """The commit point: rename the marker into place, then drop
        the pending record, prune old markers, release the lease.

        Requires the lease: committing without it (begin() never ran,
        or a TTL peer reclaimed the lease mid-batch) would stamp
        "committed" onto a batch whose appends were unprotected — the
        new holder's rollback may already have deleted them, and the
        marker would mask that as success."""
        if not self._lock_held:
            raise ConcurrentWriterError(
                f"commit log {self.log_dir}: commit({batch_id}) without "
                f"the writer lease — begin() was never called, or the "
                f"lease was lost mid-batch"
            )
        self._verify_owner()
        self._write_atomic(
            self._commit_path(batch_id),
            {"batch_id": batch_id, "run_id": self._run_id()},
        )
        try:
            os.remove(self._pending_path(batch_id))
        except FileNotFoundError:
            pass
        self._prune(batch_id)
        self._release_lock()

    def commit_appends(
        self, batch_id: int, appends: Sequence[Callable[[], object]]
    ) -> None:
        """Run one batch's ``appends`` in order inside one manifest-last
        commit: ``begin``, then each append with a :meth:`heartbeat`
        before every append after the first (the TTL discipline), then
        ``commit``. A raise anywhere leaves the pending record for the
        next ``recover()`` to roll back."""
        self.begin(batch_id)
        for i, append in enumerate(appends):
            if i:
                self.heartbeat()
            append()
        self.commit(batch_id)

    def _prune(self, latest: int) -> None:
        for fn in os.listdir(self.log_dir):
            if fn.startswith("commit-") and fn.endswith(".json"):
                try:
                    bid = int(fn[len("commit-"):-len(".json")])
                except ValueError:
                    continue
                if bid < latest - self.KEEP:
                    try:
                        os.remove(os.path.join(self.log_dir, fn))
                    except FileNotFoundError:
                        pass

    def recover(self) -> dict[str, list[str]]:
        """Roll back any batch that began but never committed: delete
        every store file absent from its pending snapshot, then prune
        directories the dead batch left empty (Hadoop ``_temporary``
        attempt dirs and the like). Takes the writer lease for the
        duration — recovering under a live writer would delete its
        in-flight files. Run before the first batch of a tick (the
        engine replays the rolled-back batch from its own checkpoint).
        Returns {store: [deleted relative paths]} for observability;
        empty when clean.

        Composable under :meth:`exclusive`: when the caller already
        holds the lease (maintenance rolls back and rewrites under ONE
        hold — two holds would leave a window where a peer's begin()
        could wedge a pending record between them), recover() keeps it
        held on exit instead of releasing the caller's lease."""
        owned_before = self._lock_held
        self._acquire_lock()
        try:
            rolled: dict[str, list[str]] = {}
            for fn in sorted(os.listdir(self.log_dir)):
                if not (fn.startswith("pending-") and fn.endswith(".json")):
                    continue
                pending = os.path.join(self.log_dir, fn)
                try:
                    record = json.load(open(pending, encoding="utf-8"))
                except (json.JSONDecodeError, OSError):
                    # _write_atomic fsyncs before the rename, so a torn
                    # write never reaches this name even across power
                    # loss; an unreadable record is real corruption —
                    # without its snapshot the rollback set is
                    # unknowable. Refuse to guess, surface it.
                    raise RuntimeError(
                        f"unreadable commit-log pending record: {pending}"
                    )
                batch_id = record["batch_id"]
                mine, theirs = self._run_id(), record.get("run_id")
                if mine and theirs and mine != theirs:
                    # a pending record from a DIFFERENT query lineage:
                    # its snapshot describes another run's store state,
                    # so "rolling back" against it would DELETE data
                    # later lineages committed. This only happens when
                    # a checkpoint was reset piecemeal (docs forbid
                    # it); refuse loudly instead of guessing.
                    raise RuntimeError(
                        f"commit-log pending record {pending} belongs "
                        f"to query lineage {theirs!r} but the current "
                        f"lineage is {mine!r}; the checkpoint was "
                        f"reset piecemeal. Restore/delete the "
                        f"checkpoint WHOLESALE (metadata, offsets, "
                        f"commits and commitlog together), then retry."
                    )
                if self.is_committed(batch_id):
                    # crash between marker rename and pending removal —
                    # the batch IS committed; just finish the cleanup.
                    os.remove(pending)
                    continue
                snapshot = record["snapshot"]
                for name, path in self.stores.items():
                    keep = set(snapshot.get(name, []))
                    for rel in self._files(path):
                        if rel not in keep:
                            os.remove(os.path.join(path, rel))
                            rolled.setdefault(name, []).append(rel)
                    # bottom-up empty-dir sweep: repeated crash/replay
                    # cycles must not accumulate skeleton directories.
                    for r, _dirs, _files in os.walk(path, topdown=False):
                        if r != path:
                            try:
                                os.rmdir(r)
                            except OSError:
                                pass  # not empty / concurrent — keep it
                os.remove(pending)
            return rolled
        finally:
            if not owned_before:
                self._release_lock()
