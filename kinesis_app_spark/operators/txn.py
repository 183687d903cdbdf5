"""Multi-table ACID transactions over versioned tables — all staged
commits become visible ATOMICALLY, or none do.

Neither Delta nor classic Iceberg offers multi-table transactions on a
plain filesystem; this implements them with three small primitives on
top of the manifest protocol (design re-derived from the two-phase-
commit literature and Iceberg's REST-catalog multi-table commit
discussion — single linearization point, participants guarded by
locks):

- a per-table LOCK file (``<table>/_txn_lock``, O_EXCL create) held
  across finalize — every single-table writer's ``_commit`` barriers
  on it, so no commit can slip between the transaction's validation
  and its promotion;
- a PENDING MARKER (``_manifest/<v>.json.txn``) created alongside each
  reserved manifest — ``vt_latest_version`` treats a marked tip as
  INVISIBLE until the transaction decides, so reserving a slot never
  exposes partial state;
- one shared DECISION file (``<coord>/<txnid>.decision``, O_EXCL) —
  the single linearization point: the instant it says "committed",
  every participating table's pending version is visible AT ONCE
  (readers of a marked tip consult the decision); "aborted" means the
  pending manifests are deleted under the still-held locks, so version
  numbers stay CONTIGUOUS — no reader or walker ever sees a gap.

Crash recovery is lease-based: a dead finalizer leaves its locks
behind; any later writer's barrier resolves them — decision says
committed -> roll forward (drop markers, release locks); aborted, or
no decision and the lock is older than the TTL -> write/read the abort
decision, delete the pending manifests, release. Readers never mutate;
they just step back past undecided tips.

The commit order is the strict two-phase shape:

  1. acquire every table's lock (SORTED paths — no deadlocks)
  2. validate each staged commit against the now-frozen tips
     (``versioned._first_conflict``, the single-table rules:
     removed-read-file / added-key-hit / table-metadata change),
     re-deriving carried file sets — any failure here aborts cleanly,
     nothing was visible
  3. reserve slots: commit each table's REAL manifest at tip+1 with a
     pending marker (invisible); a writer that slipped in before the
     lock costs a bounded re-validation spin
  4. DECIDE: O_EXCL-create the decision file ("committed") — the
     atomic point; a TTL-breaker racing us may have aborted instead,
     in which case we roll back
  5. finalize: remove markers, release locks (idempotent; any barrier
     can finish this if we die)

Scale: every step is O(tables + files-touched) driver metadata — no
data is read or written at finalize (data files are staged by the
operations themselves at stage time, exactly like a single-table
merge).

Reference parity: absent in the reference (no tables at all,
/root/reference/src/Kinesis/Coordination.hs:51-53); the ack-after-
processing discipline (Coordination.hs:329-337) is what the decision
file generalizes across tables.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from kinesis_app_spark.operators import versioned as VT

__all__ = [
    "VtTransaction",
    "TxnAbortedError",
    "vt_transaction",
    "vt_foreach_batch_txn_merger",
    "txn_vacuum",
]

#: a lock with no decision older than this is presumed dead and may be
#: broken (abort) by any writer's barrier
TXN_LEASE_SECONDS = 300.0

#: attempts of the finalize's reserve loop, and polls (0.05 s apart,
#: ``_wait_out``) a writer spends waiting out another transaction's lock
_MAX_RESERVE_SPINS = 50

#: finalize's own _commit calls must pass its barrier: the holder's
#: txn id rides in a thread-local the barrier consults
_local = threading.local()


class TxnAbortedError(RuntimeError):
    """The transaction could not commit (conflict, or broken lease);
    NOTHING became visible."""


def _lock_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_txn_lock")


def _staging_reg_path(table_dir: str, txn_id: str) -> str:
    """The per-(table, txn) staging registration: a tiny JSON naming
    the staged artifact dir and the decision file, written when the
    stage_* lands its data work. ``vt_vacuum``'s orphan sweeps consult
    these so an UNDECIDED transaction's staged files are never treated
    as aged orphans — without it, a txn open longer than the stage TTL
    (big joins, slow pipelines) has its files deleted under it and the
    later commit lands manifests referencing nothing."""
    return os.path.join(table_dir, "_txn_staging", f"{txn_id}.json")


def _drop_staging_reg(table_dir: str, txn_id: str) -> None:
    try:
        os.remove(_staging_reg_path(table_dir, txn_id))
    except OSError:
        pass


def _marker_path(table_dir: str, version: int) -> str:
    return VT._manifest_path(table_dir, version) + ".txn"


def _decision_state(decision_path: str) -> str | None:
    """'committed' | 'aborted' | None (undecided)."""
    try:
        with open(decision_path) as fh:
            return json.load(fh).get("state")
    except (OSError, ValueError):
        return None


def _atomic_create(path: str, payload: dict) -> bool:
    """Create ``path`` with ``payload`` ATOMICALLY-AND-EXCLUSIVELY:
    the content is written to a temp file first and hard-linked into
    place, so a concurrent reader can never observe a half-written
    file (an O_EXCL create + write leaves a window where the file
    exists EMPTY — misread as 'undecided'/'vanished', which for the
    decision file would let an abort-racer roll back a COMMITTED
    transaction). Returns True iff THIS call created the file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _write_decision(decision_path: str, state: str) -> bool:
    """Atomic put-if-absent — exactly one decision ever wins, and a
    visible decision file is always complete. Returns True if THIS
    call decided."""
    return _atomic_create(
        decision_path, {"state": state, "decided_at": time.time()}
    )


def _tip_visibility(table_dir: str, version: int) -> str:
    """Visibility of a specific manifest version for readers:
    'visible' (no marker, or decision committed) or 'invisible'
    (marker present, undecided or aborted)."""
    mk = _marker_path(table_dir, version)
    if not os.path.exists(mk):
        return "visible"
    try:
        with open(mk) as fh:
            info = json.load(fh)
    except (OSError, ValueError):
        return "visible"  # marker vanished mid-read: finalized
    if _decision_state(info.get("decision", "")) == "committed":
        return "visible"
    return "invisible"


def _wait_out(attempt) -> bool:
    """Poll ``attempt()`` until it returns True, at most
    ``_MAX_RESERVE_SPINS`` times 0.05 s apart (~2.5 s): the one wait for
    another transaction's live lock. False when it never succeeded."""
    for _spin in range(_MAX_RESERVE_SPINS):
        if attempt():
            return True
        time.sleep(0.05)
    return False


def _resolve_table(table_dir: str) -> None:
    """The writer barrier: called by ``_commit`` before taking a slot.
    Fast path: no lock file -> return. Otherwise resolve the holder
    (``_resolve_once``), waiting out a live lease — never broken —
    and raising ``TableLockedError`` if it outlasts the wait."""
    if os.path.exists(_lock_path(table_dir)) and not _wait_out(
        lambda: _resolve_once(table_dir)
    ):
        raise VT.TableLockedError(
            f"{table_dir} stayed locked by an in-flight transaction; "
            "retry once it has finished"
        )


def _resolve_once(table_dir: str) -> bool:
    """One look at the table's lock: True when there is none (or it is
    this thread's own finalize, or it was resolved now), False while
    another transaction holds a live lease."""
    lp = _lock_path(table_dir)
    try:
        with open(lp) as fh:
            info = json.load(fh)
    except (OSError, ValueError):
        return True  # no lock, or it vanished: resolved concurrently
    own = getattr(_local, "txn_id", None)
    if own is not None and info.get("id") == own:
        return True  # our own finalize: pass
    decision = info.get("decision", "")
    state = _decision_state(decision)
    if state is None:
        try:
            age = time.time() - os.path.getmtime(lp)
        except OSError:
            return True
        if age <= info.get("lease", TXN_LEASE_SECONDS):
            return False
        # lease EXPIRED: presume the finalizer dead and race it to an
        # ABORT decision — losing the race means it decided; proceed
        # per the decision either way
        _write_decision(decision, "aborted")
        state = _decision_state(decision)
    txn_id = info.get("id")
    if state == "committed":
        _finish_committed(table_dir, txn_id)
    else:
        _rollback_table(table_dir, txn_id)
    return True


def _pending_versions(table_dir: str, txn_id: str) -> list[int]:
    mdir = VT._manifest_dir(table_dir)
    out = []
    try:
        names = os.listdir(mdir)
    except OSError:
        return out
    for n in names:
        if not n.endswith(".json.txn"):
            continue
        try:
            with open(os.path.join(mdir, n)) as fh:
                if json.load(fh).get("id") != txn_id:
                    continue
        except (OSError, ValueError):
            continue
        stem = n[: -len(".json.txn")]
        if stem.isdigit():
            out.append(int(stem))
    return out


def _finish_committed(table_dir: str, txn_id: str) -> None:
    """Post-decision roll-forward for one table: drop the pending
    markers (the versions are already visible via the decision),
    advance the pointer, release the lock. Idempotent — any barrier
    may finish a dead finalizer's work."""
    for v in _pending_versions(table_dir, txn_id):
        VT._advance_last_pointer(table_dir, v)
        try:
            os.remove(_marker_path(table_dir, v))
        except OSError:
            pass
    _drop_staging_reg(table_dir, txn_id)
    _release_lock(table_dir, txn_id)


def _rollback_table(table_dir: str, txn_id: str) -> None:
    """Aborted transaction: delete this table's pending manifests
    (invisible by marker, shielded from writers by the lock — versions
    stay contiguous), then their markers, then the lock. Re-verifies
    the decision per marker: deleting a COMMITTED (visible) version
    would corrupt the table, so a committed decision flips this table
    to roll-forward instead."""
    for v in _pending_versions(table_dir, txn_id):
        try:
            with open(_marker_path(table_dir, v)) as fh:
                decision = json.load(fh).get("decision", "")
        except (OSError, ValueError):
            continue  # marker gone: already finalized
        if _decision_state(decision) == "committed":
            _finish_committed(table_dir, txn_id)
            return
        # OWNERSHIP check before deleting: a marker can be orphaned ON
        # SOMEONE ELSE'S commit — the reservation writes its marker
        # before attempting the slot, and a sneaked-in writer may have
        # taken that version first (the marker is then removed, unless
        # the finalizer died in between). Only manifests stamped with
        # THIS txn's id are the transaction's to delete.
        try:
            owner = VT._read_manifest(table_dir, v).get("txn")
        except FileNotFoundError:
            owner = None
        if owner == txn_id:
            try:
                os.remove(VT._manifest_path(table_dir, v))
            except OSError:
                pass
        try:
            os.remove(_marker_path(table_dir, v))
        except OSError:
            pass
        # the vt_files cache keys on the manifest's (mtime_ns, size):
        # a deleted manifest can never be looked up again, so no
        # explicit invalidation is needed
    _drop_staging_reg(table_dir, txn_id)
    _release_lock(table_dir, txn_id)


def _release_lock(table_dir: str, txn_id: str) -> None:
    """Release ``txn_id``'s table lock ATOMICALLY: rename the lock to a
    unique tombstone FIRST, then verify ownership from the captured
    file. A check-then-act (read id, then remove the live path) has a
    window where the owner releases and a new transaction acquires —
    the stale resolver would then delete the NEW transaction's lock,
    burning its reserve spins against interlopers. The rename captures
    exactly one lock; a wrongly captured (not-ours) lock is restored
    via put-if-absent hard-link, retried briefly if a third acquirer
    slipped into the gap."""
    lp = _lock_path(table_dir)
    tomb = f"{lp}.tb.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    try:
        os.rename(lp, tomb)
    except OSError:
        return  # no lock (already released)
    try:
        with open(tomb) as fh:
            owner = json.load(fh).get("id")
    except (OSError, ValueError):
        owner = None  # unreadable tombstone: treat as ours to reclaim
    if owner is not None and owner != txn_id:
        # captured an innocent lock: put it back (put-if-absent — a
        # plain rename would clobber a third acquirer's fresh lock)
        for _spin in range(20):
            try:
                os.link(tomb, lp)
                break
            except FileExistsError:
                time.sleep(0.01)  # third acquirer holds the path; its
                # release frees it (worst case: the lease breaker)
            except OSError:
                break
    try:
        os.unlink(tomb)
    except OSError:
        pass


class VtTransaction:
    """Stage commits against several versioned tables, then land them
    atomically::

        with vt_transaction(spark, coord_dir) as txn:
            txn.stage_merge(table_a, changes_a, keys=["k"])
            txn.stage_append(table_b, df_b)
        # exit commits BOTH (or raises and commits NEITHER)

    Each ``stage_*`` runs the operation's full data work immediately
    (joins, file writes, stats — identical cost to the single-table
    call) but withholds the manifest commit; ``commit()`` runs the
    two-phase protocol in the module docstring. One staged commit per
    table per transaction."""

    def __init__(self, spark, coord_dir: str,
                 lease: float = TXN_LEASE_SECONDS):
        self.spark = spark
        self.coord_dir = coord_dir
        self.txn_id = uuid.uuid4().hex[:16]
        self.lease = float(lease)
        self.decision_path = os.path.join(
            coord_dir, f"{self.txn_id}.decision"
        )
        self._staged: list[dict] = []
        self._locked: list[str] = []
        self._done = False

    # -- staging -------------------------------------------------------

    def stage_merge(self, table_dir: str, changes, keys, **kwargs) -> int:
        """``vt_merge`` with the commit withheld; returns the version
        the merge PLANS to take (the final number may shift if disjoint
        writers land before finalize)."""
        self._check_stageable(table_dir)
        return VT.vt_merge(
            self.spark, table_dir, changes, keys, txn=self, **kwargs
        )

    def stage_delete(self, table_dir: str, filters) -> int:
        """``vt_delete`` with the commit withheld — the cross-table
        GDPR shape: purge an id from the fact table AND every derived
        table in one atomic decision."""
        self._check_stageable(table_dir)
        return VT.vt_delete(self.spark, table_dir, filters, txn=self)

    def stage_update(self, table_dir: str, filters,
                     assignments: dict) -> int:
        """``vt_update`` with the commit withheld."""
        self._check_stageable(table_dir)
        return VT.vt_update(
            self.spark, table_dir, filters, assignments, txn=self
        )

    def stage_delete_dv(self, table_dir: str, filters) -> int:
        """``vt_delete_dv`` with the commit withheld — the CHEAP
        no-rewrite GDPR half: the deletion-vector sidecar is written
        now, the metadata-only commit lands with the transaction.
        When no row matches, nothing is staged and the table is not
        part of the transaction (same as the standalone call's
        no-commit behavior)."""
        self._check_stageable(table_dir)
        return VT.vt_delete_dv(self.spark, table_dir, filters, txn=self)

    def stage_compact(self, table_dir: str,
                      min_rows_per_file: int = 1 << 20,
                      max_records_per_file: int | None = None) -> int:
        """``vt_compact`` with the commit withheld — layout maintenance
        landing atomically with the transaction's data commits (the
        nightly merge-A-compact-B job wants ONE decision point). When
        fewer than 2 small files exist, nothing is staged and the table
        is not part of the transaction (the standalone call's no-commit
        behavior). Conflict rules are the r6 co-commit rules: a
        concurrent commit ADDING files co-commits; one removing a
        compacted file aborts."""
        self._check_stageable(table_dir)
        return VT.vt_compact(
            self.spark, table_dir, min_rows_per_file,
            max_records_per_file, txn=self,
        )

    def stage_cluster(self, table_dir: str, cluster_cols,
                      max_records_per_file: int | None = None) -> int:
        """``vt_cluster_incremental`` with the commit withheld — sweep
        the clustering debt inside the transaction. No debt -> nothing
        staged."""
        self._check_stageable(table_dir)
        return VT.vt_cluster_incremental(
            self.spark, table_dir, cluster_cols, max_records_per_file,
            txn=self,
        )

    def stage_optimize(self, table_dir: str, cluster_cols,
                       max_records_per_file: int = 65536,
                       zorder: bool = False) -> int:
        """``vt_optimize`` (FULL clustered rewrite) with the commit
        withheld. Strictest conflict rules in the family: the rewrite
        reads everything, so ANY concurrent commit on the table aborts
        the transaction."""
        self._check_stageable(table_dir)
        return VT.vt_optimize(
            self.spark, table_dir, cluster_cols, max_records_per_file,
            zorder, txn=self,
        )

    def stage_append(self, table_dir: str, df,
                     batch_id: int | None = None) -> int:
        """Append ``df`` as new files (no join; conflicts only with a
        concurrent table-metadata change, which aborts the transaction
        at finalize). ``batch_id``
        lands in the commit's epoch ledger for streaming idempotence
        (the vt_foreach_batch_merger discipline)."""
        self._check_stageable(table_dir)
        latest = VT.vt_latest_version(table_dir)
        if latest < 0:
            raise FileNotFoundError(f"table {table_dir} does not exist")
        manifest = VT._read_manifest(table_dir, latest)
        VT._check_protocol(manifest, table_dir, write=True)
        if VT._table_constraints(manifest):
            raise ValueError(
                "txn append cannot validate CHECK constraints; stage "
                "the rows through stage_merge instead"
            )
        schema = VT._manifest_schema(manifest, table_dir)
        mapping = VT._col_mapping(manifest)
        missing = [c for c in df.columns if c not in schema.names]
        if missing:
            raise ValueError(
                f"txn append columns {missing} are not in the table "
                "schema; evolve via stage_merge(merge_schema=True)"
            )
        new_version = latest + 1
        data_dir, new_files = VT._write_files_with_stats(
            df.select(*[f.name for f in schema.fields if f.name in
                        df.columns]),
            table_dir, new_version, mapping,
        )

        meta = VT._table_meta(manifest)

        def mk_manifest(carried_now, version):
            return VT._next_manifest(
                meta, "APPEND", version, carried_now, new_files, [],
                data_dir,
                batch_id=None if batch_id is None else int(batch_id),
            )

        self._add_staged({
            **VT._staged(latest, meta, set(), data_dir, [], mk_manifest,
                         lambda fe: False),
            "table_dir": table_dir,
        })
        return new_version

    def _check_stageable(self, table_dir: str) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")
        if any(s["table_dir"] == table_dir for s in self._staged):
            raise ValueError(
                f"{table_dir} is already staged in this transaction "
                "(one commit per table per transaction)"
            )

    def _add_staged(self, rec: dict) -> None:
        # empty merges/appends legitimately have NO artifact dir (the
        # empty shell is dropped at write time) — remember whether one
        # existed so the reserve-time sweep check only fires on dirs
        # that were actually there to lose
        rec["staged_dir_present"] = bool(
            rec.get("data_dir") and os.path.isdir(rec["data_dir"])
        )
        if rec.get("data_dir"):
            # register the staged artifact dir so vt_vacuum's orphan
            # sweeps skip it while this txn is undecided (tmp+rename:
            # a sweeper never sees a torn registration)
            reg = _staging_reg_path(rec["table_dir"], self.txn_id)
            os.makedirs(os.path.dirname(reg), exist_ok=True)
            tmp = f"{reg}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(
                    {"id": self.txn_id, "decision": self.decision_path,
                     "ts": time.time(), "path": rec["data_dir"]}, fh,
                )
            os.replace(tmp, reg)
        self._staged.append(rec)

    # -- the two-phase commit ------------------------------------------

    def commit(self) -> dict[str, int]:
        """Land every staged commit atomically. Returns
        {table_dir: committed version}. Raises ``TxnAbortedError``
        (nothing visible) on conflict."""
        if self._done:
            raise RuntimeError("transaction already finished")
        self._done = True
        if not self._staged:
            return {}
        _local.txn_id = self.txn_id
        try:
            self._acquire_locks()
            reserved = self._validate_and_reserve()
            if not _write_decision(self.decision_path, "committed"):
                # a lease-breaker decided first (it can only abort) —
                # honor it; abort() re-reads the decision either way
                raise TxnAbortedError(
                    f"txn {self.txn_id}: lease broken before decision"
                )
        except BaseException:
            self.abort()
            raise
        finally:
            _local.txn_id = None
        _local.txn_id = self.txn_id
        try:
            for table_dir in sorted({s["table_dir"] for s in self._staged}):
                _finish_committed(table_dir, self.txn_id)
        finally:
            _local.txn_id = None
        return reserved

    def abort(self) -> None:
        """Discard everything staged; release any held locks. If the
        decision already went to 'committed' (we are a late aborter),
        roll FORWARD instead — a decided transaction's outcome is
        immutable."""
        self._done = True
        _write_decision(self.decision_path, "aborted")
        _local.txn_id = self.txn_id
        try:
            if _decision_state(self.decision_path) == "committed":
                for t in sorted({s["table_dir"] for s in self._staged}):
                    if t in self._locked:
                        _finish_committed(t, self.txn_id)
                return
            self._rollback_all()
        finally:
            _local.txn_id = None
        for s in self._staged:
            shutil.rmtree(s["data_dir"], ignore_errors=True)
            # tables never locked (abort before/without commit) still
            # hold a staging registration — drop it with the artifacts
            _drop_staging_reg(s["table_dir"], self.txn_id)

    def _acquire_locks(self) -> None:
        for table_dir in sorted({s["table_dir"] for s in self._staged}):
            payload = {
                "id": self.txn_id,
                "decision": self.decision_path,
                "lease": self.lease,
                "ts": time.time(),
            }
            # atomic create-with-content: a barrier must never
            # observe a half-written (empty) lock and treat it as
            # vanished
            if not _wait_out(
                lambda: _resolve_once(table_dir)
                and _atomic_create(_lock_path(table_dir), payload)
            ):
                raise TxnAbortedError(
                    f"txn {self.txn_id}: could not lock {table_dir}"
                )
            self._locked.append(table_dir)

    def _validate_and_reserve(self) -> dict[str, int]:
        """Steps 2+3: per table, re-run the optimistic-commit conflict
        validation against commits that landed since staging, then
        commit the REAL manifest at tip+1 behind a pending marker.
        Fallible — any raise unwinds to a clean abort (markers make the
        reservations invisible; the locks stop new writers)."""
        out: dict[str, int] = {}
        for s in self._staged:
            table_dir = s["table_dir"]
            validated_to = s["validated_to"]
            # staged artifacts must still exist: a vacuum that outran
            # the staging registration (grace expired, or a pre-fix
            # sweeper) may have deleted them — committing would land a
            # manifest referencing missing files, a corrupted version.
            # Abort cleanly instead.
            if s.get("staged_dir_present") \
                    and not os.path.isdir(s["data_dir"]):
                raise TxnAbortedError(
                    f"txn {self.txn_id}: staged files for {table_dir} "
                    f"are gone ({s['data_dir']} — swept by vacuum?); "
                    "aborting instead of committing dangling references"
                )
            for _spin in range(_MAX_RESERVE_SPINS):
                latest = VT.vt_latest_version(table_dir)
                reason = VT._first_conflict(
                    table_dir, validated_to, latest, s["t_paths"],
                    s["added_hits"], s["base_meta"],
                )
                if reason is not None:
                    raise TxnAbortedError(
                        f"txn {self.txn_id}: {table_dir}: {reason}"
                    )
                validated_to = latest
                carried = [
                    f for f in VT.vt_files(table_dir, latest)
                    if f["path"] not in s["t_paths"]
                ]
                version = latest + 1
                # marker BEFORE manifest: a manifest must never exist
                # without its invisibility marker. Written atomically
                # (tmp + rename) — a reader observing a half-written
                # marker would fall back to 'visible', exposing the
                # pending manifest.
                mk = _marker_path(table_dir, version)
                os.makedirs(os.path.dirname(mk), exist_ok=True)
                mk_tmp = f"{mk}.tmp.{os.getpid()}"
                with open(mk_tmp, "w") as fh:
                    json.dump(
                        {"id": self.txn_id,
                         "decision": self.decision_path}, fh,
                    )
                os.replace(mk_tmp, mk)
                try:
                    m = s["mk_manifest"](carried, version)
                    m["txn"] = self.txn_id  # audit lineage in HISTORY
                    VT._commit(table_dir, version, m)
                    out[table_dir] = version
                    break
                except VT.VersionConflictError:
                    # a writer slipped in between our barrier and lock:
                    # clean the orphan marker and re-validate its delta
                    try:
                        os.remove(mk)
                    except OSError:
                        pass
                    continue
            else:
                raise TxnAbortedError(
                    f"txn {self.txn_id}: starved reserving a slot on "
                    f"{table_dir}"
                )
        return out

    def _rollback_all(self) -> None:
        for table_dir in sorted({s["table_dir"] for s in self._staged}):
            if table_dir in self._locked:
                _rollback_table(table_dir, self.txn_id)

    # -- context manager -----------------------------------------------

    def __enter__(self) -> "VtTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            self.abort()
            return False
        self.commit()
        return False


def vt_transaction(spark, coord_dir: str,
                   lease: float = TXN_LEASE_SECONDS) -> VtTransaction:
    return VtTransaction(spark, coord_dir, lease=lease)


def txn_snapshot_views(spark, pins: dict[str, int],
                       names: dict[str, str]) -> dict[str, int]:
    """Register snapshot-pinned TEMP VIEWS ({view_name: table_dir}) so
    plain ``spark.sql`` sees ONE consistent cut across every table: a
    multi-table join/rollup query written in SQL gets the same
    all-in-or-all-out transaction visibility ``txn_snapshot`` pins for
    the DataFrame API. Returns {view_name: pinned version} for audit.
    Views are session-scoped and cheap to re-register per query batch;
    the pins age under vacuum like any time travel."""
    out = {}
    for name, table_dir in names.items():
        VT.vt_read(spark, table_dir, version=pins) \
            .createOrReplaceTempView(name)
        out[name] = VT._resolve_pin(table_dir, pins)
    return out


class SnapshotUnstableError(RuntimeError):
    """txn_snapshot could not observe a quiescent instant within its
    spin budget (continuous commit storms on every polled table)."""


def txn_snapshot(tables, spins: int = 200,
                 settle_sleep: float = 0.01) -> dict[str, int]:
    """A CROSS-TABLE CONSISTENT read snapshot: one pinned version per
    table such that every multi-table transaction is ENTIRELY included
    or ENTIRELY excluded — the read half of the txn story (writes are
    atomic via the shared decision file; two independent ``vt_read``s
    can still straddle the decision instant and see table A after a
    transaction and table B before it: a torn view of exactly the
    fact/rollup consistency the transaction existed to protect).

    Algorithm (seqlock discipline): read every table's VISIBLE tip
    (``vt_latest_version`` steps back past undecided reservations via
    the pending markers — a version flips visible only at its
    transaction's single decision instant), then read them all AGAIN in
    the same order. Visible tips are monotonic, so two identical
    consecutive passes prove each table's tip was stable across its own
    read window; the windows all contain the instant the second pass
    began, so the pin set equals the real visible state at that instant
    — a consistent cut: any transaction's decision is a single instant
    affecting all its tables simultaneously, hence all-in or all-out.
    A mismatch means a decision landed mid-pass; retry (bounded).

    Use the pins with any reader: ``vt_read(spark, t, version=pins)``,
    ``vt_scan(spark, t, filters, version=pins)`` (both accept the map
    directly), or ``.option("versionAsOf", str(pins[t]))`` on the
    ``vt_table`` source. Pinned versions are protected from vacuum by
    the normal ``retain_last`` discipline only — long-lived snapshots
    of heavily vacuumed tables can age out (FileNotFoundError), the
    same contract as single-table time travel."""
    tabs = sorted(set(tables))
    prev: dict[str, int] | None = None
    for _spin in range(max(1, int(spins))):
        pins = {t: VT.vt_latest_version(t) for t in tabs}
        if pins == prev:
            return pins
        prev = pins
        if _spin:  # first mismatch retries hot; then back off
            time.sleep(settle_sleep)
    raise SnapshotUnstableError(
        f"no quiescent instant across {len(tabs)} tables in "
        f"{spins} passes"
    )


def txn_vacuum(coord_dir: str, ttl_seconds: float = 86_400.0) -> int:
    """Coordinator hygiene: delete ABORTED decision files older than
    the TTL (plus orphaned temp litter). COMMITTED decisions are kept
    forever — deliberately: a pending marker on a never-again-touched
    table may still point at one, and deleting it would flip that
    committed version invisible and let a later lease-break re-decide
    it aborted (rolling back durable data). Aborted decisions are safe
    to drop: a marker finding its decision missing reads 'undecided',
    stays invisible, and the next lease-break simply re-aborts at the
    same path — the same outcome the file recorded. ~60 bytes per
    committed transaction is the price of that safety. Returns the
    number of files removed."""
    removed = 0
    try:
        names = os.listdir(coord_dir)
    except OSError:
        return 0
    cutoff = time.time() - max(0.0, float(ttl_seconds))
    for name in names:
        p = os.path.join(coord_dir, name)
        try:
            if ".tmp." in name:
                if os.path.getmtime(p) < cutoff:
                    os.unlink(p)
                    removed += 1
                continue
            if not name.endswith(".decision"):
                continue
            if os.path.getmtime(p) >= cutoff:
                continue
            if _decision_state(p) == "aborted":
                os.unlink(p)
                removed += 1
        except OSError:
            continue
    return removed


def vt_foreach_batch_txn_merger(spark, coord_dir: str,
                                tables: list[dict]):
    """foreachBatch sink that maintains SEVERAL versioned tables from
    one stream, each epoch landing in all of them ATOMICALLY and
    exactly once — the multi-table generalization of
    ``vt_foreach_batch_merger`` (a fact table and its rollup can never
    be torn apart by a crash, and a replayed epoch can never
    double-apply to either).

    ``tables`` entries: ``{"table_dir": ..., "derive":
    fn(batch_df) -> changes_df, "keys": [...]}`` for a keyed MERGE, or
    ``{"table_dir": ..., "derive": ..., "append": True}`` for an
    append. ``derive`` may READ its target table's committed state
    (e.g. to add a batch's partial sums onto the current rollup) — the
    decision file guarantees every derive in the NEXT epoch sees this
    epoch's commits on all tables or on none.

    Exactly-once: the epoch's batch_id rides in every staged commit's
    manifest; because visibility is atomic, the id appears in ALL the
    tables' ledgers or in NONE — a replay probes the first ledger and
    skips. A torn ledger (some tables have the id, some don't) is
    impossible through this sink and raises loudly if found (external
    tampering).

    Usage::

        stream.writeStream.foreachBatch(vt_foreach_batch_txn_merger(
            spark, coord, [
                {"table_dir": fact, "derive": lambda b: b.withColumn(
                     "op", F.lit("U")), "keys": ["k"]},
                {"table_dir": rollup, "derive": derive_rollup,
                 "keys": ["grp"]},
            ]))
    """

    def apply_batch(batch_df, batch_id: int) -> None:
        bid = int(batch_id)
        have = [
            bid in VT.vt_committed_batch_ids(t["table_dir"])
            for t in tables
        ]
        if all(have):
            return  # replayed epoch: already applied everywhere
        if any(have):
            raise RuntimeError(
                f"epoch {bid} is committed in some tables but not all "
                "— this sink cannot have produced that state; refusing "
                "to guess"
            )
        # several derives re-plan the batch: pin it once
        batch_df = batch_df.localCheckpoint(eager=True)
        with vt_transaction(spark, coord_dir) as txn:
            for t in tables:
                changes = t["derive"](batch_df)
                if t.get("append"):
                    txn.stage_append(
                        t["table_dir"], changes, batch_id=bid
                    )
                else:
                    txn.stage_merge(
                        t["table_dir"], changes, keys=t["keys"],
                        op_col=t.get("op_col", "op"),
                        seq_col=t.get("seq_col"),
                        batch_id=bid,
                    )

    return apply_batch
