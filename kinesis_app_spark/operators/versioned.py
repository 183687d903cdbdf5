"""Versioned-table layer: Delta-semantics (MERGE + time travel +
optimistic concurrency) emulated over immutable parquet + JSON manifests,
with FILE-LEVEL copy-on-write since round 5.

``delta-spark`` is not installed in this container (verified
ImportError), but the SEMANTICS a 100 TB deployment relies on are
engine-expressible without it:

- every version is an immutable SET OF PARQUET FILES described by its
  manifest — since round 6 as incremental ``add``/``remove`` ACTIONS
  against the parent version, with a full ``files`` snapshot (path +
  row count + per-column min/max stats) every ``_CHECKPOINT_EVERY``
  commits (Delta's checkpoint discipline: commit payload is O(files
  touched), never O(total files), and ``vt_files`` reconstructs any
  version from at most one checkpoint + N-1 action lists). Nothing is
  ever rewritten in place, so any historical version stays readable
  (time travel);
- a version is COMMITTED by creating ``<table>/_manifest/<NNNNN>.json``
  by hard-linking a fully written temp file (no reader sees it
  half-written) — the same put-if-absent primitive Delta's
  commit protocol needs from its log store. Two writers racing to
  commit the same version: exactly one create succeeds, the loser
  co-commits past a disjoint winner or re-plans against it
  (``_commit_optimistic``, the one commit loop);
- MERGE is the engine's own ``cdc.apply_changes`` (anti-join + union
  upsert/delete with latest-wins compaction) applied copy-on-write to
  ONLY the files whose per-file key ranges intersect the change
  batch's key range; every other file is carried forward BY REFERENCE
  (its path copied into the new manifest, byte-identical on disk) —
  the Delta/Iceberg write path, and the difference between an hourly
  merge writing a few touched files versus rewriting 100 TB.

Scale notes: the pruned merge reads the change batch once (a bounded
Arrow collect that also yields its key set), rewrites only intersecting
files through an anti-join against the batch's keys (a broadcast, no
shuffle, for a batch held on the driver),
and the commit is O(1) metadata. Per-file stats are collected from the
newly written files by one column-pruned scan (the job Delta does
inline during its write) and also give ``vt_read`` the row count for
free. Keys must uniquely identify rows — the MERGE INTO contract; the
pruning (and MERGE itself) is undefined under duplicate keys.
Manifests use the local filesystem's atomic-create; on an object store
this primitive comes from the log store (as it does for Delta on S3).

The reference has no tables at all (opaque stream records,
/root/reference/src/Kinesis/Coordination.hs:51-53); this closes
SURVEY.md §2.2's lakehouse gap oracle-checkably.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.errors import PySparkTypeError, UnsupportedOperationException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)

from kinesis_app_spark.operators.cdc import apply_changes

#: per-file min/max stats are kept for at most this many leading
#: columns (Delta's dataSkippingNumIndexedCols discipline) — stats on a
#: 2000-column table would bloat every manifest for columns nobody
#: merges or filters on
_STATS_MAX_COLS = 32

#: round 6: commits store incremental add/remove ACTIONS instead of the
#: complete file list, with a full-snapshot checkpoint every N versions
#: (Delta's _last_checkpoint discipline). Commit payload is then O(files
#: touched), not O(total files) — the difference between an hourly merge
#: writing a few hundred bytes of metadata and serializing a 10^6-file
#: listing per commit — and reconstruction reads at most N manifests.
_CHECKPOINT_EVERY = 10

#: commit attempts ``_commit_optimistic`` makes before a writer
#: declares starvation (a retry is driver-side metadata or a cheap
#: re-plan, never a re-executed join — the bound exists so
#: pathological contention surfaces)
_COMMIT_MAX_SPINS = 50


class VersionConflictError(RuntimeError):
    """Another writer committed this version first: rebase and retry."""


class TableLockedError(VersionConflictError):
    """An in-flight multi-table transaction kept the table locked for
    the whole wait of the commit barrier (operators/txn.py): nothing
    was committed; retry once the transaction has finished."""


class ProtocolError(RuntimeError):
    """The table requires a protocol version or feature this engine
    build does not implement: refuse loudly instead of misreading."""


#: protocol versions and table features THIS engine build understands.
#: Every commit stamps the manifest with the features its content
#:  actually uses (sticky: unioned with the parent's — Delta's
#: reader/writer-features discipline), and every reader/writer entry
#: point checks the stamp FIRST. The guard exists because several
#: features are silently hazardous to an ignorant reader: one that
#: ignores ``dv`` entries resurrects deleted rows; one that ignores
#: ``column_mapping`` reads physical column names as user columns.
_READER_VERSION = 1
_WRITER_VERSION = 1
_SUPPORTED_FEATURES = frozenset({
    "incremental_commits",
    "deletion_vectors",
    "clustering",
    "bloom_index",
    "column_mapping",
    "constraints",
    "type_widening",
})


def _detect_features(manifest: dict) -> set[str]:
    """The features this commit's content actually relies on."""
    feats: set[str] = set()
    if "add" in manifest or "remove" in manifest:
        feats.add("incremental_commits")
    for f in list(manifest.get("files") or ()) + list(
        manifest.get("add") or ()
    ):
        if f.get("dv"):
            feats.add("deletion_vectors")
        if f.get("clustered"):
            feats.add("clustering")
        if f.get("bloom"):
            feats.add("bloom_index")
    if manifest.get("column_mapping"):
        feats.add("column_mapping")
    if manifest.get("constraints"):
        feats.add("constraints")
    if manifest.get("type_widening"):
        feats.add("type_widening")
    return feats


def _check_protocol(manifest: dict, table_dir: str,
                    write: bool = False) -> None:
    """Raise ``ProtocolError`` when the manifest requires a protocol
    version or feature this build lacks. Writers must satisfy BOTH
    bars (a writer also reads). Tables without a stamp (pre-round-7)
    pass vacuously — they use nothing a round-7 reader lacks."""
    proto = manifest.get("protocol")
    if not proto:
        return
    if int(proto.get("min_reader", 1)) > _READER_VERSION:
        raise ProtocolError(
            f"table {table_dir} requires reader version "
            f"{proto['min_reader']} (this engine implements "
            f"{_READER_VERSION}); upgrade before reading"
        )
    if write and int(proto.get("min_writer", 1)) > _WRITER_VERSION:
        raise ProtocolError(
            f"table {table_dir} requires writer version "
            f"{proto['min_writer']} (this engine implements "
            f"{_WRITER_VERSION}); upgrade before writing"
        )
    unknown = set(proto.get("features") or ()) - _SUPPORTED_FEATURES
    if unknown:
        raise ProtocolError(
            f"table {table_dir} requires feature(s) {sorted(unknown)} "
            "this engine build does not implement; refusing to "
            "misread (an ignorant reader of e.g. deletion vectors "
            "would resurrect deleted rows)"
        )


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifest")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_dir), f"{version:05d}.json")


def _last_pointer_path(table_dir: str) -> str:
    return os.path.join(_manifest_dir(table_dir), "_last")


def _advance_last_pointer(table_dir: str, version: int) -> None:
    """Monotone ``_last`` hint, updated after every successful commit.
    Purely an optimization: a writer dying between commit and pointer
    update leaves a stale value, which ``vt_latest_version`` heals by
    probing forward — and racing writers can only write values the
    forward probe walks past."""
    path = _last_pointer_path(table_dir)
    try:
        with open(path) as fh:
            cur = int(fh.read().strip())
    except (OSError, ValueError):
        cur = -1
    if version <= cur:
        return
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(str(int(version)))
    os.replace(tmp, path)


def vt_latest_version(table_dir: str) -> int:
    """Highest committed version, or -1 for a nonexistent table. Reads
    the ``_last`` pointer and probes forward from it (O(1 + commits
    since the pointer moved)) instead of listing the manifest directory
    — at thousands of commits the per-call directory listing was the
    remaining O(versions) metadata term. Tables without a pointer
    (pre-round-6, or clones made by hand) fall back to the listing."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return -1
    try:
        with open(_last_pointer_path(table_dir)) as fh:
            v = int(fh.read().strip())
    except (OSError, ValueError):
        v = -1
    if v >= 0 and os.path.exists(_manifest_path(table_dir, v)):
        while os.path.exists(_manifest_path(table_dir, v + 1)):
            v += 1  # stale-pointer healing
        return _visible_tip(table_dir, v)
    versions = [
        int(f[:-5])
        for f in os.listdir(mdir)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    return _visible_tip(table_dir, max(versions)) if versions else -1


def _visible_tip(table_dir: str, tip: int) -> int:
    """Step back past tip versions reserved by an UNDECIDED (or
    aborted-but-not-yet-cleaned) multi-table transaction — their
    pending marker makes them invisible until the transaction's shared
    decision file says 'committed' (operators/txn.py). The fast path is
    one os.path.exists per call."""
    while tip >= 0:
        if not os.path.exists(_manifest_path(table_dir, tip) + ".txn"):
            return tip
        from kinesis_app_spark.operators.txn import _tip_visibility

        if _tip_visibility(table_dir, tip) == "visible":
            return tip
        tip -= 1
    return tip


def _read_manifest(table_dir: str, version: int) -> dict:
    path = _manifest_path(table_dir, version)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"version {version} of {table_dir} does not exist"
        )
    with open(path) as fh:
        return json.load(fh)


#: checkpoint manifests at or above this many file entries spill the
#: list to a parquet sidecar (Delta's parquet-checkpoint discipline):
#: at 10^5-10^6 files, JSON-encoding the full list per checkpoint is
#: the remaining metadata hot spot — parquet keeps it columnar,
#: compressed, and loadable without parsing megabytes of JSON
_CHECKPOINT_PQ_MIN = 10_000


def _write_files_pq(table_dir: str, version: int, files: list[dict]) -> str:
    """Spill a checkpoint's file list to a parquet sidecar under
    ``_manifest/`` (driver-side pyarrow write). Stats/bloom dicts ride
    as JSON strings per row — they are opaque to the columnar layout
    and tiny relative to the path column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(
        _manifest_dir(table_dir),
        f"files_{version:05d}_{uuid.uuid4().hex[:8]}.parquet",
    )
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    def extra(f):
        rest = {
            k: v for k, v in f.items()
            if k not in ("path", "n_rows", "stats", "bloom")
        }
        return json.dumps(rest) if rest else None

    pq.write_table(
        pa.table({
            "path": pa.array([f["path"] for f in files], pa.string()),
            "n_rows": pa.array(
                [int(f["n_rows"]) for f in files], pa.int64()
            ),
            "stats": pa.array(
                [json.dumps(f.get("stats")) for f in files], pa.string()
            ),
            "bloom": pa.array(
                [json.dumps(f["bloom"]) if "bloom" in f else None
                 for f in files],
                pa.string(),
            ),
            # any other entry fields (e.g. "clustered") as opaque JSON
            "extra": pa.array([extra(f) for f in files], pa.string()),
        }),
        out,
    )
    return out


def _read_files_pq(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    xs = (
        t["extra"].to_pylist() if "extra" in t.column_names
        else [None] * t.num_rows
    )
    out = []
    for p, n, st, bl, x in zip(
        t["path"].to_pylist(), t["n_rows"].to_pylist(),
        t["stats"].to_pylist(), t["bloom"].to_pylist(), xs
    ):
        e = {"path": p, "n_rows": int(n), "stats": json.loads(st)}
        if bl is not None:
            e["bloom"] = json.loads(bl)
        if x is not None:
            e.update(json.loads(x))
        out.append(e)
    return out


#: reconstruction cache: {(table_dir, version, manifest mtime_ns, size):
#: file-entry list}. Versions are immutable (VACUUM's tombstone rewrite
#: changes the manifest file's mtime/size, so the key self-invalidates),
#: and a 10^5-file reconstruction costs ~0.7 s of driver time — a
#: 10-version CDF tail without the cache pays that 20× (two sides per
#: version); with it, each version applies O(touched) actions to its
#: cached neighbor. Entries are returned as fresh copies so callers can
#: never mutate the cache.
_VT_FILES_CACHE: dict = {}
_VT_FILES_CACHE_MAX = 6


def _files_cache_key(table_dir: str, version: int):
    try:
        st = os.stat(_manifest_path(table_dir, version))
    except OSError:
        return None
    return (os.path.abspath(table_dir), version, st.st_mtime_ns, st.st_size)


def _files_cache_put(key, files: list[dict]) -> None:
    if key is None:
        return
    while len(_VT_FILES_CACHE) >= _VT_FILES_CACHE_MAX:
        _VT_FILES_CACHE.pop(next(iter(_VT_FILES_CACHE)))
    _VT_FILES_CACHE[key] = files


def _malformed(table_dir: str, version, what: str) -> ProtocolError:
    return ProtocolError(
        f"version {version} of table {table_dir} has no {what}; every "
        "manifest must carry a schema and file-level metadata — "
        "recreate the table"
    )


def vt_files(table_dir: str, version: int) -> list[dict]:
    """The version's complete per-file manifest entries (path, n_rows,
    stats), reconstructed from the nearest full-snapshot checkpoint —
    or the nearest CACHED version (round 7) — plus the incremental
    ``add``/``remove`` actions committed since: at most
    ``_CHECKPOINT_EVERY`` manifest reads, and O(files touched) work
    when an adjacent version was just reconstructed (the CDF-tail /
    commit-loop shape). Raises ``ProtocolError`` for a manifest without
    file-level metadata."""
    key = _files_cache_key(table_dir, version)
    cached = _VT_FILES_CACHE.get(key) if key is not None else None
    if cached is not None:
        _VT_FILES_CACHE[key] = _VT_FILES_CACHE.pop(key)  # LRU bump
        return [dict(f) for f in cached]
    chain: list[dict] = []
    v = version
    while True:
        m = _read_manifest(table_dir, v)
        if v != version:
            ck = _files_cache_key(table_dir, v)
            base = _VT_FILES_CACHE.get(ck) if ck is not None else None
            if base is not None:
                files = {f["path"]: dict(f) for f in base}
                break
        if "files" in m:
            files = {f["path"]: f for f in m["files"]}
            break
        if "files_pq" in m:  # parquet-spilled checkpoint
            files = {
                f["path"]: f for f in _read_files_pq(m["files_pq"])
            }
            break
        if "add" not in m and "remove" not in m:
            raise _malformed(table_dir, v, "file-level metadata")
        chain.append(m)
        v -= 1
        if v < 0:
            raise ValueError(
                f"incremental manifest chain of {table_dir} has no "
                "checkpoint below version {version}"
            )
    for m in reversed(chain):  # oldest incremental first
        for p in m.get("remove", []):
            files.pop(p, None)
        for f in m.get("add", []):
            files[f["path"]] = f
    out = sorted(files.values(), key=lambda f: f["path"])
    _files_cache_put(key, out)
    return [dict(f) for f in out]


def _incremental_or_full(
    new_version: int,
    carried: list[dict],
    new_files: list[dict],
    touched_paths: Sequence[str] | None,
) -> dict:
    """The commit's file payload: incremental ``add``/``remove`` actions,
    or the complete ``files`` list on a checkpoint version — and always
    when ``touched_paths`` is None (a RESTORE or full OPTIMIZE, whose
    file set is a snapshot rather than a delta). Either form
    reconstructs to ``carried + new_files``."""
    if touched_paths is None or new_version % _CHECKPOINT_EVERY == 0:
        return {"files": carried + new_files}
    return {
        "add": new_files,
        "remove": sorted(touched_paths),
    }


#: the TABLE METADATA: manifest keys every commit inherits from its
#: parent unless it changes them on purpose (DDL). A concurrent change
#: to any of them conflicts with a writer that planned against the old
#: values (``_first_conflict``) — a merge planned before an ADD
#: CONSTRAINT must neither skip the new check nor commit it away.
_META_KEYS = ("schema", "column_mapping", "constraints", "type_widening")


def _table_meta(manifest: dict) -> dict:
    """The version's table metadata: every ``_META_KEYS`` entry it sets
    (an empty value and an absent key are the same metadata)."""
    return {k: manifest[k] for k in _META_KEYS if manifest.get(k)}


def _next_manifest(
    meta: dict,
    operation: str,
    version: int,
    carried: list[dict],
    new_files: list[dict],
    removed_paths: Sequence[str] | None,
    data_dir: str | None,
    **extra,
) -> dict:
    """The one manifest builder every commit goes through: table
    metadata ``meta`` (the parent's ``_table_meta``, or a DDL's changed
    copy), the file payload (``_incremental_or_full``), the live row
    count, and the operation's own fields in ``extra`` (None values are
    left out)."""
    return {
        "data_dir": data_dir,
        "n_rows": _live_rows(carried + new_files),
        "operation": operation,
        **_table_meta(meta),
        **_incremental_or_full(version, carried, new_files, removed_paths),
        **{k: v for k, v in extra.items() if v is not None},
    }


def _first_conflict(
    table_dir: str,
    validated_to: int,
    latest: int,
    t_paths: set[str],
    added_hits,
    base_meta: dict,
) -> str | None:
    """Why the commits ``validated_to + 1 .. latest`` conflict with a
    writer that read the files ``t_paths`` under table metadata
    ``base_meta`` (a ``_table_meta``) — a commit removed a file it read,
    added a file its keys/predicate could match (``added_hits``), or
    the metadata at ``latest`` differs — or None when it may commit on
    top of ``latest``. The one check behind single-table optimistic
    commits and multi-table transaction finalize."""
    for v in range(validated_to + 1, latest + 1):
        added, removed = _commit_delta(table_dir, v)
        hit = removed & t_paths
        if hit:
            return (
                f"version {v} removed file(s) this writer read: "
                f"{sorted(hit)[:3]}"
            )
        clash = next((fe for fe in added if added_hits(fe)), None)
        if clash is not None:
            return (
                f"version {v} added a file overlapping this writer's "
                f"keys/predicate: {clash['path']}"
            )
    if _table_meta(_read_manifest(table_dir, latest)) != base_meta:
        return (
            "a concurrent commit changed the table metadata (schema, "
            "column mapping, constraints or type widening)"
        )
    return None


def _commit_delta(
    table_dir: str, version: int
) -> tuple[list[dict], set[str]]:
    """One commit's (added file entries, removed paths) — read directly
    from an incremental manifest's actions, or derived by snapshot diff
    for checkpoint/full manifests (paths are immutable once written, so
    set difference IS the commit's file delta). This is the input to
    Delta-style conflict detection: a concurrent commit is compatible
    with a staged merge iff it removed none of the merge's read files
    and added no file whose key stats admit a merge key."""
    m = _read_manifest(table_dir, version)
    if "add" in m or "remove" in m:
        return list(m.get("add", [])), set(m.get("remove", []))
    cur = vt_files(table_dir, version)
    if version == 0:
        return list(cur), set()
    prev = vt_files(table_dir, version - 1)
    # diff by CONTENT signature (path + deletion-vector identity), not
    # bare path: a DELETE_DV commit landing on a checkpoint version
    # keeps every path and changes only the DV — a path-only diff would
    # report an empty delta, conflict validation would miss it, and a
    # concurrent transaction's staged rewrite of that file would
    # resurrect the freshly deleted rows. A DV-changed file reports as
    # removed+added so the removed-read-file check fires.
    prev_by = {f["path"]: f for f in prev}
    cur_by = {f["path"]: f for f in cur}
    added = [
        f for p, f in sorted(cur_by.items())
        if p not in prev_by or _dv_sig(f) != _dv_sig(prev_by[p])
    ]
    removed = {
        p for p, f in prev_by.items()
        if p not in cur_by or _dv_sig(cur_by[p]) != _dv_sig(f)
    }
    return added, removed


# ---------------------------------------------------------------------
# per-file statistics (the data-skipping index carried in manifests)
# ---------------------------------------------------------------------


def _stats_cols(schema: StructType) -> list[str]:
    """Columns worth min/max stats: orderable scalar types whose values
    survive a JSON round-trip with their ordering intact. Anything else
    (arrays, structs, binary, decimals) simply gets no stats — pruning
    then treats the file as possibly-matching (conservative, correct)."""
    out = []
    for f in schema.fields[:_STATS_MAX_COLS]:
        if isinstance(
            f.dataType,
            (NumericType, StringType, DateType, TimestampType,
             TimestampNTZType),
        ) and not type(f.dataType).__name__.startswith("Decimal"):
            out.append(f.name)
    return out


def _json_stat(v):
    """A stat value in JSON-portable, order-preserving form: numbers and
    strings as-is; dates/timestamps as ISO strings (fixed-width fields,
    so lexicographic order == temporal order). AWARE datetimes convert
    to the OS-local wall clock first — the frame ``.collect()`` /
    ``fromInternal`` produces — so every writer lands stats in ONE
    frame (an aware isoformat's offset suffix would corrupt
    lexicographic order against naive stats)."""
    if v is None or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone().replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None  # unknown type: no stat -> conservative pruning


def _normalize_path(p: str) -> str:
    """_metadata.file_path URIs ("file:///x") to plain local paths."""
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return p


def _write_data(df: DataFrame, table_dir: str, version: int,
                max_records_per_file: int | None = None) -> str:
    """Write ``df`` as a new staged file set — every table data file
    this module writes goes through here; a failed write (a bad merge
    op, a task error) leaves no staged directory behind."""
    token = uuid.uuid4().hex[:8]
    data_dir = os.path.join(table_dir, "data", f"v{version:05d}_{token}")
    w = df.write
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    try:
        w.parquet(data_dir)
    except BaseException:
        shutil.rmtree(data_dir, ignore_errors=True)
        raise
    return data_dir


def _stats_aggs(scols: Sequence[str]) -> list:
    """The aggregates behind every stats value: the row count plus
    min/max per column (``scols``) — evaluated grouped by file, as an
    Observation, or over a change batch; ``_stats_of`` decodes them."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in scols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    return aggs


def _stats_of(r, scols: Sequence[str]) -> tuple[int, dict]:
    """(row count, {col: [min, max]}) of one ``_stats_aggs`` result (a
    Row or an Observation dict), values in their JSON-portable form."""
    return int(r["__n"]), {
        c: [_json_stat(r[f"__min_{c}"]), _json_stat(r[f"__max_{c}"])]
        for c in scols
    }


def _collect_file_stats(
    spark: SparkSession, data_dir: str, schema: StructType
) -> list[dict]:
    """Per-file manifest entries (path, n_rows, per-column min/max) for
    a just-written file set: one column-pruned scan grouped by
    ``_metadata.file_path`` — the stats collection Delta performs
    inline during its write, and what funds both merge-time file
    pruning and metadata-only row counts."""
    scols = _stats_cols(schema)
    rows = (
        spark.read.schema(schema)
        .parquet(data_dir)
        .groupBy(F.col("_metadata.file_path").alias("__p"))
        .agg(*_stats_aggs(scols))
        .collect()
    )
    files = []
    for r in rows:
        n, stats = _stats_of(r, scols)
        files.append(
            {"path": _normalize_path(r["__p"]), "n_rows": n, "stats": stats}
        )
    files.sort(key=lambda f: f["path"])
    return files


#: Writes whose row count is PROVABLY bounded by manifest metadata at
#: or under this take the fused single-job path (one file + stats via
#: an Observation in the write job itself); larger or unbounded writes
#: keep the parallel write + per-file stats scan. Both paths produce
#: identical manifest stats values.
_SMALL_WRITE_ROWS = 262144


def _write_small_with_stats(
    df: DataFrame, table_dir: str, version: int
) -> tuple[str, list[dict]]:
    """Single-job write for provably-small file sets: coalesce to ONE
    file and collect its stats with an ``observe`` in the SAME action —
    the separate per-file stats scan (a second full job, round-9
    measured ~0.3-0.5 s of pure fixed cost per tiny merge) disappears,
    and tiny merges stop fragmenting the table into per-partition
    shards. Stats values are identical to ``_collect_file_stats`` (same
    ``_stats_aggs``, one file = global aggregates)."""
    from pyspark.sql import Observation

    scols = _stats_cols(df.schema)
    obs = Observation()
    data_dir = _write_data(df.coalesce(1).observe(obs, *_stats_aggs(scols)),
                           table_dir, version)
    n, stats = _stats_of(obs.get, scols)
    if not n:  # empty write: drop the empty shell directory
        shutil.rmtree(data_dir, ignore_errors=True)
        return data_dir, []
    parts = sorted(
        os.path.join(data_dir, p)
        for p in os.listdir(data_dir)
        if p.startswith("part-")
    )
    assert len(parts) == 1, parts  # coalesce(1): exactly one data file
    return data_dir, [
        {"path": _normalize_path(parts[0]), "n_rows": n, "stats": stats}
    ]


def _write_files_with_stats(
    df: DataFrame, table_dir: str, version: int,
    mapping: dict | None = None,
    row_bound: int | None = None,
    max_records_per_file: int | None = None,
) -> tuple[str, list[dict]]:
    """Write ``df`` (LOGICAL names) as this version's new immutable
    file set through ``_write_data`` and collect its per-file manifest
    entries — the file-set writer of CREATE, MERGE, predicate DML, the
    transaction append and the layout rewrites (OPTIMIZE, CLUSTER,
    COMPACT). Under an active column ``mapping`` the files (and
    therefore the stats) carry the stable physical names. ``row_bound``
    — an upper bound on the row count KNOWN FROM METADATA (touched-file
    live rows + change keys) — routes provably-small writes through the
    fused single-job path; without it the write is parallel, split at
    ``max_records_per_file`` rows per file when set."""
    df = _to_physical(df, mapping)
    if row_bound is not None and row_bound <= _SMALL_WRITE_ROWS:
        return _write_small_with_stats(df, table_dir, version)
    data_dir = _write_data(df, table_dir, version, max_records_per_file)
    files = _collect_file_stats(df.sparkSession, data_dir, df.schema)
    if not files:  # empty write: drop the empty shell directory
        shutil.rmtree(data_dir, ignore_errors=True)
    return data_dir, files


#: the change batch a merge holds on the driver: up to this many ROWS
#: are collected once (bounded memory), re-wrapped as a local relation
#: and give the key set each file's [min,max] is tested against; a
#: larger batch falls back to the interval test (one global [min,max]
#: per key column). The interval test degrades to a full rewrite when a
#: batch touches both key extremes — the common shape of real CDC
#: batches — so the key-set path is the default and the interval path
#: the documented large-batch fallback.
_PRUNE_MAX_KEYS = 100_000


def _local_change_batch(
    spark: SparkSession, changes: DataFrame, keys: Sequence[str],
    max_rows: int = _PRUNE_MAX_KEYS,
) -> tuple[DataFrame, dict] | None:
    """Read the change batch ONCE: collect it to the driver as Arrow
    (``limit(max_rows + 1)`` bounds the collect by construction — one
    job, no join) and re-wrap it as a local relation, so the anti-join's
    broadcast key side and the written change rows read driver memory,
    not the source again. Returns ``(local batch, key sets)`` — key sets
    are Delta's key-level file pruning, ``{"n": row count, "cols": {col:
    (sorted values, has_null)}}`` per stat-able key column — or None
    when the batch holds more than ``max_rows`` rows or a type Arrow
    cannot carry (callers then fall back to interval pruning over
    ``changes`` itself)."""
    try:
        tbl = changes.limit(max_rows + 1).toArrow()
    except (PySparkTypeError, UnsupportedOperationException):
        return None  # raised from the schema, before any job runs
    if tbl.num_rows > max_rows:
        return None
    cols = {}
    for c in (k for k in keys if k in _stats_cols(changes.schema)):
        vals = tbl.column(c).to_pylist()
        cols[c] = (
            sorted({_json_stat(v) for v in vals if v is not None}),
            None in vals,
        )
    local = spark.createDataFrame(tbl, schema=changes.schema)
    return local, {"n": tbl.num_rows, "cols": cols}


def _file_hits_key_set(file_entry: dict, key_cols: dict) -> bool:
    """Does SOME actual change key fall inside this file's [min, max]?
    Per key column: binary-search the sorted key values for the first
    one >= file min and check it is <= file max. A column with null keys
    or missing stats cannot disprove a match (conservative). Multi-
    column keys are tested per-column independently — a file passing
    every column may still hold no matching TUPLE, which only keeps an
    extra file (conservative, never wrong)."""
    import bisect

    fstats = file_entry.get("stats") or {}
    for c, (vals, has_null) in key_cols.items():
        if has_null or not vals:
            continue  # null/unrangeable keys cannot disprove: keep
        st = fstats.get(c)
        if not st or None in st:
            continue
        lo, hi = st
        i = bisect.bisect_left(vals, lo)
        if i >= len(vals) or vals[i] > hi:
            return False  # no change key lands inside [lo, hi]
    return True


def _change_key_stats(changes: DataFrame, keys: Sequence[str]) -> tuple[int, dict]:
    """(row count, {key: [min, max]}) of the change batch — the tiny agg
    that funds file pruning. Keys without stat-able types get no entry
    (pruning then touches every file: conservative)."""
    scols = [k for k in keys if k in _stats_cols(changes.schema)]
    return _stats_of(changes.agg(*_stats_aggs(scols)).collect()[0], scols)


def _file_intersects(file_entry: dict, chg_stats: dict,
                     keys: Sequence[str]) -> bool:
    """Can this file contain a row whose key equals some change-batch
    key? A file can be SKIPPED only when, for at least one key column
    with stats on both sides, the ranges are disjoint — missing or null
    stats on either side mean "possibly" (conservative)."""
    fstats = file_entry.get("stats") or {}
    for k in keys:
        fs = fstats.get(k)
        cs = chg_stats.get(k)
        if not fs or not cs:
            continue
        fmin, fmax = fs
        cmin, cmax = cs
        if None in (fmin, fmax, cmin, cmax):
            continue
        if fmax < cmin or fmin > cmax:
            return False  # disjoint on this key column: cannot match
    return True


def _commit(table_dir: str, version: int, manifest: dict,
            cleanup_dir: str | None = None) -> None:
    """Atomic put-if-absent commit. On losing the race, the orphaned
    files this writer created (``cleanup_dir`` — never carried-forward
    files, which belong to committed versions) are removed.

    Checkpoint commits also CONSOLIDATE the streaming batch-id ledger
    (``batch_ids`` = every batch_id committed so far): the per-epoch
    idempotence probe (``vt_committed_batch_ids``) then walks back at
    most one checkpoint interval instead of the whole history — without
    this, a foreachBatch merge sink pays O(versions) manifest reads per
    epoch, quadratic over a stream's life."""
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    manifest = dict(manifest)
    manifest["version"] = version
    # wall-clock commit instant for TIMESTAMP AS OF (never exposed on
    # any value-gated surface; survives VACUUM's tombstone rewrite,
    # which bumps the manifest file's mtime)
    manifest["committed_at"] = time.time()
    # protocol stamp: the features this commit's content uses, unioned
    # with the parent's (sticky — Delta's table-features discipline);
    # computed BEFORE the checkpoint spill below pops the file list
    feats = _detect_features(manifest)
    if version > 0:
        try:
            parent_proto = _read_manifest(table_dir, version - 1).get(
                "protocol"
            ) or {}
            feats |= set(parent_proto.get("features") or ())
        except FileNotFoundError:
            pass
    manifest["protocol"] = {
        "min_reader": _READER_VERSION,
        "min_writer": _WRITER_VERSION,
        "features": sorted(feats),
    }
    if (
        "files" in manifest
        and len(manifest["files"]) >= _CHECKPOINT_PQ_MIN
    ):
        # huge checkpoint: spill the file list to a parquet sidecar so
        # the manifest JSON stays small (written BEFORE the atomic
        # commit; an orphan sidecar from a lost race is tiny and inert)
        manifest["files_pq"] = _write_files_pq(
            table_dir, version, manifest["files"]
        )
        manifest["n_files"] = len(manifest.pop("files"))
    if ("files" in manifest or "files_pq" in manifest) and version > 0:
        ids = _committed_batch_ids_upto(table_dir, version - 1)
        if "batch_id" in manifest:
            ids.add(int(manifest["batch_id"]))
        # written even when empty: the ledger's presence is what bounds
        # every later probe's backward walk to one checkpoint interval
        manifest["batch_ids"] = sorted(ids)
    # multi-table transaction barrier: while a table is locked by an
    # in-flight txn finalize, single-table commits must not slip a
    # version between its validation and promotion — a live lock is
    # waited out (TableLockedError after the wait), a decided or
    # lease-expired one is resolved in place (operators/txn.py).
    # Fast path: one os.path.exists.
    from kinesis_app_spark.operators.txn import _atomic_create, _resolve_table

    try:
        _resolve_table(table_dir)
    except VersionConflictError:
        if cleanup_dir:
            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise
    if not _atomic_create(_manifest_path(table_dir, version), manifest):
        if cleanup_dir:
            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise VersionConflictError(
            f"version {version} of {table_dir} was committed concurrently"
        )
    _advance_last_pointer(table_dir, version)


def vt_create(df: DataFrame, table_dir: str) -> int:
    """Create the table at version 0 from ``df``. Errors if it exists."""
    if vt_latest_version(table_dir) >= 0:
        raise FileExistsError(f"table {table_dir} already exists")
    data_dir, files = _write_files_with_stats(df, table_dir, 0)
    _commit(
        table_dir,
        0,
        _next_manifest(
            {"schema": df.schema.jsonValue()}, "CREATE", 0, [], files, [],
            data_dir,
        ),
        cleanup_dir=data_dir,
    )
    return 0


def _manifest_schema(manifest: dict, table_dir: str = "?") -> StructType:
    """The version's stored (logical) schema; ``ProtocolError`` when the
    manifest carries none."""
    if manifest.get("schema") is None:
        raise _malformed(table_dir, manifest.get("version"), "schema")
    return StructType.fromJson(manifest["schema"])


# ---------------------------------------------------------------------
# column mapping (round 7): rename/drop columns WITHOUT rewriting data
# ---------------------------------------------------------------------
#
# Delta's column-mapping design carried on the manifest: the manifest's
# ``schema`` stays the LOGICAL schema users see; an active
# ``column_mapping`` {logical -> physical} records each column's STABLE
# physical name — the name actually present in the parquet files,
# per-file stats, bloom sidecars, and deletion-vector-era file entries.
# Mapping activates lazily at the first RENAME/DROP (physical names are
# then frozen at the column names of that moment, which is exactly what
# the already-written files contain), so unmapped tables keep today's
# byte-identical behavior. After activation:
#
# - writers translate logical -> physical at the file boundary
#   (``_write_files_with_stats``), readers translate back
#   (``_read_snapshot_entries``) — every other operator keeps working
#   in logical space;
# - pruning/stat/bloom machinery operates in PHYSICAL space: callers
#   translate keys/filters once (``_phys_filters``) and hand the
#   physical schema to ``_prune_files``;
# - a RENAME is a metadata-only commit (same files, new logical name
#   over the same physical); a DROP likewise (the physical column stays
#   in the immutable files, unread — Delta's drop semantics);
# - a column ADDED after activation gets a fresh ``col_<uuid>`` physical
#   name, so re-adding a dropped column's name can never resurrect the
#   old physical data.
#
# The ``column_mapping`` manifest key is a guarded table FEATURE
# (_detect_features): a reader without this code refuses loudly instead
# of surfacing physical names as user columns.


def _col_mapping(manifest: dict) -> dict | None:
    """The manifest's logical->physical column mapping, or None for an
    unmapped table (physical == logical, today's behavior)."""
    m = manifest.get("column_mapping")
    return dict(m) if m else None


def _phys_struct(schema: StructType, mapping: dict | None) -> StructType:
    """The schema as it exists IN THE FILES: logical field names
    replaced by their stable physical names."""
    if not mapping:
        return schema
    return StructType([
        StructField(
            mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
        )
        for f in schema.fields
    ])


def _phys_filters(filters, mapping: dict | None):
    """Conjunctive (col, op, value) filters translated into physical
    column names — the namespace of per-file stats and blooms."""
    if not mapping:
        return list(filters)
    return [(mapping.get(c, c), op, v) for c, op, v in filters]


def _to_logical(df: DataFrame, mapping: dict | None,
                keep: Sequence[str] = ()) -> DataFrame:
    """Rename a physically-named DataFrame back to logical names.
    ``keep`` columns (internal helpers like _metadata projections) pass
    through unrenamed."""
    if not mapping:
        return df
    inv = {p: l for l, p in mapping.items()}
    keep = set(keep)
    return df.select([
        F.col(c) if c in keep else F.col(c).alias(inv.get(c, c))
        for c in df.columns
    ])


def _to_physical(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Rename a logically-named DataFrame to physical names for the
    file boundary."""
    if not mapping:
        return df
    return df.select([
        F.col(c).alias(mapping.get(c, c)) for c in df.columns
    ])


def _relabel_columns(df: DataFrame, map_from: dict | None,
                     map_to: dict | None) -> DataFrame:
    """Rename a DataFrame from one version's LOGICAL names to
    another's, through the stable physical names (cross-version diffs:
    a column renamed between the versions is still ONE column).
    Physicals unknown to the target mapping were DROPPED there and are
    excluded. Mapping is sticky once activated, so map_to None implies
    map_from None (identity)."""
    if not map_from and not map_to:
        return df
    mf = map_from or {}
    inv_to = {p: l for l, p in (map_to or {}).items()}
    if not inv_to:  # defensive: target unmapped -> physical IS logical
        return df.select(
            [F.col(c).alias(mf.get(c, c)) for c in df.columns]
        )
    sel = []
    for c in df.columns:
        p = mf.get(c, c)
        if p in inv_to:
            sel.append(F.col(c).alias(inv_to[p]))
    return df.select(sel)


def _read_snapshot_files(
    spark: SparkSession, paths: list[str], schema: StructType
) -> DataFrame:
    """Read a subset of a version's files under the version's schema.
    Files written before a schema evolution lack the evolved columns;
    the explicit schema null-fills them — exactly the forward-only
    evolution contract."""
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _live_rows(files: list[dict]) -> int:
    """Logical row count of a file set: physical rows minus
    deletion-vector rows."""
    return sum(
        int(f["n_rows"]) - int(f.get("n_dv", 0)) for f in files
    )


def vt_fast_stats(
    table_dir: str,
    cols: Sequence[str] = (),
    version: int | None = None,
) -> dict:
    """Metadata-only aggregates — O(files) driver work, NO data read
    (the 100 TB ``count(*)`` answer): returns

        {"n_rows": <live row count>, "cols": {c: {"min": v, "max": v}
                                              or None}}

    The row count is ALWAYS exact: every commit maintains per-file
    ``n_rows`` minus deletion-vector cardinalities (``_live_rows``),
    so counting a petabyte table is a manifest read. Per-column
    min/max come from the per-file pruning stats and are returned only
    when PROVABLY exact: no surviving file may carry a deletion vector
    (a DV could have removed the extreme row — stored stats are then
    bounds, not answers) and every non-empty file must carry stats for
    the column. Otherwise the column maps to None and the caller falls
    back to a scan (``vt_optimize``/``vt_compact`` materialize DVs,
    restoring exactness). ``cols`` are LOGICAL names (mapping-aware);
    temporal stats come back in their JSON-portable ISO form.

    Reference parity: absent in the reference (no tables at all —
    /root/reference/src/Kinesis/Coordination.hs:51-53); this is
    Delta's metadata-only COUNT/MIN/MAX query optimization re-derived
    on the manifest. ``version`` also accepts a ``txn_snapshot`` pin
    map — metadata aggregates under a cross-table consistent snapshot.

    This IS the engine's aggregate-pushdown surface for the source
    API: Spark 4.1's Python DataSource exposes no aggregate or
    projection hook (only pushFilters), so ``SELECT count(*)`` through
    ``format("vt_table")`` cannot be intercepted — route metadata
    aggregates here (or through ``vt_fast_stats_df`` for SQL
    composition) instead of scanning 100 TB through a Python worker."""
    version, m = _read_base(table_dir, version)
    files = vt_files(table_dir, version)
    mapping = _col_mapping(m) or {}
    dv_anywhere = any(f.get("dv") or f.get("n_dv") for f in files)
    out_cols: dict = {}
    for c in cols:
        pc = mapping.get(c, c)
        lo = hi = None
        exact = not dv_anywhere
        if exact:
            for f in files:
                if int(f.get("n_rows", 0)) == 0:
                    continue
                st = (f.get("stats") or {}).get(pc)
                if not st or st[0] is None or st[1] is None:
                    exact = False
                    break
                if lo is None or st[0] < lo:
                    lo = st[0]
                if hi is None or st[1] > hi:
                    hi = st[1]
        out_cols[c] = {"min": lo, "max": hi} if exact else None
    n = m.get("n_rows")
    return {
        "n_rows": int(n) if n is not None else _live_rows(files),
        "cols": out_cols,
    }


def vt_fast_stats_df(
    spark: SparkSession,
    table_dir: str,
    cols: Sequence[str] = (),
    version: int | None = None,
) -> DataFrame:
    """``vt_fast_stats`` as a ONE-ROW DataFrame — the SQL-composable
    form of the metadata-only aggregates (join it, union it, register
    it as a view): columns ``n_rows`` plus ``min_<c>``/``max_<c>`` per
    requested column (null when not provably exact — the DV fallback
    contract). The single local row costs a manifest read; no data
    file is ever opened, whatever the table size."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
    )

    def _lit_type(v):
        if isinstance(v, bool):
            return BooleanType()
        if isinstance(v, int):
            return LongType()
        if isinstance(v, float):
            return DoubleType()
        return StringType()  # strings + ISO temporals + unknown/None

    stats = vt_fast_stats(table_dir, cols, version=version)
    fields = [StructField("n_rows", LongType(), False)]
    values: list = [int(stats["n_rows"])]
    for c in cols:
        mm = stats["cols"].get(c)
        lo = None if mm is None else mm["min"]
        hi = None if mm is None else mm["max"]
        fields.append(StructField(f"min_{c}", _lit_type(lo), True))
        fields.append(StructField(f"max_{c}", _lit_type(hi), True))
        values.extend([lo, hi])
    return spark.createDataFrame([tuple(values)], StructType(fields))


def _dv_sig(f: dict):
    """Content signature of a file entry for change detection: with
    deletion vectors, path identity no longer implies LOGICAL content
    identity — a DELETE_DV commit keeps the path and changes the DV."""
    return (f["path"], tuple(f.get("dv") or ()), int(f.get("n_dv", 0)))


def _read_snapshot_entries(
    spark: SparkSession, entries: list[dict], schema: StructType,
    mapping: dict | None = None,
) -> DataFrame:
    """Entry-aware snapshot read: files without a deletion vector read
    as one plain scan; DV'd files read with parquet row positions
    (``_metadata.row_index``) and anti-join their DV sidecars — the
    soft-deleted rows vanish without the file ever being rewritten.
    The anti-join key is (file path, row position); AQE broadcasts the
    (small) DV side. ``schema`` is the LOGICAL schema; under an active
    column ``mapping`` the files are read by their stable physical
    names and renamed back (dropped columns are simply absent from the
    read schema — free column pruning)."""
    schema = _phys_struct(schema, mapping)
    plain = [f["path"] for f in entries if not f.get("dv")]
    dvd = [f for f in entries if f.get("dv")]
    df = _read_snapshot_files(spark, plain, schema)
    if not dvd:
        return _to_logical(df, mapping)
    dv_dirs = sorted({d for f in dvd for d in f["dv"]})
    dv = (
        spark.read.parquet(*dv_dirs)
        .select(
            F.col("path").alias("__dv_path"),
            F.col("row_index").alias("__dv_idx"),
        )
    )
    live = (
        spark.read.schema(schema)
        .parquet(*[f["path"] for f in dvd])
        .withColumn(
            "__fp",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
        )
        .withColumn("__ri", F.col("_metadata.row_index"))
    )
    kept = live.join(
        dv,
        (live["__fp"] == dv["__dv_path"]) & (live["__ri"] == dv["__dv_idx"]),
        "left_anti",
    ).drop("__fp", "__ri")
    return _to_logical(df.unionByName(kept), mapping)


def _resolve_pin(table_dir: str, version) -> int | None:
    """``version`` may be a ``txn_snapshot`` pin map: resolve THIS
    table's pin (by the exact dir string, else by absolute path). A map
    lacking the table is an error — silently reading latest would tear
    the very snapshot the map exists to protect."""
    if not isinstance(version, dict):
        return version
    if table_dir in version:
        return version[table_dir]
    ap = os.path.abspath(table_dir)
    for k, v in version.items():
        if os.path.abspath(k) == ap:
            return v
    raise KeyError(
        f"snapshot pin map has no entry for {table_dir}; "
        "txn_snapshot() must be given every table the query reads"
    )


def _read_base(table_dir: str, version) -> tuple[int, dict]:
    """The version and manifest a reader reads — the read-side twin of
    ``_plan_base``: ``version`` (a ``txn_snapshot`` pin map resolves
    to this table's pin), else the latest. A missing table or a
    vacuumed version raises ``FileNotFoundError``, an unsupported
    protocol ``ProtocolError``."""
    version = _resolve_pin(table_dir, version)
    if version is None:
        version = vt_latest_version(table_dir)
        if version < 0:
            raise FileNotFoundError(f"no committed version in {table_dir}")
    manifest = _read_manifest(table_dir, version)
    _check_protocol(manifest, table_dir)
    if manifest.get("vacuumed"):
        raise FileNotFoundError(
            f"version {version} of {table_dir} was vacuumed; earliest "
            "readable version is the oldest non-vacuumed manifest"
        )
    return version, manifest


def vt_read(
    spark: SparkSession, table_dir: str, version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Read the table — latest, ``VERSION AS OF`` when ``version`` is
    given, or ``TIMESTAMP AS OF`` when ``timestamp`` (epoch float or
    datetime) is given (resolved via ``vt_version_at_timestamp``).
    ``version`` also accepts a ``txn_snapshot`` pin map ({table_dir:
    version}) — the cross-table consistent-read shape: every reader in
    the query passes the SAME map and each table resolves its own pin."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = vt_version_at_timestamp(table_dir, timestamp)
    version, manifest = _read_base(table_dir, version)
    return _read_snapshot_entries(
        spark, vt_files(table_dir, version),
        _manifest_schema(manifest, table_dir), _col_mapping(manifest),
    )


def vt_merge(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str | None = None,
    expected_version: int | None = None,
    batch_id: int | None = None,
    merge_schema: bool = False,
    check: str | None = None,
    max_prune_keys: int = _PRUNE_MAX_KEYS,
    txn=None,
) -> int:
    """MERGE INTO, file-level copy-on-write, optimistically-concurrent.

    ``txn`` (a ``VtTransaction``): run all the data work now — join,
    file writes, stats, constraint validation — but WITHHOLD the
    manifest commit, handing the staged pieces to the transaction's
    atomic multi-table finalize (operators/txn.py). Returns the version
    the merge plans to take; the final number may shift if disjoint
    writers land before the transaction commits.

    The change batch is evaluated ONCE: up to ``max_prune_keys`` ROWS
    are collected to the driver as Arrow and re-wrapped as a local
    relation, which yields the key set and feeds the write, so a small
    merge is three Spark jobs: that collect, the broadcast of its keys
    and one scan, anti-join and union write. A larger batch (or a type
    Arrow cannot carry) keeps the source frame, is pruned by the coarser
    global-interval test and is evaluated again by the write — the
    documented fallback. Every ``op_col`` value must be
    'U', 'I' or 'D' (``cdc.apply_changes``); any other, null included,
    fails the merge before a version is committed.

    Reads the latest manifest, REWRITES ONLY the files whose per-file
    key min/max contains some ACTUAL change-batch key (key-set pruning).
    Every other file is carried into the new manifest by reference —
    byte-identical on disk — and the next version is committed. At 100
    TB this is the difference between an hourly merge writing a few
    files and a full-table rewrite per commit — including for the
    common CDC shape where one batch touches scattered keys across the
    whole key domain.

    ``expected_version`` pins the version the merge first PLANS
    against. Its commit goes through Delta-style conflict detection
    (round 6): if other commits landed in between, each intervening
    commit's file delta (``_commit_delta``) is checked against this
    merge's read set — compatible iff no intervening commit REMOVED a
    file this merge read/rewrote, ADDED a file whose key stats admit
    one of this merge's change keys, or changed the table metadata
    (schema, column mapping, constraints, type widening). Disjoint
    writers (the common multi-writer shape: different key ranges of the
    same table) then BOTH commit, the loser without re-executing its
    join — it re-derives its carried set from the winner's manifest and
    takes the next version. On overlap the staged files are removed and
    the merge RE-PLANS at the latest version inside
    ``_commit_optimistic`` (the driver-held batch is reused; the
    over-bound path evaluates ``changes`` again, so batches must be
    deterministic): overlapping merges commit the table the serial
    order gives. Under ``txn`` an overlap still aborts at finalize.

    ``merge_schema=True`` is Delta's schema-evolution-on-MERGE: columns
    present in ``changes`` but not in the snapshot are ADDED (null for
    every pre-existing row); without it an unexpected column raises —
    silent column drops are how pipelines lose data. Old versions keep
    their old schema (evolution is forward-only, like the table
    formats).

    ``check`` is a CHECK-constraint SQL predicate validated over the
    rows WRITTEN by this merge (the rewritten files — Delta's
    constraint contract: existing data was validated by the commit that
    wrote it) BEFORE the version is committed: any violating row aborts
    the merge — the staged files are removed, no version is committed,
    the table is untouched. The merge join executes ONCE: the check
    runs against the files already written, not by re-executing the
    plan.
    """
    base = _plan_base(table_dir, expected_version)
    # the once-per-call half: read the change batch (or its key
    # intervals, over the row bound); every plan below reuses it
    local = _local_change_batch(spark, changes, keys, max_prune_keys)
    if local is not None:
        changes, key_sets = local
        n_changes = int(key_sets["n"])
    else:  # > max_prune_keys rows: interval fallback
        n_changes, chg_stats = _change_key_stats(changes, keys)

    def plan(version: int) -> dict:
        manifest = _read_manifest(table_dir, version)
        _check_protocol(manifest, table_dir, write=True)
        schema = _manifest_schema(manifest, table_dir)
        reserved = {op_col, seq_col}
        extra = [
            f for f in changes.schema.fields
            if f.name not in schema.names and f.name not in reserved
        ]
        if extra and not merge_schema:
            raise ValueError(
                f"vt_merge: changes carry new columns "
                f"{[f.name for f in extra]}; pass merge_schema=True to "
                "evolve the table schema (refusing to silently drop them)"
            )
        evolved = StructType(list(schema.fields) + list(extra))
        mapping = _col_mapping(manifest)
        if mapping is not None:
            # columns added after mapping activation get FRESH physical
            # names: re-adding a dropped column's logical name must
            # never resurrect the old physical data still in the files
            for f in extra:
                mapping[f.name] = f"col_{uuid.uuid4().hex[:8]}"

        # the change batch's key statistics are logical; per-file stats
        # are PHYSICAL — translate through THIS version's mapping
        def _p(c):
            return mapping.get(c, c) if mapping else c

        # file pruning (key-SET, not interval): keep a file only if some
        # ACTUAL change key falls inside its [min,max] — a batch
        # touching both key extremes of a clustered table rewrites two
        # files, where an interval test intersects every file and
        # degrades to a full-snapshot rewrite. The same test decides
        # whether a concurrently ADDED file conflicts.
        if not n_changes:
            def hits(fe: dict) -> bool:
                return False
        elif local is not None:
            pkey_cols = {_p(c): v for c, v in key_sets["cols"].items()}

            def hits(fe: dict) -> bool:
                return _file_hits_key_set(fe, pkey_cols)
        else:
            pstats = {_p(c): v for c, v in chg_stats.items()}
            pkeys = [_p(k) for k in keys]

            def hits(fe: dict) -> bool:
                return _file_intersects(fe, pstats, pkeys)

        parent_files = vt_files(table_dir, version)
        touched = [f for f in parent_files if hits(f)]
        t_paths = {f["path"] for f in touched}
        snapshot = _read_snapshot_entries(spark, touched, evolved, mapping)
        merged = apply_changes(
            snapshot, changes, keys=keys, op_col=op_col, seq_col=seq_col
        )
        # metadata row bound: the merge output holds at most the touched
        # files' live rows plus one row per change — both known WITHOUT
        # reading data, so provably-tiny merges (the per-epoch streaming
        # shape) take the fused single-job write
        data_dir, new_files = _write_files_with_stats(
            merged, table_dir, version + 1, mapping,
            row_bound=_live_rows(touched) + n_changes,
        )
        # validate STORED constraints + the per-call CHECK from the
        # files already written: the merge join ran exactly once (in the
        # write); a violation unstages and aborts
        _validate_written(
            spark, new_files, evolved, mapping, _table_constraints(manifest),
            check, data_dir, "vt_merge",
        )
        base_meta = _table_meta(manifest)
        meta = {
            **base_meta, "schema": evolved.jsonValue(),
            "column_mapping": mapping,
        }

        def mk_manifest(carried_now: list[dict], v: int) -> dict:
            # batch_id: the streaming epoch ledger — foreachBatch
            # idempotence (Delta's txnAppId/txnVersion discipline): a
            # replayed epoch finds its batch_id already committed, skips
            return _next_manifest(
                meta, "MERGE", v, carried_now, new_files, t_paths,
                data_dir, batch_id=None if batch_id is None else int(batch_id),
            )

        return _staged(
            version, base_meta, t_paths, data_dir, parent_files,
            mk_manifest, hits,
        )

    return _stage_or_commit(txn, table_dir, "vt_merge", plan(base), plan)


def _plan_base(table_dir: str, expected_version: int | None) -> int:
    """The version a writer first plans against: ``expected_version``
    when the caller pins one, else the latest. A missing table raises
    ``FileNotFoundError``, a version past the latest
    ``VersionConflictError``."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    if expected_version is None:
        return latest
    if expected_version > latest:
        raise VersionConflictError(
            f"expected version {expected_version}, table is at {latest}"
        )
    return expected_version


def _staged(base: int, base_meta: dict, t_paths: set[str],
            data_dir: str | None, parent_files: list[dict],
            mk_manifest, added_hits) -> dict:
    """A writer's commit, planned at ``base`` under ``base_meta``:
    what ``_commit_optimistic`` and a transaction's finalize commit."""
    return {
        "validated_to": base,
        "base_meta": base_meta,
        "t_paths": t_paths,
        "data_dir": data_dir,
        "carried": [f for f in parent_files if f["path"] not in t_paths],
        "mk_manifest": mk_manifest,
        "added_hits": added_hits,
    }


def _stage_or_commit(
    txn, table_dir: str, op_name: str, staged: dict, replan=None
) -> int:
    """The tail of every data-writing operation: hand the ``_staged``
    pieces to ``txn``'s atomic finalize (operators/txn.py, where a
    conflict aborts the transaction), or commit them now through
    ``_commit_optimistic``. Returns the version taken (planned, under a
    transaction)."""
    if txn is not None:
        txn._add_staged({**staged, "table_dir": table_dir})
        return staged["validated_to"] + 1
    return _commit_optimistic(table_dir, op_name, staged, replan)


def _commit_optimistic(
    table_dir: str, op_name: str, staged: dict, replan=None
) -> int:
    """The one loop that decides what a writer does after losing a
    commit race (Delta-style optimistic concurrency). It commits
    ``staged`` (a ``_staged`` dict) at the next version; after a lost
    race, a winner holding this commit's ``batch_id`` (a replayed
    epoch) ends it without committing; a winner ``_first_conflict``
    finds disjoint is co-committed with (carried files re-derived, no
    work re-run); a conflict removes the staged files and re-plans
    through ``replan(latest)`` — every data writer (merge, predicate
    DML, DELETE_DV) and DDL passes one, so the commit lands what the
    serial order gives (None = nothing left to commit). Without a
    ``replan`` (OPTIMIZE, CLUSTER, COMPACT: maintenance its caller
    re-runs) the conflict raises. A live transaction lock is not a
    race: ``_commit``'s barrier waits it out, and its
    ``TableLockedError`` propagates at once, with no re-plan. All
    attempts share ``_COMMIT_MAX_SPINS``, so starvation surfaces
    instead of hanging."""

    def drop_staged():
        if staged["data_dir"]:
            shutil.rmtree(staged["data_dir"], ignore_errors=True)

    for _spin in range(_COMMIT_MAX_SPINS):
        version = staged["validated_to"] + 1
        manifest = staged["mk_manifest"](staged["carried"], version)
        try:
            _commit(table_dir, version, manifest)
            return version
        except TableLockedError:
            drop_staged()
            raise
        except VersionConflictError:
            pass
        latest = vt_latest_version(table_dir)
        if "batch_id" in manifest and manifest["batch_id"] in (
            _committed_batch_ids_upto(table_dir, latest)
        ):
            drop_staged()
            return latest
        reason = _first_conflict(
            table_dir, staged["validated_to"], latest, staged["t_paths"],
            staged["added_hits"], staged["base_meta"],
        )
        if reason is None:
            staged["carried"] = [
                f for f in vt_files(table_dir, latest)
                if f["path"] not in staged["t_paths"]
            ]
            staged["validated_to"] = latest
            continue
        drop_staged()
        if replan is None:
            raise VersionConflictError(
                f"{op_name} on {table_dir}: {reason}; rebase and retry"
            )
        staged = replan(latest)
        if staged is None:
            return latest
    drop_staged()
    raise VersionConflictError(
        f"{op_name} on {table_dir}: starved by {_COMMIT_MAX_SPINS} "
        "consecutive commit races; serialize writers"
    )


def vt_version_at_timestamp(table_dir: str, ts) -> int:
    """``TIMESTAMP AS OF`` resolution (Delta's rule): the LATEST
    READABLE version whose commit time is at or before ``ts``. Commit
    time is the ``committed_at`` the manifest recorded at its atomic
    creation; manifests that predate the field fall back to file mtime
    (immutable unless VACUUM rewrote them — but vacuumed versions are
    skipped here, exactly as Delta refuses them as travel targets).
    ``ts`` is a unix epoch float or a datetime. Raises when ``ts``
    predates the earliest readable commit — the Delta error contract —
    and clamps to the latest version when ``ts`` is in the future."""
    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    chosen = None
    prev_eff = float("-inf")
    for v in range(latest + 1):
        m = _read_manifest(table_dir, v)
        if m.get("vacuumed"):
            continue  # not a readable travel target; its original
            # commit time was lost to the tombstone rewrite anyway
        t = m.get("committed_at")
        if t is None:
            t = os.stat(_manifest_path(table_dir, v)).st_mtime
        # clamp to monotone across versions (Delta's commit-time
        # adjustment): a clock step-back between commits (NTP,
        # multi-host shared FS) must not make "latest version with
        # t <= ts" skip an earlier-stamped LATER commit
        t = max(t, prev_eff)
        prev_eff = t
        if t <= ts:
            chosen = v
    if chosen is None:
        raise ValueError(
            f"timestamp {ts} predates the earliest readable commit of "
            f"{table_dir}"
        )
    return chosen


def vt_history(spark: SparkSession, table_dir: str,
               metrics: bool = False) -> DataFrame:
    """(version, operation, n_rows) per committed version — the DESCRIBE
    HISTORY surface (no wall-clock columns: the gate needs determinism).
    ``metrics=True`` appends Delta's operationMetrics analogues —
    n_files (the version's total file count), n_added_files,
    n_removed_files (the commit's file delta) — all derived from the
    manifest log, null for vacuumed versions. Layout-dependent, so
    deliberately NOT part of the gated default schema."""
    latest = vt_latest_version(table_dir)
    rows = []
    for v in range(latest + 1):
        m = _read_manifest(table_dir, v)
        base = (m["version"], m["operation"], m["n_rows"])
        if metrics and m.get("vacuumed"):
            base += (None, None, None)
        elif metrics:
            added, removed = _commit_delta(table_dir, v)
            base += (len(vt_files(table_dir, v)), len(added), len(removed))
        rows.append(base)
    schema = "version int, operation string, n_rows long"
    if metrics:
        schema += (", n_files int, n_added_files int, n_removed_files int")
    return spark.createDataFrame(rows, schema)


#: Z-order sampling knobs: enough sample rows for stable boundaries at
#: any table size, and a bin-resolution cap (2^8 bins/column) — file
#: pruning only needs resolution ~ the file count of one OPTIMIZE job,
#: and the bin expression costs O(boundaries) comparisons per row.
_ZORDER_SAMPLE_ROWS = 200_000
_ZORDER_MAX_BITS = 8


def _zorder_norm(df: DataFrame, c: str):
    """An order-preserving primitive embedding of any stat-able column
    type: numerics/dates/timestamps to double (precision loss past 2^53
    only coarsens bin boundaries, never breaks ordering of the sort
    key), strings kept as strings."""
    dt = df.schema[c].dataType
    col = F.col(c)
    if isinstance(dt, DateType):
        return F.unix_date(col).cast("double"), True
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return col.cast("timestamp").cast("double"), True
    if isinstance(dt, NumericType):
        return col.cast("double"), True
    return col.cast("string"), False


def _zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    n_rows: int | None = None,
):
    """Morton (Z-order) interleave of the columns' sampled rank-BIN
    spaces — pure column arithmetic, no UDF, no global sort:

    1. per column, values map to quantile bins: approxQuantile (one
       distributed Greenwald–Khanna pass over all numeric/date/
       timestamp columns at once) or a seeded row sample (strings)
       yields ``2^bits - 1`` boundaries; the row's bin is the count of
       boundaries <= its value (a literal-array filter — JVM-side,
       O(boundaries) per row). Rank bins, so skew and type don't
       matter — the standard Z-order implementation trade (sampled
       boundaries instead of exact ranks), replacing round 5's
       percent_rank over a partition-less global window that funneled
       the whole table through one task;
    2. interleave the bin bits of all columns into one long. The
       per-column width is clamped so every shift lands strictly below
       bit 63: Java's shiftleft masks shifts mod 64, so the old 16-bit
       default at >= 4 columns silently collided different columns'
       bits (and at 4 columns reached the sign bit, sorting those rows
       first) — round-6 ADVICE fix.

    Sorting by the interleaved key gives every file a tight min/max
    range on EVERY participating column simultaneously — the property
    range clustering only delivers for the leading column."""
    n = len(cols)
    bits = max(1, min(bits, 63 // n, _ZORDER_MAX_BITS))
    n_bounds = (1 << bits) - 1

    norm_exprs: dict[str, object] = {}
    numeric_cols: list[str] = []
    string_cols: list[str] = []
    for c in cols:
        e, is_num = _zorder_norm(df, c)
        norm_exprs[c] = e
        (numeric_cols if is_num else string_cols).append(c)

    ndf = df.select(
        *[norm_exprs[c].alias(f"__zn_{c}") for c in cols]
    )
    probs = [(j + 1) / (n_bounds + 1) for j in range(n_bounds)]
    boundaries: dict[str, list] = {}
    if numeric_cols:
        qs = ndf.stat.approxQuantile(
            [f"__zn_{c}" for c in numeric_cols], probs, 0.001
        )
        for c, q in zip(numeric_cols, qs):
            boundaries[c] = sorted({v for v in q if v is not None})
    if string_cols:
        if n_rows is None:
            n_rows = df.count()
        frac = min(1.0, _ZORDER_SAMPLE_ROWS / max(int(n_rows), 1))
        samp = (
            ndf.select(*[f"__zn_{c}" for c in string_cols])
            .sample(fraction=frac, seed=2931)
            .collect()
        )
        for c in string_cols:
            vals = sorted(
                r[f"__zn_{c}"] for r in samp if r[f"__zn_{c}"] is not None
            )
            if vals:
                step = max(1, len(vals) // (n_bounds + 1))
                boundaries[c] = sorted(
                    {vals[min(j * step, len(vals) - 1)]
                     for j in range(1, n_bounds + 1)}
                )
            else:
                boundaries[c] = []

    ranked = df
    rcols = []
    for c in cols:
        rc = f"__zr_{c}"
        bnds = boundaries.get(c) or []
        if not bnds:
            binned = F.lit(0).cast("long")  # constant/all-null column
        else:
            e = norm_exprs[c]
            # bin = #boundaries <= value; null value -> every predicate
            # null -> bin 0 (nulls-first, matching ascending sort order)
            binned = F.size(
                F.filter(F.lit(bnds), lambda b: b <= e)
            ).cast("long")
        ranked = ranked.withColumn(rc, binned)
        rcols.append(rc)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, rc in enumerate(rcols):
            z = z + F.shiftleft(
                F.shiftright(F.col(rc), b).bitwiseAND(F.lit(1)),
                b * n + i,  # clamped: always < 63 (sign bit untouched)
            ).cast("long")
    return ranked.withColumn("__zorder", z), rcols


def _cluster_rows(
    df: DataFrame, cols: Sequence[str], zorder: bool, n_rows: int
) -> DataFrame:
    """``df`` arranged for a clustered rewrite: ordered by the Morton
    key of ``cols`` (``zorder`` with more than one column) or range-
    partitioned on them. sortWithinPartitions matters even with range
    partitioning: AQE can coalesce a small range shuffle to fewer
    partitions, and maxRecordsPerFile then chops each task's UNSORTED
    stream into overlapping-range files — the local sort keeps every
    emitted file a contiguous key span. ``n_rows`` (the live rows read)
    sizes the string-column sample of the Z-order boundaries."""
    if zorder and len(cols) > 1:
        zdf, rcols = _zorder_key(df, cols, n_rows=n_rows)
        return (
            zdf.repartitionByRange(F.col("__zorder"))
            .sortWithinPartitions(F.col("__zorder"))
            .drop("__zorder", *rcols)
        )
    by = [F.col(c) for c in cols]
    return df.repartitionByRange(*by).sortWithinPartitions(*by)


def _rewrite_layout(
    spark: SparkSession,
    table_dir: str,
    op_name: str,
    operation: str,
    expected_version: int | None,
    txn,
    pick,
    arrange,
    max_records_per_file: int | None,
    cluster_cols: Sequence[str] | None = None,
    full: bool = False,
) -> int:
    """The one body of OPTIMIZE, CLUSTER and COMPACT: commit the rows of
    the files ``pick(parent_files, pcols)`` selects, unchanged, in the
    layout ``arrange(df, picked)`` gives them (``pcols``: the PHYSICAL
    ``cluster_cols``; a None pick means no debt — nothing is written or
    committed and the latest version is returned). The rewrite goes
    through ``_write_files_with_stats`` like every other writer, always
    on the parallel path (a layout rewrite is as big as what it reads),
    so a failed write leaves no staged dir. ``cluster_cols`` stamps
    every new file ``clustered`` (physical names, stable across
    renames), which lets ``vt_cluster_incremental`` tell clustered files
    from the debt. Commits never re-plan: a conflict raises
    ``VersionConflictError`` and the caller re-runs the maintenance.
    ``full`` is OPTIMIZE's rule: a full file list, and ANY concurrently
    added file conflicts (its rows would vanish from the rewrite);
    otherwise layout never conflicts with content — only a commit that
    removed a picked file or changed the table metadata does, so
    disjoint writers co-commit."""
    base = _plan_base(table_dir, expected_version)
    manifest = _read_manifest(table_dir, base)
    _check_protocol(manifest, table_dir, write=True)
    mapping = _col_mapping(manifest)
    pcols = None
    if cluster_cols is not None:
        pcols = [(mapping or {}).get(c, c) for c in cluster_cols]
    parent_files = vt_files(table_dir, base)
    picked = pick(parent_files, pcols)
    if picked is None:
        return vt_latest_version(table_dir)
    df = _read_snapshot_entries(
        spark, picked, _manifest_schema(manifest, table_dir), mapping
    )
    data_dir, files = _write_files_with_stats(
        arrange(df, picked), table_dir, base + 1, mapping,
        max_records_per_file=max_records_per_file,
    )
    if pcols is not None:
        for f in files:
            f["clustered"] = pcols
    t_paths = {f["path"] for f in picked}
    base_meta = _table_meta(manifest)
    return _stage_or_commit(txn, table_dir, op_name, _staged(
        base, base_meta, t_paths, data_dir, parent_files,
        lambda carried_now, version: _next_manifest(
            base_meta, operation, version, carried_now, files,
            None if full else t_paths, data_dir,
        ),
        lambda fe: full,
    ))


def vt_optimize(
    spark: SparkSession,
    table_dir: str,
    cluster_cols: Sequence[str],
    max_records_per_file: int = 65536,
    zorder: bool = False,
    txn=None,
) -> int:
    """OPTIMIZE: rewrite the latest snapshot clustered on
    ``cluster_cols`` and commit it as a new version with IDENTICAL rows
    — the table-maintenance half of a lakehouse (compaction + layout),
    distinct from MERGE which changes data.

    Default (range clustering): disjoint per-file ranges on the LEADING
    column — what makes subsequent merges/scans on that column prune to
    a few files. ``zorder=True`` (Delta's OPTIMIZE ZORDER BY): rows are
    ordered by the Morton interleave of the columns' rank spaces, so
    every file gets a tight min/max range on EVERY cluster column —
    ``vt_scan`` then prunes on ANY of them, not just the first (pinned
    in tests/test_round5.py: a filter on the second column alone opens
    a strict subset of files after zorder, but not after plain range
    clustering). Either way the per-file stats land in the manifest and
    old versions stay readable — OPTIMIZE is just another immutable
    file set.

    The rewrite reads every file, so it has the strictest conflict
    rules of the three layout rewrites (``_rewrite_layout``): ANY
    concurrent commit makes it raise ``VersionConflictError``."""
    return _rewrite_layout(
        spark, table_dir, "vt_optimize", "OPTIMIZE", None, txn,
        lambda files, _pcols: files,
        lambda df, picked: _cluster_rows(
            df, cluster_cols, zorder, _live_rows(picked)
        ),
        max_records_per_file, cluster_cols, full=True,
    )


def vt_cluster_incremental(
    spark: SparkSession,
    table_dir: str,
    cluster_cols: Sequence[str],
    max_records_per_file: int | None = None,
    expected_version: int | None = None,
    txn=None,
) -> int:
    """Liquid-clustering-style incremental OPTIMIZE: rewrite ONLY the
    files not yet clustered on ``cluster_cols`` (merge/DML rewrites and
    fresh appends — the clustering DEBT), carrying every
    already-clustered file by reference. Cost scales with the debt,
    never the table: at 100 TB you never re-sort 100 TB because an
    hourly merge landed, you sweep the new files into their own
    clustered run. The table then holds a few clustered RUNS, each a
    set of disjoint key spans — a point lookup opens at most one file
    PER RUN (the LSM trade Databricks' liquid clustering makes), and a
    periodic full ``vt_optimize`` collapses the runs to one. More than
    one column always clusters by Z-order.

    Commits through the shared disjoint-commit conflict resolution with
    an always-false added-file test (layout never conflicts with
    content): concurrent merges on other files co-commit; a commit that
    removed one of the debt files, or changed the table metadata, makes
    it raise ``VersionConflictError`` (the caller re-runs it; there is
    no re-plan). Returns the new version, or the current latest when
    there is no debt."""
    return _rewrite_layout(
        spark, table_dir, "vt_cluster_incremental", "CLUSTER",
        expected_version, txn,
        lambda files, pcols: [
            f for f in files if f.get("clustered") != pcols
        ] or None,
        lambda df, debt: _cluster_rows(
            df, cluster_cols, True, _live_rows(debt)
        ),
        max_records_per_file, cluster_cols,
    )


def vt_compact(
    spark: SparkSession,
    table_dir: str,
    min_rows_per_file: int = 1 << 20,
    max_records_per_file: int | None = None,
    expected_version: int | None = None,
    txn=None,
) -> int:
    """Incremental OPTIMIZE (Delta's bin-packing compaction): coalesce
    ONLY the files below ``min_rows_per_file`` into full-size files and
    carry every already-large file forward by reference — at 100 TB you
    never rewrite the whole table to fix the small-file debt a
    streaming MERGE sink accretes; you sweep the tail. Compaction reads
    exactly the small files, so its cost scales with the DEBT, not the
    table; the new files carry no ``clustered`` stamp.

    Commits through the shared disjoint-commit conflict resolution with
    an always-false added-file test: a concurrent MERGE that added or
    rewrote OTHER files co-commits with the compaction (the compaction
    re-derives its carried set from the winner), and only a commit that
    removed one of the small files being compacted raises
    ``VersionConflictError`` — exactly Delta's OPTIMIZE-vs-writer
    concurrency story. Returns the new version (or the current latest
    when <2 small files exist — nothing to do, no commit)."""
    target = max(1, min_rows_per_file)

    def pick(files, _pcols):
        small = [f for f in files if f["n_rows"] < min_rows_per_file]
        return small if len(small) >= 2 else None

    def arrange(df, small):
        n_out = -(-sum(f["n_rows"] for f in small) // target)  # ceil
        return df.coalesce(max(1, n_out))

    return _rewrite_layout(
        spark, table_dir, "vt_compact", "COMPACT", expected_version, txn,
        pick, arrange, max_records_per_file,
    )


def vt_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    keys: Sequence[str],
) -> DataFrame:
    """Change data feed between two versions: every row labeled
    ``_change_type`` in {insert, delete, update_preimage,
    update_postimage} (Delta CDF's row vocabulary), derived by a
    key-keyed full-outer join of the two snapshots with null-safe value
    comparison.

    FILE-DIFF PRUNING: files present (by path) in BOTH manifests are
    identical immutable bytes, so their rows diff to nothing — only
    each side's exclusive files are read and joined. After a pruned
    merge that touched 2 of 10,000 files, the CDF reads 2 + 2 files,
    not the table twice. Columns added by schema evolution between the
    versions are null on the 'before' side (the union-schema diff, so
    a row whose only change is in the evolved column IS reported)."""
    keys = list(keys)
    m_a = _read_manifest(table_dir, v_from)
    m_b = _read_manifest(table_dir, v_to)
    _check_protocol(m_a, table_dir)
    _check_protocol(m_b, table_dir)
    schema_a = _manifest_schema(m_a, table_dir)
    schema_b = _manifest_schema(m_b, table_dir)
    files_a = vt_files(table_dir, v_from)
    files_b = vt_files(table_dir, v_to)
    map_a = _col_mapping(m_a)
    map_b = _col_mapping(m_b)
    # exclusivity is by CONTENT signature, not path: a DELETE_DV commit
    # keeps the path and changes only the deletion vector, and its
    # soft-deleted rows must surface as CDF deletes
    common = {_dv_sig(f) for f in files_a} & {_dv_sig(f) for f in files_b}
    before = _read_snapshot_entries(
        spark, [f for f in files_a if _dv_sig(f) not in common],
        schema_a, map_a,
    )
    after = _read_snapshot_entries(
        spark, [f for f in files_b if _dv_sig(f) not in common],
        schema_b, map_b,
    )
    # the diff is presented under the TO version's logical names: a
    # column renamed between the versions is still one (physical)
    # column and must not diff as dropped+added; keys are v_to names
    before = _relabel_columns(before, map_a, map_b)
    # union the two schemas (null-padding the missing side) so forward
    # evolution between v_from and v_to is diffed, not dropped
    for f in after.schema.fields:
        if f.name not in before.columns:
            before = before.withColumn(f.name, F.lit(None).cast(f.dataType))
    for f in before.schema.fields:
        if f.name not in after.columns:
            after = after.withColumn(f.name, F.lit(None).cast(f.dataType))
    value_cols = [c for c in before.columns if c not in keys]
    a = before.select(
        *keys, *[F.col(c).alias(f"__a_{c}") for c in value_cols],
        F.lit(1).alias("__in_a"),
    )
    b = after.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in value_cols],
        F.lit(1).alias("__in_b"),
    )
    j = a.join(b, keys, "full_outer")
    differs = None
    for c in value_cols:
        d = ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        differs = d if differs is None else (differs | d)

    def image(side: str, label: str) -> DataFrame:
        return sel.select(
            F.lit(label).alias("_change_type"),
            *keys,
            *[F.col(f"__{side}_{c}").alias(c) for c in value_cols],
        )

    out = []
    sel = j.filter(F.col("__in_a").isNull())
    out.append(image("b", "insert"))
    sel = j.filter(F.col("__in_b").isNull())
    out.append(image("a", "delete"))
    upd = j.filter(
        F.col("__in_a").isNotNull() & F.col("__in_b").isNotNull() & differs
    )
    sel = upd
    out.append(image("a", "update_preimage"))
    out.append(image("b", "update_postimage"))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def _committed_batch_ids_upto(table_dir: str, version: int) -> set[int]:
    """Every batch_id committed at or below ``version``: walk backward
    accumulating per-commit ``batch_id`` fields until a manifest with a
    consolidated ``batch_ids`` ledger (written at checkpoint commits)
    absorbs the rest — O(checkpoint interval) reads on round-6 tables,
    full-history fallback on older ones."""
    out: set[int] = set()
    for v in range(version, -1, -1):
        m = _read_manifest(table_dir, v)
        if "batch_id" in m:
            out.add(int(m["batch_id"]))
        if "batch_ids" in m:
            out.update(int(b) for b in m["batch_ids"])
            break
    return out


def vt_committed_batch_ids(table_dir: str) -> set[int]:
    """Streaming-epoch ledger: every batch_id a committed version
    carries (see ``vt_foreach_batch_merger``)."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        return set()
    return _committed_batch_ids_upto(table_dir, latest)


def vt_foreach_batch_merger(
    spark: SparkSession,
    table_dir: str,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str | None = None,
):
    """foreachBatch sink that MERGEs each micro-batch into the versioned
    table EXACTLY ONCE: the epoch's batch_id is written into the commit
    manifest, and a replayed epoch (at-least-once delivery after a
    restart) finds its batch_id in the ledger and skips — Delta's
    txnAppId/txnVersion idempotence discipline on this layer, and the
    engine-side version of the reference's ack/checkpoint protocol
    (src/Kinesis/Coordination.hs:329-337: progress recorded durably so
    redelivery cannot double-apply). An OPTIMIZE, DML or other merge
    that lands between an epoch's write and its commit makes the merge
    re-plan (``vt_merge``), not fail the epoch.

    Usage: ``stream.writeStream.foreachBatch(vt_foreach_batch_merger(
    spark, table, keys=["k"], seq_col="seq"))``.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in vt_committed_batch_ids(table_dir):
            return  # replayed epoch: already merged
        vt_merge(
            spark,
            table_dir,
            batch_df,
            keys=keys,
            op_col=op_col,
            seq_col=seq_col,
            batch_id=int(batch_id),
        )

    return apply_batch


def _version_file_paths(table_dir: str, version: int) -> list[str]:
    return [f["path"] for f in vt_files(table_dir, version)]


#: a staged sink file older than this is an orphan from a task attempt
#: that died before messaging its path back (vt_writer): no manifest
#: will ever reference it, and nothing else sweeps it. Generous by
#: default — a LIVE epoch's staged files only exist between write() and
#: commit(), far under an hour.
_STAGE_TTL_SECONDS = 3600.0

#: undecided-transaction staging registrations older than this are
#: presumed leaked (the txn's process died BEFORE ever taking a lock,
#: so no lease-breaker will ever decide it) and stop protecting their
#: artifact dirs. Generous: a healthy long transaction decides (and
#: drops its registration) at commit/abort, whatever its duration.
_TXN_STAGING_GRACE_SECONDS = 86_400.0


def _txn_protected_paths(table_dir: str,
                         grace: float = _TXN_STAGING_GRACE_SECONDS
                         ) -> set[str]:
    """Artifact dirs staged by UNDECIDED transactions — the vacuum
    sweeps must skip these: a transaction that stages a merge/append
    and stays open past the stage TTL (large joins, slow pipelines)
    would otherwise have its files deleted underneath it, and the later
    commit would land manifests referencing nothing. A DECIDED
    registration (its decision file reads committed/aborted) is stale
    debris — dropped here, its artifacts fall to the normal sweeps."""
    reg_dir = os.path.join(table_dir, "_txn_staging")
    if not os.path.isdir(reg_dir):
        return set()
    protected: set[str] = set()
    now = time.time()
    for name in os.listdir(reg_dir):
        if not name.endswith(".json"):
            continue
        rp = os.path.join(reg_dir, name)
        try:
            with open(rp) as fh:
                reg = json.load(fh)
        except (OSError, ValueError):
            continue  # torn/vanished: registrations are tmp+renamed,
            # so this is a concurrent drop — nothing to protect
        state = None
        try:
            with open(reg.get("decision", "")) as fh:
                state = json.load(fh).get("state")
        except (OSError, ValueError):
            pass  # no decision file: in-flight (pre-decision) txn
        if state in ("committed", "aborted"):
            # decided: finalize/rollback owns the artifacts now
            try:
                os.remove(rp)
            except OSError:
                pass
            continue
        if now - float(reg.get("ts", now)) > max(0.0, grace):
            # leaked registration (stager died before locking — nobody
            # will ever decide it): stop protecting, reclaim next sweep
            try:
                os.remove(rp)
            except OSError:
                pass
            continue
        if reg.get("path"):
            protected.add(os.path.abspath(reg["path"]))
    return protected


def vt_vacuum(
    table_dir: str, retain_last: int = 2,
    stage_ttl_seconds: float = _STAGE_TTL_SECONDS,
) -> list[int]:
    """VACUUM: reclaim the storage of versions older than the last
    ``retain_last`` — FILE-level reference counting: a file is deleted
    only when (a) no retained version references it (carry-forward and
    RESTORE share files across versions), and (b) it lives under THIS
    table's directory (shallow-cloned manifests reference the SOURCE
    table's files — ownership is by path, so a clone's vacuum can never
    delete source data, whatever flags its manifests carry). An aged
    version whose files ALL survive (fully shared with the retained
    tail) stays readable; one that lost any file is marked ``vacuumed``
    — history remains auditable, and reading it raises a clear error
    instead of a missing-file stack (the Delta VACUUM contract). The
    latest version can never be vacuumed. Returns the vacuumed version
    numbers."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    keep_from = max(0, latest - max(1, retain_last) + 1)
    table_root = os.path.abspath(table_dir) + os.sep
    referenced_files: set[str] = set()
    referenced_dirs: set[str] = set()
    for v in range(keep_from, latest + 1):
        fl = _version_file_paths(table_dir, v)
        referenced_files.update(fl)
        referenced_dirs.update(os.path.dirname(p) for p in fl)
    vacuumed = []
    for v in range(keep_from):
        m = _read_manifest(table_dir, v)
        if m.get("vacuumed"):
            continue
        if m.get("external"):
            # shallow-cloned version: the data files belong to the
            # SOURCE table — never delete, never mark (the path guard
            # below would also refuse, but skipping keeps it readable)
            continue
        fl = _version_file_paths(table_dir, v)
        deletable = [
            p for p in fl
            if p not in referenced_files
            and os.path.abspath(p).startswith(table_root)
            and os.path.exists(p)
        ]
        missing = [p for p in fl if not os.path.exists(p)]
        if not deletable and not missing:
            # every file is shared with the retained tail (or
            # source-owned): the version costs nothing to keep readable,
            # so keep it readable
            continue
        for p in deletable:
            os.remove(p)
        # drop shell directories that no longer hold any data file
        for d in {os.path.dirname(p) for p in deletable}:
            if (
                os.path.abspath(d).startswith(table_root)
                and d not in referenced_dirs
                and os.path.isdir(d)
                and not any(n.endswith(".parquet") for n in os.listdir(d))
            ):
                shutil.rmtree(d, ignore_errors=True)
        m["vacuumed"] = True
        # single-writer metadata update (vacuum is a maintenance job,
        # not a concurrent commit): rewrite in place via temp + rename
        tmp = _manifest_path(table_dir, v) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, _manifest_path(table_dir, v))
        vacuumed.append(v)
    # sweep bloom sidecars no RETAINED version references (aged manifests
    # may still name them, but their file entries are already
    # unreachable once the version is vacuumed) — same ownership rule as
    # data files: only sidecars under THIS table's dir are deleted
    sc_dir = _bloom_sidecar_dir(table_dir)
    if os.path.isdir(sc_dir):
        referenced_sc = set()
        for v in range(keep_from, latest + 1):
            for f in vt_files(table_dir, v):
                for bl in (f.get("bloom") or {}).values():
                    if "sc" in bl:
                        referenced_sc.add(os.path.abspath(bl["sc"]))
        for name in os.listdir(sc_dir):
            p = os.path.abspath(os.path.join(sc_dir, name))
            if p.endswith(".parquet") and p not in referenced_sc:
                os.remove(p)
    # deletion-vector sidecars: same reference-counted sweep (a DV dir
    # is dead once every version naming it is outside the retained tail
    # — e.g. the file was rewritten, materializing the deletions)
    # artifacts staged by UNDECIDED transactions are off-limits to every
    # orphan sweep below — they are referenced by a manifest-to-be
    txn_protected = _txn_protected_paths(table_dir)
    dvroot = _dv_dir(table_dir)
    if os.path.isdir(dvroot):
        referenced_dv = set(txn_protected)
        for v in range(keep_from, latest + 1):
            for f in vt_files(table_dir, v):
                for d in f.get("dv") or ():
                    referenced_dv.add(os.path.abspath(d))
        for name in os.listdir(dvroot):
            p = os.path.abspath(os.path.join(dvroot, name))
            if os.path.isdir(p) and p not in referenced_dv:
                shutil.rmtree(p, ignore_errors=True)
    # sink staging hygiene: task attempts that died before messaging
    # leave parquet orphans under _stage/ that no manifest ever names —
    # sweep anything older than the TTL (a live epoch's staged files
    # exist only between write() and commit(), far under it)
    stage_dir = os.path.join(table_dir, "_stage")
    if os.path.isdir(stage_dir):
        cutoff = time.time() - max(0.0, float(stage_ttl_seconds))
        for name in os.listdir(stage_dir):
            p = os.path.join(stage_dir, name)
            try:
                if os.path.isfile(p) and os.stat(p).st_mtime < cutoff:
                    os.remove(p)
            except OSError:
                pass  # concurrently promoted/removed: fine
    # orphaned data dirs: a transaction that staged a rewrite and died
    # before finalize (or an aborted one whose process was killed
    # mid-cleanup) leaves a data dir NO manifest ever references —
    # sweep dirs unreferenced by every non-vacuumed manifest (pending
    # txn reservations count: their manifests exist) and older than
    # the TTL (in-flight writes are minutes old, far under it)
    data_root = os.path.join(table_dir, "data")
    mdir = _manifest_dir(table_dir)
    if os.path.isdir(data_root) and os.path.isdir(mdir):
        ref_dirs: set[str] = set(txn_protected)
        versions = [
            int(f[:-5]) for f in os.listdir(mdir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        for v in versions:
            m = _read_manifest(table_dir, v)
            if m.get("data_dir"):
                ref_dirs.add(os.path.abspath(m["data_dir"]))
            if m.get("vacuumed"):
                continue
            ref_dirs.update(
                os.path.abspath(os.path.dirname(p))
                for p in _version_file_paths(table_dir, v)
            )
        cutoff = time.time() - max(0.0, float(stage_ttl_seconds))
        for name in os.listdir(data_root):
            p = os.path.join(data_root, name)
            try:
                if (
                    os.path.isdir(p)
                    and os.path.abspath(p) not in ref_dirs
                    and os.stat(p).st_mtime < cutoff
                ):
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    return vacuumed


def vt_clone(table_dir: str, clone_dir: str) -> int:
    """SHALLOW CLONE: copy the commit manifests; the (immutable) data
    files are SHARED with the source — a zero-copy fork for
    experiments/backfills, exactly Delta's CLONE semantics. New commits
    on the clone write under the clone's own data dir (a pruned merge
    carries source files forward by reference), so the source is never
    touched. Cloned versions are marked ``external: true`` AND file
    ownership is by path (``vt_vacuum`` only ever deletes files under
    its own table dir), so vacuuming a clone can never delete files the
    SOURCE still references — the classic shallow-clone VACUUM hazard,
    guarded twice by construction. Returns the cloned latest version."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    if vt_latest_version(clone_dir) >= 0:
        raise FileExistsError(f"clone target {clone_dir} already exists")
    os.makedirs(_manifest_dir(clone_dir), exist_ok=True)
    for v in range(latest + 1):
        m = _read_manifest(table_dir, v)
        m["external"] = True  # data files belong to the source table
        with open(_manifest_path(clone_dir, v), "w") as fh:
            json.dump(m, fh)
    _advance_last_pointer(clone_dir, latest)
    return latest


def vt_restore(spark: SparkSession, table_dir: str, version: int) -> int:
    """RESTORE TO VERSION AS OF: commit a NEW version whose data is the
    target version's (zero-copy — the new manifest references the old
    immutable file set; ``vt_vacuum`` is reference-aware so shared
    files survive as long as any retained version points at them).
    History is append-only: a restore never rewrites the log, it adds a
    commit — the audit trail keeps both the mistake and the fix.
    Provenance flags carry over: restoring a cloned (``external``)
    version commits an external manifest, so the restored commit's
    files remain recognizably source-owned."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    target = _read_manifest(table_dir, version)
    _check_protocol(target, table_dir, write=True)
    if target.get("vacuumed"):
        raise FileNotFoundError(
            f"cannot restore to vacuumed version {version}"
        )
    _manifest_schema(target, table_dir)  # a schema-less target raises
    new_version = latest + 1
    # a restore is a full snapshot by nature (its file set has no
    # relation to the current latest): commit it as a checkpoint, with
    # the TARGET's table metadata. No cleanup_dir: this commit owns no
    # new files — losing the race must not delete the target version's
    # (shared) data
    _commit(table_dir, new_version, _next_manifest(
        _table_meta(target), f"RESTORE({version})", new_version,
        vt_files(table_dir, version), [], None, target["data_dir"],
        external=True if target.get("external") else None,
    ))
    return new_version


# ---------------------------------------------------------------------
# stats-pruned scan + predicate DML (DELETE / UPDATE) — round 5
# ---------------------------------------------------------------------

#: simple conjunctive filters: (column, op, value) with op in _OPS;
#: "in" takes a list/tuple of literals (SQL IN — the multi-point probe
#: shape of GDPR id lists and dimension-key lookups)
_OPS = {"<", "<=", ">", ">=", "=", "==", "in"}


def _stat_literal(v):
    """A filter LITERAL in the manifests' stat frame, or None when no
    provably order-consistent comparison exists (the file is then kept
    — pruning is only ever an optimization). Timestamp stats are stored
    as OS-local wall clocks (``_collect_file_stats`` goes through
    ``.collect()`` / ``TimestampType.fromInternal`` = ``fromtimestamp``),
    so an AWARE literal — what Spark 4.1's variant filter codec hands
    the pushdown path — converts to the OS-local wall clock of the same
    instant, which is exact on any host regardless of session timezone.
    Wall clocks are only instant-ordered away from DST transitions, so
    a literal within ±26h of a local UTC-offset change refuses to
    compare rather than risk pruning a file whose [min,max] wall-clock
    interval is disordered by the fold (a no-op in fixed-offset zones,
    UTC included)."""
    if isinstance(v, datetime.datetime):
        import time as _time

        aware = v.astimezone() if v.tzinfo is None else v
        ts = aware.timestamp()
        offs = {_time.localtime(ts + s).tm_gmtoff for s in (-93600, 0, 93600)}
        if len(offs) > 1:
            return None  # DST window: never compare wall clocks here
        local = aware.astimezone().replace(tzinfo=None)
        return local.isoformat()
    return _json_stat(v)


def _filter_may_match(file_entry: dict, filters) -> bool:
    """Can this file contain a row satisfying ALL the filters? False
    only when some filter is provably unsatisfiable against the file's
    min/max — missing stats, exotic ops, frame-unsafe timestamp
    literals (``_stat_literal``), or cross-type comparisons all mean
    "possibly" (conservative, exactly the _file_intersects
    discipline)."""
    fstats = file_entry.get("stats") or {}
    for col, op, value in filters:
        st = fstats.get(col)
        if not st or None in st or op not in _OPS:
            continue
        lo, hi = st
        try:
            if lo > hi:
                continue  # disordered interval (e.g. DST wall clocks)
            if op == "in":
                jvs = [_stat_literal(v) for v in value]
                if jvs and all(
                    jv is not None and (jv < lo or jv > hi) for jv in jvs
                ):
                    return False  # every probed literal outside [min,max]
                continue
            jv = _stat_literal(value)
            if jv is None:
                continue
            if op in ("=", "=="):
                if jv < lo or jv > hi:
                    return False
            elif op == "<" and lo >= jv:
                return False
            elif op == "<=" and lo > jv:
                return False
            elif op == ">" and hi <= jv:
                return False
            elif op == ">=" and hi < jv:
                return False
        except TypeError:
            continue  # literal/stat type mismatch: keep the file
    return True


def _filters_to_column(filters):
    cond = None
    for col, op, value in filters:
        c = F.col(col)
        if op == "<":
            term = c < F.lit(value)
        elif op == "<=":
            term = c <= F.lit(value)
        elif op == ">":
            term = c > F.lit(value)
        elif op == ">=":
            term = c >= F.lit(value)
        elif op in ("=", "=="):
            term = c == F.lit(value)
        elif op == "in":
            term = c.isin(list(value))
        else:
            raise ValueError(f"vt filters support ops {_OPS}; got {op!r}")
        cond = term if cond is None else (cond & term)
    return cond if cond is not None else F.lit(True)


#: per-file bloom buckets: modulus and the saturation cap above which a
#: file's bucket set stops pruning and is stored as null (a file that
#: contains most buckets can never be skipped anyway, so storing its
#: set would be manifest bloat with no skipping value)
_BLOOM_M = 4096
_BLOOM_SATURATION = 0.8


def _bloom_sidecar_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_index", "bloom")


def _bloom_bitmap(buckets, m: int) -> bytes:
    """Bucket set -> bitmap bytes (m/8 long, bit i = bucket i present).
    Constant size per (file, column) regardless of density — the 'real
    bitmap in sidecar index files' representation the round-6 JSON
    bucket lists documented as the 100 TB follow-up."""
    bm = bytearray((m + 7) // 8)
    for b in buckets:
        bm[b >> 3] |= 1 << (b & 7)
    return bytes(bm)


def _bloom_write_sidecar(sidecar: str, recs: list[tuple]) -> None:
    """Write one sidecar parquet of (file path, column, m, bitmap|null)
    rows — a driver-side pyarrow write (one row per newly indexed
    file×column, bounded by the incremental todo set)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(sidecar), exist_ok=True)
    pq.write_table(
        pa.table({
            "path": pa.array([r[0] for r in recs], pa.string()),
            "col": pa.array([r[1] for r in recs], pa.string()),
            "m": pa.array([r[2] for r in recs], pa.int32()),
            "bitmap": pa.array([r[3] for r in recs], pa.binary()),
        }),
        sidecar,
    )


def _bloom_load_sidecars(files: list[dict], cols: set[str]) -> dict:
    """{(file path, col): bitmap bytes | None} for every surviving file
    entry whose bloom points at a sidecar — each referenced sidecar
    parquet is read ONCE (column-pruned, filtered to the probed
    columns). Driver-side metadata work: one row per (indexed file,
    col), the same cardinality the JSON representation carried inline."""
    import pyarrow.parquet as pq

    wanted = set()
    for f in files:
        for c, bl in (f.get("bloom") or {}).items():
            if c in cols and "sc" in bl:
                wanted.add(bl["sc"])
    out: dict = {}
    for sc in sorted(wanted):
        try:
            t = pq.read_table(sc, filters=[("col", "in", list(cols))])
        except (FileNotFoundError, OSError):
            continue  # swept sidecar (e.g. source-table vacuum seen
            # through a clone): no bitmap -> no pruning, still correct
        for path, col, bm in zip(
            t["path"].to_pylist(), t["col"].to_pylist(),
            t["bitmap"].to_pylist()
        ):
            out[(path, col)] = bm
    return out


def vt_index_bloom(
    spark: SparkSession,
    table_dir: str,
    cols: Sequence[str],
    m: int = _BLOOM_M,
) -> int:
    """Per-file BLOOM-bucket index for secondary-key point lookups —
    the pruning min/max stats cannot give: on a table clustered by
    orderkey, every file spans the full custkey range, so a
    ``o_custkey = k`` scan opens everything; with each file's set of
    ``xxhash64 % m`` buckets in the manifest, a point lookup opens only
    the files whose bucket set contains the literal's bucket (expected
    false-positive rate ≈ distinct-values-per-file / m). This is
    Delta's bloom-filter-index idea carried on the manifest.

    INCREMENTAL: only files LACKING a bloom for some requested column
    are read (one column-pruned ``_metadata.file_path`` agg over those
    files) — rerunning after a merge indexes just the rewritten files,
    so the maintenance job costs O(new files). Carried entries keep
    their blooms through every commit for free (file entries travel
    whole). A file whose bucket set exceeds ``_BLOOM_SATURATION * m``
    stores null (saturated: unskippable anyway). Buckets are stored as
    a REAL BITMAP (m/8 bytes per file×column, density-independent) in a
    parquet SIDECAR under ``_index/bloom/`` — Delta's index-file layout
    — one sidecar written per maintenance run; the manifest entry
    carries only {"m", "sc": sidecar path}, so manifest JSON (and every
    checkpoint commit's full file list) stays O(files), never
    O(files × buckets). Pre-sidecar inline entries ({"m","b"}) remain
    readable; sidecar files no retained version references are swept by
    ``vt_vacuum``. Commits a metadata-only BLOOM version (no data
    written, n_rows unchanged). Returns the new version, or the current
    latest when every file is already indexed."""
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    manifest = _read_manifest(table_dir, latest)
    _check_protocol(manifest, table_dir, write=True)
    files = vt_files(table_dir, latest)
    mapping = _col_mapping(manifest)
    # bloom entries key on PHYSICAL names — the namespace of the files
    cols = [
        (mapping or {}).get(c, c) for c in cols
    ]
    todo = [
        f for f in files
        if any(c not in (f.get("bloom") or {}) for c in cols)
    ]
    if not todo:
        return latest
    schema = _phys_struct(_manifest_schema(manifest, table_dir), mapping)
    aggs = [
        F.sort_array(
            F.collect_set((F.abs(F.xxhash64(F.col(c))) % m).cast("int"))
        ).alias(f"__b_{c}")
        for c in cols
    ]
    rows = (
        spark.read.schema(schema)
        .parquet(*[f["path"] for f in todo])
        .groupBy(F.col("_metadata.file_path").alias("__p"))
        .agg(*aggs)
        .collect()
    )  # bounded: one row per un-indexed file
    by_path = {_normalize_path(r["__p"]): r for r in rows}
    cap = int(m * _BLOOM_SATURATION)
    sidecar = os.path.join(
        _bloom_sidecar_dir(table_dir), f"{uuid.uuid4().hex[:12]}.parquet"
    )
    recs: list[tuple] = []
    updated = []
    for f in todo:
        e = dict(f)
        bloom = dict(e.get("bloom") or {})
        r = by_path.get(f["path"])
        for c in cols:
            buckets = list(r[f"__b_{c}"]) if r is not None else []
            bm = (
                _bloom_bitmap(buckets, m) if len(buckets) <= cap
                else None  # saturated: stored null, unskippable
            )
            recs.append((f["path"], c, int(m), bm))
            bloom[c] = {"m": int(m), "sc": sidecar}
        e["bloom"] = bloom
        updated.append(e)
    _bloom_write_sidecar(sidecar, recs)
    t_paths = {f["path"] for f in todo}
    carried = [f for f in files if f["path"] not in t_paths]
    new_version = latest + 1
    _commit(table_dir, new_version, _next_manifest(
        _table_meta(manifest), "BLOOM", new_version, carried, updated,
        t_paths, manifest.get("data_dir"),
    ))
    return new_version


#: above this many probe literals, a filter skips bloom pruning (min/max
#: stats still apply) — bounds the driver-side hash job by construction
_BLOOM_MAX_PROBES = 1024


def _bloom_buckets_for(spark, schema: StructType, probes, ms):
    """Driver-side bucket of every probe literal for every modulus in
    play — computed with the SAME xxhash64 the index used (hash output
    depends on the input TYPE, so literals are cast to the column's
    schema type first). ``probes`` is [(col, [literals])] — one entry
    per "="/"in" filter. One tiny local job, no table data touched.
    Returns {(probe_idx, m): [bucket per literal]}."""
    exprs = []
    names = []
    for i, (c, vals) in enumerate(probes):
        dt = schema[c].dataType
        for j, v in enumerate(vals):
            for mm in ms:
                exprs.append(
                    (F.abs(F.xxhash64(F.lit(v).cast(dt))) % mm)
                    .cast("int").alias(f"_{i}_{j}_{mm}")
                )
                names.append((i, j, mm))
    if not exprs:
        return {}
    row = spark.range(1).select(*exprs).collect()[0]
    out: dict = {}
    for i, j, mm in names:
        out.setdefault((i, mm), []).append(int(row[f"_{i}_{j}_{mm}"]))
    return out


def _bloom_may_match(file_entry: dict, probes, buckets,
                     sidecars: dict | None = None) -> bool:
    """False only when some filter's EVERY probe bucket is provably
    absent from the file's bucket set ("=" is a 1-literal probe, "in" an
    any-of probe) — missing or saturated blooms mean 'possibly' (the
    _file_intersects discipline). Sidecar entries test bitmap bits from
    ``sidecars`` ({(path, col): bytes|None}); legacy inline entries test
    the stored bucket list."""
    bloom = file_entry.get("bloom") or {}
    for i, (c, _vals) in enumerate(probes):
        bl = bloom.get(c)
        if not bl:
            continue
        key = (i, int(bl["m"]))
        if key not in buckets:
            continue
        probe_buckets = buckets[key]
        if "sc" in bl:
            bm = (sidecars or {}).get((file_entry["path"], c))
            if bm is None:  # saturated or sidecar row missing: possibly
                continue
            if not any(
                bm[b >> 3] & (1 << (b & 7)) for b in probe_buckets
            ):
                return False
        elif bl.get("b") is not None:
            present = set(bl["b"])
            if not any(b in present for b in probe_buckets):
                return False
    return True


def _prune_files(spark, files: list[dict], filters,
                 schema: StructType) -> list[dict]:
    """The shared data-skipping pipeline: min/max stats first, then the
    per-file BLOOM bitmaps for "="/"in" filters on indexed columns
    (IN probes keep a file if ANY listed literal's bit is set; lists
    beyond ``_BLOOM_MAX_PROBES`` fall back to stats-only). Used by
    ``vt_scan`` AND the DML planners — a bloom-indexed GDPR id-list
    purge opens only the files that can hold one of the ids."""
    probes = [
        (c, [v] if op in ("=", "==") else list(v))
        for c, op, v in filters
        if op in ("=", "==", "in")
        and any((f.get("bloom") or {}).get(c) for f in files)
    ]
    probes = [
        p for p in probes if len(p[1]) <= _BLOOM_MAX_PROBES
    ]  # oversized IN lists: min/max stats still apply
    ms = {
        int(bl["m"])
        for f in files
        for c, _vals in probes
        if (bl := (f.get("bloom") or {}).get(c))
    }
    buckets = _bloom_buckets_for(spark, schema, probes, sorted(ms))
    # stats-prune FIRST, then load only the sidecars the min/max
    # survivors reference (one pyarrow read per sidecar file)
    stat_ok = [f for f in files if _filter_may_match(f, filters)]
    sidecars = _bloom_load_sidecars(stat_ok, {c for c, _ in probes})
    return [
        f for f in stat_ok
        if _bloom_may_match(f, probes, buckets, sidecars)
    ]


def vt_scan(
    spark: SparkSession,
    table_dir: str,
    filters,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned read (the data-skipping half of the manifest's
    per-file min/max): files whose stats prove no row can satisfy the
    conjunctive ``filters`` are never opened — on an OPTIMIZE-clustered
    table a point/range read touches a handful of files out of
    thousands, before parquet footer skipping even runs. Equality and
    IN-list filters additionally prune through the per-file BLOOM
    buckets when ``vt_index_bloom`` has indexed the column — an "in"
    probe keeps a file if ANY listed literal's bit is set (the GDPR
    id-list / dimension-key lookup shape; lists beyond
    ``_BLOOM_MAX_PROBES`` fall back to stats-only). The exact filters
    are then applied to the surviving rows, so the result is identical
    to ``vt_read(...).filter(...)`` (value-gated in the registry);
    pruning is a file-listing optimization, never a semantics change.
    ``version`` also accepts a ``txn_snapshot`` pin map."""
    version, manifest = _read_base(table_dir, version)
    filters = list(filters)
    files = vt_files(table_dir, version)
    schema = _manifest_schema(manifest, table_dir)
    mapping = _col_mapping(manifest)
    survivors = _prune_files(
        spark, files, _phys_filters(filters, mapping),
        _phys_struct(schema, mapping),
    )
    df = _read_snapshot_entries(spark, survivors, schema, mapping)
    return df.filter(_filters_to_column(filters))


def _predicate_rewrite(
    spark: SparkSession,
    table_dir: str,
    filters,
    operation: str,
    rewrite_fn,
    expected_version: int | None,
    txn=None,
) -> int:
    """Shared shape of predicate DML: files that MAY hold matching rows
    are rewritten through ``rewrite_fn(df, predicate)``; every other
    file is carried forward by reference — DELETE/UPDATE cost scales
    with the matched key range, not the table. Commits through the same
    disjoint-commit conflict resolution as ``vt_merge`` (round 6): a
    racing DML whose predicate's file set is disjoint from the
    intervening commits' deltas lands metadata-only; a conflicting one
    (a winner removed a file it read, added a file the predicate could
    match, or changed the table metadata) RE-PLANS at the latest
    version inside ``_commit_optimistic`` and commits the serial-order
    table. ``expected_version`` pins the first planning snapshot, like
    vt_merge."""
    base = _plan_base(table_dir, expected_version)
    filters = list(filters)
    pred = _filters_to_column(filters)

    def plan(version: int) -> dict:
        manifest = _read_manifest(table_dir, version)
        _check_protocol(manifest, table_dir, write=True)
        mapping = _col_mapping(manifest)
        pfilters = _phys_filters(filters, mapping)
        parent_files = vt_files(table_dir, version)
        schema = _manifest_schema(manifest, table_dir)
        touched = _prune_files(
            spark, parent_files, pfilters, _phys_struct(schema, mapping)
        )
        t_paths = {f["path"] for f in touched}
        snapshot = _read_snapshot_entries(spark, touched, schema, mapping)
        data_dir, new_files = _write_files_with_stats(
            rewrite_fn(snapshot, pred), table_dir, version + 1, mapping
        )
        if operation == "UPDATE":
            # an UPDATE can push rows outside a stored constraint; DELETE
            # only keeps rows the previous commit already validated
            _validate_written(
                spark, new_files, schema, mapping,
                _table_constraints(manifest), None, data_dir, "vt_update",
            )
        base_meta = _table_meta(manifest)
        return _staged(
            version, base_meta, t_paths, data_dir, parent_files,
            lambda carried_now, v: _next_manifest(
                base_meta, operation, v, carried_now, new_files, t_paths,
                data_dir,
            ),
            lambda fe: _filter_may_match(fe, pfilters),
        )

    op_name = f"vt_{operation.lower()}"
    return _stage_or_commit(txn, table_dir, op_name, plan(base), plan)

def vt_delete(
    spark: SparkSession,
    table_dir: str,
    filters,
    expected_version: int | None = None,
    txn=None,
) -> int:
    """DELETE FROM ... WHERE <conjunctive filters>, file-pruned: only
    files whose stats admit a matching row are rewritten (keeping their
    non-matching rows); the rest carry forward by reference. Commits a
    new version labeled DELETE — or stages it into ``txn`` for an
    atomic multi-table commit (the cross-table GDPR purge shape)."""
    return _predicate_rewrite(
        spark, table_dir, filters, "DELETE",
        lambda df, pred: df.filter(~pred),
        expected_version, txn=txn,
    )


def _dv_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_dv")


def vt_delete_dv(
    spark: SparkSession,
    table_dir: str,
    filters,
    txn=None,
) -> int:
    """DELETE via DELETION VECTORS (Delta's DV design): matching rows
    are soft-deleted by recording their (file path, parquet row
    position) in a sidecar under ``_dv/`` — NO DATA FILE IS REWRITTEN.
    The commit is metadata + a sidecar whose size is the deleted-row
    count, so a GDPR purge of a few thousand ids out of 100 TB costs
    the scan that finds them, not a copy-on-write of every touched
    file. Readers anti-join the DV at scan time
    (``_read_snapshot_entries``); every writer that later rewrites a
    DV'd file first applies its DV and drops it (the rewrite
    MATERIALIZES the deletions — compaction/OPTIMIZE are the cleanup
    path, exactly Delta's purge story). The CDF reports the soft
    deletes (file identity is (path, dv) — ``_dv_sig``), and VACUUM
    sweeps sidecars no retained version references.

    Candidate files are pruned with the same stats+bloom pipeline as
    ``vt_scan`` (``_prune_files`` — including "in" id lists, the GDPR
    shape). Positions already in a file's DV are excluded, so
    re-deleting is a no-op — which also makes the commit-race story
    simple: a lost race against a disjoint writer co-commits like a
    merge, and on a conflict ``_commit_optimistic`` RE-PLANS the delete
    against the new latest (one rescan per conflict, inside the same
    spin budget), because re-finding the rows excludes everything an
    earlier attempt already recorded and a concurrent writer that
    rewrote a candidate file materialized or carried its DV either way.
    Returns the new version, or the current latest when nothing
    matched.

    ``txn``: stage instead of committing — the CHEAP half of the
    atomic cross-table GDPR purge (the sidecar is written now, the
    metadata-only commit lands with the transaction; when nothing
    matches, the table is simply not part of the transaction)."""
    latest = _plan_base(table_dir, None)
    plan = functools.partial(_plan_delete_dv, spark, table_dir, list(filters))
    staged = plan(latest)
    if staged is None:
        return latest  # nothing matched: no commit
    return _stage_or_commit(txn, table_dir, "vt_delete_dv", staged, plan)


def _plan_delete_dv(
    spark: SparkSession, table_dir: str, filters: list, version: int
) -> dict | None:
    """DELETE_DV's staged commit at ``version``: scan the candidate
    files for matching rows not yet in their DV and write them as one
    sidecar — or None when no new row matches."""
    manifest = _read_manifest(table_dir, version)
    _check_protocol(manifest, table_dir, write=True)
    parent_files = vt_files(table_dir, version)
    pred = _filters_to_column(filters)
    schema = _manifest_schema(manifest, table_dir)
    mapping = _col_mapping(manifest)
    pfilters = _phys_filters(filters, mapping)
    cand = _prune_files(
        spark, parent_files, pfilters, _phys_struct(schema, mapping),
    )
    if not cand:
        return None
    live = _to_logical(
        spark.read.schema(_phys_struct(schema, mapping))
        .parquet(*[f["path"] for f in cand])
        .withColumn(
            "__fp",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
        )
        .withColumn("__ri", F.col("_metadata.row_index")),
        mapping, keep=("__fp", "__ri"),
    )
    hits = live.filter(pred).select(
        F.col("__fp").alias("path"), F.col("__ri").alias("row_index")
    )
    old_dirs = sorted({d for f in cand for d in (f.get("dv") or ())})
    if old_dirs:
        old = spark.read.parquet(*old_dirs).select("path", "row_index")
        hits = hits.join(old, ["path", "row_index"], "left_anti")
    sidecar = os.path.join(_dv_dir(table_dir), uuid.uuid4().hex[:12])
    hits.write.parquet(sidecar)
    # bounded collect: one row per candidate file
    counts = {
        r["path"]: int(r["n"])
        for r in spark.read.parquet(sidecar)
        .groupBy("path").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        shutil.rmtree(sidecar, ignore_errors=True)
        return None
    updated = []
    for f in cand:
        if f["path"] not in counts:
            continue
        e = dict(f)
        e["dv"] = list(e.get("dv") or ()) + [sidecar]
        e["n_dv"] = int(e.get("n_dv", 0)) + counts[f["path"]]
        updated.append(e)
    t_paths = {e["path"] for e in updated}
    base_meta = _table_meta(manifest)
    # the sidecar is this operation's only on-disk artifact: a conflict
    # or an aborted transaction removes it as the staged data_dir (a
    # re-plan re-finds the rows and writes a fresh one)
    return _staged(
        version, base_meta, t_paths, sidecar, parent_files,
        lambda carried_now, v: _next_manifest(
            base_meta, "DELETE_DV", v, carried_now, updated, t_paths,
            manifest.get("data_dir"),
        ),
        lambda fe: _filter_may_match(fe, pfilters),
    )


def vt_update(
    spark: SparkSession,
    table_dir: str,
    filters,
    assignments: dict,
    expected_version: int | None = None,
    txn=None,
) -> int:
    """UPDATE ... SET col = <sql expr> WHERE <conjunctive filters>,
    file-pruned like vt_delete. ``assignments`` maps EXISTING columns
    to SQL expressions evaluated over the matching rows (non-matching
    rows in a rewritten file keep their values byte-for-byte). New
    columns belong to schema evolution (vt_merge merge_schema), not
    UPDATE — an unknown column raises."""

    def apply(df: DataFrame, pred):
        for col in assignments:
            if col not in df.columns:
                raise ValueError(
                    f"vt_update: unknown column {col!r}; UPDATE cannot "
                    "add columns (use vt_merge with merge_schema=True)"
                )
        out = df
        for col, expr in assignments.items():
            out = out.withColumn(
                col,
                F.when(pred, F.expr(expr))
                .otherwise(F.col(col))
                # pin the column's original type: a rewritten file must
                # stay schema-identical to the carried files
                .cast(df.schema[col].dataType),
            )
        return out

    return _predicate_rewrite(
        spark, table_dir, filters, "UPDATE", apply, expected_version,
        txn=txn,
    )


#: exact, order- and value-preserving type promotions (Delta's type
#: widening matrix restricted to the lossless core): every narrow
#: integer embeds in every wider one, float embeds exactly in double.
#: int->double is NOT here (longs past 2^53 exist; so do int32 values
#: a float can't hold) — lossy changes rewrite, they don't widen.
_WIDENINGS: dict[str, tuple[str, ...]] = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}

_TYPE_ALIASES = {
    "tinyint": "byte", "smallint": "short", "int": "integer",
    "bigint": "long",
}


def vt_widen_column(table_dir: str, col: str, new_type: str) -> int:
    """ALTER TABLE ... TYPE widening, METADATA-ONLY (Delta's
    ``typeWidening`` table feature): the logical type grows
    (byte→short→int→long, float→double) and NO data file is rewritten
    — at 100 TB a widen is a few hundred manifest bytes. Readers
    upcast at the file boundary: Spark's parquet reader reads int32
    files under a long schema natively, and the ``vt_table`` source
    casts each arrow array to the declared type. Old versions stay
    readable at their old type (each manifest carries its own schema).
    Per-file min/max stats stay valid — widening is value-preserving,
    so numeric comparisons are unchanged. Pre-existing BLOOM entries
    on the column are STRIPPED in the same commit
    (``_schema_change_commit``'s retype rule); re-run
    ``vt_index_bloom`` to rebuild at the new width. Narrowing and lossy
    changes refuse. Stamps the sticky ``type_widening`` feature: a
    reader without this code refuses loudly instead of mis-typing the
    scan."""
    tgt = _TYPE_ALIASES.get(new_type.lower(), new_type.lower())

    def change(meta: dict, _version: int) -> dict:
        schema = StructType.fromJson(meta["schema"])
        if col not in schema.names:
            raise ValueError(
                f"vt_widen_column: no column {col!r} in {schema.names}"
            )
        cur = schema[col].dataType.typeName()
        if cur == tgt:
            return meta  # already at the requested type: no commit
        if tgt not in _WIDENINGS.get(cur, ()):
            raise ValueError(
                f"vt_widen_column: {cur} -> {tgt} is not a lossless "
                f"widening (allowed from {cur}: "
                f"{list(_WIDENINGS.get(cur, ()))}); narrowing or lossy "
                "changes need a rewrite"
            )
        new_dt = _parse_datatype_string(tgt)
        new_schema = StructType([
            StructField(f.name, new_dt if f.name == col else f.dataType,
                        f.nullable, f.metadata)
            for f in schema.fields
        ])
        pcol = (_col_mapping(meta) or {}).get(col, col)
        widened = dict(meta.get("type_widening") or {})
        widened[pcol] = [
            *(widened.get(pcol) or [cur])[:1], tgt,
        ]  # remember the ORIGINAL narrow type and the latest wide one
        return {**meta, "schema": new_schema.jsonValue(),
                "type_widening": widened}

    return _schema_change_commit(table_dir, "WIDEN_COLUMN", change)


def _schema_change_commit(
    table_dir: str, op_name: str, change_fn
) -> int:
    """Shared shape of metadata-only DDL (ADD/RENAME/DROP COLUMN, WIDEN,
    ADD/DROP CONSTRAINT): derive the new table metadata from a
    version's via ``change_fn(meta, version) -> new_meta``
    (``_table_meta`` dicts; ``version`` is the one the commit lands on,
    for a change that must check its data; an unchanged ``meta``
    commits nothing) and commit the SAME files — a few hundred bytes
    whatever the table size. A retyped column's BLOOM entries are
    dropped in the same commit (xxhash64 is width-sensitive: probes at
    the new type would silently miss old-width buckets). A lost race
    co-commits past a disjoint winner and re-plans past a conflicting
    one; a change that adds a constraint counts every concurrently
    added file as a conflict, so it re-validates after any write."""

    def plan(version: int) -> dict | None:
        manifest = _read_manifest(table_dir, version)
        _check_protocol(manifest, table_dir, write=True)
        _manifest_schema(manifest, table_dir)  # a schema-less tip raises
        meta = _table_meta(manifest)
        new_meta = _table_meta(change_fn(meta, version))
        if new_meta == meta:
            return None
        # Delta's guard: a constraint referencing a renamed/dropped
        # column would silently dangle — refuse until it is dropped.
        # Word-level match is conservative (may over-refuse, never
        # under-).
        gone = {f["name"] for f in meta["schema"]["fields"]} - {
            f["name"] for f in new_meta["schema"]["fields"]
        }
        for col in sorted(gone):
            for cname, sql in (new_meta.get("constraints") or {}).items():
                if re.search(rf"\b{re.escape(col)}\b", sql):
                    raise ValueError(
                        f"{op_name}: column {col!r} is referenced "
                        f"by constraint {cname!r} ({sql}); drop the "
                        "constraint first"
                    )
        def phys_types(m: dict) -> dict:
            return {f.name: f.dataType for f in _phys_struct(
                StructType.fromJson(m["schema"]), _col_mapping(m))}

        old_t, new_t = phys_types(meta), phys_types(new_meta)
        retyped = {p for p in old_t.keys() & new_t.keys()
                   if old_t[p] != new_t[p]}

        def stale_bloom(fe: dict) -> bool:
            return bool(retyped & set(fe.get("bloom") or ()))

        parent_files = vt_files(table_dir, version)
        updated = []
        for f in filter(stale_bloom, parent_files):
            e = dict(f)
            bloom = {c: b for c, b in e.pop("bloom").items()
                     if c not in retyped}
            if bloom:
                e["bloom"] = bloom
            updated.append(e)
        t_paths = {f["path"] for f in updated}
        adds_constraint = bool(
            _table_constraints(new_meta).keys() - _table_constraints(meta)
        )
        return _staged(
            version, meta, t_paths, None, parent_files,
            lambda carried, v: _next_manifest(
                new_meta, op_name, v, carried, updated, t_paths,
                manifest.get("data_dir"),
            ),
            (lambda fe: True) if adds_constraint else stale_bloom,
        )

    latest = _plan_base(table_dir, None)
    staged = plan(latest)
    if staged is None:
        return latest
    return _commit_optimistic(table_dir, op_name, staged, plan)


def vt_rename_column(table_dir: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN, METADATA-ONLY (Delta's column
    mapping): the logical name changes over the column's stable
    physical name; NO data file is rewritten — at 100 TB a rename is a
    few hundred manifest bytes, not a table copy. Old versions stay
    readable under their old logical names (each manifest carries its
    own schema + mapping); per-file stats, blooms, and deletion vectors
    keep working because they key on the physical name, which never
    changes. Activates the ``column_mapping`` table feature on first
    use — readers without the feature refuse loudly (_check_protocol)
    instead of surfacing physical names."""

    def change(meta: dict, _version: int) -> dict:
        schema = StructType.fromJson(meta["schema"])
        mapping = _col_mapping(meta)
        if old not in schema.names:
            raise ValueError(
                f"vt_rename_column: no column {old!r} in "
                f"{schema.names}"
            )
        if new in schema.names:
            raise ValueError(
                f"vt_rename_column: column {new!r} already exists"
            )
        new_schema = StructType([
            StructField(new if f.name == old else f.name,
                        f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ])
        # lazy activation: physical names freeze at the CURRENT logical
        # names — exactly what the immutable files already contain
        new_mapping = dict(mapping) if mapping else {
            f.name: f.name for f in schema.fields
        }
        new_mapping[new] = new_mapping.pop(old)
        return {**meta, "schema": new_schema.jsonValue(),
                "column_mapping": new_mapping}

    return _schema_change_commit(table_dir, "RENAME_COLUMN", change)


def vt_drop_column(table_dir: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN, METADATA-ONLY: the column leaves
    the logical schema and the mapping; its physical data stays in the
    immutable files, simply never read (reads build their schema from
    the logical fields, so the dropped physical is column-pruned for
    free — Delta's drop semantics). A column later ADDED with the same
    logical name gets a fresh physical name (``vt_merge``
    merge_schema), so the old data can never resurrect. Old versions
    still show the column (their manifests keep their own schema)."""

    def change(meta: dict, _version: int) -> dict:
        schema = StructType.fromJson(meta["schema"])
        mapping = _col_mapping(meta)
        if col not in schema.names:
            raise ValueError(
                f"vt_drop_column: no column {col!r} in {schema.names}"
            )
        if len(schema.fields) == 1:
            raise ValueError(
                "vt_drop_column: refusing to drop the last column"
            )
        new_schema = StructType(
            [f for f in schema.fields if f.name != col]
        )
        mapping = dict(mapping) if mapping else {
            f.name: f.name for f in schema.fields
        }
        new_mapping = {l: p for l, p in mapping.items() if l != col}
        return {**meta, "schema": new_schema.jsonValue(),
                "column_mapping": new_mapping}

    return _schema_change_commit(table_dir, "DROP_COLUMN", change)


def vt_add_column(table_dir: str, col: str, dtype: str) -> int:
    """ALTER TABLE ... ADD COLUMN (nullable), METADATA-ONLY: the new
    column joins the logical schema; every existing file simply lacks
    it and null-pads on read (the forward-evolution contract vt_merge's
    merge_schema already uses — this is the explicit-DDL spelling).
    Does NOT activate column mapping on an unmapped table (add-only
    evolution needs no physical indirection, and activation would force
    the feature guard on readers for nothing); on a MAPPED table the
    new column gets a fresh physical name like any post-activation
    add. ``dtype`` is a DDL type string ("bigint", "decimal(12,2)",
    "array<string>", ...)."""

    def change(meta: dict, _version: int) -> dict:
        schema = StructType.fromJson(meta["schema"])
        mapping = _col_mapping(meta)
        if col in schema.names:
            raise ValueError(
                f"vt_add_column: column {col!r} already exists"
            )
        field = StructField(col, _parse_datatype_string(dtype), True)
        new_schema = StructType(list(schema.fields) + [field])
        new_mapping = None
        if mapping is not None:
            new_mapping = dict(mapping)
            new_mapping[col] = f"col_{uuid.uuid4().hex[:8]}"
        return {**meta, "schema": new_schema.jsonValue(),
                "column_mapping": new_mapping}

    return _schema_change_commit(table_dir, "ADD_COLUMN", change)


def _table_constraints(manifest: dict) -> dict:
    """The table's STORED CHECK constraints ({name: sql predicate}) —
    Delta's ALTER TABLE ADD CONSTRAINT surface: validated against every
    row WRITTEN by merge/UPDATE (existing rows were validated by the
    commit that wrote them), carried manifest-to-manifest."""
    return dict(manifest.get("constraints") or {})


def _validate_written(spark: SparkSession, files: list[dict],
                      schema: StructType, mapping: dict | None,
                      constraints: dict, extra_check: str | None,
                      data_dir: str, op_name: str) -> None:
    """Enforce every stored constraint (+ the per-call CHECK) over a
    just-written file set; any violation unstages the files and aborts
    with NO version committed. One combined column-pruned scan."""
    checks = dict(constraints)
    if extra_check is not None:
        checks["<inline>"] = extra_check
    if not checks or not files:
        return
    df = _to_logical(
        spark.read.schema(_phys_struct(schema, mapping))
        .parquet(*[f["path"] for f in files]),
        mapping,
    )
    for name, sql in sorted(checks.items()):
        n_bad = df.filter(f"NOT ({sql})").count()
        if n_bad:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise ValueError(
                f"{op_name}: CHECK constraint {name!r} ({sql}) violated "
                f"by {n_bad} row(s); aborted, no version committed"
            )


def vt_add_constraint(spark: SparkSession, table_dir: str, name: str,
                      check: str) -> int:
    """ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<sql>) — validates
    the constraint against EVERY row of the version it commits on (the
    Delta contract: a committed constraint means the whole table
    satisfies it; a writer landing first forces a re-validation), then
    commits metadata-only. Enforcement from then on is write-time:
    every merge/UPDATE validates its written rows, so steady-state cost
    is O(rows written), never O(table); a writer that planned before
    this commit conflicts with it and re-plans under it."""

    def change(meta: dict, version: int) -> dict:
        cons = _table_constraints(meta)
        if name in cons:
            raise ValueError(
                f"vt_add_constraint: constraint {name!r} already exists"
            )
        n_bad = vt_read(spark, table_dir, version).filter(
            f"NOT ({check})"
        ).count()
        if n_bad:
            raise ValueError(
                f"vt_add_constraint: existing data violates ({check}) in "
                f"{n_bad} row(s); constraint not added"
            )
        return {**meta, "constraints": {**cons, name: check}}

    return _schema_change_commit(table_dir, "ADD_CONSTRAINT", change)


def vt_drop_constraint(table_dir: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT — metadata-only."""

    def change(meta: dict, _version: int) -> dict:
        cons = _table_constraints(meta)
        if name not in cons:
            raise ValueError(
                f"vt_drop_constraint: no constraint {name!r} "
                f"(have {sorted(cons)})"
            )
        cons.pop(name)
        return {**meta, "constraints": cons}

    return _schema_change_commit(table_dir, "DROP_CONSTRAINT", change)


def vt_first_version_at_or_after(table_dir: str, ts) -> int:
    """CDF ``startingTimestamp`` resolution (Delta's rule, the mirror
    of ``vt_version_at_timestamp``): the EARLIEST readable version whose
    (monotone-clamped) commit time is at or after ``ts``. Raises when
    ``ts`` is after the latest commit — there is nothing to start
    from."""
    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    latest = vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(f"table {table_dir} does not exist")
    prev_eff = float("-inf")
    for v in range(latest + 1):
        m = _read_manifest(table_dir, v)
        t = m.get("committed_at")
        if t is None:
            t = os.stat(_manifest_path(table_dir, v)).st_mtime
        t = max(t, prev_eff)
        prev_eff = t
        if m.get("vacuumed"):
            continue
        if t >= ts:
            return v
    raise ValueError(
        f"timestamp {ts} is after the latest commit of {table_dir}; "
        "no version starts at or after it"
    )

