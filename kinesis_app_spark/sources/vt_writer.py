"""Versioned tables as a registered Spark DataSource (``vt_table``):
APPEND sink (batch + streaming) AND, since round 7, a BATCH READER with
time travel — the last step to "a real table format": any Spark SQL
consumer reads a versioned table with zero engine imports,

    spark.read.format("vt_table").option("path", table_dir).load()
    spark.read.format("vt_table").option("path", d)
         .option("versionAsOf", "3").load()          # or timestampAsOf

The reader plans one input partition PER FILE from the resolved
version's manifest (driver-side metadata only), applies deletion-vector
masks executor-side by parquet row position, reads files by their
stable PHYSICAL column names (column mapping) with the projection
pushed into the pyarrow read, and null-pads files written before a
schema evolution — exactly ``vt_read``'s semantics behind the standard
source API.

FILTER PUSHDOWN (round 7b, REWORKED round 8): the reader prunes through
a RELATION-SCOPED option, not the ``pushFilters`` hook —

    spark.read.format("vt_table").option("path", d)
         .option("filters", '[["o_orderkey", ">=", 300]]').load()

``filters`` is a JSON list of conjunctive (column, op, value) triples
(ops ``= < <= > >= in``; timestamp values as {"ts": "<ISO-8601 with
offset>"}, dates as {"d": "YYYY-MM-DD"}). Planning prunes FILE entries
through the same per-file min/max stats test ``vt_scan`` uses
(``_filter_may_match``, physical names) AND the per-file bloom-bucket
index (sessionless xxhash64 twin, ``functions/xxh64.py``), then pushes
the pyarrow-safe subset into the file reads (row-group + row
skipping). The scan's output is a SUPERSET of the exact predicate
(pruning is conservative; temporal/NaN row filtering stays Spark-side)
— compose with ``.filter(...)`` for exact semantics, exactly the
``vt_scan`` contract.

Why not ``pushFilters``: Spark 4.1 caches ONE readInfo (partitions +
read function) per relation on the shared ``PythonDataSourceV2``
object; the pushdown worker overwrites it with a filter-specialized
plan but only RUNS for queries carrying translatable filters, so a
filter-free query on the same DataFrame reuses the specialized plan
and silently loses rows (``df.filter(c == k).count(); df.count()``
returns the filtered count twice — verified against this container's
Spark). Option filters are part of the relation, so the cached plan is
identical for every query on it — reuse-safe by construction. If a
later Spark keys readInfo by pushed-filter set, the hook can return
(tests/test_round8.py pins the poisoning shape so the fix is visible
when upstream changes).

The SINK half: a stream (or batch job) INSERTs into a versioned table
through Spark's own sink protocol —

    df.writeStream.format("vt_table")
      .option("path", table_dir)
      .option("checkpointLocation", ckpt).start()

Scope is APPEND, deliberately: the Python DataSource writer's
``commit`` phase runs in a sessionless worker process (no
SparkSession), so a keyed MERGE cannot run there — exactly the
constraint that makes Delta's own streaming sink append-only with
MERGE routed through foreachBatch. The engine has the same split:
this sink for ingestion appends, ``vt_foreach_batch_merger`` for keyed
upserts. What the sink CAN do it does with full manifest fidelity,
because an append is pure file+metadata work:

- ``write(iterator)`` runs per TASK on executors: the partition's rows
  are staged as one parquet file under ``<table>/_stage/`` (pyarrow,
  columnar, typed by the declared schema); the path travels back in
  the commit message — rows never pass through the driver.
- ``commit(messages, batchId)`` promotes the epoch's staged files into
  ``data/`` (same-filesystem rename, no copy), computes per-file
  min/max stats pyarrow-side in the SAME JSON-portable form the Spark
  writers produce (so merge pruning / vt_scan skipping work on
  sink-written files identically), and commits an incremental APPEND
  manifest carrying ``batch_id=batchId`` — a REPLAYED epoch finds
  itself in the ledger and skips: exactly-once at append granularity.
  The epoch commits under the table metadata (schema, column mapping,
  constraints, type widening) read at plan time, and every attempt
  first compares it with the tip's: a change raises
  ``VersionConflictError`` (a rename or ADD CONSTRAINT mid-stream stops
  the query instead of slipping files under stale names or unchecked
  rows past it). Appends read no existing file, so any other lost race
  is disjoint: the loser re-checks the epoch ledger, re-derives the
  carried set and re-commits (``_commit_optimistic``, bounded spins).
- ``abort`` removes the epoch's staged files; task attempts that died
  before messaging leave orphans under ``_stage/`` — never referenced
  by any manifest, removed with the directory.

The table is created at plan time from the stream's schema when it
does not exist yet (an empty-file-set CREATE manifest), and the
metadata snapshot is taken after that, so a sink-created table is
guarded like any other.

Reference parity: the reference's Processor write path (records → user
processor → durable state, /root/reference/src/Kinesis/
Coordination.hs:100-107) with the durable state generalized to a
versioned lakehouse table; batchId plays the ack/checkpoint role
(Coordination.hs:329-337).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from kinesis_app_spark.operators import versioned as VT

__all__ = ["VersionedTableDataSource", "register"]


class VtStageMsg(WriterCommitMessage):
    def __init__(self, path: str | None, n_rows: int):
        self.path = path
        self.n_rows = n_rows


def _conn(options, schema: StructType) -> dict:
    path = options.get("path")
    if not path:
        raise ValueError("vt_table: option 'path' (the table dir) is "
                         "required")
    cluster_by = [
        c.strip() for c in (options.get("clusterby") or "").split(",")
        if c.strip()
    ]
    bad = [c for c in cluster_by if c not in schema.names]
    if bad:
        raise ValueError(
            f"vt_table clusterBy columns {bad} are not in the stream "
            f"schema {schema.names}"
        )
    schema_json = json.dumps(schema.jsonValue())
    if VT.vt_latest_version(path) < 0:
        # create on first use from the stream's schema — an empty-file-
        # set CREATE manifest; a concurrent creator winning is fine
        try:
            VT._commit(path, 0, VT._next_manifest(
                {"schema": json.loads(schema_json)}, "CREATE", 0,
                [], [], [], None,
            ))
        except VT.VersionConflictError:
            pass
    latest = VT.vt_latest_version(path)
    # table metadata snapshot (plan time, driver side): every epoch
    # commits under it and first checks the tip still carries it (a
    # rename or a new constraint racing a running stream aborts the
    # epoch loudly instead of writing files under stale names or
    # unchecked rows). The stream's schema speaks LOGICAL names; a
    # mapped table's files carry stable PHYSICAL names, so the staging
    # tasks translate through the mapping.
    m = VT._read_manifest(path, latest)
    VT._check_protocol(m, path, write=True)
    if VT._table_constraints(m):
        # the sink's commit phase is SESSIONLESS (no SparkSession to
        # evaluate SQL CHECK predicates) — writing unvalidated rows
        # into a constrained table would break the constraint's
        # whole-table guarantee, so refuse loudly
        raise ValueError(
            "vt_table sink cannot enforce this table's CHECK "
            f"constraints {sorted(VT._table_constraints(m))} "
            "(sessionless commit phase); append via "
            "vt_foreach_batch_merger / vt_merge instead"
        )
    # an append keeps the table's schema: a stream column the table
    # lacks would be written but never read
    names = VT._manifest_schema(m, path).names
    missing = [f.name for f in schema.fields if f.name not in names]
    if missing:
        raise ValueError(
            f"vt_table: stream columns {missing} are not in the "
            "table's schema; evolve the table first (vt_add_column "
            "or vt_merge merge_schema)"
        )
    return {
        "path": path,
        "schema_json": schema_json,
        "mapping": VT._col_mapping(m),
        "meta": VT._table_meta(m),
        "cluster_by": cluster_by,
    }


def _stage_rows(conn: dict, iterator) -> VtStageMsg:
    """Executor-side: drain the task's rows into ONE staged parquet
    file, columnar via pyarrow under the declared schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = VT._phys_struct(
        StructType.fromJson(json.loads(conn["schema_json"])),
        conn.get("mapping"),
    )
    target = to_arrow_schema(schema)
    rows = list(iterator)
    if not rows:
        return VtStageMsg(None, 0)
    cluster_by = conn.get("cluster_by") or []
    if cluster_by:
        # sink-side clustering (round 8): sort this task's rows by the
        # cluster key so each staged file is a contiguous key run —
        # with the stream repartitioned by the same key upstream, the
        # epoch's files land as ONE disjoint clustered run (stamped at
        # commit) and vt_cluster_incremental's debt stays near zero.
        # Logical names: the stream's schema is logical; the physical
        # translation happens through `target`'s order below.
        logical = StructType.fromJson(json.loads(conn["schema_json"]))
        idxs = [logical.names.index(c) for c in cluster_by]
        rows.sort(
            key=lambda r: tuple((r[i] is None, r[i]) for i in idxs)
        )
    cols = {
        f.name: pa.array([r[i] for r in rows], f.type)
        for i, f in enumerate(target)
    }
    stage_dir = os.path.join(conn["path"], "_stage")
    os.makedirs(stage_dir, exist_ok=True)
    out = os.path.join(stage_dir, f"{uuid.uuid4().hex}.parquet")
    pq.write_table(pa.table(cols, schema=target), out)
    return VtStageMsg(out, len(rows))


def _pa_file_stats(path: str, schema: StructType) -> dict:
    """One staged file's manifest entry, pyarrow-side, in the SAME
    JSON-portable min/max form ``_collect_file_stats`` produces — so
    sink-written files prune identically under merges and scans."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    stats = {}
    for c in VT._stats_cols(schema):
        if c not in t.column_names or t.num_rows == 0:
            continue
        mm = pc.min_max(t[c]).as_py()
        lo, hi = mm["min"], mm["max"]
        if isinstance(lo, dt.datetime) and lo.tzinfo is not None:
            # Spark writes TimestampType as UTC-adjusted parquet, so
            # arrow hands back AWARE values — convert to the OS-local
            # wall clock ``_collect_file_stats`` stores (fromtimestamp
            # frame), not a bare tz strip, so sink-written files prune
            # under the same frame on any host. NTZ columns come back
            # naive and stay the frame-free wall clock they are.
            lo = lo.astimezone().replace(tzinfo=None)
            hi = hi.astimezone().replace(tzinfo=None)
        stats[c] = [VT._json_stat(lo), VT._json_stat(hi)]
    return {"path": path, "n_rows": t.num_rows, "stats": stats}


def _append_staged(conn: dict, messages, batch_id: int | None) -> None:
    """Driver-phase second half (sessionless): promote staged files
    into data/, stat them, and commit an incremental APPEND manifest
    through ``_commit_optimistic`` — ledger-skipped on epoch replay,
    refused when the table metadata changed since plan time, retried on
    any other commit race (appends read nothing, so those are
    disjoint)."""
    table_dir = conn["path"]
    staged = [m.path for m in messages if m is not None and m.path]
    try:
        if not staged:
            return  # empty epoch: no commit
        if batch_id is not None and batch_id in VT.vt_committed_batch_ids(
            table_dir
        ):
            return  # replayed epoch: already appended
        schema = VT._phys_struct(
            StructType.fromJson(json.loads(conn["schema_json"])),
            conn.get("mapping"),
        )
        latest = VT.vt_latest_version(table_dir)
        new_version = latest + 1
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(
            table_dir, "data", f"v{new_version:05d}_{token}"
        )
        os.makedirs(data_dir, exist_ok=True)
        new_files = []
        for p in staged:
            dest = os.path.join(data_dir, os.path.basename(p))
            os.rename(p, dest)  # same filesystem: a move, not a copy
            new_files.append(_pa_file_stats(dest, schema))
        staged = []  # promoted: the finally-cleanup has nothing to do
        new_files.sort(key=lambda f: f["path"])
        _stamp_clustered_run(new_files, conn)
        # the epoch commits under the metadata its files were staged
        # against: the plan-time snapshot, the same for every epoch —
        # checked here before the first attempt, and by the commit loop
        # (``_first_conflict``) after every lost race
        base_meta = conn["meta"]
        latest_m = VT._read_manifest(table_dir, latest)
        VT._check_protocol(latest_m, table_dir, write=True)
        if VT._table_meta(latest_m) != base_meta:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise VT.VersionConflictError(
                "vt_table: the table's metadata (schema, column "
                "mapping, constraints or type widening) changed "
                "while this write was staged; restart the write "
                "against the new table"
            )
        # appends read no file and no added file can hit them; a lost
        # race whose winner holds this batchId (a zombie query racing
        # its restarted replacement) drops the promoted files instead
        # of double-appending the epoch
        VT._commit_optimistic(table_dir, "vt_table append", VT._staged(
            latest, base_meta, set(), data_dir,
            VT.vt_files(table_dir, latest),
            lambda carried, v: VT._next_manifest(
                base_meta, "APPEND", v, carried, new_files, [], data_dir,
                batch_id=None if batch_id is None else int(batch_id),
            ),
            lambda fe: False,
        ))
    finally:
        for p in staged:
            try:
                os.remove(p)
            except OSError:
                pass


def _stamp_clustered_run(new_files: list[dict], conn: dict) -> None:
    """Sink-side clustering, commit half: when this epoch's files form
    ONE disjoint run on the clusterBy key (each task staged a sorted
    contiguous span — true when the stream is repartitioned by the key
    upstream), stamp them with clustering provenance so
    ``vt_cluster_incremental`` recognizes them as already clustered and
    the maintenance debt a streaming sink normally accretes stays near
    zero. Overlapping spans (un-partitioned upstream) stay UNSTAMPED —
    honest debt the next cluster pass sweeps. Stamps key on PHYSICAL
    names, like every clustering provenance."""
    cluster_by = conn.get("cluster_by") or []
    if not cluster_by or not new_files:
        return
    mapping = conn.get("mapping") or {}
    pcols = [mapping.get(c, c) for c in cluster_by]
    lead = pcols[0]
    spans = []
    for f in new_files:
        st = (f.get("stats") or {}).get(lead)
        if not st or st[0] is None or st[1] is None:
            return  # a span-less file: can't prove disjointness
        spans.append(tuple(st))
    spans.sort()
    for (_, hi), (lo2, _) in zip(spans, spans[1:]):
        if lo2 <= hi:
            return  # overlapping run: leave as clustering debt
    for f in new_files:
        f["clustered"] = pcols


def _abort_staged(messages) -> None:
    for m in messages or ():
        if m is not None and getattr(m, "path", None):
            try:
                os.remove(m.path)
            except OSError:
                pass


class VersionedTableWriter(DataSourceWriter):
    """Batch sink: ``df.write.format("vt_table").mode("append")`` —
    one APPEND version per save (no batch_id: batch writes carry no
    epoch identity; idempotence is the caller's)."""

    def __init__(self, conn: dict):
        self.conn = conn

    def write(self, iterator):
        return _stage_rows(self.conn, iterator)

    def commit(self, messages):
        _append_staged(self.conn, messages, None)

    def abort(self, messages):
        _abort_staged(messages)


class VersionedTableStreamWriter(DataSourceStreamWriter):
    """Streaming sink: one epoch = one ledgered APPEND version. A
    replayed epoch (restart after a crash between append and
    checkpoint advance) finds its batchId in the table's ledger and
    skips — exactly-once behind the standard sink API. Keyed MERGE
    stays on foreachBatch (``vt_foreach_batch_merger``) — the same
    split Delta's streaming sink makes, and for the same reason (the
    sink's commit phase has no SparkSession)."""

    def __init__(self, conn: dict):
        self.conn = conn

    def write(self, iterator):
        return _stage_rows(self.conn, iterator)

    def commit(self, messages, batchId):
        _append_staged(self.conn, messages, int(batchId))

    def abort(self, messages, batchId):
        _abort_staged(messages)


#: ops the scan-restriction option accepts — the vt_scan triple algebra
_OPTION_OPS = frozenset({"=", "==", "<", "<=", ">", ">=", "in",
                         "startswith"})


def _decode_filter_value(v):
    """One JSON filter value -> the typed literal the pruning layers
    expect: scalars as-is; {"ts": iso} -> datetime (aware preferred —
    the stats/bloom layers treat naive frames conservatively);
    {"d": iso} -> date."""
    if isinstance(v, dict):
        if set(v) == {"ts"}:
            return dt.datetime.fromisoformat(v["ts"])
        if set(v) == {"d"}:
            return dt.date.fromisoformat(v["d"])
        raise ValueError(
            f"vt_table filters: unknown typed value {v!r} "
            '(use {"ts": iso} or {"d": iso})'
        )
    return v


def _decode_filter_triples(raw: str | None) -> list[tuple]:
    """The ``filters`` option: a JSON list of conjunctive
    [column, op, value] triples in LOGICAL column names. "startswith"
    expands to its [prefix, next-prefix) range pair (surrogate-safe)."""
    if not raw:
        return []
    out: list[tuple] = []
    for item in json.loads(raw):
        col, op, val = item
        if op not in _OPTION_OPS:
            raise ValueError(
                f"vt_table filters: op {op!r} not in "
                f"{sorted(_OPTION_OPS)}"
            )
        if op == "in":
            vals = [
                _decode_filter_value(x) for x in val if x is not None
            ]
            if vals:
                out.append((col, "in", vals))
        elif op == "startswith":
            out.append((col, ">=", str(val)))
            hi = _string_prefix_upper(str(val))
            if hi is not None:
                out.append((col, "<", hi))
        elif val is not None:
            out.append((col, op, _decode_filter_value(val)))
    return out


def _string_prefix_upper(prefix: str) -> str | None:
    """The exclusive upper bound of the ``startswith(prefix)`` range:
    the prefix with its last sub-max codepoint bumped (trailing max
    codepoints dropped first). None when no bound exists (all-max
    prefix) — pruning then keeps only the >= side."""
    s = prefix
    while s and ord(s[-1]) >= 0x10FFFF:
        s = s[:-1]
    if not s:
        return None
    nxt = ord(s[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:
        # never emit a lone surrogate: it cannot be UTF-8 encoded, so
        # pyarrow's read_table(filters=...) would RAISE at the executor
        # instead of pruning. U+E000 is the next real codepoint and
        # still a strict upper bound for every prefix below U+D800.
        nxt = 0xE000
    return s[:-1] + chr(nxt)


def _pa_safe_filters(triples) -> list[tuple]:
    """The subset of (col, op, value) triples safe to hand pyarrow's
    ``read_table(filters=...)`` for row-group/row skipping: plain
    int/float/str/bool literals only (no NaN — pyarrow and SQL disagree
    on NaN comparisons), bounded IN lists. Temporal and decimal
    literals stay Spark-side (arrow type coercion differs); Spark
    re-applies everything anyway, so skipping here costs correctness
    nothing."""
    import math

    def ok(v) -> bool:
        if isinstance(v, str):
            try:  # backstop: a string holding lone surrogates (e.g. a
                # literal arriving via surrogateescape) cannot cross
                # the Arrow boundary — the executor read would raise
                v.encode("utf-8")
            except UnicodeEncodeError:
                return False
            return True
        if isinstance(v, bool) or isinstance(v, int):
            return True
        return isinstance(v, float) and not math.isnan(v)

    out = []
    for col, op, v in triples:
        if op == "in":
            if len(v) <= 1000 and all(ok(x) for x in v):
                out.append((col, "in", list(v)))
        elif ok(v):
            out.append((col, op, v))
    return out


def _jvm_trunc_mod(a: int, m: int) -> int:
    """Java's ``%`` (truncated remainder) for ints — sign follows the
    dividend, unlike Python's floored ``%``."""
    q = a // m if (a >= 0) == (m >= 0) else -((-a) // m)
    return a - q * m


def _bloom_prune_sessionless(files: list[dict], pushed,
                             phys_schema: StructType) -> list[dict]:
    """Bloom-bucket file pruning WITHOUT a SparkSession: "="/"in"
    probes hashed with the pure-Python twin of Spark's xxhash64
    (functions/xxh64.py, property-tested bit-exact against the JVM —
    exactness is load-bearing, a mismatch silently drops files that
    hold matching rows). Mirrors ``_prune_files``'s bloom half: a probe
    whose type the twin does not cover is dropped whole (conservative,
    no pruning), an "in" keeps a file if ANY literal's bit is set."""
    from kinesis_app_spark.functions.xxh64 import spark_xxhash64

    probes = [
        (c, [v] if op in ("=", "==") else list(v))
        for c, op, v in pushed
        if op in ("=", "==", "in")
        and any((f.get("bloom") or {}).get(c) for f in files)
    ]
    probes = [
        p for p in probes
        if p[1] and len(p[1]) <= VT._BLOOM_MAX_PROBES
    ]
    if not probes:
        return files
    types = {f.name: f.dataType.typeName() for f in phys_schema.fields}

    def coerced(v, tn):
        # replicate F.lit(v).cast(column type) for the shapes Catalyst
        # actually pushes; anything else -> None (skip the probe)
        if tn in ("long", "integer", "short", "byte"):
            return v if isinstance(v, int) and not isinstance(v, bool) \
                else None
        if tn in ("double", "float"):
            return float(v) if isinstance(v, (int, float)) \
                and not isinstance(v, bool) else None
        if tn == "string":
            return v if isinstance(v, str) else None
        if tn == "boolean":
            return v if isinstance(v, bool) else None
        return v  # date/timestamp literals arrive typed from Catalyst

    ms = sorted({
        int(bl["m"])
        for f in files
        for c, _vals in probes
        if (bl := (f.get("bloom") or {}).get(c))
    })
    buckets: dict = {}
    ok_probes = []
    for c, vals in probes:
        tn = types.get(c)
        idx = len(ok_probes)
        entry: dict = {}
        good = tn is not None
        if good:
            for m in ms:
                bs = []
                for v in vals:
                    cv = coerced(v, tn)
                    h = spark_xxhash64(cv, tn) if cv is not None else None
                    if h is None:
                        good = False
                        break
                    a = h if h == -(1 << 63) else abs(h)  # JVM Math.abs
                    b = _jvm_trunc_mod(a, m)
                    if b < 0:  # only the -2^63 corner: never prune
                        good = False
                        break
                    bs.append(b)
                if not good:
                    break
                entry[(idx, m)] = bs
        if good:
            ok_probes.append((c, vals))
            buckets.update(entry)
    if not ok_probes:
        return files
    sidecars = VT._bloom_load_sidecars(files, {c for c, _ in ok_probes})
    return [
        f for f in files
        if VT._bloom_may_match(f, ok_probes, buckets, sidecars)
    ]


class _VtFileSlice(InputPartition):
    """One input partition = one OR MORE manifest file entries
    (``files`` = [(path, [dv sidecars])]). Carries the version's
    LOGICAL schema, the column mapping, and any pushed row-level
    filters (PHYSICAL names, pyarrow-safe) — executors never touch the
    manifest dir. Multi-file slices come from ``sliceTargetRows``
    bin-packing: a 10^5-file table need not plan 10^5 Python tasks."""

    def __init__(self, files: list[tuple],
                 schema_json: str, mapping: dict | None,
                 row_filters: list[tuple] | None = None):
        self.files = files
        self.schema_json = schema_json
        self.mapping = mapping
        self.row_filters = row_filters or []


def _derived_slice_target(files: list[dict]) -> int:
    """Manifest-derived default for ``sliceTargetRows`` (round 9): size
    slices so the scan runs ~4 task waves at the session's parallelism
    (live_rows / 4·cores — the cluster-scale term), floored at 32768
    rows so small-file tables still pack into few Python tasks (the
    round-8 measured win: ~150 per-file task round-trips -> ~5). A
    slice never splits a file, so a table of few large files planes one
    file per task regardless. Explicit ``sliceTargetRows`` (including
    0 = one file per slice, the pre-round-9 default) overrides."""
    total_live = sum(
        int(f.get("n_rows", 0)) - int(f.get("n_dv", 0)) for f in files
    )
    par = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    return max(32768, total_live // max(4 * par, 1))


def _pack_slices(files: list[dict], target_rows: int) -> list[list[dict]]:
    """Bin-pack manifest entries (kept in their sorted order, so
    clustered ranges stay contiguous per task) into groups of at most
    ``target_rows`` LIVE rows. target_rows <= 0 -> one file per slice."""
    if target_rows <= 0:
        return [[f] for f in files]
    groups: list[list[dict]] = []
    cur: list[dict] = []
    acc = 0
    for f in files:
        rows = int(f.get("n_rows", 0)) - int(f.get("n_dv", 0))
        if cur and acc + rows > target_rows:
            groups.append(cur)
            cur, acc = [], 0
        cur.append(f)
        acc += rows
    if cur:
        groups.append(cur)
    return groups


def _resolve_read_version(options) -> tuple[str, int]:
    path = options.get("path")
    if not path:
        raise ValueError("vt_table: option 'path' (the table dir) is "
                         "required")
    snap = options.get("snapshot")
    if snap is not None:
        # a txn_snapshot pin map as JSON — the cross-table consistent
        # read through the source API: every reader passes the SAME
        # map and each table resolves its own pinned version
        pins = json.loads(snap)
        if options.get("versionasof") or options.get("timestampasof"):
            raise ValueError(
                "vt_table: 'snapshot' excludes versionAsOf/timestampAsOf"
            )
        return path, VT._resolve_pin(path, pins)
    v = options.get("versionasof")
    ts = options.get("timestampasof")
    if v is not None and ts is not None:
        raise ValueError(
            "vt_table: pass versionAsOf OR timestampAsOf, not both"
        )
    if ts is not None:
        try:
            when = float(ts)
        except ValueError:
            when = dt.datetime.fromisoformat(ts)
        return path, VT.vt_version_at_timestamp(path, when)
    if v is not None:
        return path, int(v)
    latest = VT.vt_latest_version(path)
    if latest < 0:
        raise FileNotFoundError(f"vt_table: no committed version in {path}")
    return path, latest


def _read_manifest_for_read(path: str, version: int) -> dict:
    m = VT._read_manifest(path, version)
    VT._check_protocol(m, path)
    if m.get("vacuumed"):
        raise FileNotFoundError(
            f"vt_table: version {version} of {path} was vacuumed"
        )
    VT._manifest_schema(m, path)  # a schema-less manifest raises
    return m


def _read_file_slice(partition: _VtFileSlice):
    """Executor-side: each of the slice's files -> Arrow batches in the
    LOGICAL schema. DV mask by parquet row position (read order),
    physical->logical rename, null-pad columns a file predates,
    column-pruned read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from kinesis_app_spark.sources.vt_cdf import _dv_mask

    target = to_arrow_schema(
        StructType.fromJson(json.loads(partition.schema_json))
    )
    mapping = partition.mapping or {}
    for path, dv in partition.files:
        if not path:
            continue
        present = set(pq.read_schema(path).names)
        want = sorted({
            mapping.get(f.name, f.name) for f in target
        } & present)
        # pushed row filters apply ONLY on un-DV'd files: the DV mask
        # keys on parquet row position in read order, which a
        # filtering read would renumber. All pushed ops are
        # null-rejecting, so a filter on a column this file PREDATES
        # (null-padded below) can satisfy no row — skip the read.
        row_filters = [] if dv else partition.row_filters
        if any(c not in present for c, _op, _v in row_filters):
            continue
        t = pq.read_table(
            path, columns=want,
            filters=row_filters or None,
        )
        if dv:
            t = _dv_mask(t, path, dv)
        arrays = []
        for f in target:
            pn = mapping.get(f.name, f.name)
            if pn in t.column_names:
                arrays.append(t[pn].combine_chunks().cast(f.type))
            else:
                arrays.append(pa.nulls(t.num_rows, f.type))
        out = pa.table(
            dict(zip([f.name for f in target], arrays))
        ).cast(target).combine_chunks()
        yield from out.to_batches()


class VersionedTableBatchReader(DataSourceReader):
    """``spark.read.format("vt_table")`` — snapshot read with time
    travel. Planning is pure manifest metadata; one partition per file
    parallelizes like any parquet scan.

    Pruning is OPTION-driven (``.option("filters", json)`` — see
    ``_decode_filter_triples``), NOT ``pushFilters``-driven, and the
    reason is load-bearing: Spark 4.1 caches ONE ``readInfo``
    (partitions + read function) per relation on the shared
    ``PythonDataSourceV2`` instance. ``pushFilters`` OVERWRITES that
    cache with a filter-specialized plan, and the pushdown worker only
    runs for queries with translatable filters — so a later filter-free
    query on the SAME DataFrame (``df.filter(...).count(); df.count()``)
    reuses the specialized plan and silently loses rows (verified
    against this container's Spark: the second count returns the
    filtered count). Option filters are RELATION state: every query on
    the relation shares them by construction, so the cached plan is
    correct for all of them. Filters passed through ``.filter(...)``
    still return exact results (full scan + Catalyst's own Filter);
    pass the option when you want the scan pruned."""

    def __init__(self, options):
        self.path, self.version = _resolve_read_version(options)
        m = _read_manifest_for_read(self.path, self.version)
        self.schema_json = json.dumps(m["schema"])
        self.mapping = VT._col_mapping(m)
        self.files = VT.vt_files(self.path, self.version)
        # relation-scoped scan restriction: logical triples from the
        # option, resolved to physical names (the stats/bloom namespace)
        self.pushed = VT._phys_filters(
            _decode_filter_triples(options.get("filters")), self.mapping
        )
        # 100 TB knob: bin-pack file entries into slices of ~N live
        # rows so a 10^5-file table plans a bounded number of Python
        # tasks. Round 9: the default DERIVES from the manifest
        # (un-optioned reads pack too — the r08 measured win no longer
        # needs per-call options); 0 restores one file per slice.
        opt = options.get("slicetargetrows")
        self.target_rows = (
            int(opt) if opt is not None
            else _derived_slice_target(self.files)
        )

    def partitions(self):
        files = self.files
        if self.pushed:
            files = [
                f for f in files if VT._filter_may_match(f, self.pushed)
            ]
            files = _bloom_prune_sessionless(
                files, self.pushed,
                VT._phys_struct(
                    StructType.fromJson(json.loads(self.schema_json)),
                    self.mapping,
                ),
            )
        row_filters = _pa_safe_filters(self.pushed)
        return [
            _VtFileSlice(
                [(f["path"], list(f.get("dv") or ())) for f in group],
                self.schema_json, self.mapping, row_filters,
            )
            for group in _pack_slices(files, self.target_rows)
        ] or [
            # Spark requires >= 1 partition; an empty table yields none
            _VtFileSlice([], self.schema_json, self.mapping)
        ]

    def read(self, partition: _VtFileSlice):
        return _read_file_slice(partition)


#: commits that change LAYOUT or METADATA but not logical data — the
#: streaming reader skips them (Delta's dataChange=false discipline)
_NON_DATA_OPS = frozenset({
    "OPTIMIZE", "CLUSTER", "COMPACT", "BLOOM",
    "RENAME_COLUMN", "DROP_COLUMN", "ADD_COLUMN",
    "WIDEN_COLUMN",
    "ADD_CONSTRAINT", "DROP_CONSTRAINT",
})


class VersionedTableStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("vt_table")`` — Delta's streaming
    source semantics on the manifest log: the starting version arrives
    as a full snapshot, every later APPEND delivers exactly its added
    files' rows, layout/metadata commits deliver nothing, and commits
    that REWRITE data raise by default —

    - DELETE / DELETE_DV: raise unless ``ignoreDeletes`` (then the
      whole commit is skipped);
    - MERGE / UPDATE / RESTORE (rewrites): raise unless
      ``ignoreChanges`` (then the commit's ADDED files are re-delivered
      whole — Delta's documented at-least-once trade for rewrites; use
      the ``vt_cdf`` source for exact row-level deltas).

    Offsets are version numbers (the vt_cdf discipline): committed
    batches replay identically, and ``maxVersionsPerTrigger`` caps
    advance only after the planner has learned a real position."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("vt_table: option 'path' is required")
        latest = VT.vt_latest_version(self.path)
        if latest < 0:
            raise FileNotFoundError(
                f"vt_table: no committed version in {self.path}"
            )
        m = _read_manifest_for_read(self.path, latest)
        self.schema_json = json.dumps(m["schema"])
        self.schema_version = latest  # the directional guard's anchor
        self.mapping = VT._col_mapping(m)
        self.start = int(options.get("startingversion", 0))
        self.ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.max_versions = int(options.get("maxversionspertrigger", 0))
        # same 100 TB knob as the batch reader: bin-pack a version's
        # file entries into ~N-live-row slices so a small-file table
        # does not plan one Python task per tiny file (packing never
        # splits a file, so delivery semantics are unchanged). Round 9:
        # default derives from the LATEST snapshot's manifest when the
        # reader is built. The target is stable within one run only: a
        # restart derives it again from the then-latest manifest, so a
        # replayed batch may be sliced differently — same rows, since
        # packing never splits a file.
        opt = options.get("slicetargetrows")
        self.target_rows = (
            int(opt) if opt is not None
            else _derived_slice_target(VT.vt_files(self.path, latest))
        )
        self._planned: int | None = None

    def initialOffset(self):
        return {"version": self.start}

    def latestOffset(self):
        end = VT.vt_latest_version(self.path) + 1
        if self.max_versions > 0 and self._planned is not None:
            end = min(end, self._planned + self.max_versions)
        return {"version": max(end, self.start)}

    def _plan_version(self, v: int) -> list[_VtFileSlice]:
        m = VT._read_manifest(self.path, v)
        VT._check_protocol(m, self.path)
        if m.get("vacuumed"):
            raise FileNotFoundError(
                f"vt_table: version {v} of {self.path} was vacuumed; "
                "start the stream at the earliest non-vacuumed version"
            )

        def slices(entries):
            return [
                _VtFileSlice(
                    [(f["path"], list(f.get("dv") or ())) for f in group],
                    self.schema_json, self.mapping,
                )
                for group in _pack_slices(
                    list(entries), self.target_rows
                )
            ]

        if v == self.start:
            return slices(VT.vt_files(self.path, v))
        op = m.get("operation", "")
        if op in _NON_DATA_OPS or op == "CREATE":
            return []
        # schema-change guard (round 8), DIRECTIONAL: replaying
        # HISTORY (v <= the version whose schema this stream captured)
        # under the newer schema is the standard forward-evolution
        # read — upcast and null-pad are safe. But a rename/widen/
        # evolution that lands AFTER stream start means later data
        # commits carry a schema NEWER than this query plans with —
        # silently casting their files down would NARROW widened
        # values (an in-range int64 casts to int32 without error) or
        # mis-bind renamed columns. Delta's rule, applied: fail the
        # stream with restart guidance; the restarted query
        # re-captures the schema and resumes from the checkpoint.
        if v > self.schema_version and (
            json.dumps(m.get("schema")) != self.schema_json
        ):
            raise ValueError(
                f"vt_table: version {v} of {self.path} carries a "
                "schema different from the one this stream started "
                "with (a rename/widen/evolution landed mid-stream); "
                "restart the query to pick up the new schema — the "
                "checkpoint resumes at this version"
            )
        added, removed = VT._commit_delta(self.path, v)
        if op in ("DELETE", "DELETE_DV"):
            if not self.ignore_deletes and (removed or added):
                raise ValueError(
                    f"vt_table: version {v} deleted rows; the streaming "
                    "source delivers appends only — pass "
                    "ignoreDeletes=true to skip delete commits, or tail "
                    "the vt_cdf source for row-level deltas"
                )
            return []
        if op.startswith("APPEND") or not removed:
            return slices(added)
        if not self.ignore_changes:
            raise ValueError(
                f"vt_table: version {v} ({op}) rewrote existing files; "
                "pass ignoreChanges=true to re-deliver the rewritten "
                "files whole, or tail the vt_cdf source for exact "
                "row-level deltas"
            )
        return slices(added)

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        self._planned = max(self._planned or 0, hi)
        slices = []
        for v in range(lo, hi):
            slices.extend(self._plan_version(v))
        return slices or [
            _VtFileSlice([], self.schema_json, self.mapping)
        ]

    def read(self, partition: _VtFileSlice):
        return _read_file_slice(partition)

    def commit(self, end: dict):
        self._planned = max(self._planned or 0, int(end["version"]))


class VersionedTableDataSource(DataSource):
    """Options: path (table dir, required); reads take versionAsOf /
    timestampAsOf (epoch seconds or ISO datetime). Writes are
    append-only by design — see the module docstring for the MERGE
    split."""

    @classmethod
    def name(cls):
        return "vt_table"

    def schema(self):
        path, version = _resolve_read_version(self.options)
        m = _read_manifest_for_read(path, version)
        return VT._manifest_schema(m, path)

    def reader(self, schema):
        return VersionedTableBatchReader(self.options)

    def streamReader(self, schema):
        return VersionedTableStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "vt_table supports mode('append') only — overwrite "
                "semantics belong to vt_create/vt_restore"
            )
        return VersionedTableWriter(_conn(self.options, schema))

    def streamWriter(self, schema, overwrite):
        return VersionedTableStreamWriter(_conn(self.options, schema))


def register(spark) -> None:
    # NOTE: the reader deliberately does NOT implement pushFilters —
    # this Spark's per-relation readInfo cache makes filter-specialized
    # plans poison later filter-free queries on the same DataFrame
    # (see the class docstring). Scan restriction is the `filters`
    # option; no planner conf is required.
    spark.dataSource.register(VersionedTableDataSource)
