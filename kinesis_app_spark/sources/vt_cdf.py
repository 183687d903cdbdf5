"""Versioned-table change feed as a REAL Spark data source (``vt_cdf``).

This module is the Structured Streaming integration of the table's
change feed: a Python DataSource (the engine's established
custom-source discipline — ``sources/fake_kinesis.py``,
``sources/kinesis_boto.py``) whose OFFSETS ARE VERSION NUMBERS, so the
stream checkpoint is the only progress record and every downstream
consumer gets Spark's own exactly-once offset tracking, restart
recovery, and trigger semantics for free. It is the engine's one
change-feed tail: every consumer reads this stream through
``foreachBatch``:

    spark.readStream.format("vt_cdf")
         .option("path", table_dir).option("keys", "o_orderkey")
         .load()                       # _commit_version, _change_type, *cols

This is the production "downstream tables tail an upstream table"
topology — the reference's consumer loop over a shard
(/root/reference/src/Kinesis/Coordination.hs:100-107) re-expressed over
table versions, with Spark's offset log playing the role the reference
gave Redis checkpoints (Coordination.hs:343-359).

A consumer that must see one version at a time wraps its
``apply_fn(rows, version)`` in ``foreach_version``: a Python source
under ``availableNow`` delivers the whole backlog as ONE epoch, and the
adapter splits it on ``_commit_version`` in ascending order. Exactly
once end to end is the sink's part: an applier that commits with
``batch_id=version`` and skips a version already in the target's
ledger makes a replayed epoch a no-op. A metadata-only commit (bloom
index, compaction, OPTIMIZE) delivers no rows, so ``foreach_version``
never calls the applier for it.

Physical plan (the scale story):

- **Version 0 = snapshot-as-inserts, one input partition PER FILE** — no
  join, no driver materialization; the initial load parallelizes like
  any parquet scan.
- **Version v>0 = manifest file-diff, partitioned by KEY RANGE**: only
  the two sides' EXCLUSIVE files are read (paths common to both
  manifests are immutable identical bytes and cancel before planning —
  the same pruning as ``vt_changes``), and the exclusive files are
  grouped into connected components of key-range overlap using the
  manifest's per-file min/max stats. Rows with equal keys always share
  a component (both their files contain that key), so each component
  diffs INDEPENDENTLY in its own task — a clustered table's pruned
  merge yields many small, parallel diff tasks instead of one
  shuffle-everything join. Per-version cost is O(files touched by the
  commit), never O(table).
- The diff itself runs Arrow-native inside each task (pyarrow read →
  ArrowDtype pandas merge → Arrow batch out): null-safe value equality
  with Spark's NaN==NaN semantics, matching ``vt_changes`` row for row.

Rate limiting follows the connector's hard-won planner discipline
(``sources/kinesis_boto.py``): ``maxVersionsPerTrigger`` caps how far
one micro-batch advances, but ONLY once the planner has learned a real
position from partitions()/commit() — a cap anchored before that could
emit a bound behind a clean restart's checkpoint and re-deliver
committed versions (the round-6 ADVICE regression, avoided here by
construction). Version manifests are immutable, so read(start, end) is
a pure function of the offset pair — committed batches replay to
identical record sets at every retry granularity.

Contract notes: keys must be unique per version (the MERGE invariant);
schema is the LATEST version's (forward evolution null-pads older
files, same as ``vt_read``); a version below the earliest non-vacuumed
manifest cannot be tailed (clear error, not a missing-file stack).

Projection (round 7): the pyarrow reads are ALWAYS column-pruned to
the source schema's (physical) columns, and ``.option("columns",
"a,b")`` narrows the feed to the listed table columns (merge keys are
always kept) — the planner-driven pushdown the Python DataSource API
lacks, made user-drivable, which cuts the dominant cost of tailing
WIDE tables. Caveat by construction: update detection then compares
only the projected value columns — a commit whose changes live
entirely OUTSIDE the projection diffs to nothing, exactly as if you
tailed the projected VIEW of the table.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from kinesis_app_spark.operators import versioned as VT

__all__ = ["VersionedCdfDataSource", "foreach_version", "register"]


# ---------------------------------------------------------------------
# planning (driver side: manifest JSON only — no data reads)
# ---------------------------------------------------------------------


class _CdfSlice(InputPartition):
    """One input partition: a v0 snapshot file (``kind='snapshot'``) or
    one key-range component of a version's exclusive-file diff
    (``kind='diff'``). Carries everything read() needs — executors
    never touch the manifest directory."""

    def __init__(self, version: int, kind: str, before: list[str],
                 after: list[str], keys: list[str], schema_json: str,
                 key_bounds: tuple | None = None,
                 dv_before: dict | None = None,
                 dv_after: dict | None = None,
                 mapping: dict | None = None):
        self.version = version
        self.kind = kind
        self.before = before
        self.after = after
        self.keys = keys
        self.schema_json = schema_json
        #: logical -> stable PHYSICAL column names (the names inside
        #: the parquet files and per-file stats) for a column-mapped
        #: table; None for unmapped tables (physical == logical)
        self.mapping = mapping
        #: (lo, hi) half-open sub-range on keys[0] for split oversized
        #: components (None end = unbounded); pushed into the parquet
        #: read so each sub-task touches only matching row groups
        self.key_bounds = key_bounds
        #: per-SIDE {file path: [deletion-vector sidecar dirs]}: a
        #: DELETE_DV commit has the SAME path on both sides with
        #: different DV states — the diff of the two states IS the
        #: change set, so each side masks with its own vector
        self.dv_before = dv_before or {}
        self.dv_after = dv_after or {}


def _table_schema(table_dir: str) -> StructType:
    latest = VT.vt_latest_version(table_dir)
    if latest < 0:
        raise FileNotFoundError(
            f"vt_cdf: no committed version in {table_dir}"
        )
    m = VT._read_manifest(table_dir, latest)
    VT._check_protocol(m, table_dir)
    return VT._manifest_schema(m, table_dir)


def _cdf_schema(table_dir: str, columns: list[str] | None = None,
                keys: list[str] | None = None) -> StructType:
    base = _table_schema(table_dir)
    from pyspark.sql.types import LongType, StringType

    clash = {"_commit_version", "_change_type"} & {
        f.name for f in base.fields
    }
    if clash:
        raise ValueError(
            f"vt_cdf: table columns {sorted(clash)} collide with the CDF "
            "metadata columns"
        )
    fields = list(base.fields)
    if columns is not None:
        wanted = set(columns) | set(keys or ())
        unknown = wanted - {f.name for f in fields}
        if unknown:
            raise ValueError(
                f"vt_cdf: projected column(s) {sorted(unknown)} not in "
                f"the table schema {[f.name for f in fields]}"
            )
        fields = [f for f in fields if f.name in wanted]
    return StructType(
        [
            StructField("_commit_version", LongType(), False),
            StructField("_change_type", StringType(), False),
        ]
        + [
            # every table column must admit nulls: schema evolution
            # null-pads files written before a column existed, and the
            # delete/preimage sides null-pad evolved columns too
            StructField(f.name, f.dataType, True, f.metadata)
            for f in fields
        ]
    )


def _key_range(entry: dict, key: str):
    st = entry.get("stats", {}).get(key)
    if not st or st[0] is None or st[1] is None:
        return None
    return st[0], st[1]


def _group_by_key_range(files_a: list[dict], files_b: list[dict],
                        key: str) -> list[tuple[list[dict], list[dict]]]:
    """Connected components of [min,max]-overlap on the first key column
    across BOTH sides' exclusive files. Two rows with the same key live
    in files whose ranges both contain that key, so they always land in
    the same component — each component's diff is independent and runs
    as its own task. Files without usable stats collapse everything to
    one component (conservative, correct)."""
    entries = []
    for side, files in (("a", files_a), ("b", files_b)):
        for f in files:
            rng = _key_range(f, key)
            if rng is None:
                return [(files_a, files_b)]
            entries.append((rng[0], rng[1], side, f))
    if not entries:
        return []
    try:
        entries.sort(key=lambda e: (e[0], e[1]))
    except TypeError:  # mixed stat types (shouldn't happen): one group
        return [(files_a, files_b)]
    groups: list[tuple[list[dict], list[dict]]] = []
    cur_hi = None
    for lo, hi, side, f in entries:
        if cur_hi is None or lo > cur_hi:
            groups.append(([], []))
            cur_hi = hi
        else:
            cur_hi = max(cur_hi, hi)
        groups[-1][0 if side == "a" else 1].append(f)
    return groups


#: a diff component above this many rows (both sides summed) is split
#: into key sub-ranges so one commit that rewrote many overlapping
#: files cannot become a single unbounded-memory task
_DIFF_SPLIT_ROWS = 4_000_000


def _split_component(ga: list[dict], gb: list[dict], key: str):
    """Sub-split an oversized component at its files' range-start
    boundaries: every sub-range then intersects only a bounded run of
    each side's (range-sorted) files, and the reader pushes the bounds
    into the parquet scan — task memory tracks the sub-range, not the
    component. Non-numeric key stats (ISO date strings, etc.) stay
    unsplit: the bound literal must be typable into the parquet filter."""
    total = sum(int(f.get("n_rows", 0)) for f in ga + gb)
    if total <= _DIFF_SPLIT_ROWS:
        return [(ga, gb, None)]
    ranges = [_key_range(f, key) for f in ga + gb]
    if any(r is None for r in ranges):
        # un-statted file in the (conservative single) component: the
        # bounds cannot place its rows — stay whole
        return [(ga, gb, None)]
    los = sorted({r[0] for r in ranges})
    if len(los) < 2 or not all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for v in los
    ):
        return [(ga, gb, None)]
    n_sub = min(len(los), max(2, -(-total // _DIFF_SPLIT_ROWS)))
    step = max(1, len(los) // n_sub)
    cuts = los[step::step]
    bounds = []
    prev = None
    for c in cuts:
        bounds.append((prev, c))
        prev = c
    bounds.append((prev, None))

    def hits(f, lo, hi):
        # the unbounded-lo FIRST sub-range owns every file: manifest
        # min/max ignore nulls, so a null-key row can hide in ANY file —
        # the reader keeps it there via the is-null disjunct, and the
        # range predicates of every later sub-range exclude it (null
        # comparisons filter out), so null-key rows land in EXACTLY one
        # sub-task (round-6 ADVICE: they previously vanished from all)
        if lo is None:
            return True
        flo, fhi = _key_range(f, key)
        return (hi is None or flo < hi) and fhi >= lo

    return [
        (
            [f for f in ga if hits(f, lo, hi)],
            [f for f in gb if hits(f, lo, hi)],
            (lo, hi),
        )
        for lo, hi in bounds
    ]


def _component_may_match(group_files: list[dict], pkeys: list[str],
                         prune: list[tuple]) -> bool:
    """Can this diff component contain a key satisfying the pushed
    key filters? Tests the component's COMBINED per-key ranges (min of
    mins, max of maxes, kept independently for EVERY merge key — the
    round-7 verdict's composite-key ask: a (tenant, id) table prunes on
    whichever key's range provably misses, not just the first). A key
    some file lacks a range for contributes no constraint; other keys
    may still prune. Components always prune WHOLE, so before/after
    pairing is never broken."""
    stats: dict = {}
    for k in pkeys:
        lo = hi = None
        for f in group_files:
            r = _key_range(f, k)
            if r is None:
                lo = hi = None
                break  # this key can't constrain the component
            lo = r[0] if lo is None or r[0] < lo else lo
            hi = r[1] if hi is None or r[1] > hi else hi
        if lo is not None:
            stats[k] = [lo, hi]
    if not stats:
        return True
    return VT._filter_may_match({"stats": stats}, prune)


def _plan_version(table_dir: str, version: int, keys: list[str],
                  schema_json: str,
                  mapping: dict | None = None,
                  prune: list[tuple] | None = None) -> list[_CdfSlice]:
    m = VT._read_manifest(table_dir, version)
    VT._check_protocol(m, table_dir)
    if m.get("vacuumed"):
        raise FileNotFoundError(
            f"vt_cdf: version {version} of {table_dir} was vacuumed; "
            "start the stream at the earliest non-vacuumed version"
        )
    # per-file stats and parquet columns key on PHYSICAL names
    pkeys = [(mapping or {}).get(k, k) for k in keys]
    pkey = pkeys[0]
    if version == 0:
        files = VT.vt_files(table_dir, 0)
        if prune:
            # v0 rows are pure inserts: per-file pruning is safe (no
            # pairing to preserve), Spark re-applies the exact filters
            files = [
                f for f in files if VT._filter_may_match(f, prune)
            ]
        return [
            _CdfSlice(0, "snapshot", [], [f["path"]], keys, schema_json,
                      mapping=mapping)
            for f in files
        ]
    prev = VT._read_manifest(table_dir, version - 1)
    if prev.get("vacuumed"):
        raise FileNotFoundError(
            f"vt_cdf: version {version} diffs against vacuumed version "
            f"{version - 1} of {table_dir}; start the stream at the "
            "earliest non-vacuumed version + 1"
        )
    files_a = VT.vt_files(table_dir, version - 1)
    files_b = VT.vt_files(table_dir, version)
    # exclusivity is by CONTENT signature, not path: a DELETE_DV commit
    # keeps the path and changes only the deletion vector (VT._dv_sig)
    sigs_a = {VT._dv_sig(f) for f in files_a}
    sigs_b = {VT._dv_sig(f) for f in files_b}
    common = sigs_a & sigs_b
    excl_a = [f for f in files_a if VT._dv_sig(f) not in common]
    excl_b = [f for f in files_b if VT._dv_sig(f) not in common]
    if not excl_a and not excl_b:
        return []  # metadata-only commit (bloom index, ledger, ...)

    def dv_map(entries):
        return {
            f["path"]: list(f["dv"]) for f in entries if f.get("dv")
        }

    return [
        _CdfSlice(
            version, "diff",
            [f["path"] for f in sa], [f["path"] for f in sb],
            keys, schema_json, key_bounds=kb,
            dv_before=dv_map(sa), dv_after=dv_map(sb), mapping=mapping,
        )
        for ga, gb in _group_by_key_range(excl_a, excl_b, pkey)
        # components prune WHOLE (both sides stay paired): a component
        # whose combined range on ANY merge key provably misses the
        # pushed key filters contributes no matching change rows
        if not prune or _component_may_match(ga + gb, pkeys, prune)
        for sa, sb, kb in _split_component(ga, gb, pkey)
    ]


# ---------------------------------------------------------------------
# execution (task side: pyarrow read -> Arrow-exact diff -> Arrow out)
# ---------------------------------------------------------------------


def _arrow_target(schema_json: str):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromJson(__import__("json").loads(
        schema_json
    )))


def _dv_mask(t, path: str, dv_dirs: list[str]):
    """Drop a file's soft-deleted rows by parquet row position: the DV
    sidecars' (path, row_index) rows become a boolean keep-mask over
    the UNFILTERED table (position = read order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dead: set[int] = set()
    for d in dv_dirs:
        rows = pq.read_table(d, filters=[("path", "=", path)])
        dead.update(rows["row_index"].to_pylist())
    if not dead:
        return t
    mask = pa.array(
        [i not in dead for i in range(t.num_rows)], pa.bool_()
    )
    return t.filter(mask)


def _read_padded(paths: list[str], target, key: str | None = None,
                 bounds: tuple | None = None, dv: dict | None = None,
                 mapping: dict | None = None):
    """Read files and pad/cast to the table columns of ``target`` (the
    CDF schema minus its two prepended fields) — forward schema
    evolution null-pads, exactly like ``vt_read``'s explicit schema.
    ``bounds`` (a half-open key sub-range from a split component) is
    pushed into the parquet read as a row-group-prunable expression —
    except for DV'd files, which must read unfiltered first (the
    deletion vector addresses rows by PHYSICAL position) and apply
    bounds after the mask. The unbounded-lo first sub-range carries an
    is-null disjunct: null merge keys fail every range predicate, so
    without it a null-key insert/delete would vanish from every
    sub-range of a split component (round-6 ADVICE fix)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    expr = None
    if bounds is not None and key is not None:
        lo, hi = bounds
        if lo is None:
            expr = pc.field(key).is_null()
            if hi is not None:
                expr = expr | (pc.field(key) < pa.scalar(hi))
        else:
            expr = pc.field(key) >= pa.scalar(lo)
            if hi is not None:
                expr = expr & (pc.field(key) < pa.scalar(hi))
    cols = list(target)[2:]  # table columns (after the two CDF fields)
    out = []
    for p in paths:
        # PROJECTION PUSHDOWN: read only the physical columns the
        # (possibly user-projected) target needs — dropped columns,
        # unprojected columns, and stale physicals never leave the
        # parquet footprint. The key column rides along for bounds/DV
        # handling (it is always in the target).
        present = set(pq.read_schema(p).names)
        want = sorted(
            {(mapping or {}).get(f.name, f.name) for f in cols} & present
        )
        if not want:  # file predates every projected column: row count
            n = pq.ParquetFile(p).metadata.num_rows
            out.append(pa.table(
                {f.name: pa.nulls(n, f.type) for f in cols}
            ))
            continue
        if dv and p in dv:
            t = _dv_mask(pq.read_table(p, columns=want), p, dv[p])
            if expr is not None:
                t = t.filter(expr)
        else:
            t = pq.read_table(p, columns=want, filters=expr)
        arrays = []
        for f in cols:
            # files store PHYSICAL names; output is LOGICAL (columns
            # added after a file was written null-pad, exactly vt_read)
            pn = (mapping or {}).get(f.name, f.name)
            if pn in t.column_names:
                arrays.append(t[pn].combine_chunks().cast(f.type))
            else:
                arrays.append(pa.nulls(t.num_rows, f.type))
        out.append(pa.table(dict(zip([f.name for f in cols], arrays))))
    if not out:
        return pa.table(
            {f.name: pa.nulls(0, f.type) for f in cols}
        )
    return pa.concat_tables(out)


def _emit(table, target, version: int, change_type):
    """Prepend (_commit_version, _change_type) and emit RecordBatches in
    the source schema. ``change_type`` is a string for the snapshot path
    or a pandas Series for the diff path."""
    import pyarrow as pa

    n = table.num_rows
    arrays = [
        pa.array([version] * n, pa.int64()),
        (pa.array([change_type] * n, pa.string())
         if isinstance(change_type, str)
         else pa.array(change_type, pa.string())),
    ]
    for f in list(target)[2:]:
        arrays.append(table[f.name].combine_chunks())
    yield from pa.table(
        dict(zip([f.name for f in target], arrays))
    ).cast(target).combine_chunks().to_batches()


def _null_safe_eq(a, b, typ):
    """Spark eqNullSafe with Spark's NaN==NaN semantics, elementwise."""
    import pyarrow.types as pt

    both_na = a.isna() & b.isna()
    eq = (a == b).fillna(False)
    if pt.is_floating(typ):
        eq = eq | ((a != a).fillna(False) & (b != b).fillna(False))
    return eq | both_na


def _read_slice(partition: _CdfSlice):
    import pandas as pd
    import pyarrow as pa

    target = _arrow_target(partition.schema_json)
    mapping = partition.mapping
    if partition.kind == "snapshot":
        tbl = _read_padded(partition.after, target, mapping=mapping)
        yield from _emit(tbl, target, partition.version, "insert")
        return
    keys = partition.keys
    pkey = (mapping or {}).get(keys[0], keys[0])
    before = _read_padded(partition.before, target, pkey,
                          partition.key_bounds, partition.dv_before,
                          mapping)
    after = _read_padded(partition.after, target, pkey,
                         partition.key_bounds, partition.dv_after,
                         mapping)
    vals = [f.name for f in list(target)[2:] if f.name not in keys]
    typs = {f.name: f.type for f in target}
    bdf = before.to_pandas(types_mapper=pd.ArrowDtype)
    adf = after.to_pandas(types_mapper=pd.ArrowDtype)
    m = bdf.merge(adf, on=keys, how="outer", suffixes=("__a", "__b"),
                  indicator=True)
    differs = None
    for c in vals:
        d = ~_null_safe_eq(m[f"{c}__a"], m[f"{c}__b"], typs[c])
        differs = d if differs is None else (differs | d)

    def side(rows, which: str):
        out = rows[keys].copy()
        for c in vals:
            out[c] = rows[f"{c}__{which}"]
        return out

    upd = m[(m["_merge"] == "both") & differs] if vals else m.iloc[0:0]
    parts = [
        (side(m[m["_merge"] == "right_only"], "b"), "insert"),
        (side(m[m["_merge"] == "left_only"], "a"), "delete"),
        (side(upd, "a"), "update_preimage"),
        (side(upd, "b"), "update_postimage"),
    ]
    frames, labels = [], []
    for df, label in parts:
        if len(df):
            frames.append(df)
            labels.extend([label] * len(df))
    if not frames:
        return
    res = pd.concat(frames, ignore_index=True)
    cols = [f.name for f in list(target)[2:]]
    tbl = pa.table({
        c: pa.Array.from_pandas(res[c], type=typs[c]) for c in cols
    })
    yield from _emit(tbl, target, partition.version, pd.Series(labels))


# ---------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------


def _common_opts(options) -> tuple[str, list[str], int, str, dict | None]:
    path = options.get("path")
    if not path:
        raise ValueError("vt_cdf: option 'path' (the table dir) is required")
    keys_raw = options.get("keys", "")
    keys = [k.strip() for k in keys_raw.split(",") if k.strip()]
    if not keys:
        raise ValueError(
            "vt_cdf: option 'keys' (comma-separated merge key columns) "
            "is required — the CDF diff joins snapshots on them"
        )
    start_ts = options.get("startingtimestamp")
    if start_ts is not None:
        if options.get("startingversion") is not None:
            raise ValueError(
                "vt_cdf: pass startingVersion OR startingTimestamp, "
                "not both"
            )
        try:
            when = float(start_ts)
        except ValueError:
            import datetime as _dt

            when = _dt.datetime.fromisoformat(start_ts)
        start = VT.vt_first_version_at_or_after(path, when)
    else:
        start = int(options.get("startingversion", 0))
    cols_raw = options.get("columns")
    columns = (
        [c.strip() for c in cols_raw.split(",") if c.strip()]
        if cols_raw is not None else None
    )
    schema_json = __import__("json").dumps(
        _cdf_schema(path, columns, keys).jsonValue()
    )
    # the LATEST mapping resolves logical -> physical for files of
    # EVERY version: physical names are stable forever (renames are
    # metadata-only), and the stream presents the latest logical schema
    mapping = VT._col_mapping(
        VT._read_manifest(path, VT.vt_latest_version(path))
    )
    return path, keys, start, schema_json, mapping


def _parse_key_filters(options, keys: list[str],
                       mapping: dict | None) -> list[tuple]:
    """The ``keyFilters`` option, shared by the batch AND stream
    readers: conjunctive [key, op, value] triples restricted to the
    merge keys (a non-key filter would break before/after pairing),
    resolved to physical names."""
    from kinesis_app_spark.sources.vt_writer import (
        _decode_filter_triples,
    )

    triples = _decode_filter_triples(options.get("keyfilters"))
    bad = sorted({c for c, _o, _v in triples} - set(keys))
    if bad:
        raise ValueError(
            f"vt_cdf keyFilters may only reference the merge keys "
            f"{keys}; got {bad} (a non-key filter would break "
            "before/after pairing)"
        )
    return VT._phys_filters(triples, mapping)


class VersionedCdfBatchReader(DataSourceReader):
    """``spark.read.format("vt_cdf")`` — the bounded twin (Delta's
    ``table_changes``): every version in [startingVersion, endVersion]
    as one DataFrame, planned with the same per-file snapshot and
    key-range diff partitions as the stream.

    ``.option("keyFilters", json)``: conjunctive [key, op, value]
    triples on the MERGE KEYS (any of them — per-key component ranges,
    the multi-tenant (tenant, id) shape) prune diff components at
    planning: a component whose combined range on any filtered key
    provably misses contributes no matching change rows — components
    prune WHOLE, so before/after pairing is never broken. v0 snapshot
    files prune individually (pure inserts, nothing to pair). Filters
    on non-key columns are refused — a value filter on one SIDE of an
    update would corrupt the pairing. The option is RELATION state, not
    a ``pushFilters`` hook, for the same readInfo-cache-poisoning
    reason as the vt_table reader (see vt_writer.py): a specialized
    cached plan must be identical for every query on the relation.
    Pruning is a superset guarantee — compose with ``.filter(...)``."""

    def __init__(self, options):
        (self.path, self.keys, self.start, self.schema_json,
         self.mapping) = _common_opts(options)
        self.pushed = _parse_key_filters(options, self.keys,
                                         self.mapping)
        latest = VT.vt_latest_version(self.path)
        end_ts = options.get("endtimestamp")
        if end_ts is not None:
            if options.get("endversion") is not None:
                raise ValueError(
                    "vt_cdf: pass endVersion OR endTimestamp, not both"
                )
            try:
                when = float(end_ts)
            except ValueError:
                import datetime as _dt

                when = _dt.datetime.fromisoformat(end_ts)
            # the LATEST version committed at-or-before it — the same
            # resolution TIMESTAMP AS OF uses (monotone-clamped)
            self.end = VT.vt_version_at_timestamp(self.path, when)
        else:
            self.end = int(options.get("endversion", latest))
        if self.end > latest:
            raise ValueError(
                f"vt_cdf: endVersion {self.end} > latest {latest}"
            )

    def partitions(self):
        slices = []
        for v in range(self.start, self.end + 1):
            slices.extend(
                _plan_version(self.path, v, self.keys, self.schema_json,
                              self.mapping, prune=self.pushed)
            )
        return slices or [
            # Spark requires >=1 partition; an empty slice yields nothing
            _CdfSlice(self.start, "diff", [], [], self.keys,
                      self.schema_json)
        ]

    def read(self, partition: _CdfSlice):
        return _read_slice(partition)


class VersionedCdfStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offset = {"version": next undelivered}.

    ``latestOffset`` derives the available end from the table's manifest
    state (never reader-local counters), so a fresh instance against an
    old checkpoint can never plan a backwards batch. The
    ``maxVersionsPerTrigger`` cap applies only after partitions()/
    commit() has taught this planner a real position — before that the
    first call runs uncapped once (bounded by the table's history),
    which is the safe direction; a cap anchored anywhere else can land
    BEHIND a clean restart's checkpoint and re-deliver committed
    versions (the kinesis_boto round-6 lesson, applied here by
    construction). Python stream sources fall back to single-batch
    execution under Trigger.AvailableNow (Spark logs the fallback), so
    an availableNow drain arrives as ONE micro-batch and the cap only
    shapes processingTime tails — same behavior as the engine's Kinesis
    readers."""

    def __init__(self, options):
        (self.path, self.keys, self.start, self.schema_json,
         self.mapping) = _common_opts(options)
        # the multi-tenant streaming tail: merge-key component pruning
        # per micro-batch (option-driven, same contract as the batch
        # reader; offset progression is version-based so pruning never
        # shifts a checkpoint)
        self.pushed = _parse_key_filters(options, self.keys,
                                         self.mapping)
        self.max_versions = int(options.get("maxversionspertrigger", 0))
        self._planned: int | None = None

    def initialOffset(self):
        return {"version": self.start}

    def latestOffset(self):
        end = VT.vt_latest_version(self.path) + 1
        if self.max_versions > 0 and self._planned is not None:
            end = min(end, self._planned + self.max_versions)
        return {"version": max(end, self.start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        self._planned = max(self._planned or 0, hi)
        slices = []
        for v in range(lo, hi):
            slices.extend(
                _plan_version(self.path, v, self.keys, self.schema_json,
                              self.mapping, prune=self.pushed)
            )
        return slices or [
            _CdfSlice(lo, "diff", [], [], self.keys, self.schema_json)
        ]

    def read(self, partition: _CdfSlice):
        return _read_slice(partition)

    def commit(self, end: dict):
        self._planned = max(self._planned or 0, int(end["version"]))


class VersionedCdfDataSource(DataSource):
    """Options: path (table dir, required), keys (comma-separated merge
    keys, required), startingVersion (default 0 — v0 arrives as
    snapshot-as-inserts) or startingTimestamp (epoch seconds or ISO —
    the earliest version committed at-or-after it, Delta's rule),
    endVersion (batch reads only, default latest),
    maxVersionsPerTrigger (stream rate limit, default unbounded),
    columns (comma-separated projection; keys always kept — narrows
    both the feed schema AND the pyarrow reads; update detection then
    compares only the projected columns), keyFilters (JSON
    [key, op, value] triples on the merge keys — prunes diff
    components at planning in BOTH the batch and stream readers; the
    multi-tenant change-tail shape; superset semantics, compose with
    .filter())."""

    @classmethod
    def name(cls):
        return "vt_cdf"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("vt_cdf: option 'path' is required")
        cols_raw = self.options.get("columns")
        columns = (
            [c.strip() for c in cols_raw.split(",") if c.strip()]
            if cols_raw is not None else None
        )
        keys = [k.strip()
                for k in self.options.get("keys", "").split(",")
                if k.strip()]
        return _cdf_schema(path, columns, keys)

    def reader(self, schema):
        return VersionedCdfBatchReader(self.options)

    def streamReader(self, schema):
        return VersionedCdfStreamReader(self.options)


def foreach_version(apply_fn):
    """foreachBatch adapter: split one epoch of the feed on
    ``_commit_version`` and call ``apply_fn(rows, version)`` once per
    delivered version, in ascending order. The epoch is persisted for
    the split, so the source reads it once however many versions it
    carries; a version with no change rows is never applied."""

    def fn(batch_df, _batch_id) -> None:
        batch_df.persist()
        try:
            versions = sorted(
                int(r[0]) for r in
                batch_df.select("_commit_version").distinct().collect()
            )
            for v in versions:
                apply_fn(batch_df.filter(batch_df["_commit_version"] == v), v)
        finally:
            batch_df.unpersist()

    return fn


def register(spark) -> None:
    # NOTE: no pushFilters — component pruning is the keyFilters
    # OPTION (relation state), because this Spark's per-relation
    # readInfo cache lets a filter-specialized plan poison later
    # filter-free queries on the same DataFrame (see vt_writer.py)
    spark.dataSource.register(VersionedCdfDataSource)
