"""Change-data-capture application: MERGE-INTO semantics as a pure
DataFrame operator (no table-format dependency).

The reference's world is append-only streams; real pipelines also need to
APPLY a change batch (upserts + deletes) onto a snapshot — Delta/Iceberg
``MERGE INTO`` — and the relational core of that statement is an
anti-join plus a union:

    snapshot LEFT ANTI JOIN changes ON key   -- rows no change touches
    UNION ALL
    changes WHERE op IN ('U', 'I')           -- updates and inserts

A delete ('D') removes its key through the anti-join and adds nothing.
Null keys never match, so a null-keyed snapshot row is kept and a
null-keyed upsert is inserted. The anti-join reads only the change
batch's key columns, so a small batch is a broadcast hash join — the
snapshot is scanned once, filtered and unioned, with no shuffle of
either side (a full outer join, by contrast, can never be broadcast).
Latest-change-wins within the batch is resolved first with a max-by
window (the standard CDC compaction step).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 view of an event/change log: each
    row becomes a validity interval [valid_from, valid_to) closed by the
    key's next change (null valid_to = current version).

    One shuffle on the key; the interval close is a lead() window — no
    self-join. ``order_cols`` breaks ordering ties after the timestamp
    (pass the change id for a total order).
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols]
    )
    return df.select(
        "*",
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        (F.lead(ts_col).over(w).isNull()).alias("is_current"),
    )


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """Apply a change batch to a snapshot; returns the new snapshot.

    ``changes`` carries the snapshot's columns plus ``op_col`` with 'U'
    (upsert), 'I' (insert — same column semantics as 'U', so a CDC
    feed's insert rows never silently degrade), or 'D' (delete). Any
    other op, null included, fails the query that evaluates the result
    — a bad op row never silently keeps, drops or nulls a row.
    With ``seq_col`` set, multiple changes per key compact to the
    highest sequence first (latest wins, ties broken by op ascending —
    'D' < 'I' < 'U' — so a same-seq delete wins deterministically).
    Without it every 'U'/'I' row of a key is written. A change batch
    lacking a snapshot column raises ``ValueError`` naming it, before
    any job runs.
    """
    keys = list(keys)
    cols = keys + [c for c in snapshot.columns if c not in keys]
    # case-insensitive, as Spark resolves column names by default
    have = {c.lower() for c in changes.columns}
    missing = [c for c in cols if c.lower() not in have]
    if missing:
        raise ValueError(
            f"apply_changes: the change batch lacks table column(s) "
            f"{missing}"
        )
    op = F.col(op_col)
    bad_op = F.raise_error(F.concat(
        F.lit(f"apply_changes: {op_col} must be one of U, I, D; got "),
        F.coalesce(op.cast("string"), F.lit("null")),
    ))
    rows = changes.withColumn(
        op_col, F.when(op.isin("U", "I", "D"), op).otherwise(bad_op)
    )
    if seq_col is not None:
        w = Window.partitionBy(*keys).orderBy(
            F.desc(seq_col), F.asc(op_col)  # 'D' < 'U': delete wins ties
        )
        rows = (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    kept = snapshot.join(changes.select(*keys), keys, "left_anti")
    return kept.select(*cols).unionByName(
        rows.filter(F.col(op_col).isin("U", "I")).select(*cols)
    )
