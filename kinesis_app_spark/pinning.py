"""Pin strategy for multiply-consumed / iteratively-rebuilt subtrees.

Round 8 introduced ``localCheckpoint(eager=False)`` pins on every shared
expensive subtree (a consumer re-executing the subtree per reference was
the single largest waste class found by measurement). ``localCheckpoint``
is the right LOCAL-MODE tool: it materializes to executor-local block
storage with no replication and truncates lineage, so N consumers run the
subtree once. On a real cluster it trades fault tolerance away — an
executor loss makes the pinned partitions unrecoverable (no lineage left
to recompute) and it pins blocks to executors, which is hostile to
dynamic allocation.

The round-8 verdict asked for that trade-off to be a KNOB, not a comment
(VERDICT r8, "Next round" item 7). ``pin()`` is that knob; the strategy
comes from ``$SPARK_GRAFT_PIN``:

- ``local`` (default): ``localCheckpoint(eager=...)`` — fastest on one
  box, zero fault tolerance for the pinned blocks. What the local bench
  and the driver's gates run.
- ``reliable``: ``DataFrame.checkpoint(eager=...)`` — materializes to the
  (reliable, replicated at cluster scale) checkpoint directory and
  truncates lineage; survives executor loss. The 100 TB default posture.
  The checkpoint dir must be on storage every executor reaches: on a
  cluster master the caller sets it (``setCheckpointDir``) and an unset
  dir raises; on a ``local`` master a ``scratch_dir`` is set lazily
  (removed when the process exits).
- ``none``: no pin at all — full lineage everywhere. Used by plan-audit
  tests that must see through the pin, and as the escape hatch.

Any other value (including the removed ``persist_disk``) raises
``ValueError``.

Semantics: a pin NEVER changes what a query computes — every strategy
(including ``none``) yields the same rows. Pre-mutation SNAPSHOTS (a
DataFrame captured eagerly before its source is mutated, e.g. the dedup
index screen verdicts) are NOT routed through ``pin()``: those require
materialization for correctness and keep an explicit eager
``localCheckpoint``/``checkpoint`` at the call site.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from kinesis_app_spark.scratch import scratch_dir

_VALID = ("local", "reliable", "none")


def pin_strategy() -> str:
    s = os.environ.get("SPARK_GRAFT_PIN", "local")
    if s not in _VALID:
        raise ValueError(f"SPARK_GRAFT_PIN={s!r}: use one of {_VALID}")
    return s


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize-once marker for a subtree consumed more than once (or
    rebuilt per iteration). Strategy per ``$SPARK_GRAFT_PIN`` above."""
    s = pin_strategy()
    if s == "none":
        return df
    if s == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            if sc.master != "local" and not sc.master.startswith("local["):
                raise RuntimeError(
                    f"SPARK_GRAFT_PIN=reliable on master {sc.master!r}: "
                    "call sparkContext.setCheckpointDir(...) with a "
                    "path every executor reaches (HDFS/S3/NFS) first"
                )
            sc.setCheckpointDir(scratch_dir("spark_reliable_ckpt_"))
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
