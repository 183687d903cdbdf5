"""Scratch placement for EPHEMERAL per-run streaming state.

The availableNow gate/bench queries create a fresh checkpoint (offset
log + commit log + state store) per invocation and never resume it —
it is scratch state by construction, yet it pays the per-batch price
of real durability: every micro-batch commits one delta file (+ CRC)
per state-store instance through rename-based atomic writes. Measured
on this box (plans/r09, state_probe): ~60-150 ms per store commit on
the ext4 /tmp, roughly halved on tmpfs, across HDFS-backed AND RocksDB
providers — pure filesystem fixed cost, data-size-independent at gate
scale.

``scratch_dir()`` places such state on the fastest local medium:
``$SPARK_GRAFT_SCRATCH`` if set, else ``/dev/shm`` when writable, else
the normal tempdir. PRODUCTION posture: a checkpoint you intend to
RESUME (the whole point of checkpoints at 100 TB) must live on
durable, shared storage — pass a real checkpointLocation there; this
helper is only for run-and-discard gate state, which is why only the
gate entries call it (the StreamRunner API takes caller-owned
checkpoint dirs and is unaffected).

No results are cached here: a fresh dir per invocation, removed when
the interpreter that created it exits (``atexit``; a hard kill still
leaves it behind).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile


def scratch_base() -> str:
    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base:
        return base
    if os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    return tempfile.gettempdir()


def _remove_at_exit(path: str, owner: int) -> None:
    if os.getpid() == owner:  # never from a forked child's exit
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh ephemeral dir for one streaming run's checkpoint/state,
    registered for ``shutil.rmtree(..., ignore_errors=True)`` at
    interpreter exit: scratch on the RAM-backed ``/dev/shm`` must not
    outlive the process."""
    path = tempfile.mkdtemp(prefix=prefix, dir=scratch_base())
    atexit.register(_remove_at_exit, path, os.getpid())
    return path
