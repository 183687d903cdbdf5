"""Every dir the package creates: EPHEMERAL per-run state and the one
cache of built registry tables.

Ephemeral state (``scratch_dir``). The availableNow gate/bench queries
create a fresh checkpoint (offset log + commit log + state store) per
invocation and never resume it — it is scratch state by construction,
yet it pays the per-batch price of real durability: every micro-batch
commits one delta file (+ CRC) per state-store instance through
rename-based atomic writes. Measured on a 4-core box (plans/r09,
state_probe): ~60-150 ms per store commit on an ext4 /tmp, roughly
halved on tmpfs, across HDFS-backed AND RocksDB providers — pure
filesystem fixed cost, data-size-independent at gate scale.

``scratch_dir()`` places such state on the fastest local medium:
``$SPARK_GRAFT_SCRATCH`` if set, else ``/dev/shm`` when writable, else
the normal tempdir. Each dir is fresh per call and removed when the
interpreter that created it exits (``atexit``; a hard kill still leaves
it behind). PRODUCTION posture: a checkpoint you intend to RESUME (the
whole point of checkpoints at 100 TB) must live on durable, shared
storage — pass a real checkpointLocation there; this helper is only
for run-and-discard state (the StreamRunner API takes caller-owned
checkpoint dirs and is unaffected).

Built tables (``cached_build``). Registry entries that build versioned
tables or persisted indexes once and query them many times keep them in
ONE cache root under ``tempfile.gettempdir()`` (disk, not ``/dev/shm``:
entries outlive the process). An entry is keyed on everything its
content is a function of — the entry kind, the real path of the input
dir, each input table's size+mtime, and a hash of every ``*.py`` in this
package — so new data or ANY code edit builds a new entry, never serves
the old one, and evicts it (see ``cached_build``).
"""

from __future__ import annotations

import atexit
import fcntl
import functools
import hashlib
import json
import os
import shutil
import tempfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "kinesis_cache")
_MARKER = "_cache_entry.json"


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
    """A fresh ephemeral dir for one run's checkpoint/state/files,
    registered for ``shutil.rmtree(..., ignore_errors=True)`` at
    interpreter exit: scratch on the RAM-backed ``/dev/shm`` must not
    outlive the process."""
    path = tempfile.mkdtemp(prefix=prefix, dir=scratch_base())
    atexit.register(_remove_at_exit, path, os.getpid())
    return path


# =====================================================================
# the built-table cache
# =====================================================================

def _table_sig(sf_dir: str, name: str) -> str:
    """Total size + newest mtime of a source table (a ``.parquet`` file
    or dir): test data is regenerated between runs, and an entry built
    from older data must not serve the new."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        tot, mt = 0, 0
        for f in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, f))
            tot += st.st_size
            mt = max(mt, st.st_mtime_ns)
        return f"{tot}:{mt}"
    st = os.stat(p)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _tree_fingerprint(pkg_dir: str) -> str:
    """sha256 over the relative path and bytes of every ``*.py`` under
    ``pkg_dir``. The whole package, not a per-builder module list: a
    list a builder forgets to extend would serve stale tables."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, "rb") as fh:
                    body = fh.read()
                rel = os.path.relpath(path, pkg_dir)
                h.update(f"{rel}\0{len(body)}\0".encode())
                h.update(body)
    return h.hexdigest()


@functools.cache
def _code_fingerprint() -> str:
    return _tree_fingerprint(_PKG_DIR)


def _entry_key(kind: str, real_sf: str, tables) -> str:
    h = hashlib.sha256()
    parts = [kind, real_sf]
    parts += [f"{t}={_table_sig(real_sf, t)}" for t in tables]
    parts.append(_code_fingerprint())
    for part in parts:
        h.update(part.encode() + b"\0")
    return h.hexdigest()[:12]


def _lock(path: str, wait: bool = True) -> int | None:
    """An exclusive ``flock`` on ``path`` (created if missing) as an open
    fd; None if ``wait`` is False and someone else holds it. An evictor
    unlinks a lock file while holding it, so a waiter that then wins the
    lock on the dead inode opens the path again."""
    while True:
        fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
        except BlockingIOError:
            os.close(fd)
            return None
        try:
            if os.stat(path).st_ino == os.fstat(fd).st_ino:
                return fd
        except FileNotFoundError:
            pass
        os.close(fd)


def _entry_info(entry: str) -> dict | None:
    try:
        with open(os.path.join(entry, _MARKER)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _evictable(entry: str, kind: str, real_sf: str) -> bool:
    """A dir with no marker (a dead partial build, or a lock file left
    by a build_fn that raised), an entry whose input dir is gone, or an
    older key of the same (kind, input dir)."""
    info = _entry_info(entry)
    return (
        info is None
        or not os.path.isdir(info["sf_dir"])
        or (info["kind"], info["sf_dir"]) == (kind, real_sf)
    )


def _evict(kind: str, real_sf: str, keep: str) -> None:
    names = {
        n[: -len(".lock")] if n.endswith(".lock") else n
        for n in os.listdir(_CACHE_ROOT)
    }
    for name in sorted(names - {keep}):
        entry = os.path.join(_CACHE_ROOT, name)
        if not _evictable(entry, kind, real_sf):
            continue
        fd = _lock(entry + ".lock", wait=False)
        if fd is None:
            continue  # being built right now
        try:
            if _evictable(entry, kind, real_sf):  # re-read under the lock
                shutil.rmtree(entry, ignore_errors=True)
                os.unlink(entry + ".lock")
        finally:
            os.close(fd)


def cached_build(kind: str, sf_dir: str, tables, build_fn) -> str:
    """The dir ``<cache root>/<kind>_<key12>`` after ``build_fn(dir)`` has
    filled it, once per key: ``kind``, ``realpath(sf_dir)``, the sig of
    each table in ``tables`` and the package code fingerprint.

    ``build_fn`` builds IN PLACE at the final path (it may create the
    dir itself, or sub-dirs in it): manifests store absolute data-file
    paths, clones reference their source's files and stream checkpoints
    live inside the build, so a rename into place would break them. The
    build runs under an exclusive ``flock`` on ``<dir>.lock`` and is
    published by a marker written last (temp file + rename); a dir
    without a marker is a partial build and is rebuilt from scratch.
    After a build, other entries of the same ``(kind, sf_dir)``, entries
    whose ``sf_dir`` no longer exists and dead partial builds are
    removed, so the root does not grow across runs."""
    real_sf = os.path.realpath(sf_dir)
    name = f"{kind}_{_entry_key(kind, real_sf, tables)}"
    entry = os.path.join(_CACHE_ROOT, name)
    marker = os.path.join(entry, _MARKER)
    if os.path.exists(marker):
        return entry
    os.makedirs(_CACHE_ROOT, exist_ok=True)
    fd = _lock(entry + ".lock")
    try:
        if not os.path.exists(marker):
            shutil.rmtree(entry, ignore_errors=True)
            build_fn(entry)
            os.makedirs(entry, exist_ok=True)
            with open(marker + ".tmp", "w") as fh:
                json.dump({"kind": kind, "sf_dir": real_sf}, fh)
            os.replace(marker + ".tmp", marker)
            _evict(kind, real_sf, name)
    finally:
        os.close(fd)
    return entry
