"""The built-table cache (scratch.cached_build) with trivial builders: no
Spark, a private cache root per test."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from kinesis_app_spark import scratch


@pytest.fixture
def root(tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    monkeypatch.setattr(scratch, "_CACHE_ROOT", str(cache))
    return cache


@pytest.fixture
def sf_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "orders.parquet").write_bytes(b"v1")
    return str(d)


def _writer(calls: list):
    def build(entry):
        calls.append(entry)
        os.makedirs(os.path.join(entry, "t"))

    return build


def test_code_fingerprint_changes_with_one_source_byte(tmp_path):
    pkg = tmp_path / "pkg"
    shutil.copytree(
        scratch._PKG_DIR, pkg, ignore=shutil.ignore_patterns("__pycache__")
    )
    before = scratch._tree_fingerprint(str(pkg))
    assert scratch._tree_fingerprint(str(pkg)) == before
    src = pkg / "operators" / "versioned.py"
    src.write_bytes(src.read_bytes() + b"#")
    assert scratch._tree_fingerprint(str(pkg)) != before


def test_code_or_data_change_builds_a_new_entry_and_evicts_the_old(
        root, sf_dir, monkeypatch):
    calls: list = []
    first = scratch.cached_build("t", sf_dir, ["orders"], _writer(calls))
    assert scratch.cached_build("t", sf_dir, ["orders"], _writer(calls)) \
        == first
    assert calls == [first]
    monkeypatch.setattr(scratch, "_code_fingerprint", lambda: "edited")
    second = scratch.cached_build("t", sf_dir, ["orders"], _writer(calls))
    assert second != first and calls == [first, second]
    assert not os.path.exists(first) and not os.path.exists(first + ".lock")
    with open(os.path.join(sf_dir, "orders.parquet"), "ab") as fh:
        fh.write(b"more")  # new data: size changes
    third = scratch.cached_build("t", sf_dir, ["orders"], _writer(calls))
    assert third not in (first, second) and not os.path.exists(second)
    assert sorted(os.listdir(root)) == sorted(
        [os.path.basename(third), os.path.basename(third) + ".lock"]
    )


def test_partial_build_is_rebuilt(root, sf_dir):
    def failing(entry):
        os.makedirs(os.path.join(entry, "half"))
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        scratch.cached_build("t", sf_dir, ["orders"], failing)
    calls: list = []
    entry = scratch.cached_build("t", sf_dir, ["orders"], _writer(calls))
    assert calls == [entry]
    assert sorted(os.listdir(entry)) == ["_cache_entry.json", "t"]


def test_entries_of_deleted_inputs_are_evicted(root, sf_dir, tmp_path):
    gone = tmp_path / "gone"
    shutil.copytree(sf_dir, gone)
    calls: list = []
    stale = scratch.cached_build("t", str(gone), ["orders"], _writer(calls))
    other = scratch.cached_build("u", sf_dir, ["orders"], _writer(calls))
    shutil.rmtree(gone)
    kept = scratch.cached_build("v", sf_dir, ["orders"], _writer(calls))
    assert not os.path.exists(stale) and not os.path.exists(stale + ".lock")
    assert os.path.isdir(other) and os.path.isdir(kept)


def test_two_threads_on_one_key_build_once(root, sf_dir):
    calls: list = []

    def slow(entry):
        time.sleep(0.3)
        _writer(calls)(entry)

    got: list = []
    threads = [
        threading.Thread(target=lambda: got.append(
            scratch.cached_build("t", sf_dir, ["orders"], slow)))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1 and got == [calls[0], calls[0]]
