"""Engine facade: catalog, views, SQL surface."""

from __future__ import annotations

import pytest


def test_engine_table_catalog(engine):
    assert engine.table("lineitem").count() > 0
    with pytest.raises(KeyError):
        engine.table("nope")


def test_engine_sql_over_views(engine):
    engine.register_views()
    df = engine.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"
    )
    rows = {r["l_returnflag"]: r["n"] for r in df.collect()}
    assert sum(rows.values()) == engine.table("lineitem").count()


def test_env_knobs_are_a_known_set():
    """Every ``SPARK_GRAFT_*`` name the package reads, spelled out: a new
    knob must show up as a diff to this set."""
    import pathlib
    import re

    import kinesis_app_spark

    root = pathlib.Path(kinesis_app_spark.__file__).parent
    found = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_([A-Z0-9_]+)", path.read_text())
    }
    assert found == {"CPUS", "DRIVER_MEM", "PIN", "SCRATCH"}


def test_scratch_dir_removed_at_exit(tmp_path):
    """A scratch dir does not outlive the interpreter that made it."""
    import os
    import pathlib
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c",
         "from kinesis_app_spark.scratch import scratch_dir\n"
         "d = scratch_dir('exit_probe_')\n"
         "open(d + '/state', 'w').write('x')\n"
         "print(d)"],
        env={**os.environ, "SPARK_GRAFT_SCRATCH": str(tmp_path)},
        cwd=pathlib.Path(__file__).resolve().parents[1],
        capture_output=True, text=True, check=True,
    )
    made = out.stdout.strip()
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)
