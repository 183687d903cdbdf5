"""Round-9 optimization tests: pin-strategy knob, advice-r8 hardening
(PCA null/empty vectors, dedup-index planner-chosen semi join)."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kinesis_app_spark import registry
from kinesis_app_spark.oracle import compare

SF_DIR = "/root/testdata/sf0.001"


def _write_embeddings(rows, tmp_path_factory) -> str:
    """Write (vec_id, embedding, label) rows as ONE parquet file (the
    testdata layout both engines read)."""
    d = str(tmp_path_factory.mktemp("r9_emb_"))
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, f"{d}/embeddings.parquet")
    return d


def _hostile_embeddings_dir(tmp_path_factory) -> str:
    """A corpus with a NULL embedding and a zero-length embedding mixed
    into real vectors — the advice-r8 latent divergence inputs."""
    dim = 6
    rows = []
    for i in range(40):
        v = [((i * 3 + j) % 7) * 0.25 for j in range(dim)]
        v[2] = 5.0 if i % 2 == 0 else -5.0
        rows.append((i, v, i % 2))
    rows.append((100, None, 0))  # NULL embedding
    rows.append((101, [], 1))  # zero-length embedding
    return _write_embeddings(rows, tmp_path_factory)


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    return _hostile_embeddings_dir(tmp_path_factory)


def _conn(d: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    conn.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    return conn


def test_embedding_covariance_null_and_empty_vectors(spark, hostile_dir):
    """NULL/zero-length vectors contribute nothing to the Gram cells but
    still count in n — exactly the oracle's UNNEST semantics. Before the
    round-9 guard the Arrow kernel raised on np.vstack(None)."""
    spec = registry.REGISTRY["embedding_covariance"]
    res = compare(
        "embedding_covariance",
        spec.fn(spark, hostile_dir),
        spec.oracle,
        _conn(hostile_dir),
    )
    assert res.ok, res.problems


def test_pca_project_skips_null_and_empty_vectors(spark, hostile_dir):
    """The projection emits NO row for NULL/zero-length vectors (the
    oracle's UNNEST yields no proj rows for them) while n still counts
    every embedding row (the oracle's count(*) FROM emb)."""
    spec = registry.REGISTRY["pca_project_embeddings"]
    df = spec.fn(spark, hostile_dir)
    got_ids = {r["vec_id"] for r in df.collect()}
    assert 100 not in got_ids and 101 not in got_ids
    assert len(got_ids) == 40
    res = compare(
        "pca_project_embeddings", df, spec.oracle, _conn(hostile_dir)
    )
    assert res.ok, res.problems


# ---------------------------------------------------------------------
# pin-strategy knob (verdict r8 item 7 / advice r8 graph.py note)
# ---------------------------------------------------------------------

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("strategy", ["local", "reliable", "none"])
def test_pin_strategy_result_equivalence(spark, monkeypatch, strategy):
    """Every pin strategy computes identical rows: the pin is a
    materialization hint, never a semantic operator. Exercised on a
    pinned single-pass entry AND an iterative graph entry (per-round
    lineage truncation path)."""
    monkeypatch.setenv("SPARK_GRAFT_PIN", strategy)
    cov = _rows(registry.REGISTRY["embedding_covariance"].fn(spark, SF_DIR))
    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    base = _rows(registry.REGISTRY["embedding_covariance"].fn(spark, SF_DIR))
    assert cov == base


@pytest.mark.parametrize("strategy", ["reliable"])
def test_pin_strategy_graph_iteration(spark, monkeypatch, strategy):
    """The iterative connected-components loop converges to the same
    labels under the cluster-safe pin strategies."""
    from kinesis_app_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12), (11, 13)], ["id_a", "id_b"]
    )
    monkeypatch.setenv("SPARK_GRAFT_PIN", strategy)
    got = _rows(connected_components(edges))
    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    want = _rows(connected_components(edges))
    assert got == want


def test_pin_strategy_plan_shapes(spark, monkeypatch):
    """Plan audit under the knob: 'local' pins to an ExistingRDD scan,
    'none' leaves the raw lineage (the kernel node visible, no pin scan
    at all)."""
    fn = registry.REGISTRY["embedding_covariance"].fn

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    p_local = plan(fn(spark, SF_DIR))
    assert "ExistingRDD" in p_local

    monkeypatch.setenv("SPARK_GRAFT_PIN", "none")
    p_none = plan(fn(spark, SF_DIR))
    assert "MapInPandas" in p_none
    assert "ExistingRDD" not in p_none


class _FakeContext:
    """The slice of SparkContext ``pin`` uses under ``reliable``."""

    def __init__(self, master, checkpoint_dir=None):
        self.master = master
        self.checkpoint_dir = checkpoint_dir

    def getCheckpointDir(self):  # noqa: N802 - SparkContext's name
        return self.checkpoint_dir

    def setCheckpointDir(self, path):  # noqa: N802
        self.checkpoint_dir = path


class _FakeFrame:
    def __init__(self, sc):
        self.sparkSession = type("S", (), {"sparkContext": sc})()
        self.checkpointed = False

    def checkpoint(self, eager=False):
        self.checkpointed = True
        return self


def test_reliable_pin_on_local_master_uses_a_scratch_dir(
    monkeypatch, tmp_path
):
    from kinesis_app_spark.pinning import pin

    monkeypatch.setenv("SPARK_GRAFT_PIN", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    df = _FakeFrame(_FakeContext("local[4]"))
    assert pin(df) is df and df.checkpointed
    ckpt = df.sparkSession.sparkContext.checkpoint_dir
    # a scratch_dir: under the scratch base, removed at process exit
    assert os.path.dirname(ckpt) == str(tmp_path)
    assert os.path.basename(ckpt).startswith("spark_reliable_ckpt_")


def test_reliable_pin_on_cluster_master_needs_a_checkpoint_dir(
    monkeypatch
):
    from kinesis_app_spark.pinning import pin

    monkeypatch.setenv("SPARK_GRAFT_PIN", "reliable")
    bare = _FakeFrame(_FakeContext("spark://master:7077"))
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        pin(bare)
    assert not bare.checkpointed
    shared = _FakeFrame(
        _FakeContext("yarn", checkpoint_dir="hdfs:///ckpt")
    )
    assert pin(shared).checkpointed
    assert shared.sparkSession.sparkContext.checkpoint_dir == "hdfs:///ckpt"


def test_unknown_pin_strategy_raises(monkeypatch):
    from kinesis_app_spark.pinning import pin_strategy

    monkeypatch.setenv("SPARK_GRAFT_PIN", "persist_disk")
    with pytest.raises(ValueError, match="persist_disk"):
        pin_strategy()


# ---------------------------------------------------------------------
# vt_table derived slice packing (verdict r8 item 6)
# ---------------------------------------------------------------------

def test_vt_default_slice_packing_derives_from_manifest(spark, tmp_path):
    """An UN-OPTIONED read packs small files into few Python tasks (the
    derived default: max(32768, live/4·cores)); explicit 0 restores one
    file per slice; results identical either way."""
    from pyspark.sql import functions as F

    from kinesis_app_spark.operators import versioned as VT
    from kinesis_app_spark.sources import vt_writer as W
    from kinesis_app_spark.sources.vt_writer import (
        VersionedTableBatchReader,
    )

    table = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    VT.vt_create(df, table)
    VT.vt_optimize(spark, table, cluster_cols=["k"],
                   max_records_per_file=500)  # 8 files x 500 rows
    n_files = len(VT.vt_files(table, VT.vt_latest_version(table)))
    assert n_files == 8

    derived = VersionedTableBatchReader({"path": table})
    assert derived.target_rows >= 32768
    assert len(derived.partitions()) == 1  # 4000 live rows pack into one

    per_file = VersionedTableBatchReader(
        {"path": table, "slicetargetrows": "0"}
    )
    assert len(per_file.partitions()) == n_files

    W.register(spark)
    got = sorted(
        spark.read.format("vt_table").option("path", table)
        .load().collect()
    )
    want = sorted(
        spark.read.format("vt_table").option("path", table)
        .option("sliceTargetRows", "0").load().collect()
    )
    assert got == want == sorted(df.collect())


def test_screen_and_add_broadcast_is_gated():
    """Advice r8: the accepted-id semi joins must not force a broadcast
    of an UNBOUNDED id set. The hint is now gated on the materialized
    verdict count (cheap cached scan) — present only under the bound."""
    import inspect

    from kinesis_app_spark.operators import dedupindex

    src = inspect.getsource(dedupindex.dedup_index_screen_and_add)
    gate = src.index("new_ids.count()")
    hint = src.index("F.broadcast(new_ids)")
    assert gate < hint, "broadcast must be behind the count gate"
