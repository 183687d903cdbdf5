"""SparkSession factory and engine facade.

The reference's ``masterLoop`` boot path (src/Kinesis/Coordination.hs:81-112)
assembles AppEnv config + node registration + a hand-rolled control loop.
Spark-first, all of that is session configuration: the driver owns
coordination, the cluster manager owns membership, and our job is to pick
the right confs for scale.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch (sort-merge -> broadcast when a side turns
  out small).
- ``spark.sql.shuffle.partitions`` is a *default* sized for local tests;
  on a real cluster AQE's coalescing makes the initial number mostly
  irrelevant as long as it is high enough (set ~2-3x total cores there).
- Arrow on: every Pandas-UDF hop is Arrow-batched, never per-row pickle.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough (at any realistic scale factor) to broadcast in joins.
#: region/nation are fixed-size in TPC-H-like schemas regardless of SF.
BROADCASTABLE = {"region", "nation"}


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def _default_driver_memory() -> str:
    """Half of MemAvailable, clamped to [2g, 32g]; 4g if unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(32, avail_gb // 2))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "kinesis-app-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local tests run ``local[32]``; the same conf set is what we would ship
    to a 1000-executor cluster, minus the master URL.
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or _default_master()
    )
    conf = {
        # --- correctness-critical ---
        "spark.sql.session.timeZone": "UTC",
        # --- adaptive execution: the 100 TB workhorse ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing (local default; cluster: ~2-3x total cores) ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # --- Python boundary: always Arrow, never per-row pickle ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # UDTFs too: ArrowEvalPythonUDTF instead of the pickled runner
        # (tests assert no pickled BatchEvalPython node in ANY plan)
        "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
        # --- scan sizing: keep file-split partitions memory-friendly ---
        "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
        # --- broadcast threshold: generous; dims here are tiny ---
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # --- join strategy: let the planner pick shuffled-hash over
        # sort-merge when its size conditions hold (skips both sorts),
        # and let AQE rewrite SMJ->SHJ at runtime when every post-
        # shuffle partition is under 64 MiB. Same posture at cluster
        # scale: partitions are AQE-coalesced to the advisory size, so
        # the build side is bounded per task; results are unaffected
        # (join strategy never changes semantics). ---
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        # --- driver heap: Spark's local-mode default is 1g, which a 64m
        # broadcast threshold can blow through once fact-side aggregates
        # get stats-estimated under the line (found by stress.py at x10:
        # notEnoughMemoryToBuildAndBroadcastTableError on q18). In local
        # mode the driver JVM IS the cluster; size it like one executor
        # from the host's actual RAM (half of MemAvailable, capped at
        # 32g) so a smaller box spills instead of inviting the OOM
        # killer. Xmx is a cap, not an allocation. Only effective at JVM
        # launch — a later getOrCreate in the same process cannot change
        # it. ---
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
        ),
        # --- long-session hygiene: hundreds of queries accumulate
        # shuffle/broadcast state whose cleanup is driven by JVM weak
        # references; without periodic GC the ContextCleaner processes
        # them in one giant burst that stalls whichever query is running
        # (observed as 20-30 s first-shot spikes on random entries late
        # in a 297-query bench). Steady 2-minute GC amortizes it. ---
        "spark.cleaner.periodicGC.interval": "2min",
        # quieter local runs
        "spark.ui.enabled": "false",
        "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class Engine:
    """Facade: one object holding the session and the table catalog.

    ``Engine(spark, sf_dir).table("lineitem")`` is the entry point every
    operator/test uses; tables are plain parquet scans so Catalyst gets
    predicate pushdown + column pruning + partition pruning for free.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        # load_table, not a raw parquet read: events carries TIMESTAMP(NANOS)
        # which needs the nanosAsLong + truncate-to-micros normalization
        from kinesis_app_spark.sources.batch import load_table

        return load_table(self.spark, self.sf_dir, name)

    def tables(self) -> dict[str, DataFrame]:
        return {t: self.table(t) for t in TABLES}

    def register_views(self) -> None:
        """Register all tables as temp views so ``spark.sql`` works on them."""
        for t in TABLES:
            self.table(t).createOrReplaceTempView(t)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
