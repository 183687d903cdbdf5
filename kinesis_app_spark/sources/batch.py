"""Batch sources: schema-checked parquet/csv/json readers.

Plain ``spark.read`` scans — declared, not hand-scheduled — so Catalyst
gives predicate pushdown, column pruning, and partition pruning for free
(verify with df.explain: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_app_spark.engine import TABLES

#: event-time columns normalized to session-TZ TIMESTAMP regardless of how
#: the generator wrote them: TIMESTAMP(NANOS) reads as long (via
#: spark.sql.legacy.parquet.nanosAsLong) and is truncated to micros, matching
#: DuckDB's nanos->micros truncation; plain timestamp[us] without tz reads as
#: TIMESTAMP_NTZ and is cast to TIMESTAMP (identity under the engine's UTC
#: session timezone, and what downstream epoch/cast-to-long arithmetic needs —
#: Spark refuses CAST(ntz AS BIGINT)).
NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}

#: A single row group holding more rows than this serializes every scan of
#: the table on one task (Spark can split files only at row-group
#: boundaries), so load_table compacts such tables once per session.
_MAX_ROWS_PER_GROUP = 1024

#: (sf_dir, name) -> path actually scanned (original, or the compacted copy)
_LAYOUT_CACHE: dict[tuple[str, str], str] = {}


def _normalized_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Layout normalization — the engine-side OPTIMIZE/compaction step.

    Generator-written tables can arrive as ONE parquet row group no matter
    the row count; a row group is Spark's minimum split unit, so every scan
    of such a table runs on one task and every scan-stage computation
    serializes on one core regardless of cluster size. Real deployments fix
    this with table maintenance (this repo's parquet_compaction_orders is
    that operator); the engine applies the same fix transparently: on first
    load of a table whose footer shows oversized row groups, rewrite it
    once into a properly chunked session-local copy and scan that. Plans
    are unchanged (still a plain parquet scan with pushdown/pruning); the
    one-time rewrite cost is amortized over every subsequent query.
    """
    key = (sf_dir, name)
    cached = _LAYOUT_CACHE.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        rows, groups = md.num_rows, md.num_row_groups
    except Exception:  # noqa: BLE001 — unreadable footer: scan the original
        rows, groups = 0, 1
    if rows / max(groups, 1) <= _MAX_ROWS_PER_GROUP:
        _LAYOUT_CACHE[key] = path
        return path
    from kinesis_app_spark.scratch import scratch_dir

    par = spark.sparkContext.defaultParallelism
    out = scratch_dir(f"layout_{name}_")
    spark.read.parquet(path).repartition(par).write.mode(
        "overwrite"
    ).parquet(out)
    _LAYOUT_CACHE[key] = out
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cols = NANOS_TS_COLS.get(name, ())
    if cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(_normalized_path(spark, sf_dir, name))
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # integer div, not /: nanos exceed double's 2^53 exact range
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)


def read_csv(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """CSV with an explicit schema — never infer on big data (full extra scan)."""
    return spark.read.options(**options).csv(path, schema=schema, header=True)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """JSON with an explicit schema. Pass timestampFormat with micros
    (yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX) when sub-millisecond precision
    matters — the default format is millis and silently truncates."""
    return spark.read.options(**options).json(path, schema=schema)
