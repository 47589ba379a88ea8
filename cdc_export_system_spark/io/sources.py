"""Parquet sources for the driver star schema (+ generic table loading).

Reading is plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning (the Spark analogue of the
reference's reliance on the Postgres planner + its ``updated_at`` index,
reference: ``seeds/001_schema.sql:11``).

The one special case: ``events.parquet`` stores ``ts`` as parquet INT64
TIMESTAMP(NANOS), which Spark cannot map to TimestampType. With
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long; the
testdata carries no sub-microsecond bits, so the conversion
``timestamp_micros(ns / 1000)`` is lossless and matches what DuckDB sees.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.schemas import STAR_TABLES
from cdc_export_system_spark.session import ensure_engine_conf

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; normalizes events.ts to TimestampType."""
    ensure_engine_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, not `/`: epoch-nanos exceed double's exact range
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Testdata variants with isAdjustedToUTC=false arrive as TIMESTAMP_NTZ
    # when the session pre-dates ensure_engine_conf (an already-analyzed
    # read, or a conf the host refuses). Under the pinned UTC session the
    # NTZ wall clock IS the UTC instant, so the cast is value-preserving
    # and keeps every downstream operator on plain TimestampType.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


FAN_OUT_MAX_BYTES = 64 << 20  # only fan out scans smaller than this


def fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a *small* single-file scan to cluster
    parallelism before a CPU-heavy map stage (hashing, shingling, vector
    math).

    Parquet splits align to row groups, so a small table written as one
    row group scans as ONE partition — on local[32] a hash-heavy pipeline
    would run on a single core. The gate makes this scale-safe: inputs
    over FAN_OUT_MAX_BYTES (i.e. anything that already scans as multiple
    splits on a real cluster) pass through untouched, so at warehouse
    scale this is a no-op and the scan's own parallelism is used; below
    it, the exchange moves at most 64 MB — trivially cheaper than the
    single-core map it prevents.
    """
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    par = spark.sparkContext.defaultParallelism
    if size <= FAN_OUT_MAX_BYTES and par > 1:
        return df.repartition(par)
    return df


def load_table_fanned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + fan_out — for operators whose per-row CPU cost
    dominates the scan (dedup hashing, shingling, embedding math)."""
    return fan_out(spark, load_table(spark, sf_dir, name), os.path.join(sf_dir, f"{name}.parquet"))


# Memoized per-session temp views for the single-statement SQL query forms.
# Building a multi-join plan through the DataFrame API costs a py4j round
# trip per Column/method call (~0.3-0.5 s for a 6-table TPC-H plan); one
# spark.sql() parse is O(10 ms). The view name encodes the sf_dir so
# concurrent scales never collide; the cache maps view -> owning session
# (holding the session ref makes the identity check safe against id reuse)
# so a fresh session — e.g. the driver's vanilla one — re-registers.
_VIEW_CACHE: dict[str, SparkSession] = {}


def star_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register (once per session+sf_dir) a temp view of one star table and
    return its name, for use inside single-statement spark.sql() queries."""
    # unconditionally, not just on the registration miss: a cached view
    # skips load_table, and the SQL built over it still depends on the
    # session timezone (timestamp literals, output rendering) — a caller
    # that re-poisoned the session between queries must still get UTC
    ensure_engine_conf(spark)
    view = "__star_" + name + "_" + "".join(c if c.isalnum() else "_" for c in sf_dir)
    if _VIEW_CACHE.get(view) is not spark:
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        _VIEW_CACHE[view] = spark
    return view


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the star schema as temp views for the SQL surface."""
    for name in tables or STAR_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
