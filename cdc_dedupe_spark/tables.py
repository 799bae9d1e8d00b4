"""Loaders for the driver-generated parquet corpus (TESTDATA.md).

``spark.read.parquet`` gives us the vectorized reader + predicate pushdown
+ column pruning for free; callers filter/select on the returned DataFrame
and Catalyst pushes it into the scan. At 100 TB the same call reads a
partitioned directory tree and partition pruning applies unchanged.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def session_parallelism(spark: SparkSession) -> int:
    """The session's shuffle width as an int, surviving platforms where
    `spark.sql.shuffle.partitions` is a non-numeric sentinel like "auto"
    (ADVICE r13 #2): fall back to the cluster's defaultParallelism, which
    is what such platforms resolve the sentinel against anyway."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def plan_width(df: DataFrame) -> int:
    """Physical partition count of the plan WITHOUT a Python-RDD
    conversion: `df.rdd` appends a JVM->Python serialization stage to the
    plan on every call, and that planning cost lands inside the timed
    region of every benched query that probes width (ADVICE r13 #2).
    `queryExecution.toRdd` plans only the internal binary-row RDD — no
    job runs, nothing is appended. Falls back to `df.rdd` where the
    JVM handle is unavailable (e.g. Spark Connect)."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a NARROW scan up to the session's shuffle parallelism —
    and do nothing (identity: the SAME DataFrame object, zero exchange)
    when the scan is already at least that wide.

    Why: the local test corpora are one single-row-group parquet file per
    table, so byte-range splitting cannot parallelize them and every
    downstream per-row kernel (md5 chains, shingle explodes, Levenshtein
    blocks, HOF folds) runs SERIAL unless an exchange intervenes — the
    scan-parallelism-inheritance defect class SCALING.md documents eleven
    sightings of. At 100 TB a multi-file scan is already wide, the
    condition is false, and the plan carries NO extra exchange — this is
    a local-layout adaptation, not a scale crutch (pinned by
    tests/test_tables.py::test_spread_scan_noop_on_wide_scan).

    Keys give hash partitioning (co-location for downstream groupBy/join
    on the same key); without keys it is round-robin."""
    spark = df.sparkSession
    par = session_parallelism(spark)
    if plan_width(df) >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to session-tz TIMESTAMP regardless of how the
    generator encoded it. The corpus has shipped two encodings so far:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so we
      read nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and
      rebuild a µs timestamp with integer division — truncation to µs
      matches DuckDB's TIMESTAMP_NS -> TIMESTAMP cast (SURVEY.md §7).
    - plain µs TIMESTAMP (isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
      cast to TIMESTAMP, which is value-identity under the UTC session tz
      (session.py) and keeps downstream windows/watermarks on the same type
      every round has verified against.

    Branching on the *read* schema (not an assumed file schema) means the
    next generator change breaks one obvious test, not 30 queries.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, TimestampType):
        return df
    # A third encoding (string ISO, millis-long behind a different reader
    # conf, ...) must fail HERE — loudly, batch and streaming alike — not
    # surface as mis-scaled values 30 queries downstream.
    raise ValueError(
        f"events.ts has unhandled type {dt.simpleString()}; "
        "extend normalize_event_ts for the new generator encoding"
    )


_TS_ENCODING_OK: set[str] = set()


def assert_events_ts_is_timestamp(sf_dir: str) -> None:
    """Close the nanos-assumption hole in normalize_event_ts's LongType
    branch (ADVICE r6 #1): under nanosAsLong, a TIMESTAMP(NANOS) column and
    a raw int64 column are indistinguishable in the *Spark* schema, but the
    parquet footer knows. A raw int64 ts (e.g. epoch millis) would silently
    mis-scale 1000x — so check the footer's physical/logical type once per
    load (one footer read, driver-side) and fail loudly instead."""
    if sf_dir in _TS_ENCODING_OK:
        return
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - environment-dependent
        # pyarrow is a declared dependency (pyproject [project]), but an
        # exotic install without it shouldn't fail every events read over
        # a diagnostic-only check — warn once and skip the tripwire.
        warnings.warn(
            "pyarrow is not installed; skipping the events.ts parquet-footer "
            "encoding check — a raw-int64 ts column would mis-scale silently",
            stacklevel=2,
        )
        _TS_ENCODING_OK.add(sf_dir)
        return
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):  # partitioned dataset: any one footer decides
        parts = [e for e in sorted(os.listdir(path)) if e.endswith(".parquet")]
        if not parts:
            return  # empty dataset dir; Spark will fail on read anyway
        path = os.path.join(path, parts[0])
    ts_type = str(pq.read_schema(path).field("ts").type)
    if not ts_type.startswith("timestamp["):
        raise ValueError(
            f"events.ts parquet type is {ts_type!r}, not a timestamp; "
            "normalize_event_ts would mis-scale it — extend the loader for "
            "the new generator encoding"
        )
    _TS_ENCODING_OK.add(sf_dir)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nanosAsLong is a no-op for non-NANOS files, so it is safe to set
    # unconditionally; normalize_event_ts adapts to whatever was read.
    assert_events_ts_is_timestamp(sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
