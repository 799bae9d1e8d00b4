"""SparkSession factory with scale-aware defaults.

Local test/bench sessions run ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same code runs unchanged (the builder only sets master when
none is configured). Defaults chosen for correctness parity with the
DuckDB oracle (UTC session timezone) and for sane local shuffle sizing;
at cluster scale AQE re-plans shuffle partition counts at runtime.

Python workers are forked by ``cdc_dedupe_spark.worker_daemon`` instead
of the stock ``pyspark.daemon``: pyspark invalidates import caches at the
start of every task, and under CPython 3.11 that re-reads pyspark.zip's
central directory once per zip importer (~100-240 ms CPU per task). The
package daemon skips the re-read while the archive is unchanged. The
daemon module is a static conf, so a session created elsewhere and
handed in (then tuned by ``tune_session``) keeps the stock daemon.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Repo root (parent of this package) — Python workers must be able to
# import cdc_dedupe_spark to unpickle data sources / UDF closures defined
# here, regardless of the driver's cwd. On a real cluster the package is
# shipped via --py-files / pip instead; this keeps local-mode deploys and
# CLI runs from any directory working.
_PKG_ROOT = str(Path(__file__).resolve().parents[1])


def _ensure_worker_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _PKG_ROOT + (os.pathsep + pp if pp else "")

# Shuffle partitions: small for local SF<=0.1 (BASELINE.md env: "shuffle
# partitions <= 8" is too small to exercise parallelism on local[32]; 32
# matches the core count and AQE coalesces down when partitions are tiny).
_LOCAL_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "cdc-dedupe-spark") -> SparkSession:
    _ensure_worker_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
    )
    # Parallelism-defect probe (diag.py): when SPARK_GRAFT_EVENTLOG_DIR is
    # set, write Spark's standard event log there (plain text, single file)
    # so the bench can flag single-task stages post-run. Off by default —
    # the log is only useful to a harness that parses it.
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evlog}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "cdc_dedupe_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


from contextlib import contextmanager


@contextmanager
def temp_sql_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of the block, restoring the
    previous values (or unsetting, if previously unset) afterwards — for
    queries that must EXECUTE part of their plan under non-default
    engine knobs (AQE skew-split thresholds, runtime bloom filter) while
    leaving the shared session untouched for every other registry entry.
    Anything lazily returned to the caller must be materialized inside
    the block (e.g. ``localCheckpoint(eager=True)``): confs are read at
    execution time, not plan-build time."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        # get(k, None) is None unless the conf was EXPLICITLY set —
        # get(k) would return Spark's built-in default, and restoring
        # that as an explicit set leaves the session polluted (caught by
        # test_streaming's provider-unset hygiene assert).
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity/perf confs to an externally provided
    session (the driver hands us its own SparkSession; master/memory are
    fixed by then but SQL confs are not). ``spark.python.daemon.module``
    is static too, so such a session keeps the stock ``pyspark.daemon``
    and its tasks still re-read pyspark.zip (see the module docstring)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        # Not settable if the session already ran streaming queries; best-effort.
        spark.conf.set("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
    except Exception:
        pass
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
