"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over cdc_dedupe_spark's query registry: every implemented
operator from SURVEY.md §2 is one registry entry carrying both the Spark
callable and (when SQL-expressible) its DuckDB oracle twin.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cdc_dedupe_spark.queries import REGISTRY, driver_order  # noqa: E402
from cdc_dedupe_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: first-wins CDC dedupe
    (the reference's core semantics, WatchStream.java:272-274)."""
    tune_session(spark)
    return REGISTRY["cdc_dedupe_first"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # driver_order: least-recently-verified first (ties alphabetical), so
    # the driver's 50-entry correctness window always holds the stalest
    # entries and sweeps the whole surface across rounds.
    return {name: REGISTRY[name].spark for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in driver_order()
        if REGISTRY[name].oracle is not None
    }
