"""Format-agnostic batch table ingest (round 14): parquet is the engine's
native layout (tables.py), but a user switching from the reference brings
whatever their exporters produce — CSV dumps, JSONL event logs. This
loader gives those the SAME semantics as the parquet path (explicit
schema or schema-carrying format, events-ts normalization hook), so every
declared query runs unchanged on any of the three formats.

Scale notes per format:
- parquet: vectorized reader, predicate pushdown, column pruning — the
  recommended layout; everything else should be converted on ingest.
- csv: schema must be EXPLICIT (inference scans the data once and guesses
  — silently wrong types at 100 TB); only trivial pushdown, no pruning
  benefits beyond column projection at parse time.
- json (JSONL): schema explicit for the same reason; one JSON parse per
  row is the dominant cost — convert to parquet after first read.
- orc (round 15): the other columnar lakehouse format — schema-carrying,
  vectorized reader, predicate pushdown and column pruning like parquet;
  read natively, no conversion required (convert only to unify layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMATS = ("parquet", "csv", "json", "orc")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read a table from `path` in `fmt` (parquet | csv | json | orc).

    For csv/json a schema is REQUIRED — inference is a full extra pass
    that guesses types (a long column with one stray float becomes
    double, silently breaking integer-exact aggregation paths). CSV
    defaults: header=true, standard ISO timestamps parse via the schema's
    TimestampType columns.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; have {_FORMATS}")
    reader = spark.read
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "orc":
        # schema-carrying and vectorized like parquet; an explicit schema
        # is accepted but not required
        if schema is not None:
            reader = reader.schema(schema)
        return reader.options(**options).orc(path)
    if schema is None:
        raise ValueError(
            f"{fmt} ingest requires an explicit schema: inference re-scans "
            "the data and guesses types (tables built this way break the "
            "integer-exact query contracts)"
        )
    reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true", **options}
        return reader.options(**opts).csv(path)
    return reader.options(**options).json(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    partition_by: tuple[str, ...] = (),
    n_buckets: int = 8,
) -> None:
    """Persist a frame as a managed parquet table partitioned by the
    coarse predicate columns and BUCKETED (+ sorted) on the join/dedup
    key — the 100 TB curated-corpus layout (tests/test_bucketing.py):
    partition pruning answers the categorical filters (lang, split)
    from metadata, and every later digest-keyed pass (keeper groupBy,
    incremental anti-join, contamination probe) runs with ZERO
    exchanges because the bucketed scan already reports
    hashpartitioning(bucket_col). The one-time bucket shuffle at write
    is the amortized cost. Spark only supports bucketing through the
    catalog (saveAsTable), hence a table name, not a path.

    Re-runnable across sessions: with the default in-memory catalog a
    previous session's managed LOCATION survives on storage while its
    catalog entry does not, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS — so the stale location is cleared through
    the Hadoop FS API (works on any filesystem, not just local disk)
    after dropping whatever entry this session does have."""
    spark = df.sparkSession
    drop_table_and_location(spark, table_name)
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_by)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def drop_table_and_location(spark, table_name: str) -> None:
    """Drop a managed table AND clear its storage location: with the
    default in-memory catalog a previous session's managed LOCATION
    survives on storage while its catalog entry does not, and saveAsTable
    then fails with LOCATION_ALREADY_EXISTS — cleared through the Hadoop
    FS API (works on any filesystem, not just local disk)."""
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table_name
    )
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(path, True)


def write_partitioned_single_file_bins(
    df: DataFrame,
    table_name: str,
    partition_by: tuple[str, ...],
    n_tasks: int | None = None,
) -> None:
    """Persist a frame partitioned by ``partition_by`` with EXACTLY ONE
    file per partition-key combination — the compaction-rewrite layout
    (Delta OPTIMIZE / Iceberg rewriteDataFiles output contract): a hash
    repartition on the partition columns puts every combo in exactly one
    task, and the partitioned writer then emits one file per combo per
    task. File count == distinct-combo count by construction, pinned in
    tests/test_round19_ops.py.

    ``n_tasks`` (normally the distinct-combo count, known to compaction
    callers from their metadata-sized plan) pins the shuffle width so
    write parallelism scales with the OUTPUT FILE count: a bare
    column-only repartition() is an AQE sizing hint, and on a
    byte-small corpus AQE coalesces it to ONE task — a serial write the
    r19 bench skew probe flagged. With the width pinned, each task
    carries ~1 combo at any scale."""
    spark = df.sparkSession
    drop_table_and_location(spark, table_name)
    repartitioned = (
        df.repartition(n_tasks, *partition_by)
        if n_tasks
        else df.repartition(*partition_by)
    )
    (
        repartitioned.write.mode("overwrite")
        .partitionBy(*partition_by)
        .saveAsTable(table_name)
    )
