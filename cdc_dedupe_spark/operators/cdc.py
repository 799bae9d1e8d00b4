"""CDC core operators, re-expressed Spark-first.

Reference semantics (see /root/reference, cited per function):
 - envelope decode, compact/extended   (RedisSource.java:58-62)
 - JSON parse + entity-id extract      (RedisSource.java:63-66)
 - static fan-out routing              (WatchStream.java:346-352)
 - first-wins dedupe                   (WatchStream.java:272-274)
 - output batch packing + JSON encode  (WatchStream.java:284-293)

All are pure DataFrame transformations: Catalyst sees the whole plan, so
filters push into scans and the dedupe compiles to a codegen'd window/hash
aggregate. Scale notes inline.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Debezium envelope payload schema: map<string,string> keeps the decode
# schemaless exactly like the reference (fields discovered at runtime,
# RedisSource.java:58; ints parse via cast as in RedisSource.java:66).
ENVELOPE_SCHEMA = "struct<before: map<string,string>, after: map<string,string>>"

# Demo routing map for the synthetic `events` table: event_type plays the
# role of the watched table name, user_id the entity id (FIXTURES.md §C).
# Shape mirrors config.yaml:28-136 (table -> column -> [targets]) collapsed
# to the single-column-per-table case that every shipped config uses
# (SURVEY.md §2A fine print).
DEFAULT_ROUTING: Mapping[str, Sequence[str]] = {
    "click": ("analytics", "clickstream"),
    "purchase": ("analytics", "billing", "fulfillment"),
    "signup": ("analytics", "crm"),
    "view": ("analytics",),
    "error": ("ops",),
}


def envelope_payload(fields_col: str = "fields") -> Column:
    """Compact/extended decode (RedisSource.java:58-62): a one-field entry is
    compact (the single value IS the JSON); otherwise the JSON lives under
    field ``value``. Detection is per-record, like the reference.

    ``try_element_at`` on the extended branch: under ANSI mode (pyspark>=4
    default) a plain ``element_at`` on a multi-field record lacking
    ``value`` throws MAP_KEY_DOES_NOT_EXIST and kills the micro-batch —
    the module's degrade-to-NULL policy (see extract_entity_id) applies to
    the envelope lookup too; NULL payloads surface in the dead-letter
    relation (plans/watch_plan.py)."""
    return F.expr(envelope_payload_sql(fields_col))


def envelope_payload_sql(fields_col: str = "fields") -> str:
    """``envelope_payload`` as SQL text, for plans built from text."""
    return (
        f"CASE WHEN size({fields_col}) = 1 THEN element_at(map_values({fields_col}), 1) "
        f"ELSE try_element_at({fields_col}, 'value') END"
    )


def extract_entity_id(payload: Column, column: str | Column) -> Column:
    """``after.<column>`` extracted and cast to int32 (RedisSource.java:63-66;
    int32 id semantics). Where the reference throws — ids past int32 raise
    ClassCastException, a missing field raises JSONException — we degrade to
    NULL (``try_element_at``/``try_cast``; ANSI mode would otherwise fail the
    whole job): at 100 TB a single malformed event must not kill the
    pipeline, and null-id rows are filterable into a dead-letter output.
    ``column`` may be a Column expression so the id column can vary per row
    (general multi-column routing)."""
    parsed = F.from_json(payload, ENVELOPE_SCHEMA)
    key = F.lit(column) if isinstance(column, str) else column
    return F.try_element_at(parsed["after"], key).try_cast("int")


def routing_df(spark: SparkSession, routing: Mapping[str, Sequence[str]] | None = None) -> DataFrame:
    """Routing map as a tiny DataFrame (event_type, target) — always
    broadcast-joined, so fan-out costs no shuffle at any scale."""
    routing = DEFAULT_ROUTING if routing is None else routing
    rows = [(etype, tgt) for etype, tgts in routing.items() for tgt in tgts]
    return spark.createDataFrame(rows, "event_type string, target string")


def fanout(events: DataFrame, routes: DataFrame) -> DataFrame:
    """Static fan-out (WatchStream.java:346-352): one output row per
    (event, mapped target). Broadcast hash join — the routing side is O(10)
    rows; no shuffle of the event stream at 100 TB."""
    return events.join(F.broadcast(routes), "event_type", "inner")


def dedupe_first(df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]) -> DataFrame:
    """First-wins dedupe (WatchStream.java:272-274): keep the first row per
    key by arrival order. Window + row_number shuffles once on the key —
    the same shuffle a groupBy would need; skew on hot keys is handled by
    AQE skew-join/partition splitting."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def batch_pack(
    df: DataFrame,
    id_col: str,
    order: Sequence[Column | str],
    batch_size: int = 1000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Output batcher + JSON encode (S12/S13, WatchStream.java:284-293):
    ids in a deterministic total order packed into buckets of <= batch_size,
    each bucket emitted as a sorted JSON array — the ``{"ids": "[...]"}``
    payload shape.

    Scale caveat (SURVEY.md §4.2): the global row_number forces a
    single-partition sort. Fine at declared scale; the 100 TB variant packs
    per partition and carries partial buckets (see
    operators/cdc.py:batch_pack_scalable)."""
    w = Window.orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn(bucket_col, F.ceil(F.col("__rn") / F.lit(batch_size)))
        .groupBy(bucket_col)
        .agg(
            F.to_json(F.sort_array(F.collect_list(id_col))).alias("ids_json"),
            F.count(F.lit(1)).alias("n_ids"),
        )
    )


def batch_pack_scalable(df: DataFrame, id_col: str, batch_size: int = 1000) -> DataFrame:
    """100 TB-scale batch packing: no global order. Each partition packs its
    own ids into full buckets; bucket ids are made globally unique by
    composing (partition_id, local_bucket). Order within the stream is not
    total (the reference's contract only bounds batch SIZE, README.md:7)."""
    # Materialize the partition id ONCE: spark_partition_id() is evaluated
    # where it appears, and the window below shuffles — a second evaluation
    # after the exchange would see a different id and mix buckets across
    # source partitions (breaking the <= batch_size bound).
    df = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__seq", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("__pid").orderBy("__seq")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("bucket", F.col("__pid").cast("long") * F.lit(1 << 32) + F.ceil(F.col("__rn") / F.lit(batch_size)))
        .drop("__pid", "__seq")
        .groupBy("bucket")
        .agg(
            F.to_json(F.sort_array(F.collect_list(id_col))).alias("ids_json"),
            F.count(F.lit(1)).alias("n_ids"),
        )
    )


def batch_pack_keyed(
    df: DataFrame,
    id_col: str,
    partition_key: Column,
    order: Sequence[Column | str],
    batch_size: int = 1000,
) -> DataFrame:
    """Deterministic scalable batch packing (S12/S13): like
    ``batch_pack_scalable`` but partitioned by a CONTENT-derived key
    instead of the physical ``spark_partition_id()``, so the output is a
    pure function of the data — reproducible across partitionings/retries
    and exactly mirrorable in SQL. Each of the P key groups packs its own
    ids independently (window shuffle is P-way parallel, never the
    single-partition global sort of ``batch_pack``); bucket ids compose
    (key, local_bucket). The reference's contract bounds batch SIZE only
    (README.md:7), which both variants honor."""
    w = Window.partitionBy("__pk").orderBy(*order)
    return (
        df.withColumn("__pk", partition_key.cast("long"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "bucket",
            F.col("__pk") * F.lit(1 << 32) + F.ceil(F.col("__rn") / F.lit(batch_size)),
        )
        .groupBy("bucket")
        .agg(
            F.to_json(F.sort_array(F.collect_list(id_col))).alias("ids_json"),
            F.count(F.lit(1)).alias("n_ids"),
        )
    )
