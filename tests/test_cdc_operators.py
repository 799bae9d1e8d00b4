"""Unit tests for the CDC core column expressions (SURVEY.md §5.2 item 1):
envelope decode compact/extended per-record detection, id-extract failure
modes, first-wins tie-break, and scalable batch packing invariants.

Reference semantics under test: RedisSource.java:58-66 (decode + extract),
WatchStream.java:272-274 (first wins), WatchStream.java:284-293 (packing).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from cdc_dedupe_spark.operators.cdc import (
    batch_pack,
    batch_pack_scalable,
    dedupe_first,
    envelope_payload,
    extract_entity_id,
)


def _decode(spark, rows):
    df = spark.createDataFrame(rows, "fields map<string,string>")
    return df.select(
        extract_entity_id(envelope_payload(), "entity_id").alias("id")
    ).collect()


def test_envelope_compact_single_field_is_payload(spark):
    """One-field entry => compact: the single value IS the JSON, whatever
    the field is called (detection is per-record size, RedisSource.java:58)."""
    [r] = _decode(spark, [({"anything": '{"after": {"entity_id": "41"}}'},)])
    assert r.id == 41


def test_envelope_extended_reads_value_field(spark):
    """Multi-field entry => extended: JSON lives under field 'value'
    (RedisSource.java:61); sibling fields are ignored."""
    [r] = _decode(
        spark,
        [({"key": "k", "value": '{"after": {"entity_id": "42"}}'},)],
    )
    assert r.id == 42


def test_envelope_mixed_formats_in_one_batch(spark):
    """Compact and extended records interleave freely — the reference
    detects per record, not per stream (config declares a format but the
    code never consults it, SURVEY.md §2A S2)."""
    rows = [
        ({"p": '{"after": {"entity_id": "1"}}'},),
        ({"a": "x", "value": '{"after": {"entity_id": "2"}}'},),
    ]
    assert sorted(r.id for r in _decode(spark, rows)) == [1, 2]


@pytest.mark.parametrize(
    "payload",
    [
        '{"after": {"entity_id": "3000000000"}}',  # > int32: ref throws ClassCastException
        '{"after": {"other_col": "7"}}',  # field missing: ref throws JSONException
        '{"before": {"entity_id": "7"}}',  # delete event (after null): ref throws
        "not json at all",  # unparseable envelope
    ],
)
def test_extract_failure_modes_yield_null_not_job_failure(spark, payload):
    """Every per-record failure the reference turns into a thrown exception
    (RedisSource.java:63-66) must surface as a NULL id here: at scale one
    poison message must not fail the job; null rows are dead-letterable."""
    [r] = _decode(spark, [({"p": payload},)])
    assert r.id is None


def test_extract_int32_boundary_values(spark):
    rows = [
        ({"p": '{"after": {"entity_id": "2147483647"}}'},),
        ({"p": '{"after": {"entity_id": "-2147483648"}}'},),
    ]
    assert sorted(r.id for r in _decode(spark, rows)) == [-2147483648, 2147483647]


def test_dedupe_first_tie_broken_by_full_order_key(spark):
    """Two events with the same key and timestamp: the (ts, seq) compound
    order key breaks the tie deterministically — the reference's 'first' is
    arrival order, which the replay encodes as the unique seq."""
    df = spark.createDataFrame(
        [(1, 100, 2, "late"), (1, 100, 1, "early"), (1, 99, 9, "earliest")],
        "k int, ts int, seq int, tag string",
    )
    out = dedupe_first(df, ["k"], [F.col("ts"), F.col("seq")]).collect()
    assert len(out) == 1 and out[0].tag == "earliest"


def test_batch_pack_exact_bucket_layout(spark):
    """Deterministic packing: 7 ids, batch_size 3 => buckets of 3/3/1 in
    total order, each a sorted JSON array (WatchStream.java:284-293)."""
    df = spark.createDataFrame([(i, i) for i in range(7)], "id int, ord int")
    rows = batch_pack(df, "id", [F.col("ord")], batch_size=3).orderBy("bucket").collect()
    assert [r.n_ids for r in rows] == [3, 3, 1]
    assert [json.loads(r.ids_json) for r in rows] == [[0, 1, 2], [3, 4, 5], [6]]


def test_batch_pack_scalable_conserves_ids_and_bounds_buckets(spark):
    """The no-global-order variant keeps the size bound and loses no ids —
    the only contract the reference's output promises (README.md:7)."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "id int").repartition(8)
    rows = batch_pack_scalable(df, "id", batch_size=64).collect()
    assert all(r.n_ids <= 64 for r in rows)
    got = sorted(i for r in rows for i in json.loads(r.ids_json))
    assert got == list(range(1000))


def test_salted_join_equals_plain_join(spark):
    """Salting is physical only: inner and left results match the plain
    join on a deliberately skewed key distribution (90% one key)."""
    from cdc_dedupe_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k int, v int"
    )
    small = spark.createDataFrame([(1, "hot"), (3, "cold")], "k int, name string")

    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", how="inner", salt=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    plain_l = big.join(small, "k", "left")
    salted_l = salted_join(big, small, "k", how="left", salt=8)
    assert sorted(map(tuple, salted_l.collect()), key=str) == sorted(
        map(tuple, plain_l.collect()), key=str
    )

