"""Format-agnostic ingest (sources/files.py, round 14): the same rows
through CSV and JSONL must produce bit-identical query results to the
parquet path, and the loader must refuse schema-less slow-format reads."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cdc_dedupe_spark.sources.files import read_table
from cdc_dedupe_spark.tables import table


def _agg(df):
    return sorted(
        map(
            tuple,
            df.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("cents"),
            )
            .collect(),
        )
    )


@pytest.fixture(scope="module")
def customer_pq(spark, sf_dir):
    return table(spark, sf_dir, "customer")


def test_csv_and_jsonl_roundtrip_match_parquet(spark, sf_dir, tmp_path, customer_pq):
    schema = customer_pq.schema
    csv_dir, json_dir = str(tmp_path / "c.csv"), str(tmp_path / "c.jsonl")
    customer_pq.write.option("header", "true").csv(csv_dir)
    customer_pq.write.json(json_dir)

    want = _agg(customer_pq)
    got_csv = _agg(read_table(spark, csv_dir, "csv", schema))
    got_json = _agg(read_table(spark, json_dir, "json", schema))
    assert got_csv == want
    assert got_json == want


def test_slow_formats_require_explicit_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, str(tmp_path), "csv")
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, str(tmp_path), "json")
    with pytest.raises(ValueError, match="unsupported format"):
        read_table(spark, str(tmp_path), "avro")


def test_orc_roundtrip_is_query_equivalent(spark, sf_dir, tmp_path):
    """ORC (r15): schema-carrying columnar format read natively — the
    same aggregate over an ORC copy of customer must equal the parquet
    answer, with no explicit schema needed."""
    pq = read_table(spark, f"{sf_dir}/customer.parquet")
    orc_dir = str(tmp_path / "cust_orc")
    pq.write.orc(orc_dir)
    got = _agg(read_table(spark, orc_dir, "orc"))
    assert got == _agg(pq)

