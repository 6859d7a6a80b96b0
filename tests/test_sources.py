"""Parquet reads with the schema declared from the file footer.

``sources.read_table`` must see the same columns and types Spark's own
inference would, without the inference job that a bare
``spark.read.parquet`` starts."""

from __future__ import annotations

import datetime as dt
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lsdm_motogp_data_integration_spark.schemas import TESTDATA_TABLES
from lsdm_motogp_data_integration_spark.sources import (
    parquet_schema,
    read_table,
)

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _declared(spark, path):
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_footer_schema_matches_inference_on_testdata(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    assert _declared(spark, path).schema == spark.read.parquet(path).schema


def test_footer_schema_matches_inference_on_mixed_types(spark, tmp_path):
    when = dt.datetime(2020, 1, 2, 3, 4, 5, 678901)
    t = pa.table(
        {
            "dec": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(12, 2)),
            "day": pa.array([dt.date(2020, 1, 2), None]),
            "naive": pa.array([when, None], pa.timestamp("us")),
            "aware": pa.array([when, None], pa.timestamp("us", tz="UTC")),
            "i8": pa.array([1, None], pa.int8()),
            "i16": pa.array([-2, None], pa.int16()),
            "blob": pa.array([b"\x00\x01", None], pa.binary()),
            "vec": pa.array([[0.5, 1.5], None], pa.list_(pa.float32())),
            "req": pa.array([7, 8], pa.int32()),
        }
    )
    t = t.cast(t.schema.set(8, pa.field("req", pa.int32(), nullable=False)))
    path = str(tmp_path / "mixed.parquet")
    pq.write_table(t, path)
    declared = _declared(spark, path)
    assert declared.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, declared.collect()), key=repr) == sorted(
        map(tuple, spark.read.parquet(path).collect()), key=repr
    )


def test_footer_schema_of_spark_written_directory(spark, tmp_path):
    """A Spark-written dataset is a directory of part files whose
    timestamps Spark stores as INT96 by default."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "spark_written.parquet")
    spark.range(5).select(
        "id", F.timestamp_seconds("id").alias("ts")
    ).repartition(2).write.parquet(path)
    declared = _declared(spark, path)
    assert declared.schema == spark.read.parquet(path).schema
    assert sorted(declared.collect()) == sorted(spark.read.parquet(path).collect())


def test_read_table_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_sources/read_table"
    sc.setJobGroup(group, group)
    try:
        for name in TESTDATA_TABLES:
            read_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_events_with_nanos_timestamps(spark, sf_dir, tmp_path):
    """TIMESTAMP(NANOS) ``ts`` is read as BIGINT under the legacy flag
    and normalized back to TIMESTAMP with the same values."""
    events = pq.read_table(f"{sf_dir}/events.parquet")
    i = events.schema.get_field_index("ts")
    nanos = events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns")))
    pq.write_table(
        nanos, str(tmp_path / "events.parquet"), version="2.6", coerce_timestamps=None
    )
    ts_col = pq.ParquetFile(str(tmp_path / "events.parquet")).schema.column(i)
    assert "nanoseconds" in str(ts_col.logical_type)

    before = spark.conf.get(NANOS_CONF, None)
    try:
        got = read_table(spark, str(tmp_path), "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        want = read_table(spark, sf_dir, "events")
        assert sorted(got.select("event_id", "ts").collect()) == sorted(
            want.select("event_id", "ts").collect()
        )
    finally:
        if before is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, before)


def test_missing_table_names_the_path(spark, tmp_path):
    with pytest.raises(Exception, match="no_such_table.parquet"):
        read_table(spark, str(tmp_path), "no_such_table")
