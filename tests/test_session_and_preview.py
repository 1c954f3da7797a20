"""EngineSession, naming, preview LIMIT-injection (Q2), filesystem
source + uploaded-file store (S4/S5), footer-derived read schemas."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datanika_core_spark.errors import ValidationError
from datanika_core_spark.naming import to_snake_case, validate_identifier, validate_name
from datanika_core_spark.plans.preview import inject_limit, preview
from datanika_core_spark.session import footer_schema, read_table
from datanika_core_spark.sources.filesystem import (
    FilesystemSource,
    UploadedFileStore,
)


def test_naming():
    assert to_snake_case("My Upload Name") == "my_upload_name"
    assert to_snake_case("  Spaced   Out ") == "spaced_out"
    assert validate_name("Orders 2024") == "Orders 2024"
    with pytest.raises(ValidationError):
        validate_name("bad;name")
    assert validate_identifier("model_1") == "model_1"
    # hyphens and trailing newlines parse wrong when spliced unquoted
    # into DDL — must be rejected (ADVICE r1)
    with pytest.raises(ValidationError):
        validate_identifier("my-model")
    with pytest.raises(ValidationError):
        validate_identifier("model_1\n")
    with pytest.raises(ValidationError):
        validate_identifier("1bad")
    with pytest.raises(ValidationError):
        validate_identifier("a/../b")


def test_inject_limit_rules():
    assert inject_limit("SELECT * FROM t") == "SELECT * FROM t LIMIT 5"
    assert inject_limit("SELECT * FROM t;") == "SELECT * FROM t LIMIT 5"
    assert inject_limit("SELECT * FROM t LIMIT 3") == "SELECT * FROM t LIMIT 3"
    assert inject_limit("SELECT * FROM t limit 10") == "SELECT * FROM t limit 10"
    # a column named "limit_x" must not suppress injection
    assert (
        inject_limit("SELECT limit_x FROM t")
        == "SELECT limit_x FROM t LIMIT 5"
    )


def test_preview_stringifies(spark, tables):
    cols, rows = preview(
        spark, "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey"
    )
    assert cols == ["o_orderkey", "o_orderstatus"]
    assert len(rows) == 5
    assert all(isinstance(v, str) for row in rows for v in row)


def test_engine_database_roundtrip(engine):
    db = engine.ensure_database("My Dataset")
    assert db == "my_dataset"
    engine.drop_database("My Dataset")


def test_filesystem_source(spark, tmp_path):
    import pandas as pd

    pdf = __import__("pandas").DataFrame({"a": [1, 2], "b": ["x", "y"]})
    pdf.to_csv(tmp_path / "one.csv", index=False)
    src = FilesystemSource(spark, str(tmp_path), "csv", table_name="stuff")
    batches = list(src.tables())
    assert batches[0].name == "stuff"
    assert batches[0].df.count() == 2
    with pytest.raises(ValidationError):
        FilesystemSource(spark, str(tmp_path), "xml")


def test_uploaded_file_store(spark, tmp_path):
    data = tmp_path / "d.csv"
    data.write_text("a,b\n1,x\n2,y\n")
    store = UploadedFileStore(str(tmp_path / "archive"))
    digest = store.store(str(data))
    assert len(digest) == 64
    tmpdir = store.extract_for_run(digest)
    try:
        df = spark.read.option("header", "true").csv(tmpdir)
        assert df.count() == 2
    finally:
        store.cleanup(tmpdir)
    assert not os.path.exists(tmpdir)
    with pytest.raises(ValidationError):
        store.store(str(tmp_path / "missing.xml"))


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert "q1_pricing_summary" in q


# -- footer-derived read schema (session.footer_schema) ----------------------

_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_testdata(spark, sf_dir, sf):
    testdata = os.path.dirname(sf_dir)
    paths = sorted(glob.glob(os.path.join(testdata, sf, "*.parquet")))
    assert paths
    for p in paths:
        derived, _ = footer_schema(spark, p)
        assert derived == spark.read.parquet(p).schema, p


#: one column per type the derivation maps
_MAPPED = {
    "ts_ns": pa.array([1_500], pa.timestamp("ns")),
    "ts_ns_tz": pa.array([1_500], pa.timestamp("ns", "UTC")),
    "ts_us": pa.array([7], pa.timestamp("us")),
    "ts_us_tz": pa.array([7], pa.timestamp("us", "America/New_York")),
    "ts_ms": pa.array([7], pa.timestamp("ms")),
    "ts_ms_tz": pa.array([7], pa.timestamp("ms", "UTC")),
    "d": pa.array([datetime.date(2020, 1, 2)], pa.date32()),
    "dec": pa.array([decimal.Decimal("12.34")], pa.decimal128(10, 2)),
    "dec_wide": pa.array([decimal.Decimal("1.5")], pa.decimal128(30, 1)),
    "i8": pa.array([1], pa.int8()),
    "i16": pa.array([2], pa.int16()),
    "i32": pa.array([3], pa.int32()),
    "i64": pa.array([4], pa.int64()),
    "f32": pa.array([1.5], pa.float32()),
    "f64": pa.array([2.5], pa.float64()),
    "flag": pa.array([True]),
    "bin": pa.array([b"\x00\x01"]),
    "s": pa.array(["x"]),
    "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
}


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_schema_matches_inference_per_type(spark, tmp_path, ntz):
    spark.conf.set(_NTZ, ntz)
    try:
        for name, arr in _MAPPED.items():
            p = str(tmp_path / f"{name}.parquet")
            pq.write_table(pa.table({name: arr}), p)
            derived, _ = footer_schema(spark, p)
            assert derived is not None, name
            assert derived == spark.read.parquet(p).schema, name
        everything = str(tmp_path / "all.parquet")
        pq.write_table(pa.table(_MAPPED), everything)
        derived, nanos = footer_schema(spark, everything)
        assert derived == spark.read.parquet(everything).schema
        assert nanos == ["ts_ns"]
    finally:
        spark.conf.unset(_NTZ)


def test_footer_schema_falls_back_outside_the_map(spark, tmp_path):
    unmapped = {
        "u8": pa.array([1], pa.uint8()),
        "st": pa.array([{"a": 1}]),
        "mp": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
        "fsb": pa.array([b"ab"], pa.binary(2)),
        "nested_list": pa.array([[[1]]], pa.list_(pa.list_(pa.int64()))),
    }
    paths = []
    for name, arr in unmapped.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"k": [1], name: arr}), p)
        paths.append(p)
    part_dir = tmp_path / "dir_table"
    part_dir.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(part_dir / "part-0.parquet"))
    paths.append(str(part_dir))
    spark_written = str(tmp_path / "spark_written")
    spark.range(3).coalesce(1).write.parquet(spark_written)
    paths.append(glob.glob(f"{spark_written}/*.parquet")[0])
    for p in paths:
        derived, _ = footer_schema(spark, p)
        assert derived is None, p
        df = read_table(spark, p)
        assert df.schema == spark.read.parquet(p).schema, p
        assert sorted(df.collect()) == sorted(spark.read.parquet(p).collect())

    binary = str(tmp_path / "binary.parquet")
    pq.write_table(pa.table({"b": [b"x"]}), binary)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert footer_schema(spark, binary)[0] is None
        assert (read_table(spark, binary).schema
                == spark.read.parquet(binary).schema)
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_read_table_runs_no_job(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("read-table-probe", "probe")
    try:
        for name in ("lineitem", "events", "embeddings"):
            read_table(spark, os.path.join(sf_dir, f"{name}.parquet"))
        ids = list(sc.statusTracker().getJobIdsForGroup("read-table-probe"))
    finally:
        sc.setJobGroup(None, None)
    assert ids == []


def test_read_table_ns_rebuild_matches_inferred_read(spark, tmp_path):
    from pyspark.sql import functions as F

    p = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3]),
        "ts": pa.array([1_700_000_000_123_456_789, None, -1_001],
                       pa.timestamp("ns")),
    }), p)
    got = read_table(spark, p)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    inferred = spark.read.parquet(p).withColumn(
        "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
    )
    assert sorted(got.collect()) == sorted(inferred.collect())
