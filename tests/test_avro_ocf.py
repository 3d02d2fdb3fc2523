"""Avro object-container-file round-trips (pure-Python OCF, no spark-avro):
bytes-level, DataFrame-level, and the scan_avro fallback path."""

from __future__ import annotations

import json

import pytest

from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.avro_ocf import (
    read_ocf,
    scan_avro_py,
    write_avro_py,
    write_ocf,
)
from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_AVSC, item_view_events
from kafka_etl_consumer_spark.sources.scan import scan_avro
from kafka_etl_consumer_spark.streaming.ingest import decode_avro

NATION_AVSC = """{
  "type": "record", "name": "Nation", "fields": [
    {"name": "n_nationkey", "type": "int"},
    {"name": "n_name", "type": "string"},
    {"name": "n_regionkey", "type": "int"}]}"""


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_bytes_round_trip(codec):
    records = item_view_events(10)
    blob = write_ocf(ITEM_VIEW_EVENT_AVSC, records, codec=codec, block_records=3)
    _, back = read_ocf(blob)
    assert back == records


def test_ocf_rejects_garbage():
    with pytest.raises(ValueError, match="magic"):
        read_ocf(b"PAR1not-avro")


def test_dataframe_round_trip(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_avro")
    n_files = write_avro_py(nation, out, NATION_AVSC)
    assert n_files >= 1
    back = scan_avro_py(spark, out, NATION_AVSC)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_scan_avro_fallback(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_avro")
    write_avro_py(nation, out, NATION_AVSC)
    # no spark-avro jar in this container → scan_avro must fall back
    back = scan_avro(spark, out, avsc=NATION_AVSC)
    assert back.count() == nation.count()
    with pytest.raises(RuntimeError, match="spark-avro"):
        scan_avro(spark, out)  # no reader schema → loud failure


def test_write_avro_py_multiple_partitions(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(3)
    out = str(tmp_path / "nation_avro3")
    assert write_avro_py(nation, out, NATION_AVSC) == 3  # one file/partition
    back = scan_avro_py(spark, out, NATION_AVSC)
    assert back.count() == 25


def test_write_avro_py_map_of_union(spark, tmp_path):
    # a map whose values are a multi-branch union decodes to a map of
    # member structs; writing it back must descend into the map values
    avsc = json.dumps({
        "type": "record", "name": "R", "fields": [
            {"name": "m", "type": {"type": "map", "values": ["int", "string"]}}],
    })
    tree = parse_schema(avsc)
    rows = [
        {"m": {"a": {"member0": 1, "member1": None}, "b": {"member0": None, "member1": "x"}}},
        {"m": {}},
    ]
    raw = spark.createDataFrame([(encode_record(tree, r),) for r in rows], "value binary")
    decoded = decode_avro(raw, avsc)
    out = str(tmp_path / "map_union")
    assert write_avro_py(decoded.coalesce(1), out, avsc) == 1
    back = [r.asDict(recursive=True) for r in scan_avro_py(spark, out, avsc).collect()]
    assert sorted(back, key=lambda r: len(r["m"])) == sorted(rows, key=lambda r: len(r["m"]))
