"""Facade parity: construct KafkaETLParquetConsumer exactly like the
reference's test does (KafkaETLParquetConsumerTestSkip.java:29-70 of the
reference — same five arguments, same parquetProps keys) and run it against
a file-stream source; files must land in the reference's directory layout."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from kafka_etl_consumer_spark.api import KafkaETLParquetConsumer
from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.fixtures import (
    ITEM_VIEW_EVENT_AVSC,
    ITEM_VIEW_EVENT_TOPIC,
    item_view_events,
)
from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)


def test_facade_end_to_end(spark, tmp_path):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
        for r in item_view_events(10)
    ]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src_dir)

    out = str(tmp_path / "out")
    consumer = KafkaETLParquetConsumer(
        # reference kafkaConsumer.properties shape
        {"bootstrap.servers": "localhost:9092", "group.id": "etl", "session.timeout.ms": "30000"},
        [ITEM_VIEW_EVENT_TOPIC],
        1000,  # pollTimeout — accepted, planner-owned
        {
            "output": out,
            "date.format": "yyyy-MM-dd/HH/mm",
            "interval.unit": "MINUTE",
            "interval": "1",
            "block.size": "268435456",
            "page.size": "65536",
        },
        DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
        spark=spark,
        source_df=spark.readStream.schema(ENVELOPE).parquet(src_dir),
    )
    assert consumer.trigger == "1 minute"
    # processAllAvailable returns only after a later trigger finds no new
    # data: run at 1 s so the test waits for work, not for the minute
    consumer.trigger = "1 second"
    queries = consumer.run()
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        consumer.stop()

    files = glob.glob(f"{out}/{ITEM_VIEW_EVENT_TOPIC}/**/*.parquet", recursive=True)
    assert files, "no files landed"
    # reference directory contract: <output>/<topic>/<yyyy-MM-dd/HH/mm>/
    rel = files[0][len(f"{out}/{ITEM_VIEW_EVENT_TOPIC}/") :]
    assert rel.count("/") == 3, rel
    back = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    )
    assert back.count() == 10
    # parquet writer confs applied (reference ETLTask.java:146-148 posture)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("parquet.block.size") == "268435456"


def test_facade_requires_output(spark):
    with pytest.raises(ValueError, match="output"):
        KafkaETLParquetConsumer(
            {"bootstrap.servers": "x"}, ["t"], 1000, {}, DictSchemaRegistry({}), spark=spark
        )


def test_facade_source_survives_restart(spark, tmp_path, monkeypatch):
    """``run()`` after ``stop()`` builds the Kafka source again from the
    same consumer props: building it must not consume them."""
    from kafka_etl_consumer_spark import api

    calls = []
    monkeypatch.setattr(
        api, "kafka_source",
        lambda spark, servers, topics, consumer_options: calls.append(
            (servers, topics, dict(consumer_options))
        ),
    )
    props = {"bootstrap.servers": "localhost:9092", "group.id": "etl",
             "enable.auto.commit": "true"}
    consumer = KafkaETLParquetConsumer(
        props, ["t"], 1000, {"output": str(tmp_path / "out")},
        DictSchemaRegistry({}), spark=spark,
    )
    consumer._source()
    consumer._source()
    assert calls == [("localhost:9092", ["t"], {"group.id": "etl"})] * 2
    assert consumer.kafka_props == {"bootstrap.servers": "localhost:9092", "group.id": "etl"}
    assert props["enable.auto.commit"] == "true"  # the caller's dict is not touched
