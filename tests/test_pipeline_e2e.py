"""End-to-end: Avro events → streaming ingest → landed parquet → batch
analytics over the landed table — the complete journey the reference
enables for its downstream consumers, in one test."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.fixtures import (
    ITEM_VIEW_EVENT_AVSC,
    ITEM_VIEW_EVENT_TOPIC,
    item_view_events,
)
from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry
from kafka_etl_consumer_spark.streaming.ingest import ingest

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)


def test_ingest_then_analyze(spark, tmp_path):
    n = 50
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    events = item_view_events(n)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
        for r in events
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src)

    out = str(tmp_path / "out")
    queries = ingest(
        spark.readStream.schema(ENVELOPE).parquet(src),
        DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
        out,
        topics=[ITEM_VIEW_EVENT_TOPIC],
        checkpoint_path=str(tmp_path / "ckpt"),
        layout="hive",
        date_format="yyyy-MM-dd",
        event_time_col=F.timestamp_millis(F.col("baseProperties.timestamp")),
        trigger="1 second",
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    # analytics over the LANDED table: per item-type rollup with event-time
    landed = spark.read.parquet(f"{out}/{ITEM_VIEW_EVENT_TOPIC}")
    rollup = (
        landed.withColumn("ts", F.timestamp_millis(F.col("baseProperties.timestamp")))
        .groupBy("itemType")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("price").alias("sum_price"),
            F.max("ts").alias("last_seen"),
        )
        .collect()
    )
    got = {r.itemType: (r.n_events, r.sum_price) for r in rollup}
    want: dict[str, tuple[int, int]] = {}
    for e in events:
        k = e["itemType"]
        prev = want.get(k, (0, 0))
        want[k] = (prev[0] + 1, prev[1] + e["price"])
    assert got == want
    # the landed layout is partition-prunable by event date
    assert landed.select(F.input_file_name()).first()[0].count("dt0=") == 1
