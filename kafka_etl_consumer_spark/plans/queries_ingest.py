"""Query surface batch 10: the reference's CORE path — binary-Avro encode →
decode → flattened rows — under the driver's hash gate.

Until now the ingest runtime (SURVEY §2.1 S3/P1/P2) was verified by pytest
only; this registers it as a driver-checked query. The fixture rows are
deterministic functions of the row index (fixtures.py, mirroring the
reference's GenericRecordKafkaProducer.java:58-96), so the DuckDB oracle can
REBUILD the expected decoded rows arithmetically from range(n) — any
corruption anywhere in the Avro binary codec round-trip (zigzag varints,
union branch indexes, utf-8 lengths, nested-record field order) changes a
value and fails the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.plans.registry import register

_N = 500

# uuid.UUID(int=i) == the 32-digit zero-padded lowercase hex of i, dashed
# 8-4-4-4-12 — reconstructed verbatim in SQL below.
_INGEST_ORACLE = f"""
WITH idx AS (SELECT unnest(range(0, {_N})) AS i),
h AS (SELECT i, lpad(lower(to_hex(i)), 32, '0') AS x FROM idx)
SELECT
  'item-view-event' AS event_type,
  CAST(1700000000000 + i AS BIGINT) AS ts_millis,
  'http://any-url...' || CAST(i AS VARCHAR) AS url,
  concat(substr(x, 1, 8), '-', substr(x, 9, 4), '-', substr(x, 13, 4),
         '-', substr(x, 17, 4), '-', substr(x, 21, 12)) AS uid,
  'any-item-id' || CAST(i AS VARCHAR) AS item_id,
  CAST(168000 + i AS BIGINT) AS price,
  'MOBILE' AS device_type
FROM h
"""


@register("ingest_roundtrip_decode", _INGEST_ORACLE)
def ingest_roundtrip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode 500 ItemViewEvents to binary Avro, decode them through the
    SAME ``decode_avro`` stage streaming ingest uses (the pure-Python codec
    through Arrow ``mapInPandas``), and flatten the scalar fields the oracle can rebuild.

    ``sf_dir`` is unused: the input is the reference's producer fixture
    (GenericRecordKafkaProducer.java:58-96 of the reference), not a table.
    Scale: input creation is test plumbing; the decode stage itself is the
    narrow Arrow-batched map that runs at any scale (benched as
    ``ingest_decode_40k``).
    """
    from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
    from kafka_etl_consumer_spark.fixtures import (
        ITEM_VIEW_EVENT_AVSC,
        item_view_events,
    )
    from kafka_etl_consumer_spark.streaming.ingest import decode_avro

    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    payloads = [
        (bytearray(encode_record(schema, r)),) for r in item_view_events(_N)
    ]
    env = T.StructType([T.StructField("value", T.BinaryType())])
    df = spark.createDataFrame(payloads, env).repartition(
        spark.sparkContext.defaultParallelism
    )
    dec = decode_avro(df, ITEM_VIEW_EVENT_AVSC)
    return dec.select(
        F.col("baseProperties.eventType").alias("event_type"),
        F.col("baseProperties.timestamp").alias("ts_millis"),
        F.col("baseProperties.url").alias("url"),
        F.col("baseProperties.uid").alias("uid"),
        F.col("itemId").alias("item_id"),
        F.col("price").alias("price"),
        F.col("baseProperties.deviceType").alias("device_type"),
    )


_FRAMED_ORACLE = f"""
WITH idx AS (SELECT unnest(range(0, {_N})) AS i),
h AS (SELECT i, lpad(lower(to_hex(i)), 32, '0') AS x FROM idx)
SELECT
  CAST(7 AS INT) AS schema_id,
  concat(substr(x, 1, 8), '-', substr(x, 9, 4), '-', substr(x, 13, 4),
         '-', substr(x, 17, 4), '-', substr(x, 21, 12)) AS uid,
  'any-item-id' || CAST(i AS VARCHAR) AS item_id,
  CAST(168000 + i AS BIGINT) AS price
FROM h
"""


@register("ingest_framed_decode", _FRAMED_ORACLE)
def ingest_framed_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The framed-wire variant of ingest_roundtrip_decode: payloads carry
    the Confluent-style magic byte + big-endian schema id envelope,
    `strip_registry_framing` unwraps it with JVM expressions, and the
    UNCHANGED decode stage consumes the body — proving envelope and
    codec compose. The oracle rebuilds the expected rows (including the
    constant schema id) arithmetically."""
    from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
    from kafka_etl_consumer_spark.fixtures import (
        ITEM_VIEW_EVENT_AVSC,
        item_view_events,
    )
    from kafka_etl_consumer_spark.streaming.ingest import (
        add_registry_framing,
        decode_avro,
        strip_registry_framing,
    )

    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    payloads = [
        (bytearray(encode_record(schema, r)),) for r in item_view_events(_N)
    ]
    env = T.StructType([T.StructField("value", T.BinaryType())])
    df = spark.createDataFrame(payloads, env).repartition(
        spark.sparkContext.defaultParallelism
    )
    framed = add_registry_framing(df, schema_id=7)
    unwrapped = strip_registry_framing(framed)
    dec = decode_avro(unwrapped, ITEM_VIEW_EVENT_AVSC, keep_cols=["schema_id"])
    return dec.select(
        F.col("schema_id").cast("int").alias("schema_id"),
        F.col("baseProperties.uid").alias("uid"),
        F.col("itemId").alias("item_id"),
        F.col("price").alias("price"),
    )
