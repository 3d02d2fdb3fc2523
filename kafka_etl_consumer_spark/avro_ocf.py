"""Avro Object Container File (OCF, `.avro`) support in pure Python.

The reference handles Avro only as raw Kafka message payloads
(AbstractAvroDeserializeService.java:50 of the reference — binaryDecoder
over the whole value, no container framing); landed files are Parquet. OCF
support rounds out the engine's format surface so `.avro` datasets are
readable WITHOUT the spark-avro jar (absent in this container): files stream
through Spark's ``binaryFile`` source and decode per-partition with the same
codec that serves Kafka payloads (avro_codec.py).

Format (Avro spec 1.11 "Object Container Files"):
``Obj\\x01`` magic · file-metadata map (avro.schema JSON, avro.codec) ·
16-byte sync marker · blocks of [record count, byte size, records, sync].
Codecs: ``null`` and ``deflate`` (raw zlib, available everywhere).

Scale: one Spark input partition per file (binaryFile is not splittable —
same as spark-avro for deflate OCF); for 100 TB of .avro, many files is the
parallelism, and the first job should be converting to Parquet anyway
(scan_avro → write_parquet), after which everything is columnar.
"""

from __future__ import annotations

import io
import json
import os
import uuid
import zlib
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_etl_consumer_spark.avro_codec import (
    Reader,
    decoder,
    encode_record,
    parse_schema,
    to_spark_struct,
)

_MAGIC = b"Obj\x01"
# the spec's header record, and a block: [record count, the records as one
# Avro bytes value, the file's sync marker]
_HEADER = parse_schema({
    "type": "record", "name": "org.apache.avro.file.Header", "fields": [
        {"name": "magic", "type": {"type": "fixed", "name": "Magic", "size": 4}},
        {"name": "meta", "type": {"type": "map", "values": "bytes"}},
        {"name": "sync", "type": {"type": "fixed", "name": "Sync", "size": 16}}]})
_BLOCK = parse_schema({
    "type": "record", "name": "org.apache.avro.file.Block", "fields": [
        {"name": "count", "type": "long"},
        {"name": "records", "type": "bytes"},
        {"name": "sync", "type": {"type": "fixed", "name": "Sync", "size": 16}}]})


def read_ocf(data: bytes) -> tuple[dict, list[dict]]:
    """Parse one OCF byte blob → (schema_tree, records)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    r = Reader(data)
    header = decoder(_HEADER)(r)
    codec = header["meta"].get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r} (null|deflate)")
    schema = parse_schema(header["meta"]["avro.schema"].decode("utf-8"))
    read_block, read_record = decoder(_BLOCK), decoder(schema)
    records: list[dict] = []
    while r.pos < len(data):
        block = read_block(r)
        if block["sync"] != header["sync"]:
            raise ValueError("OCF sync marker mismatch (corrupt block)")
        body = block["records"]
        if codec == "deflate":
            body = zlib.decompress(body, -15)  # raw deflate per spec
        br = Reader(body)
        records.extend(read_record(br) for _ in range(block["count"]))
    return schema, records


def write_ocf(
    avsc: str | dict,
    records: Iterable[dict],
    codec: str = "deflate",
    block_records: int = 4096,
) -> bytes:
    """Serialize records into one OCF byte blob."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r} (null|deflate)")
    schema = parse_schema(avsc)
    schema_json = json.dumps(avsc) if isinstance(avsc, dict) else avsc
    sync = uuid.uuid4().bytes
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out = io.BytesIO()
    out.write(encode_record(_HEADER, {"magic": _MAGIC, "meta": meta, "sync": sync}))

    def flush(batch: list[dict]) -> None:
        if not batch:
            return
        body = b"".join(encode_record(schema, rec) for rec in batch)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            body = co.compress(body) + co.flush()
        out.write(encode_record(_BLOCK, {"count": len(batch), "records": body, "sync": sync}))

    batch: list[dict] = []
    for rec in records:
        batch.append(rec)
        if len(batch) >= block_records:
            flush(batch)
            batch = []
    flush(batch)
    return out.getvalue()


def scan_avro_py(spark: SparkSession, path: str, avsc: str | dict) -> DataFrame:
    """Read `.avro` OCF files as a DataFrame without spark-avro.

    ``binaryFile`` source → per-partition pure-Python block decode via
    ``mapInArrow``. The explicit ``avsc`` (reader's schema) defines
    the output columns — same explicit-schema policy as scan_csv/scan_json;
    files whose writer schema differs structurally fail loudly rather than
    silently coercing."""
    struct = to_spark_struct(avsc)
    arrow_schema = to_arrow_schema(struct)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [r for blob in batch.column("content").to_pylist() for r in read_ocf(blob)[1]]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    src = spark.read.format("binaryFile").load(f"{path}/*.avro" if os.path.isdir(path) else path)
    return src.select("content").mapInArrow(decode, struct)


def write_avro_py(
    df: DataFrame, path: str, avsc: str | dict, codec: str = "deflate"
) -> int:
    """Write a DataFrame as OCF `.avro` files, one file per non-empty
    partition (executor-local writes — local/NFS-style filesystems; use
    spark-avro for HDFS/S3). Rows cross into Python through
    ``mapInArrow``, so a timestamp keeps its instant whatever the
    worker's local time zone. Returns the number of files written."""
    os.makedirs(path, exist_ok=True)
    avsc_json = json.dumps(avsc) if isinstance(avsc, dict) else avsc

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        records = [r for batch in batches for r in batch.to_pylist()]
        if records:
            with open(os.path.join(path, f"part-{uuid.uuid4().hex}.avro"), "wb") as f:
                f.write(write_ocf(avsc_json, records, codec=codec))
            yield pa.RecordBatch.from_pydict({"files": [1]})

    return df.mapInArrow(write_partition, "files long").count()
