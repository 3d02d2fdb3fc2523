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
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from kafka_etl_consumer_spark.avro_codec import (
    Reader,
    _Writer,
    _encode,
    decode_record,
    encode_record,
    parse_schema,
    to_spark_struct,
)

_MAGIC = b"Obj\x01"


def read_ocf(data: bytes) -> tuple[dict, list[dict]]:
    """Parse one OCF byte blob → (schema_tree, records)."""
    r = Reader(data)
    if r.read_fixed(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()  # skip byte-size prefix
        for _ in range(n):
            key = r.read_bytes().decode("utf-8")
            meta[key] = r.read_bytes()
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r} (null|deflate)")
    schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    # a block's `count` records are the body of an Avro array of `count`
    # items: each block decodes as one array value, by one decoder per file
    block_schema = {"type": "array", "items": schema}
    sync = r.read_fixed(16)
    records: list[dict] = []
    while r.pos < len(data):
        count = r.read_long()
        size = r.read_long()
        block = r.read_fixed(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)  # raw deflate per spec
        records.extend(
            decode_record(block_schema, encode_record("long", count) + block + b"\x00")
        )
        if r.read_fixed(16) != sync:
            raise ValueError("OCF sync marker mismatch (corrupt block)")
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
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = _Writer()
    meta.write_long(2)
    for k, v in (("avro.schema", schema_json.encode()), ("avro.codec", codec.encode())):
        meta.write_bytes(k.encode())
        meta.write_bytes(v)
    meta.write_long(0)
    out.write(meta.out.getvalue())
    sync = uuid.uuid4().bytes
    out.write(sync)

    def flush(batch: list[dict]) -> None:
        if not batch:
            return
        w = _Writer()
        for rec in batch:
            _encode(schema, rec, w)
        payload = w.out.getvalue()
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            payload = co.compress(payload) + co.flush()
        head = _Writer()
        head.write_long(len(batch))
        head.write_long(len(payload))
        out.write(head.out.getvalue())
        out.write(payload)
        out.write(sync)

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
    Arrow ``mapInPandas``. The explicit ``avsc`` (reader's schema) defines
    the output columns — same explicit-schema policy as scan_csv/scan_json;
    files whose writer schema differs structurally fail loudly rather than
    silently coercing."""
    import pandas as pd

    struct = to_spark_struct(avsc)
    names = [f.name for f in struct.fields]

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[dict] = []
            for content in pdf["content"]:
                _, records = read_ocf(bytes(content))
                rows.extend(records)
            yield pd.DataFrame(
                {n: [r[n] for r in rows] for n in names}
                if rows
                else {n: [] for n in names}
            )

    src = spark.read.format("binaryFile").load(f"{path}/*.avro" if os.path.isdir(path) else path)
    return src.select("content").mapInPandas(decode, struct)


def write_avro_py(
    df: DataFrame, path: str, avsc: str | dict, codec: str = "deflate"
) -> int:
    """Write a DataFrame as OCF `.avro` files, one file per partition
    (executor-local writes — local/NFS-style filesystems; use spark-avro
    for HDFS/S3). Returns the number of files written."""
    os.makedirs(path, exist_ok=True)
    avsc_json = json.dumps(avsc) if isinstance(avsc, dict) else avsc
    cols = df.columns

    def write_partition(rows: Iterator[Any]) -> Iterator[int]:
        records = [
            {c: _plain(v) for c, v in zip(cols, row)} for row in rows
        ]
        if not records:
            return iter(())
        blob = write_ocf(avsc_json, records, codec=codec)
        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
        with open(fname, "wb") as f:
            f.write(blob)
        return iter((1,))

    def _plain(v: Any) -> Any:
        if hasattr(v, "asDict"):
            return {k: _plain(x) for k, x in v.asDict().items()}
        if isinstance(v, (list, tuple)):
            return [_plain(x) for x in v]
        return v

    return df.rdd.mapPartitions(write_partition).sum()
