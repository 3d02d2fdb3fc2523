"""Codec unit tests: binary round-trip across the full type lattice, plus
avsc↔StructType translation (SURVEY.md §1.2 mapping table)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from kafka_etl_consumer_spark.avro_codec import (
    decode_record,
    encode_record,
    from_spark_struct,
    parse_schema,
    to_spark_struct,
    to_spark_type,
)
from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_AVSC, item_view_events

FULL_AVSC = {
    "type": "record",
    "name": "Everything",
    "namespace": "t",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "ns", "type": ["null", "string"]},
        {"name": "nl", "type": ["null", "long"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "double"}},
        {"name": "e", "type": {"type": "enum", "name": "Color", "symbols": ["RED", "BLUE"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "Four", "size": 4}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "Inner",
                "fields": [{"name": "x", "type": "long"}, {"name": "again", "type": ["null", "Inner"]}],
            },
        },
    ],
}

FULL_ROW = {
    "b": True,
    "i": -42,
    "l": 2**60,
    "f": 1.5,
    "d": -3.25,
    "s": "héllo",
    "by": b"\x00\x01\xff",
    "ns": None,
    "nl": 7,
    "arr": [1, -2, 3],
    "m": {"a": 0.5, "b": -1.0},
    "e": "BLUE",
    "fx": b"ABCD",
    "nested": {"x": 9, "again": {"x": 10, "again": None}},
}


def test_roundtrip_full_lattice():
    schema = parse_schema(json.dumps(FULL_AVSC))
    assert decode_record(schema, encode_record(schema, FULL_ROW)) == FULL_ROW


def test_roundtrip_item_view_event():
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    for row in item_view_events(10):
        assert decode_record(schema, encode_record(schema, row)) == row


def test_zigzag_edges():
    schema = parse_schema(json.dumps({
        "type": "record", "name": "R", "fields": [{"name": "v", "type": "long"}]
    }))
    for v in (0, -1, 1, 63, -64, 64, 2**62, -(2**62), 2**63 - 1, -(2**63)):
        assert decode_record(schema, encode_record(schema, {"v": v})) == {"v": v}


def test_to_spark_struct_item_view_event():
    st = to_spark_struct(ITEM_VIEW_EVENT_AVSC)
    base = st["baseProperties"].dataType
    assert isinstance(base, T.StructType)
    assert base["eventType"].dataType == T.StringType()
    assert base["eventType"].nullable is False  # the one required field
    assert base["timestamp"].dataType == T.LongType()
    assert base["timestamp"].nullable is True
    assert st["price"].dataType == T.LongType()
    assert st["price"].nullable is True


def test_to_spark_struct_full_lattice():
    nonrec = json.loads(json.dumps(FULL_AVSC))
    nonrec["fields"][-1]["type"]["fields"] = [{"name": "x", "type": "long"}]
    st = to_spark_struct(json.dumps(nonrec))
    assert st["arr"].dataType == T.ArrayType(T.LongType(), False)
    assert st["m"].dataType == T.MapType(T.StringType(), T.DoubleType(), False)
    assert st["e"].dataType == T.StringType()
    assert st["fx"].dataType == T.BinaryType()
    assert isinstance(st["nested"].dataType, T.StructType)


def test_recursive_record_fails_fast_for_spark_but_decodes():
    # Recursive Avro is decodable (data terminates the recursion) but has no
    # Spark type — translation must raise, codec must round-trip.
    schema = parse_schema(json.dumps(FULL_AVSC))
    assert decode_record(schema, encode_record(schema, FULL_ROW)) == FULL_ROW
    with pytest.raises(ValueError, match="recursive"):
        to_spark_struct(json.dumps(FULL_AVSC))


def test_multibranch_union_member_struct():
    # spark-avro SchemaConverters semantics: a non-null multi-branch union
    # becomes struct<member0, member1, ...>, exactly one member set per value
    avsc = {
        "type": "record", "name": "R",
        "fields": [{"name": "u", "type": ["string", "long", "null"]}],
    }
    st = to_spark_struct(json.dumps(avsc))
    assert st["u"].dataType == T.StructType([
        T.StructField("member0", T.StringType(), True),
        T.StructField("member1", T.LongType(), True),
    ])
    assert st["u"].nullable  # "null" is a branch
    tree = parse_schema(json.dumps(avsc))
    for row in (
        {"u": {"member0": "s", "member1": None}},
        {"u": {"member0": None, "member1": 99}},
        {"u": None},
    ):
        assert decode_record(tree, encode_record(tree, row)) == row


def test_union_numeric_widening():
    # [int,long] → LongType, [float,double] → DoubleType (spark-avro parity)
    avsc = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "il", "type": ["int", "long"]},
            {"name": "fd", "type": ["null", "float", "double"]},
        ],
    }
    st = to_spark_struct(json.dumps(avsc))
    assert st["il"].dataType == T.LongType() and not st["il"].nullable
    assert st["fd"].dataType == T.DoubleType() and st["fd"].nullable
    tree = parse_schema(json.dumps(avsc))
    row = {"il": 5, "fd": 2.5}
    assert decode_record(tree, encode_record(tree, row)) == row
    assert decode_record(tree, encode_record(tree, {"il": 2**50, "fd": None})) == {
        "il": 2**50, "fd": None,
    }


def _pack(fmt, v):
    import struct

    return struct.pack(fmt, v)


# union → (Spark type, nullable, [(payload, decoded value)]): one payload per
# branch, hand-written (branch index, then the branch value, zigzag varints)
UNION_SHAPES = [
    (["null"], T.StructType([]), True, [(b"\x00", None)]),
    (["null", "int"], T.IntegerType(), True, [(b"\x00", None), (b"\x02\x0a", 5)]),
    (["int", "long"], T.LongType(), False, [(b"\x00\x0a", 5), (b"\x02\x0a", 5)]),
    (
        ["null", "float", "double"], T.DoubleType(), True,
        [(b"\x00", None), (b"\x02" + _pack("<f", 2.5), 2.5), (b"\x04" + _pack("<d", 2.5), 2.5)],
    ),
    (
        ["int", "string"],
        T.StructType([
            T.StructField("member0", T.IntegerType(), True),
            T.StructField("member1", T.StringType(), True),
        ]),
        False,
        [
            (b"\x00\x0a", {"member0": 5, "member1": None}),
            (b"\x02\x02s", {"member0": None, "member1": "s"}),
        ],
    ),
    (
        ["string", "null", "long"],
        T.StructType([
            T.StructField("member0", T.StringType(), True),
            T.StructField("member1", T.LongType(), True),
        ]),
        True,
        [
            (b"\x00\x02s", {"member0": "s", "member1": None}),
            (b"\x02", None),
            (b"\x04\x0a", {"member0": None, "member1": 5}),
        ],
    ),
    (
        ["string", "bytes"],
        T.StructType([
            T.StructField("member0", T.StringType(), True),
            T.StructField("member1", T.BinaryType(), True),
        ]),
        False,
        [
            (b"\x00\x02s", {"member0": "s", "member1": None}),
            (b"\x02\x02s", {"member0": None, "member1": b"s"}),
        ],
    ),
]


@pytest.mark.parametrize(
    "union,spark_type,nullable,cases", UNION_SHAPES, ids=[json.dumps(u[0]) for u in UNION_SHAPES]
)
def test_union_shape(union, spark_type, nullable, cases):
    # one rule says how a union lands: the Spark type, the decoded value's
    # shape and the encoder's branch choice must all agree with it
    tree = parse_schema(json.dumps(union))
    assert to_spark_type(tree) == (spark_type, nullable)
    for payload, value in cases:
        assert decode_record(tree, payload) == value
        assert decode_record(tree, encode_record(tree, value)) == value


def test_dotted_name_is_the_fullname():
    # Avro spec, Names: a dotted name is already a fullname and its
    # namespace attribute is ignored, so a reader of the same fullname
    # resolves it
    writer = parse_schema(json.dumps({
        "type": "record", "name": "com.acme.E", "namespace": "other",
        "fields": [{"name": "x", "type": "int"}],
    }))
    reader = parse_schema(json.dumps({
        "type": "record", "name": "com.acme.E", "fields": [{"name": "x", "type": "long"}],
    }))
    assert writer["name"] == "com.acme.E"
    assert decode_record(writer, encode_record(writer, {"x": 3}), reader) == {"x": 3}


def test_nested_type_inherits_the_dotted_namespace():
    # a type nested in "com.acme.E" without a namespace of its own is
    # "com.acme.I", and may be referred to by that fullname
    tree = parse_schema(json.dumps({
        "type": "record", "name": "com.acme.E", "fields": [
            {"name": "a", "type": {"type": "record", "name": "I",
                                   "fields": [{"name": "v", "type": "int"}]}},
            {"name": "b", "type": "com.acme.I"},
        ],
    }))
    assert tree["fields"][1]["type"] is tree["fields"][0]["type"]
    assert tree["fields"][0]["type"]["name"] == "com.acme.I"
    row = {"a": {"v": 1}, "b": {"v": 2}}
    assert decode_record(tree, encode_record(tree, row)) == row


LOGICAL_AVSC = {
    "type": "record", "name": "L",
    "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts_ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "ts_us", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
        {"name": "lts", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2}},
        {"name": "fdec", "type": {"type": "fixed", "name": "F8", "size": 8,
                                  "logicalType": "decimal", "precision": 18, "scale": 4}},
        {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
    ],
}


def test_logical_types_spark_mapping():
    st = to_spark_struct(json.dumps(LOGICAL_AVSC))
    assert st["d"].dataType == T.DateType()
    assert st["ts_ms"].dataType == T.TimestampType()
    assert st["ts_us"].dataType == T.TimestampType() and st["ts_us"].nullable
    assert st["lts"].dataType == T.TimestampNTZType()
    assert st["dec"].dataType == T.DecimalType(10, 2)
    assert st["fdec"].dataType == T.DecimalType(18, 4)
    assert st["uid"].dataType == T.StringType()  # uuid passes through
    assert st["tm"].dataType == T.IntegerType()  # time-millis passes through


def test_logical_types_roundtrip():
    import datetime as dt
    import decimal

    tree = parse_schema(json.dumps(LOGICAL_AVSC))
    row = {
        "d": dt.date(2024, 2, 29),
        "ts_ms": dt.datetime(2024, 2, 29, 23, 59, 59, 123000),
        "ts_us": dt.datetime(1969, 7, 20, 20, 17, 0, 1),  # pre-epoch-ish, µs
        "lts": dt.datetime(2024, 1, 1, 0, 0, 0, 42),
        "dec": decimal.Decimal("-12345678.90"),
        "fdec": decimal.Decimal("99999999999999.9999"),
        "uid": "123e4567-e89b-12d3-a456-426614174000",
        "tm": 86_399_999,
    }
    assert decode_record(tree, encode_record(tree, row)) == row
    # raw base values (epoch units) encode too — the fixture-producer path
    raw = dict(row, d=19_782, ts_ms=0, ts_us=None)
    out = decode_record(tree, encode_record(tree, raw))
    import datetime as dt2
    assert out["d"] == dt2.date(1970, 1, 1) + dt2.timedelta(days=19_782)
    assert out["ts_ms"] == dt2.datetime(1970, 1, 1)
    assert out["ts_us"] is None


def test_spark_to_avro_roundtrip():
    st = T.StructType([
        T.StructField("a", T.LongType(), True),
        T.StructField("s", T.StructType([T.StructField("x", T.StringType(), False)]), False),
        T.StructField("arr", T.ArrayType(T.DoubleType(), False), False),
    ])
    avsc = from_spark_struct(st)
    assert to_spark_struct(json.dumps(avsc)) == st


def test_schema_resolution_promotions_unions_enums_skip():
    """Codec-level Avro schema resolution (round 4): promotions
    (int->long, int->double-in-union, string->bytes, bytes->string),
    writer-only field skip (including a nested record), reader defaults
    (primitive, record, array), union branch re-matching, and enum
    fallback to the reader's default symbol."""
    from kafka_etl_consumer_spark.avro_codec import (
        decode_record,
        encode_record,
        parse_schema,
    )

    writer = parse_schema("""{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "int"},
        {"name": "price", "type": "int"},
        {"name": "name", "type": "string"},
        {"name": "blob", "type": "bytes"},
        {"name": "tag", "type": {"type": "enum", "name": "Tag",
                                 "symbols": ["A", "B", "LEGACY"]}},
        {"name": "nested", "type": {"type": "record", "name": "Sub",
          "fields": [{"name": "x", "type": "long"},
                     {"name": "ys", "type": {"type": "array", "items": "int"}}]}},
        {"name": "maybe", "type": ["null", "int"]}]}""")
    reader = parse_schema("""{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "price", "type": ["null", "double"]},
        {"name": "name", "type": "bytes"},
        {"name": "blob", "type": "string"},
        {"name": "tag", "type": {"type": "enum", "name": "Tag",
                                 "symbols": ["A", "B", "C"], "default": "C"}},
        {"name": "maybe", "type": ["null", "long"]},
        {"name": "channel", "type": "string", "default": "web"},
        {"name": "weights", "type": {"type": "array", "items": "double"},
         "default": [1.0, 2.0]},
        {"name": "meta", "type": {"type": "record", "name": "Meta",
          "fields": [{"name": "v", "type": "int", "default": 7}]},
         "default": {}}]}""")

    payload = encode_record(writer, {
        "id": 5, "price": 42, "name": "abc", "blob": b"\x01\x02",
        "tag": "LEGACY",
        "nested": {"x": 9, "ys": [1, 2, 3]},   # dropped by the reader
        "maybe": 17,
    })
    got = decode_record(writer, payload, reader)
    assert got == {
        "id": 5,                      # int -> long
        "price": 42.0,                # int -> double via reader union
        "name": b"abc",               # string -> bytes
        "blob": "\x01\x02",           # bytes -> string (utf-8)
        "tag": "C",                   # unknown symbol -> reader default
        "maybe": 17,                  # union int branch -> reader long
        "channel": "web",             # reader-added primitive default
        "weights": [1.0, 2.0],        # reader-added array default
        "meta": {"v": 7},             # reader-added record: field defaults
    }
    assert isinstance(got["price"], float) and isinstance(got["id"], int)

    # a reader field with neither writer presence nor a default is an error
    import pytest as _pytest

    bad_reader = parse_schema("""{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "missing", "type": "string"}]}""")
    with _pytest.raises(ValueError, match="no default"):
        decode_record(writer, payload, bad_reader)

    # illegal promotion (string -> int) is an error, not a silent null
    bad_promo = parse_schema("""{
      "type": "record", "name": "Evt", "fields": [
        {"name": "name", "type": "int"}]}""")
    with _pytest.raises(ValueError, match="promote"):
        decode_record(writer, payload, bad_promo)


def test_out_of_range_branch_or_symbol_index_is_corrupt():
    # a corrupt payload's union branch or enum symbol index, negative or
    # past the end, fails the decode (FAILFAST raises, PERMISSIVE
    # dead-letters) instead of wrapping round to the last branch/symbol
    tree = parse_schema(json.dumps({
        "type": "record", "name": "R",
        "fields": [
            {"name": "a", "type": ["null", "string"]},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["X", "Y"]}},
        ],
    }))
    assert decode_record(tree, b"\x02\x04hi\x02") == {"a": "hi", "e": "Y"}
    for payload in (b"\x01\x04hi\x02", b"\x04\x04hi\x02", b"\x00\x01", b"\x00\x04"):
        with pytest.raises(LookupError):
            decode_record(tree, payload)


def test_decoder_memoised_per_schema_pair_and_bounded(monkeypatch):
    from kafka_etl_consumer_spark import avro_codec

    monkeypatch.setattr(avro_codec, "_DECODERS", {})
    tree = parse_schema(ITEM_VIEW_EVENT_AVSC)
    row = item_view_events(1)[0]
    payload = encode_record(tree, row)
    for _ in range(3):
        assert decode_record(tree, payload) == row
    assert decode_record(tree, payload, tree) == row
    assert len(avro_codec._DECODERS) == 2  # (tree, None) and (tree, tree)
    for _ in range(avro_codec._DECODERS_MAX + 10):
        assert decode_record(parse_schema(ITEM_VIEW_EVENT_AVSC), payload) == row
    assert len(avro_codec._DECODERS) == avro_codec._DECODERS_MAX
