"""Property tests for Avro schema resolution (avro_codec round 4).

Invariants, over randomized records of a fixed schema holding every type
the codec supports:
1. IDENTITY: resolving with reader == writer equals the plain decode and
   the encoded record.
2. PROMOTION: a fully-promoted reader (int->long->double, string<->bytes)
   yields exactly the promoted values.
3. EVOLUTION ROUNDTRIP: add-with-default + drop keeps every surviving
   field's value and fills every added field with its default, for any
   record content.
"""

from __future__ import annotations

import datetime as dt
import decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_etl_consumer_spark.avro_codec import (
    decode_record,
    encode_record,
    parse_schema,
)

_WRITER_JSON = """{
  "type": "record", "name": "Evt", "fields": [
    {"name": "i", "type": "int"},
    {"name": "l", "type": "long"},
    {"name": "f", "type": "float"},
    {"name": "s", "type": "string"},
    {"name": "b", "type": "bytes"},
    {"name": "u", "type": ["null", "int"]},
    {"name": "arr", "type": {"type": "array", "items": "int"}},
    {"name": "m", "type": {"type": "map", "values": "string"}},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "int"},
                 {"name": "y", "type": ["null", "string"]}]}},
    {"name": "mu", "type": ["null", "int", "string"]},
    {"name": "e", "type": {"type": "enum", "name": "Color",
                           "symbols": ["RED", "GREEN", "BLUE"]}},
    {"name": "dec", "type": {"type": "fixed", "name": "Dec8", "size": 8,
                             "logicalType": "decimal", "precision": 18, "scale": 4}},
    {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    {"name": "mr", "type": {"type": "map", "values": {"type": "record", "name": "Val",
      "fields": [{"name": "k", "type": "int"},
                 {"name": "tag", "type": ["null", "string"]}]}}}]}"""

WRITER = parse_schema(_WRITER_JSON)
# a second parse: the identity reader is a distinct tree, resolved by name
WRITER_COPY = parse_schema(_WRITER_JSON)

_int32 = st.integers(-(2**31), 2**31 - 1)
_epoch = dt.datetime(1970, 1, 1)
_records = st.fixed_dictionaries(
    {
        "i": _int32,
        "l": st.integers(-(2**63), 2**63 - 1),
        "f": st.floats(width=32, allow_nan=False),
        "s": st.text(max_size=20),
        "b": st.binary(max_size=20),
        "u": st.one_of(st.none(), _int32),
        "arr": st.lists(_int32, max_size=5),
        "m": st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=4),
        "sub": st.fixed_dictionaries(
            {"x": _int32,
             "y": st.one_of(st.none(), st.text(max_size=8))}
        ),
        "mu": st.one_of(
            st.none(),
            _int32.map(lambda v: {"member0": v, "member1": None}),
            st.text(max_size=8).map(lambda v: {"member0": None, "member1": v}),
        ),
        "e": st.sampled_from(["RED", "GREEN", "BLUE"]),
        "dec": st.integers(-(10**18) + 1, 10**18 - 1).map(
            lambda u: decimal.Decimal(u).scaleb(-4)
        ),
        "ts": st.integers(-62135596800000, 253402300799999).map(
            lambda ms: _epoch + dt.timedelta(milliseconds=ms)
        ),
        "mr": st.dictionaries(
            st.text(max_size=8),
            st.fixed_dictionaries(
                {"k": _int32, "tag": st.one_of(st.none(), st.text(max_size=8))}
            ),
            max_size=3,
        ),
    }
)


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_identity(rec):
    payload = encode_record(WRITER, rec)
    assert decode_record(WRITER, payload, WRITER) == decode_record(WRITER, payload)
    assert decode_record(WRITER, payload, WRITER_COPY) == rec


_PROMOTED = parse_schema("""{
  "type": "record", "name": "Evt", "fields": [
    {"name": "i", "type": "double"},
    {"name": "l", "type": "double"},
    {"name": "f", "type": "double"},
    {"name": "s", "type": "bytes"},
    {"name": "b", "type": "string"},
    {"name": "u", "type": ["null", "long"]},
    {"name": "arr", "type": {"type": "array", "items": "long"}},
    {"name": "m", "type": {"type": "map", "values": "bytes"}},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "long"},
                 {"name": "y", "type": ["null", "bytes"]}]}}]}""")


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_full_promotion(rec):
    # bytes->string requires utf-8-decodable bytes; re-encode b from text
    rec = dict(rec, b=rec["s"].encode("utf-8"))
    payload = encode_record(WRITER, rec)
    got = decode_record(WRITER, payload, _PROMOTED)
    assert got == {
        "i": float(rec["i"]),
        "l": float(rec["l"]),
        "f": float(rec["f"]),
        "s": rec["s"].encode("utf-8"),
        "b": rec["s"],
        "u": rec["u"],
        "arr": [int(x) for x in rec["arr"]],
        "m": {k: v.encode("utf-8") for k, v in rec["m"].items()},
        "sub": {
            "x": rec["sub"]["x"],
            "y": None if rec["sub"]["y"] is None else rec["sub"]["y"].encode("utf-8"),
        },
    }


# keeps the multi-branch union (branches reordered, int promoted to long),
# the enum (symbols reordered and extended) and the map of records (a value
# field added with a default, one dropped); drops the decimal and timestamp
_EVOLVED = parse_schema("""{
  "type": "record", "name": "Evt", "fields": [
    {"name": "l", "type": "long"},
    {"name": "s", "type": "string"},
    {"name": "added_d", "type": "double", "default": 2.5},
    {"name": "added_u", "type": ["null", "string"], "default": null},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "int"},
                 {"name": "y", "type": ["null", "string"]},
                 {"name": "z", "type": "int", "default": 9}]}},
    {"name": "mu", "type": ["null", "string", "long"]},
    {"name": "e", "type": {"type": "enum", "name": "Color",
                           "symbols": ["BLUE", "PURPLE", "GREEN", "RED"]}},
    {"name": "mr", "type": {"type": "map", "values": {"type": "record", "name": "Val",
      "fields": [{"name": "k", "type": "long"},
                 {"name": "w", "type": "string", "default": "none"}]}}}]}""")


def _evolved_mu(mu):
    if mu is None:
        return None
    if mu["member0"] is not None:  # int -> the reader's long branch
        return {"member0": None, "member1": mu["member0"]}
    return {"member0": mu["member1"], "member1": None}


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_add_drop_any_content(rec):
    payload = encode_record(WRITER, rec)
    got = decode_record(WRITER, payload, _EVOLVED)
    assert got == {
        "l": rec["l"],
        "s": rec["s"],
        "added_d": 2.5,
        "added_u": None,
        "sub": {"x": rec["sub"]["x"], "y": rec["sub"]["y"], "z": 9},
        "mu": _evolved_mu(rec["mu"]),
        "e": rec["e"],
        "mr": {k: {"k": v["k"], "w": "none"} for k, v in rec["mr"].items()},
    }
