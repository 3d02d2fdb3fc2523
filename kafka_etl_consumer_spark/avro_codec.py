"""Pure-Python Avro binary codec + Avro⇄Spark schema translation.

Why this exists: the reference decodes raw binary-Avro Kafka payloads (no
Confluent magic byte — a bare ``binaryDecoder`` over the whole message,
AbstractAvroDeserializeService.java:46-60 in the reference). Spark's own
``from_avro`` lives in the external ``spark-avro`` jar, which is not part of
a stock PySpark install; this module provides the same semantics with zero
JVM dependencies. ``decode_avro`` (streaming/ingest.py) prefers the JVM
path when the jar is present and falls back to this codec via an
Arrow-batched ``mapInPandas`` otherwise.

Decoding has one entry point, :func:`decode_record`: one decoder per
(writer, reader) schema pair, built once into a tree of per-node closures
(as ``GenericDatumReader`` builds one resolver per pair); the plain decode
is the reader == writer case.

Supported: the full Avro 1.x type lattice the reference's registry can feed
it — null, boolean, int, long, float, double, bytes, string, record (incl.
nested + named references), enum, array, map, union, fixed — plus the
standard logical types with the same Spark mapping the JVM ``from_avro``
uses (SchemaConverters semantics): ``date`` → DateType,
``timestamp-millis``/``timestamp-micros`` → TimestampType (session-tz;
this repo pins ``spark.sql.session.timeZone=UTC``, session.py),
``local-timestamp-*`` → TimestampNTZType, ``decimal`` on bytes/fixed →
DecimalType(precision, scale); ``uuid``/``time-*`` pass through as their
base type. (The reference itself carries epoch-millis as plain long —
item-view-event.avsc:18-23; FIXTURES.md §A — so logical types only appear
when users bring richer schemas.)

Multi-branch non-null unions follow spark-avro: ``[int, long]`` widens to
LongType, ``[float, double]`` to DoubleType, and any other non-null
multi-branch union becomes a struct of nullable ``member0..memberN-1``
fields (one per non-null branch, exactly one set per value). The reference
would throw on any schema it didn't expect
(AbstractAvroDeserializeService.java:56-59); we keep fail-fast only for
shapes Spark itself cannot type (recursive records).
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal
import functools
import io
import json
import struct
import threading
from typing import Any

from pyspark.sql import types as T

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

# logical types we materialize (anything else passes through as base type)
_LOGICALS = {
    "date",
    "timestamp-millis",
    "timestamp-micros",
    "local-timestamp-millis",
    "local-timestamp-micros",
    "decimal",
}
_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_DT = dt.datetime(1970, 1, 1)


# ---------------------------------------------------------------------------
# Schema parsing (avsc JSON → resolved dict tree with named-type references)
# ---------------------------------------------------------------------------


def parse_schema(avsc: str | dict) -> dict:
    """Parse an .avsc JSON string into a resolved schema tree.

    Named types (record/enum/fixed) referenced by name are replaced with
    their definitions so the codec never needs a registry at decode time.
    """
    raw = json.loads(avsc) if isinstance(avsc, str) else avsc
    named: dict[str, dict] = {}

    def resolve(node: Any, namespace: str | None) -> Any:
        if isinstance(node, str):
            if node in _PRIMITIVES:
                return node
            full = node if "." in node else (f"{namespace}.{node}" if namespace else node)
            if full in named:
                return named[full]
            if node in named:
                return named[node]
            raise ValueError(f"unknown Avro type reference: {node!r}")
        if isinstance(node, list):  # union
            return [resolve(b, namespace) for b in node]
        if not isinstance(node, dict):
            raise ValueError(f"malformed Avro schema node: {node!r}")
        t = node.get("type")
        if t in ("record", "error"):
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "record", "name": full, "fields": []}
            named[full] = out
            named.setdefault(node["name"], out)
            for f in node["fields"]:
                rf = {"name": f["name"], "type": resolve(f["type"], ns)}
                if "default" in f:  # kept for reader-side schema resolution
                    rf["default"] = f["default"]
                out["fields"].append(rf)
            return out
        if t == "enum":
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "enum", "name": full, "symbols": list(node["symbols"])}
            if "default" in node:  # Avro 1.9+ enum fallback symbol
                out["default"] = node["default"]
            named[full] = out
            named.setdefault(node["name"], out)
            return out
        if t == "fixed":
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "fixed", "name": full, "size": int(node["size"])}
            if node.get("logicalType") == "decimal":
                out["logicalType"] = "decimal"
                out["precision"] = int(node["precision"])
                out["scale"] = int(node.get("scale", 0))
            named[full] = out
            named.setdefault(node["name"], out)
            return out
        if t == "array":
            return {"type": "array", "items": resolve(node["items"], namespace)}
        if t == "map":
            return {"type": "map", "values": resolve(node["values"], namespace)}
        if t in _PRIMITIVES:
            lt = node.get("logicalType")
            if lt in _LOGICALS:  # keep the annotation; else → base type
                out = {"type": t, "logicalType": lt}
                if lt == "decimal":
                    out["precision"] = int(node["precision"])
                    out["scale"] = int(node.get("scale", 0))
                return out
            return t
        return resolve(t, namespace)

    return resolve(raw, None)


def _type_name(schema: Any) -> str:
    return schema if isinstance(schema, str) else ("union" if isinstance(schema, list) else schema["type"])


# ---------------------------------------------------------------------------
# Avro → Spark schema
# ---------------------------------------------------------------------------

_AVRO_TO_SPARK = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def to_spark_type(schema: Any, _visiting: frozenset[str] = frozenset()) -> tuple[T.DataType, bool]:
    """Resolved Avro schema → (Spark DataType, nullable).

    ``["null", X]`` unions become nullable X — exactly what the JVM
    ``from_avro`` does for the reference's all-nullable-fields schema
    (FIXTURES.md §A). Multi-branch unions follow spark-avro
    SchemaConverters: [int,long]→LongType, [float,double]→DoubleType,
    anything else → struct of nullable member0..memberN-1. Recursive
    records are legal Avro but have no Spark representation → ValueError
    (fail fast)."""
    if isinstance(schema, str):
        return _AVRO_TO_SPARK[schema], schema == "null"
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        nullable = len(non_null) < len(schema)
        if len(non_null) == 1:
            dtype, _ = to_spark_type(non_null[0], _visiting)
            return dtype, nullable
        names = {_type_name(b) for b in non_null}
        if names == {"int", "long"}:
            return T.LongType(), nullable
        if names == {"float", "double"}:
            return T.DoubleType(), nullable
        fields = [
            T.StructField(f"member{i}", to_spark_type(b, _visiting)[0], True)
            for i, b in enumerate(non_null)
        ]
        return T.StructType(fields), nullable
    t = schema["type"]
    if t == "record":
        if schema["name"] in _visiting:
            raise ValueError(
                f"recursive Avro record {schema['name']!r} has no Spark equivalent"
            )
        inner = _visiting | {schema["name"]}
        fields = []
        for f in schema["fields"]:
            dt, nullable = to_spark_type(f["type"], inner)
            fields.append(T.StructField(f["name"], dt, nullable))
        return T.StructType(fields), False
    if t == "enum":
        return T.StringType(), False
    if t == "fixed":
        if schema.get("logicalType") == "decimal":
            return T.DecimalType(schema["precision"], schema["scale"]), False
        return T.BinaryType(), False
    if t in _PRIMITIVES:  # logical-typed primitive node
        lt = schema.get("logicalType")
        if lt == "date":
            return T.DateType(), False
        if lt in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType(), False
        if lt in ("local-timestamp-millis", "local-timestamp-micros"):
            return T.TimestampNTZType(), False
        if lt == "decimal":
            return T.DecimalType(schema["precision"], schema["scale"]), False
        return _AVRO_TO_SPARK[t], t == "null"
    if t == "array":
        dt, nullable = to_spark_type(schema["items"], _visiting)
        return T.ArrayType(dt, containsNull=nullable), False
    if t == "map":
        dt, nullable = to_spark_type(schema["values"], _visiting)
        return T.MapType(T.StringType(), dt, valueContainsNull=nullable), False
    raise ValueError(f"unsupported Avro type: {t!r}")


def to_spark_struct(avsc: str | dict) -> T.StructType:
    dt, _ = to_spark_type(parse_schema(avsc))
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level Avro schema must be a record")
    return dt


# ---------------------------------------------------------------------------
# Spark → Avro schema (for the to_avro test-fixture path, reference P1)
# ---------------------------------------------------------------------------


def from_spark_struct(st: T.StructType, name: str = "Record", namespace: str = "engine") -> dict:
    def conv(dt: T.DataType, nullable: bool, path: str) -> Any:
        base: Any
        if isinstance(dt, T.BooleanType):
            base = "boolean"
        elif isinstance(dt, T.IntegerType):
            base = "int"
        elif isinstance(dt, T.LongType):
            base = "long"
        elif isinstance(dt, T.FloatType):
            base = "float"
        elif isinstance(dt, T.DoubleType):
            base = "double"
        elif isinstance(dt, T.BinaryType):
            base = "bytes"
        elif isinstance(dt, T.StringType):
            base = "string"
        elif isinstance(dt, T.ArrayType):
            base = {"type": "array", "items": conv(dt.elementType, dt.containsNull, path)}
        elif isinstance(dt, T.MapType):
            base = {"type": "map", "values": conv(dt.valueType, dt.valueContainsNull, path)}
        elif isinstance(dt, T.StructType):
            base = {
                "type": "record",
                "name": f"{path}_rec",
                "fields": [
                    {"name": f.name, "type": conv(f.dataType, f.nullable, f"{path}_{f.name}")}
                    for f in dt.fields
                ],
            }
        else:
            raise ValueError(f"unsupported Spark type for Avro: {dt}")
        return ["null", base] if nullable else base

    return {
        "type": "record",
        "name": name,
        "namespace": namespace,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable, f.name)} for f in st.fields
        ],
    }


# ---------------------------------------------------------------------------
# Binary decode (Avro spec: zigzag varints, length-prefixed, block arrays)
# with schema resolution (spec §"Schema Resolution"), the rolling-upgrade
# contract the reference lacks (it pins one schema per topic,
# AbstractAvroDeserializeService.java:28-34): record fields match by name
# (writer order drives the byte stream), writer-only fields are decoded and
# dropped, reader-only fields take their defaults, the promotion lattice
# applies (int→long/float/double, long→float/double, float→double,
# string⇄bytes), a writer union branch resolves against the reader union
# (an exact type match first, then the first promotable branch), and an
# enum symbol missing from the reader falls back to the reader's
# ``default`` (Avro 1.9+). All of it is decided when the decoder is built;
# a pair that cannot be resolved builds a node that raises only when a
# payload reaches it.
# ---------------------------------------------------------------------------


class Reader:
    """Byte cursor over one Avro binary buffer (also reads OCF framing)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        b = self.buf
        pos = self.pos
        shift = 0
        acc = 0
        while True:
            byte = b[pos]
            pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _to_base(node: dict, v: Any) -> Any:
    """Python value → base-typed value for encoding a logical primitive.
    Accepts either the logical Python type or an already-base value."""
    lt = node["logicalType"]
    if lt == "date":
        return (v - _EPOCH_DATE).days if isinstance(v, dt.date) else int(v)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        if isinstance(v, dt.datetime):
            return (v.replace(tzinfo=None) - _EPOCH_DT) // dt.timedelta(milliseconds=1)
        return int(v)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        if isinstance(v, dt.datetime):
            return (v.replace(tzinfo=None) - _EPOCH_DT) // dt.timedelta(microseconds=1)
        return int(v)
    if lt == "decimal":
        unscaled = int(decimal.Decimal(v).scaleb(node["scale"]).to_integral_value())
        size = node.get("size") or max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(size, "big", signed=True)
    return v


def _read_boolean(r: Reader) -> bool:
    v = r.buf[r.pos] != 0
    r.pos += 1
    return v


def _read_ieee(fmt: str):
    """Reader of one little-endian IEEE float or double."""
    s = struct.Struct(fmt)
    unpack_from, size = s.unpack_from, s.size

    def read(r: Reader) -> float:
        (v,) = unpack_from(r.buf, r.pos)
        r.pos += size
        return v

    return read


def _read_string(r: Reader) -> str:
    return r.read_bytes().decode("utf-8")


_READ_PRIMITIVE = {
    "null": lambda r: None,
    "boolean": _read_boolean,
    "int": Reader.read_long,
    "long": Reader.read_long,
    "float": _read_ieee("<f"),
    "double": _read_ieee("<d"),
    "bytes": Reader.read_bytes,
    "string": _read_string,
}

# the promotion lattice: (writer type, reader type) → value conversion
_PROMOTE = {
    ("int", "long"): int,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): float,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else v,
}


def _logical(node: Any):
    """Base value → Python value for a logical-typed node, or None when the
    node has no logical type. Timestamps come back tz-naive in UTC (the
    session tz this repo pins)."""
    lt = node.get("logicalType") if isinstance(node, dict) else None
    if lt == "date":
        return lambda v: _EPOCH_DATE + dt.timedelta(days=v)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return lambda v: _EPOCH_DT + dt.timedelta(milliseconds=v)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return lambda v: _EPOCH_DT + dt.timedelta(microseconds=v)
    if lt == "decimal":  # two's-complement big-endian unscaled (bytes/fixed)
        scale = -node["scale"]
        return lambda v: decimal.Decimal(int.from_bytes(v, "big", signed=True)).scaleb(scale)
    return None


def _match(w: Any, rd: Any) -> bool:
    """Does writer node ``w`` resolve to reader node ``rd``: the same type
    (and name, for a named type) or a promotion?"""
    wt, rt = _type_name(w), _type_name(rd)
    if wt in _PRIMITIVES:
        return wt == rt or (wt, rt) in _PROMOTE
    if wt in ("record", "enum", "fixed"):
        return rt == wt and w["name"] == rd["name"]
    return wt == rt  # array/map by shape


def _members(union: list) -> list | None:
    """The member-struct field names of a multi-branch union, or None when
    the union lands as a nullable or widened scalar (to_spark_type)."""
    non_null = [b for b in union if b != "null"]
    names = {_type_name(b) for b in non_null}
    if len(non_null) < 2 or names in ({"int", "long"}, {"float", "double"}):
        return None
    return [f"member{i}" for i in range(len(non_null))]


def _default_value(rd: Any, d: Any) -> Any:
    """A reader field's JSON default → the decoded-value representation."""
    t = _type_name(rd)
    if t == "union":  # a union default applies to the FIRST branch
        v = _default_value(rd[0], d)
        names = _members(rd)
        return v if names is None or rd[0] == "null" else dict.fromkeys(names) | {"member0": v}
    if t == "record":
        return {
            f["name"]: _default_value(
                f["type"], (d or {}).get(f["name"], f.get("default"))
            )
            for f in rd["fields"]
        }
    if t == "array":
        return [_default_value(rd["items"], x) for x in (d or [])]
    if t == "map":
        return {k: _default_value(rd["values"], x) for k, x in (d or {}).items()}
    if t in ("int", "long"):
        d = int(d)
    elif t in ("float", "double"):
        d = float(d)
    elif t in ("bytes", "fixed") and isinstance(d, str):
        d = d.encode("latin-1")  # JSON carries bytes as ISO-8859-1 text
    conv = _logical(rd)  # a logical type's default is base-typed
    return d if conv is None else conv(d)


def _blocks(item):
    """Decoder of an Avro array (a map is an array of key/value pairs)."""

    def dec_blocks(r: Reader) -> list:
        out = []
        n = r.read_long()
        while n:
            if n < 0:  # block with byte-size prefix
                n = -n
                r.read_long()
            for _ in range(n):
                out.append(item(r))
            n = r.read_long()
        return out

    return dec_blocks


def _fail(msg: str):
    def fail(r: Reader):
        raise ValueError(f"schema resolution: {msg}")

    return fail


def _then(f, conv):
    return lambda r: conv(f(r))


def _build(w: Any, rd: Any, built: dict):
    """The closure decoding one value written as ``w`` into reader node
    ``rd``. ``built`` maps (writer, reader) record pairs to their closures,
    so a recursive record refers back to the one under construction."""
    # a union branch or enum symbol index comes from the bytes: keyed by
    # index, so a corrupt negative one fails instead of wrapping round
    if isinstance(w, list):
        branches = {i: _build(b, rd, built) for i, b in enumerate(w)}
        return lambda r: branches[r.read_long()](r)
    if isinstance(rd, list):
        return _build_reader_union(w, rd, built)
    wt, rt = _type_name(w), _type_name(rd)
    if not _match(w, rd):
        return _fail(f"{wt!r} does not match or promote to {rt!r}")
    if wt in _PRIMITIVES:  # possibly logical-typed
        f = _READ_PRIMITIVE[wt]
        # the reader's logical annotation applies only when the writer had
        # none; converting a writer-logical value twice would corrupt it
        for conv in (
            _logical(w),
            _PROMOTE.get((wt, rt)),
            None if isinstance(w, dict) else _logical(rd),
        ):
            if conv is not None:
                f = _then(f, conv)
        return f
    if wt == "record":
        return _build_record(w, rd, built)
    if wt == "enum":
        table = {}
        for i, sym in enumerate(w["symbols"]):
            v = sym if sym in rd["symbols"] else rd.get("default")
            table[i] = _fail(f"enum symbol {sym!r} not in reader") if v is None else lambda r, v=v: v
        return lambda r: table[r.read_long()](r)
    if wt == "fixed":
        if w["size"] != rd["size"]:
            return _fail("fixed size mismatch")
        f = functools.partial(Reader.read_fixed, n=w["size"])
        conv = _logical(rd)  # the reader's decimal annotation applies
        return f if conv is None else _then(f, conv)
    if wt == "array":
        return _blocks(_build(w["items"], rd["items"], built))
    if wt == "map":
        values = _build(w["values"], rd["values"], built)
        return _then(_blocks(lambda r: (_read_string(r), values(r))), dict)
    return _fail(f"unsupported writer type {wt!r}")


def _build_record(w: dict, rd: Any, built: dict):
    key = (id(w), id(rd))
    if key in built:
        return built[key]
    r_types = {f["name"]: f["type"] for f in rd["fields"]}
    w_names = {f["name"] for f in w["fields"]}
    added = [f for f in rd["fields"] if f["name"] not in w_names]
    for f in added:
        if "default" not in f and not (isinstance(f["type"], list) and f["type"][0] == "null"):
            return _fail(f"reader field {f['name']!r} absent from writer and has no default")
    defaults = {f["name"]: _default_value(f["type"], f.get("default")) for f in added}
    dropped = tuple(f["name"] for f in w["fields"] if f["name"] not in r_types)
    steps: list = []

    def dec_record(r: Reader) -> dict:
        out = {name: f(r) for name, f in steps}
        for name in dropped:  # writer-only: decoded to advance, then dropped
            del out[name]
        if defaults:
            out.update(copy.deepcopy(defaults))
        return out

    built[key] = dec_record
    steps.extend(
        (f["name"], _build(f["type"], r_types.get(f["name"], f["type"]), built))
        for f in w["fields"]
    )
    return dec_record


def _build_reader_union(w: Any, rd: list, built: dict):
    """A non-union writer node into a reader union: the first branch of the
    same type (and name) wins, else the first branch it promotes to."""
    exact = (i for i, b in enumerate(rd) if _type_name(b) == _type_name(w) and _match(w, b))
    k = next(exact, None)
    if k is None:
        k = next((i for i, b in enumerate(rd) if _match(w, b)), None)
    if k is None:
        return _fail(
            f"writer {_type_name(w)!r} matches no reader union branch "
            f"{[_type_name(b) for b in rd]!r}"
        )
    f = _build(w, rd[k], built)
    names = _members(rd)
    if names is None or rd[k] == "null":
        return f
    member = names[sum(b != "null" for b in rd[:k])]  # spark-avro's member struct

    def dec_member(r: Reader) -> dict:
        out = dict.fromkeys(names)
        out[member] = f(r)
        return out

    return dec_member


# (id(writer), id(reader)) → (decoder, writer, reader); holding the trees
# keeps their ids from being reused while the entry lives
_DECODERS: dict = {}
_DECODERS_MAX = 64
_DECODERS_LOCK = threading.Lock()


def decode_record(writer: Any, payload: bytes, reader: Any = None) -> Any:
    """Decode one binary-Avro payload (whole message, no magic byte — the
    reference's ``deserializeAvro`` semantics) written with ``writer``.
    With ``reader``, the value is resolved into the reader schema per Avro
    schema resolution; without, ``writer`` is also the reader. Both are
    parse_schema trees, treated as immutable: the decoder for each pair
    is built on first use and memoised by object identity (bounded)."""
    key = (id(writer), id(reader))
    entry = _DECODERS.get(key)
    if entry is None:
        entry = (_build(writer, writer if reader is None else reader, {}), writer, reader)
        with _DECODERS_LOCK:
            if len(_DECODERS) >= _DECODERS_MAX:
                del _DECODERS[next(iter(_DECODERS))]  # the oldest pair
            _DECODERS[key] = entry
    return entry[0](Reader(payload))


# ---------------------------------------------------------------------------
# Binary encode (test fixtures + Kafka-producer parity, reference P1)
# ---------------------------------------------------------------------------


class _Writer:
    __slots__ = ("out",)

    def __init__(self):
        self.out = io.BytesIO()

    def write_long(self, v: int) -> None:
        v = (v << 1) ^ (v >> 63)  # zigzag (arbitrary-precision-safe for int64)
        v &= (1 << 64) - 1
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.out.write(bytes((b | 0x80,)))
            else:
                self.out.write(bytes((b,)))
                break

    def write_bytes(self, b: bytes) -> None:
        self.write_long(len(b))
        self.out.write(b)


def _encode(schema: Any, v: Any, w: _Writer) -> None:
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            w.out.write(b"\x01" if v else b"\x00")
        elif schema in ("int", "long"):
            w.write_long(int(v))
        elif schema == "float":
            w.out.write(struct.pack("<f", float(v)))
        elif schema == "double":
            w.out.write(struct.pack("<d", float(v)))
        elif schema == "bytes":
            w.write_bytes(bytes(v))
        elif schema == "string":
            w.write_bytes(str(v).encode("utf-8"))
        else:
            raise ValueError(f"unknown primitive {schema!r}")
        return
    if isinstance(schema, list):
        if v is None and "null" in schema:
            idx = schema.index("null")
            w.write_long(idx)
            return
        non_null = [(i, b) for i, b in enumerate(schema) if b != "null"]
        if not non_null:
            raise ValueError("union has no non-null branch for value")
        if len(non_null) > 1:
            names = {_type_name(b) for _, b in non_null}
            if names == {"int", "long"} or names == {"float", "double"}:
                # widened scalar: encode into the widest branch
                wide = "long" if "long" in names else "double"
                idx, branch = next((i, b) for i, b in non_null if _type_name(b) == wide)
                w.write_long(idx)
                _encode(branch, v, w)
                return
            if isinstance(v, dict) and any(k.startswith("member") for k in v):
                set_members = [
                    k for k, mv in v.items() if k.startswith("member") and mv is not None
                ]
                if len(set_members) != 1:
                    raise ValueError(
                        f"member-struct union value must set exactly one member, got {set_members}"
                    )
                mi = int(set_members[0][len("member") :])
                idx, branch = non_null[mi]
                w.write_long(idx)
                _encode(branch, v[set_members[0]], w)
                return
            raise ValueError(
                f"cannot pick a union branch for {type(v).__name__} among {sorted(names)}"
            )
        idx, branch = non_null[0]
        w.write_long(idx)
        _encode(branch, v, w)
        return
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v[f["name"]], w)
    elif t == "enum":
        w.write_long(schema["symbols"].index(v))
    elif t == "fixed":
        if schema.get("logicalType") == "decimal" and not isinstance(v, (bytes, bytearray)):
            v = _to_base(schema, v)
        w.out.write(bytes(v))
    elif t in _PRIMITIVES:  # logical-typed primitive node
        _encode(t, _to_base(schema, v), w)
    elif t == "array":
        if v:
            w.write_long(len(v))
            for item in v:
                _encode(schema["items"], item, w)
        w.write_long(0)
    elif t == "map":
        if v:
            w.write_long(len(v))
            for k, val in v.items():
                w.write_bytes(str(k).encode("utf-8"))
                _encode(schema["values"], val, w)
        w.write_long(0)
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


def encode_record(schema: Any, record: dict) -> bytes:
    w = _Writer()
    _encode(schema, record, w)
    return w.out.getvalue()
