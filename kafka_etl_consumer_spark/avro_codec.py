"""Pure-Python Avro binary codec + Avro⇄Spark schema translation.

Why this exists: the reference decodes raw binary-Avro Kafka payloads (no
Confluent magic byte — a bare ``binaryDecoder`` over the whole message,
AbstractAvroDeserializeService.java:46-60 in the reference). Spark's own
``from_avro`` lives in the external ``spark-avro`` jar, which is not part of
a stock PySpark install; this module provides the same semantics with zero
JVM dependencies. ``decode_avro`` (streaming/ingest.py) prefers the JVM
path when the jar is present and falls back to this codec via an
Arrow-batched ``mapInPandas`` otherwise.

Decoding has one entry point, :func:`decode_record` (:func:`decoder` gives
the same per-value function over a :class:`Reader`, for framed streams such
as OCF): one decoder per (writer, reader) schema pair, built once into a
tree of per-node closures (as ``GenericDatumReader`` builds one resolver per
pair); the plain decode is the reader == writer case. Encoding
(:func:`encode_record`) walks the schema tree per value.

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

Each Avro rule has one definition, which every reader of it calls:
named-type fullnames (Avro spec "Names") in :func:`_fullname`; how a union
lands in Spark in :func:`_union_shape`, used by the Spark translator, the
decoder, reader defaults and the encoder; each logical type's Spark type
and conversions both ways in the ``_LOGICAL_TYPES`` table.
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
from typing import Any, Callable, NamedTuple

from pyspark.sql import types as T

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}
_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_DT = dt.datetime(1970, 1, 1)


class _Logical(NamedTuple):
    """One logical type: its Spark type and its value conversions (the
    Python value is what decode returns; encode accepts it or the base)."""

    spark: Callable[[dict], T.DataType]  # node → Spark type
    from_base: Callable[[dict], Callable[[Any], Any]]  # node → (base → Python)
    to_base: Callable[[dict, Any], Any]  # (node, Python or base value) → base


def _instant(unit: dt.timedelta, spark: T.DataType) -> _Logical:
    """A count of ``unit`` since the epoch. Python values are tz-naive UTC
    (the session tz this repo pins)."""
    return _Logical(
        lambda node: spark,
        lambda node: lambda v: _EPOCH_DT + unit * v,
        lambda node, v: (
            (v.replace(tzinfo=None) - _EPOCH_DT) // unit if isinstance(v, dt.datetime) else int(v)
        ),
    )


def _decimal_to_base(node: dict, v: Any) -> bytes:
    """Two's-complement big-endian unscaled bytes, a fixed's own size."""
    if isinstance(v, (bytes, bytearray)):
        return v
    unscaled = int(decimal.Decimal(v).scaleb(node["scale"]).to_integral_value())
    size = node.get("size") or max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(size, "big", signed=True)


# the logical types materialized; any other passes through as its base type
_LOGICAL_TYPES = {
    "date": _Logical(
        lambda node: T.DateType(),
        lambda node: lambda v: _EPOCH_DATE + dt.timedelta(days=v),
        lambda node, v: (v - _EPOCH_DATE).days if isinstance(v, dt.date) else int(v),
    ),
    "timestamp-millis": _instant(dt.timedelta(milliseconds=1), T.TimestampType()),
    "timestamp-micros": _instant(dt.timedelta(microseconds=1), T.TimestampType()),
    "local-timestamp-millis": _instant(dt.timedelta(milliseconds=1), T.TimestampNTZType()),
    "local-timestamp-micros": _instant(dt.timedelta(microseconds=1), T.TimestampNTZType()),
    "decimal": _Logical(  # on bytes or fixed
        lambda node: T.DecimalType(node["precision"], node["scale"]),
        lambda node: lambda v, scale=-node["scale"]: decimal.Decimal(
            int.from_bytes(v, "big", signed=True)
        ).scaleb(scale),
        _decimal_to_base,
    ),
}


def _from_base(node: Any):
    """Base value → Python value for a logical-typed node, or None when the
    node has no logical type."""
    lt = node.get("logicalType") if isinstance(node, dict) else None
    return None if lt is None else _LOGICAL_TYPES[lt].from_base(node)


# ---------------------------------------------------------------------------
# Schema parsing (avsc JSON → resolved dict tree with named-type references)
# ---------------------------------------------------------------------------


def _fullname(name: str, namespace: str | None) -> str:
    """The Avro spec's Names rule, for a definition and a reference alike:
    a dotted name is already a fullname; otherwise ``namespace``, if any,
    qualifies it."""
    return name if "." in name or not namespace else f"{namespace}.{name}"


def parse_schema(avsc: str | dict) -> dict:
    """Parse an .avsc JSON string into a resolved schema tree.

    Named types (record/enum/fixed) referenced by name are replaced with
    their definitions so the codec never needs a registry at decode time.
    A reference is looked up by fullname, then by short name.
    """
    raw = json.loads(avsc) if isinstance(avsc, str) else avsc
    named: dict[str, dict] = {}

    def logical(node: dict, out: dict) -> dict:
        """``out`` with ``node``'s logical annotation, when the codec
        materializes it (on fixed, only decimal)."""
        lt = node.get("logicalType")
        if lt in _LOGICAL_TYPES and (out["type"] != "fixed" or lt == "decimal"):
            out["logicalType"] = lt
            if lt == "decimal":
                out["precision"] = int(node["precision"])
                out["scale"] = int(node.get("scale", 0))
        return out

    def resolve(node: Any, namespace: str | None) -> Any:
        if isinstance(node, str):
            if node in _PRIMITIVES:
                return node
            full = _fullname(node, namespace)
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
        if t in ("record", "error", "enum", "fixed"):
            full = _fullname(node["name"], node.get("namespace", namespace))
            ns, _, short = full.rpartition(".")  # nested types inherit ns
            out = {"type": "record" if t == "error" else t, "name": full}
            named[full] = out  # before the fields: a record may refer to itself
            named.setdefault(short, out)
            if t == "enum":
                out["symbols"] = list(node["symbols"])
                if "default" in node:  # Avro 1.9+ enum fallback symbol
                    out["default"] = node["default"]
            elif t == "fixed":
                out["size"] = int(node["size"])
                logical(node, out)
            else:
                out["fields"] = []
                for f in node["fields"]:
                    rf = {"name": f["name"], "type": resolve(f["type"], ns)}
                    if "default" in f:  # kept for reader-side schema resolution
                        rf["default"] = f["default"]
                    out["fields"].append(rf)
            return out
        if t == "array":
            return {"type": "array", "items": resolve(node["items"], namespace)}
        if t == "map":
            return {"type": "map", "values": resolve(node["values"], namespace)}
        if t in _PRIMITIVES:
            out = logical(node, {"type": t})
            return out if "logicalType" in out else t
        return resolve(t, namespace)

    return resolve(raw, None)


def _type_name(schema: Any) -> str:
    return schema if isinstance(schema, str) else ("union" if isinstance(schema, list) else schema["type"])


def _union_shape(union: list) -> tuple[list[int], str | None]:
    """How a union lands in Spark, after spark-avro's SchemaConverters:
    (indices of its non-null branches, shape). The shape is None for one
    non-null branch (a value of that branch, nullable if "null" is a
    branch), ``"long"``/``"double"`` for {int, long}/{float, double}
    (widened to that type), and ``"members"`` otherwise: a struct of
    nullable ``member0..memberN-1``, one per non-null branch, exactly one
    set per value (``["null"]`` alone is the empty struct and decodes to
    None)."""
    if len(union) == 2 and (union[0] == "null") != (union[1] == "null"):
        return [int(union[0] == "null")], None  # [null, X] or [X, null], unscanned
    branches = [i for i, b in enumerate(union) if b != "null"]
    if len(branches) == 1:
        return branches, None
    names = {_type_name(union[i]) for i in branches}
    if names == {"int", "long"}:
        return branches, "long"
    if names == {"float", "double"}:
        return branches, "double"
    return branches, "members"


def _member_of(union: list, i: int):
    """The function landing a value of branch ``i`` in ``union``'s member
    struct, or None when the value lands as it is (a nullable or widened
    scalar, or the null branch)."""
    branches, shape = _union_shape(union)
    if shape != "members" or i not in branches:
        return None
    names = [f"member{m}" for m in range(len(branches))]
    member = names[branches.index(i)]

    def as_member(v: Any) -> dict:
        out = dict.fromkeys(names)
        out[member] = v
        return out

    return as_member


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
    (FIXTURES.md §A); other unions land as :func:`_union_shape` says.
    Recursive records are legal Avro but have no Spark representation →
    ValueError (fail fast)."""
    if isinstance(schema, str):
        return _AVRO_TO_SPARK[schema], schema == "null"
    if isinstance(schema, list):
        branches, shape = _union_shape(schema)
        nullable = len(branches) < len(schema)
        if shape is None:
            return to_spark_type(schema[branches[0]], _visiting)[0], nullable
        if shape != "members":
            return _AVRO_TO_SPARK[shape], nullable
        fields = [
            T.StructField(f"member{m}", to_spark_type(schema[i], _visiting)[0], True)
            for m, i in enumerate(branches)
        ]
        return T.StructType(fields), nullable
    if "logicalType" in schema:
        return _LOGICAL_TYPES[schema["logicalType"]].spark(schema), False
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
        return T.BinaryType(), False
    if t in _PRIMITIVES:
        return to_spark_type(t)
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
    """Byte cursor over one Avro binary buffer, read by :func:`decoder`."""

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


def _match(w: Any, rd: Any) -> bool:
    """Does writer node ``w`` resolve to reader node ``rd``: the same type
    (and name, for a named type) or a promotion?"""
    wt, rt = _type_name(w), _type_name(rd)
    if wt in _PRIMITIVES:
        return wt == rt or (wt, rt) in _PROMOTE
    if wt in ("record", "enum", "fixed"):
        return rt == wt and w["name"] == rd["name"]
    return wt == rt  # array/map by shape


def _default_value(rd: Any, d: Any) -> Any:
    """A reader field's JSON default → the decoded-value representation."""
    t = _type_name(rd)
    if t == "union":  # a union default applies to the FIRST branch
        v = _default_value(rd[0], d)
        as_member = _member_of(rd, 0)
        return v if as_member is None else as_member(v)
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
    conv = _from_base(rd)  # a logical type's default is base-typed
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
            _from_base(w),
            _PROMOTE.get((wt, rt)),
            None if isinstance(w, dict) else _from_base(rd),
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
        conv = _from_base(rd)  # the reader's annotation applies
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
    as_member = _member_of(rd, k)
    return f if as_member is None else _then(f, as_member)


# (id(writer), id(reader)) → (decoder, writer, reader); holding the trees
# keeps their ids from being reused while the entry lives
_DECODERS: dict = {}
_DECODERS_MAX = 64
_DECODERS_LOCK = threading.Lock()


def decoder(writer: Any, reader: Any = None):
    """The function reading one value written with ``writer`` from a
    :class:`Reader` and returning it resolved into ``reader`` per Avro
    schema resolution; without ``reader``, ``writer`` is also the reader.
    Both are parse_schema trees, treated as immutable: the decoder for
    each pair is built on first use and memoised by object identity
    (bounded)."""
    key = (id(writer), id(reader))
    entry = _DECODERS.get(key)
    if entry is None:
        entry = (_build(writer, writer if reader is None else reader, {}), writer, reader)
        with _DECODERS_LOCK:
            if len(_DECODERS) >= _DECODERS_MAX:
                del _DECODERS[next(iter(_DECODERS))]  # the oldest pair
            _DECODERS[key] = entry
    return entry[0]


def decode_record(writer: Any, payload: bytes, reader: Any = None) -> Any:
    """Decode one binary-Avro payload (whole message, no magic byte — the
    reference's ``deserializeAvro`` semantics) written with ``writer``,
    into ``reader`` if given, by :func:`decoder`."""
    return decoder(writer, reader)(Reader(payload))


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
            i = schema.index("null")
        else:
            branches, shape = _union_shape(schema)
            if shape is None:
                i = branches[0]
            elif shape != "members":  # widened scalar: encode into the wider branch
                i = next(i for i in branches if _type_name(schema[i]) == shape)
            elif isinstance(v, dict) and any(k.startswith("member") for k in v):
                set_members = [
                    k for k, mv in v.items() if k.startswith("member") and mv is not None
                ]
                if len(set_members) != 1:
                    raise ValueError(
                        f"member-struct union value must set exactly one member, got {set_members}"
                    )
                i = branches[int(set_members[0][len("member") :])]
                v = v[set_members[0]]
            else:
                raise ValueError(
                    f"cannot pick a union branch for {type(v).__name__} among "
                    f"{[_type_name(b) for b in schema]}"
                )
        w.write_long(i)
        _encode(schema[i], v, w)
        return
    t = schema["type"]
    if "logicalType" in schema:
        v = _LOGICAL_TYPES[schema["logicalType"]].to_base(schema, v)
    if t in _PRIMITIVES:
        _encode(t, v, w)
    elif t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v[f["name"]], w)
    elif t == "enum":
        w.write_long(schema["symbols"].index(v))
    elif t == "fixed":
        w.out.write(bytes(v))
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
