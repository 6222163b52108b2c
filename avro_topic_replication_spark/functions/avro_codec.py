"""Avro binary codec + Confluent wire framing, in pure Python.

Implements the Apache Avro binary encoding from the public specification
(https://avro.apache.org/docs/current/specification/): zigzag-varint
ints/longs, length-prefixed bytes/strings, little-endian IEEE floats,
fields-in-order records, index-prefixed unions, block-encoded arrays/maps.
No Avro library dependency — the spark-avro datasource jar is not present
in this environment, and the codec must also run inside Arrow-batched
Python workers, so a self-contained implementation is the portable choice.

Confluent wire format (public: Confluent Schema Registry docs, and implied
by the reference's serde config at
/root/reference/src/main/resources/application.yml:11-16):
1 magic byte 0x00 + 4-byte big-endian schema id + Avro binary payload.

Supported schema surface: null boolean int long float double bytes string,
record enum array map union fixed — the full named-type set a
GenericRecord replicator can carry (SURVEY.md §1.3).
"""

from __future__ import annotations

import io
import json
import struct

MAGIC = b"\x00"


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------
def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(out: io.BytesIO, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift, result = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result
        shift += 7


def _write_long(out: io.BytesIO, n: int) -> None:
    _write_varint(out, _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF)


def _read_long(buf: io.BytesIO) -> int:
    return _zigzag_decode(_read_varint(buf))


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------
PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)


def parse_schema(schema: str | dict | list) -> dict | list | str:
    """Accept a JSON string or already-parsed schema; return parsed form.
    A bare primitive name comes back unchanged (``json.loads("null")``
    would turn the null schema into ``None``)."""
    if isinstance(schema, str):
        if schema in PRIMITIVES:
            return schema
        try:
            return json.loads(schema)
        except json.JSONDecodeError:
            return schema  # a named-type reference
    return schema


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def canonical_json(schema) -> str:
    """Stable JSON text for registry storage/equality."""
    return json.dumps(parse_schema(schema), sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------
def encode(datum, schema) -> bytes:
    out = io.BytesIO()
    _encode(out, datum, parse_schema(schema))
    return out.getvalue()


def _union_branch_matches(datum, branch) -> bool:
    t = _schema_type(branch)
    if t == "null":
        return datum is None
    if t == "boolean":
        return isinstance(datum, bool)
    if t in ("int", "long"):
        return isinstance(datum, int) and not isinstance(datum, bool)
    if t in ("float", "double"):
        return isinstance(datum, float)
    if t == "string":
        return isinstance(datum, str)
    if t in ("bytes", "fixed"):
        return isinstance(datum, (bytes, bytearray))
    if t == "enum":
        return isinstance(datum, str)
    if t == "array":
        return isinstance(datum, list)
    if t in ("map", "record"):
        return isinstance(datum, dict)
    return False


def _encode(out: io.BytesIO, datum, schema) -> None:
    t = _schema_type(schema)
    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if datum else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(datum))
    elif t == "float":
        out.write(struct.pack("<f", float(datum)))
    elif t == "double":
        out.write(struct.pack("<d", float(datum)))
    elif t == "bytes":
        b = bytes(datum)
        _write_long(out, len(b))
        out.write(b)
    elif t == "string":
        b = str(datum).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif t == "fixed":
        b = bytes(datum)
        if len(b) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(b)} != {schema['size']}")
        out.write(b)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(datum))
    elif t == "union":
        for i, branch in enumerate(schema):
            if _union_branch_matches(datum, branch):
                _write_long(out, i)
                _encode(out, datum, branch)
                return
        raise ValueError(f"datum {datum!r} matches no union branch in {schema}")
    elif t == "array":
        if datum:
            _write_long(out, len(datum))
            for item in datum:
                _encode(out, item, schema["items"])
        _write_long(out, 0)
    elif t == "map":
        if datum:
            _write_long(out, len(datum))
            for k, v in datum.items():
                _encode(out, str(k), "string")
                _encode(out, v, schema["values"])
        _write_long(out, 0)
    elif t == "record":
        for field in schema["fields"]:
            name = field["name"]
            if name in datum:
                value = datum[name]
            elif "default" in field:
                value = field["default"]
            else:
                raise ValueError(f"record missing field {name!r} with no default")
            _encode(out, value, field["type"])
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
def decode(data: bytes, schema):
    buf = io.BytesIO(data)
    datum = _decode(buf, parse_schema(schema))
    return datum


def _decode(buf: io.BytesIO, schema):
    t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return buf.read(_read_long(buf))
    if t == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "union":
        return _decode(buf, schema[_read_long(buf)])
    if t == "array":
        result = []
        while True:
            count = _read_long(buf)
            if count == 0:
                return result
            if count < 0:  # block with byte size prefix
                count = -count
                _read_long(buf)
            for _ in range(count):
                result.append(_decode(buf, schema["items"]))
    if t == "map":
        result = {}
        while True:
            count = _read_long(buf)
            if count == 0:
                return result
            if count < 0:
                count = -count
                _read_long(buf)
            for _ in range(count):
                k = _decode(buf, "string")
                result[k] = _decode(buf, schema["values"])
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# Confluent framing (R3/R6: the serde wire format of the reference)
# ---------------------------------------------------------------------------
def frame(schema_id: int, payload: bytes) -> bytes:
    """magic 0x00 + 4-byte big-endian schema id + Avro binary payload."""
    return MAGIC + struct.pack(">I", schema_id) + payload


def unframe(data: bytes) -> tuple[int, bytes]:
    """Return (schema_id, payload); raises on a non-Confluent frame."""
    if len(data) < 5 or data[0:1] != MAGIC:
        raise ValueError("not a Confluent-framed message (bad magic byte)")
    return struct.unpack(">I", data[1:5])[0], data[5:]


def serialize_confluent(datum, schema, schema_id: int) -> bytes:
    return frame(schema_id, encode(datum, schema))


def deserialize_confluent(data: bytes, schemas_by_id: dict):
    """Decode a framed message using a schema-id → schema mapping
    (resolved against the registry at plan time; an unknown id means the
    topic evolved mid-query — the documented policy is restart-on-
    evolution, mirroring Spark's static-schema-per-query constraint)."""
    sid, payload = unframe(data)
    if sid not in schemas_by_id:
        raise KeyError(
            f"schema id {sid} not in plan-time registry snapshot "
            "(topic schema evolved; restart the query)"
        )
    return sid, decode(payload, schemas_by_id[sid])


# ---------------------------------------------------------------------------
# zero-decode walk: check a payload re-encodes to itself without decoding
# ---------------------------------------------------------------------------
# A skipper takes (data, pos, end) and returns the position after one
# value at ``data[pos]``, or -1 unless ``encode(decode(value))`` would
# write those bytes back unchanged.
def _read_canonical_long(data: bytes, pos: int, end: int) -> tuple[int, int]:
    """(value, position after it) of the zigzag varint at ``data[pos]``,
    or (0, -1) unless ``_write_long`` writes it back unchanged: complete
    before ``end``, at most 10 bytes, no redundant high zero group, and
    below 2**64."""
    if pos < end and data[pos] < 0x80:  # one-byte fast path
        b = data[pos]
        return (b >> 1) ^ -(b & 1), pos + 1
    result = shift = 0
    for i in range(pos, min(pos + 10, end)):
        b = data[i]
        result |= (b & 0x7F) << shift
        if b < 0x80:  # a last byte past the first one: zero is redundant
            if b == 0 or result >> 64:
                return 0, -1
            return _zigzag_decode(result), i + 1
        shift += 7
    return 0, -1


def _skip_null(data: bytes, pos: int, end: int) -> int:
    return pos


def _skip_boolean(data: bytes, pos: int, end: int) -> int:
    return pos + 1 if pos < end and data[pos] <= 1 else -1


def _skip_long(data: bytes, pos: int, end: int) -> int:
    return _read_canonical_long(data, pos, end)[1]


def _skip_bytes(data: bytes, pos: int, end: int) -> int:
    n, pos = _read_canonical_long(data, pos, end)
    return pos + n if pos >= 0 and 0 <= n <= end - pos else -1


def _skip_string(data: bytes, pos: int, end: int) -> int:
    n, pos = _read_canonical_long(data, pos, end)
    if pos < 0 or not 0 <= n <= end - pos:
        return -1
    try:
        data[pos : pos + n].decode("utf-8")
    except UnicodeDecodeError:
        return -1
    return pos + n


_SKIPPERS = {
    "null": _skip_null,
    "boolean": _skip_boolean,
    "int": _skip_long,
    "long": _skip_long,
    "bytes": _skip_bytes,
    "string": _skip_string,
}

# Union branches the encoder tells apart (_union_branch_matches): it picks
# the FIRST branch matching the decoded value, so a union whose branches
# share a class (int and long) may re-encode under another index.
_UNION_CLASS = {"null": 0, "boolean": 1, "int": 2, "long": 2, "bytes": 3, "string": 4}


def _skipper(schema):
    t = _schema_type(schema)
    if t != "union":
        return _SKIPPERS.get(t) if isinstance(t, str) else None
    types = [_schema_type(b) for b in schema]
    if not all(isinstance(bt, str) and bt in _SKIPPERS for bt in types):
        return None
    if len({_UNION_CLASS[bt] for bt in types}) != len(types):
        return None
    branches = [_SKIPPERS[bt] for bt in types]

    def skip_union(data: bytes, pos: int, end: int) -> int:
        i, pos = _read_canonical_long(data, pos, end)
        if pos < 0 or not 0 <= i < len(branches):
            return -1
        return branches[i](data, pos, end)

    return skip_union


def compile_id_walker(schema):
    """Compile a record schema into ``walk(data, pos) -> (start, stop) |
    None``, or return None when the schema has a type the walker does not
    cover (anything but a flat record of null / boolean / int / long /
    bytes / string and unions of those with distinguishable branches) or
    no field ``id`` typed exactly ``"string"``.

    ``walk`` checks the Avro payload ``data[pos:]`` without decoding it
    and returns the span of the ``id`` field's encoding (length prefix and
    UTF-8 bytes) only when ``encode(decode(payload))`` gives back the
    payload byte for byte: every varint canonical and at most 10 bytes,
    every string valid UTF-8 inside the payload, every union index in
    range, every boolean byte 0 or 1, and the walk ending exactly at the
    end of ``data``. Otherwise it returns None."""
    schema = parse_schema(schema)
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    try:
        fields = schema["fields"]
        names = [f["name"] for f in fields]
        skips = [_skipper(f["type"]) for f in fields]
    except (KeyError, TypeError):
        return None  # malformed: the full path classifies each record
    if names.count("id") != 1 or len(set(names)) != len(names):
        return None
    k = names.index("id")
    if fields[k]["type"] != "string" or None in skips:
        return None
    before, after = skips[:k], skips[k + 1 :]

    def walk(data: bytes, pos: int = 0):
        end = len(data)
        for skip in before:
            pos = skip(data, pos, end)
            if pos < 0:
                return None
        start = pos
        pos = _skip_string(data, pos, end)
        if pos < 0:
            return None
        stop = pos
        for skip in after:
            pos = skip(data, pos, end)
            if pos < 0:
                return None
        return (start, stop) if pos == end else None

    return walk


# ---------------------------------------------------------------------------
# schema resolution (reader vs writer — Avro spec "Schema Resolution")
# ---------------------------------------------------------------------------
def resolve(datum, writer_schema, reader_schema):
    """Project a datum decoded under ``writer_schema`` onto
    ``reader_schema`` — the consumer-side half of registry BACKWARD
    compatibility: a reader on an evolved schema consumes records written
    under any earlier compatible version. Record rule (Avro spec, Schema
    Resolution): reader fields present in the writer take the written
    value; reader-only fields take their default (error if none); writer
    fields absent from the reader are dropped. Nested records/arrays/maps
    resolve recursively."""
    w, r = parse_schema(writer_schema), parse_schema(reader_schema)
    wt, rt = _schema_type(w), _schema_type(r)
    if rt == "record":
        if wt != "record":
            raise ValueError(f"cannot resolve {wt!r} against record reader")
        wfields = {f["name"]: f for f in w["fields"]}
        out = {}
        for rf in r["fields"]:
            name = rf["name"]
            if name in wfields:
                out[name] = resolve(datum[name], wfields[name]["type"], rf["type"])
            elif "default" in rf:
                out[name] = rf["default"]
            else:
                raise ValueError(
                    f"reader field {name!r} missing from writer schema and has "
                    "no default (schemas are not read-compatible)"
                )
        return out
    if rt == "array" and wt == "array":
        return [resolve(v, w["items"], r["items"]) for v in datum]
    if rt == "map" and wt == "map":
        return {k: resolve(v, w["values"], r["values"]) for k, v in datum.items()}
    if rt == "union":
        # decoded datum already carries its branch value; accept as-is if
        # any reader branch matches (null/None handled by branch match)
        for branch in r:
            if _union_branch_matches(datum, branch):
                return datum
        raise ValueError(f"datum {datum!r} matches no reader union branch")
    return datum  # identical primitive (type promotions out of scope)


def deserialize_confluent_evolved(data: bytes, schemas_by_id: dict, reader_schema):
    """deserialize_confluent + schema resolution: decode with the
    per-record WRITER schema (from the registry snapshot), then project
    onto the consumer's READER schema — how an evolved consumer keeps
    reading a mixed-version topic without a restart."""
    sid, datum = deserialize_confluent(data, schemas_by_id)
    return sid, resolve(datum, schemas_by_id[sid], reader_schema)
