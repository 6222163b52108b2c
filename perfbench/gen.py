"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the Foo topic backlogs of
the replication workloads (v1/v2 schema mix, null/short/long names), the
dead-letter corruption plan, and the relational tables the query sample
reads. The Avro encoding is written out here, independently of the
program's codec, so that the correctness checks do not trust the code
under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The two schema versions of the Foo topic (the program's FOO_SCHEMA and
# FOO_SCHEMA_V2): v2 appends a string field with a default.
FOO_V1 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}
FOO_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": FOO_V1["fields"] + [{"name": "tag", "type": "string", "default": "untagged"}],
}

ENVELOPE = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
SOURCE_TOPIC = "source-topic-a"
V2_SHARE = 0.3
CORRUPT_CLASSES = ("decode_error", "unknown_schema")
UNKNOWN_SCHEMA_ID = 999


# ---------------------------------------------------------------------------
# Avro binary for Foo (spec: zigzag varint lengths, index-prefixed unions)
# ---------------------------------------------------------------------------
def _varint(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if not n:
            out.append(b)
            return bytes(out)
        out.append(b | 0x80)


def avro_string(s: str) -> bytes:
    b = s.encode()
    return _varint(len(b)) + b


def foo_payload(rid: str, name: "str | None", tag: "str | None") -> bytes:
    out = avro_string(rid) + (b"\x00" if name is None else b"\x02" + avro_string(name))
    return out if tag is None else out + avro_string(tag)


def frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


def _read_varint(buf: bytes, pos: int) -> "tuple[int, int]":
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return (n >> 1) ^ -(n & 1), pos
        shift += 7


def _read_string(buf: bytes, pos: int) -> "tuple[str, int]":
    n, pos = _read_varint(buf, pos)
    if pos + n > len(buf):
        raise ValueError("truncated string")
    return buf[pos : pos + n].decode(), pos + n


def unframe(data: bytes) -> "tuple[int, bytes]":
    if len(data) < 5 or data[0] != 0:
        raise ValueError("not a Confluent frame")
    return struct.unpack(">I", data[1:5])[0], data[5:]


def decode_key(data: bytes) -> "tuple[int, str]":
    sid, payload = unframe(data)
    s, end = _read_string(payload, 0)
    if end != len(payload):
        raise ValueError("trailing bytes after key")
    return sid, s


def decode_foo(data: bytes, v2: bool) -> "tuple[int, str, str | None, str | None]":
    """(schema id, id, name, tag) of a framed Foo value; raises on any
    malformed or trailing byte."""
    sid, p = unframe(data)
    rid, pos = _read_string(p, 0)
    branch, pos = _read_varint(p, pos)
    name = None
    if branch == 1:
        name, pos = _read_string(p, pos)
    elif branch != 0:
        raise ValueError("bad union branch")
    tag = None
    if v2:
        tag, pos = _read_string(p, pos)
    if pos != len(p):
        raise ValueError("trailing bytes after value")
    return sid, rid, name, tag


# ---------------------------------------------------------------------------
# Foo topic backlogs
# ---------------------------------------------------------------------------
class Topic:
    """A generated Foo topic: per-offset records and their framed values.

    ``ids``/``names``/``tags`` are indexed by offset; a ``tag`` of None
    marks a v1 record. ``source_ids`` maps "v1"/"v2" to the schema ids the
    source registry assigned.
    """

    def __init__(self, seed: int, n: int, source_ids: "dict[str, int]", offset0: int = 0):
        rng = random.Random(seed)
        self.offset0 = offset0
        self.ids, self.names, self.tags, self.values = [], [], [], []
        payloads, keys = [], []
        for i in range(n):
            # ids come from the seed; a shared prefix keeps them unique
            rid = f"{seed}-{offset0 + i}-{rng.getrandbits(32):08x}"
            r = rng.random()
            if r < 0.2:
                name = None
            elif r < 0.8:
                name = f"n{rng.getrandbits(16)}"
            else:
                name = "long-name-" + "x" * rng.randrange(64, 256)
            tag = f"t{rng.randrange(8)}" if rng.random() < V2_SHARE else None
            sid = source_ids["v1" if tag is None else "v2"]
            self.ids.append(rid)
            self.names.append(name)
            self.tags.append(tag)
            payload = foo_payload(rid, name, tag)
            payloads.append(payload)
            keys.append(avro_string(rid))
            self.values.append(frame(sid, payload))
        # what a replica must carry: the same payload, the id as Avro string
        self.payloads = pa.array(payloads, pa.binary())
        self.key_payloads = pa.array(keys, pa.binary())

    def __len__(self) -> int:
        return len(self.values)

    def stats(self) -> dict:
        return {
            "records": len(self),
            "payload_bytes": sum(len(v) for v in self.values),
            "v1": sum(t is None for t in self.tags),
            "v2": sum(t is not None for t in self.tags),
            "null_names": sum(n is None for n in self.names),
            "long_names": sum(n is not None and len(n) > 32 for n in self.names),
        }


def corruption_plan(seed: int, n: int, share: float) -> "dict[int, str]":
    """{offset index → error class}: a seeded ``share`` of the records,
    split evenly between truncated frames and unknown schema ids."""
    rng = random.Random(seed ^ 0x5EED)
    picked = sorted(rng.sample(range(n), max(len(CORRUPT_CLASSES), int(n * share))))
    return {i: CORRUPT_CLASSES[k % len(CORRUPT_CLASSES)] for k, i in enumerate(picked)}


def corrupt(value: bytes, cls: str) -> bytes:
    if cls == "decode_error":
        return value[:3]  # not even a whole Confluent header
    return value[:1] + struct.pack(">I", UNKNOWN_SCHEMA_ID) + value[5:]


def envelope_table(values: "list[bytes]", offset0: int) -> pa.Table:
    n = len(values)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return pa.table(
        [
            pa.nulls(n, pa.binary()),
            pa.array(values, pa.binary()),
            pa.array([SOURCE_TOPIC] * n),
            pa.array(np.zeros(n, np.int32)),
            pa.array(np.arange(offset0, offset0 + n, dtype=np.int64)),
            pa.array([ts] * n, pa.timestamp("us", tz="UTC")),
        ],
        schema=ENVELOPE,
    )


def write_envelope_files(values: "list[bytes]", offset0: int, out_dir: str, n_files: int) -> "list[str]":
    """Split ``values`` into ``n_files`` contiguous offset ranges, one
    parquet file each; returns the paths in offset order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(values), n_files + 1).astype(int)
    paths = []
    for k in range(n_files):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        path = os.path.join(out_dir, f"part-{offset0 + lo:010d}.parquet")
        pq.write_table(envelope_table(values[lo:hi], offset0 + lo), path)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# Relational tables for the query sample (the catalog's table set)
# ---------------------------------------------------------------------------
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 9 + ["zh", "es", "de", "fr"] * 3
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(np.int64)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def query_tables(seed: int, scale: float) -> "dict[str, pa.Table]":
    """TPC-H-shaped tables plus events/documents/embeddings, with the
    column names and types the catalog expects. ``scale`` 0.01 gives
    60,000 lineitem rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 10), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), 500, 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIO, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    for i in range(0, n_doc, 20):  # near-duplicates for the dedup family
        texts[i + 1] = texts[i] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_query_tables(tables: "dict[str, pa.Table]", out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def digest(paths: "list[str]") -> str:
    """sha256 over the bytes of ``paths`` in order (the same-seed check)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
