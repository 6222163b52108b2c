"""R1–R9 replication pipeline tests.

The golden test mirrors the reference's only test end to end
(/root/reference/src/test/java/com/github/timtebeek/replication/
ReplicationApplicationTest.java): produce one keyless GenericRecord
{id: uuid} to the source topic, run the pipeline, await exactly one
record on the target topic whose key == id and whose value is
field-equal to the input (:118-124), with separate source/target mock
registries (:55-56) and schema auto-registration on the target
(README.adoc:27). Plus codec round-trips (hypothesis), batch-abort on
each bad-record class, DLQ classification, timeouts, and idempotent
replay of a committed batch.
"""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
import uuid
import zipimport

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from avro_topic_replication_spark.functions import avro_codec
from avro_topic_replication_spark.operators import replication as R
from avro_topic_replication_spark.sources.registry import MockSchemaRegistry
from avro_topic_replication_spark.streaming.replay import SCRATCH


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------
FULL_SCHEMA = {
    "type": "record",
    "name": "Everything",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "string"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 3}},
    ],
}


def test_codec_full_roundtrip():
    datum = {
        "b": True, "i": -42, "l": 1 << 40, "f": 1.5, "d": -2.25,
        "s": "héllo", "by": b"\x00\x01", "u": "x",
        "arr": [1, -2, 3], "m": {"k1": "v1", "k2": "v2"},
        "e": "B", "fx": b"abc",
    }
    assert avro_codec.decode(avro_codec.encode(datum, FULL_SCHEMA), FULL_SCHEMA) == datum


def test_codec_union_null_and_default():
    out = avro_codec.encode({"id": "1"}, R.FOO_SCHEMA)  # name omitted → default null
    assert avro_codec.decode(out, R.FOO_SCHEMA) == {"id": "1", "name": None}


def test_confluent_framing():
    payload = avro_codec.encode("abc", "string")
    framed = avro_codec.frame(123456, payload)
    assert framed[0] == 0
    sid, p = avro_codec.unframe(framed)
    assert (sid, p) == (123456, payload)
    with pytest.raises(ValueError):
        avro_codec.unframe(b"\x01junk")


@given(
    st.fixed_dictionaries(
        {
            "id": st.text(min_size=0, max_size=50),
            "name": st.one_of(st.none(), st.text(max_size=50)),
        }
    )
)
@settings(max_examples=100, deadline=None)
def test_codec_foo_roundtrip_property(datum):
    assert avro_codec.decode(avro_codec.encode(datum, R.FOO_SCHEMA), R.FOO_SCHEMA) == datum


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=200, deadline=None)
def test_codec_long_roundtrip(n):
    assert avro_codec.decode(avro_codec.encode(n, "long"), "long") == n


@pytest.mark.parametrize(
    "schema, datum",
    [
        ("null", None), ("boolean", True), ("int", -42), ("long", 1 << 40),
        ("float", 1.5), ("double", -2.25), ("bytes", b"\x00\xff"), ("string", "héllo"),
    ],
)
def test_codec_bare_primitive_roundtrip(schema, datum):
    """A bare primitive name is a schema on its own: parse_schema must not
    turn "null" into None via json.loads."""
    assert avro_codec.parse_schema(schema) == schema
    assert avro_codec.decode(avro_codec.encode(datum, schema), schema) == datum


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
def test_mock_registry_scopes_and_idempotent_register():
    MockSchemaRegistry.drop_scope("t-src")
    reg = MockSchemaRegistry.get_scope("t-src")
    a = reg.register("topic-value", R.FOO_SCHEMA)
    b = reg.register("topic-value", R.FOO_SCHEMA)
    assert a == b
    assert reg.get_by_id(a)["name"] == "Foo"
    assert reg.latest("topic-value")[0] == a
    MockSchemaRegistry.drop_scope("t-src")


# ---------------------------------------------------------------------------
# golden end-to-end (ReplicationApplicationTest parity)
# ---------------------------------------------------------------------------
@pytest.fixture()
def dirs(tmp_path_factory):
    base = os.path.join(SCRATCH, "repltest", uuid.uuid4().hex[:8])
    return {
        "src": os.path.join(base, "source-topic-a"),
        "tgt": os.path.join(base, "target-topic-b"),
        "ckpt": os.path.join(base, "ckpt"),
    }


def _fresh_registries():
    MockSchemaRegistry.drop_scope("SourceRegistry")
    MockSchemaRegistry.drop_scope("TargetRegistry")
    return (
        MockSchemaRegistry.get_scope("SourceRegistry"),
        MockSchemaRegistry.get_scope("TargetRegistry"),
    )


def test_replication_golden(spark, dirs):
    """testReplication parity: one record in → exactly one out, key == id,
    value field-equal (ReplicationApplicationTest.java:118-124)."""
    src_reg, tgt_reg = _fresh_registries()
    rid = str(uuid.uuid4())
    record = {"id": rid, "name": None}
    R.write_envelope_fixture(
        spark, [record], dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    out_env = R.read_committed(spark, dirs["tgt"])
    decoded = R.decode_envelope(out_env, tgt_reg.snapshot(), R.FOO_SCHEMA).collect()
    assert len(decoded) == 1  # exactly one replicated record
    row = decoded[0]
    assert row["kafka_key"] == rid          # key == value.id (as string)
    assert row["id"] == rid                 # value round-trips field-equal
    assert row["name"] is None
    assert row["topic"] == "target-topic-b"


def test_schema_auto_registered_on_target(spark, dirs):
    """README.adoc:27 parity: producing replicates the schema into the
    target registry without explicit registration."""
    src_reg, tgt_reg = _fresh_registries()
    R.write_envelope_fixture(
        spark, [{"id": "1", "name": "x"}], dirs["src"], "source-topic-a",
        src_reg, R.FOO_SCHEMA,
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    vid, schema = tgt_reg.latest("target-topic-b-value")
    assert schema["name"] == "Foo"
    kid, kschema = tgt_reg.latest("target-topic-b-key")
    assert kschema == "string"


NOID_SCHEMA = {
    "type": "record", "name": "NoId",
    "fields": [{"name": "other", "type": "string"}],
}


def _noid_frame(reg):
    sid = reg.register("source-topic-a-value", NOID_SCHEMA)
    return avro_codec.serialize_confluent({"other": "x"}, NOID_SCHEMA, sid)


def _foo_frame(reg):
    sid = reg.register("source-topic-a-value", R.FOO_SCHEMA)
    return avro_codec.serialize_confluent({"id": "1", "name": None}, R.FOO_SCHEMA, sid)


def _unknown_schema_frame(reg):
    _foo_frame(reg)  # the registry knows Foo, but the frame names id 999
    return avro_codec.serialize_confluent({"id": "1", "name": None}, R.FOO_SCHEMA, 999)


def _truncated_frame(reg):
    return _foo_frame(reg)[:3]


@pytest.mark.parametrize(
    "error, make_frame",
    [
        ("missing_id", _noid_frame),
        ("unknown_schema", _unknown_schema_frame),
        ("decode_error", _truncated_frame),
    ],
    ids=["missing_id", "unknown_schema", "decode_error"],
)
def test_missing_id_aborts_batch(spark, dirs, error, make_frame):
    """ReplicationApplication.java:71 NPE parity: a record without id —
    or one whose frame names an unknown schema or does not parse — fails
    the whole batch with an error naming its class; nothing is committed
    (R8 all-or-nothing)."""
    src_reg, tgt_reg = _fresh_registries()
    row = (None, make_frame(src_reg), "source-topic-a", 0, 0, dt.datetime(2024, 1, 1))
    spark.createDataFrame([row], R.KAFKA_ENVELOPE).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dirs["src"])
    with pytest.raises(Exception, match=f"offset 0: {error} - aborting batch"):
        R.replicate_stream(
            spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
            "target-topic-b", None, dirs["ckpt"], timeout_sec=60,
        )
    assert R.read_committed(spark, dirs["tgt"]).count() == 0


def test_dlq_transform_routes_all_three_error_classes(spark):
    """replicate_transform: unknown_schema / decode_error /
    missing_id classification plus byte-correct passthrough of good
    records — on hand-crafted frames (one of each corruption, one good,
    one record whose SCHEMA legitimately lacks the id field)."""
    scope = uuid.uuid4().hex[:8]
    reg = MockSchemaRegistry.get_scope(f"dlq-{scope}")
    tgt = MockSchemaRegistry.get_scope(f"dlqt-{scope}")
    try:
        sid = reg.register("t-value", R.FOO_SCHEMA)
        noid_schema = {
            "type": "record",
            "name": "NoId",
            "fields": [{"name": "name", "type": "string"}],
        }
        sid_noid = reg.register("t-noid", noid_schema)
        good = avro_codec.serialize_confluent({"id": "7", "name": "x"}, R.FOO_SCHEMA, sid)
        unknown = avro_codec.serialize_confluent({"id": "8", "name": "y"}, R.FOO_SCHEMA, 999)
        truncated = good[:3]
        noid = avro_codec.serialize_confluent({"name": "z"}, noid_schema, sid_noid)
        ts = dt.datetime(2024, 1, 1)
        rows = [
            (None, good, "t", 0, 0, ts),
            (None, unknown, "t", 0, 1, ts),
            (None, truncated, "t", 0, 2, ts),
            (None, noid, "t", 0, 3, ts),
        ]
        env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
        key_id = tgt.register("t2-key", R.STRING_SCHEMA)
        mapping = {
            src_id: tgt.register("t2-value", schema)
            for src_id, schema in reg.snapshot().items()
        }
        out = R.replicate_transform(
            env, reg.snapshot(), "t2", key_id, mapping
        ).collect()
        by_off = {r["offset"]: r for r in out}
        assert by_off[0]["error"] is None
        assert by_off[1]["error"] == "unknown_schema"
        assert by_off[2]["error"] == "decode_error"
        assert by_off[3]["error"] == "missing_id"
        # good record: key is Avro-framed str(id), value decodes byte-correct
        _, key = avro_codec.deserialize_confluent(bytes(by_off[0]["key"]), tgt.snapshot())
        assert key == "7"
        _, rec = avro_codec.deserialize_confluent(bytes(by_off[0]["value"]), tgt.snapshot())
        assert rec == {"id": "7", "name": "x"}
        # the shared envelope schema must not have been mutated
        assert [f.name for f in R.KAFKA_ENVELOPE.fields][-1] != "error"
    finally:
        MockSchemaRegistry.drop_scope(f"dlq-{scope}")
        MockSchemaRegistry.drop_scope(f"dlqt-{scope}")


# ---------------------------------------------------------------------------
# zero-decode kernel: the passthrough equals the full path on every frame
# ---------------------------------------------------------------------------
# A Foo-only topic: v1 under source id 1, v2 under 2; target ids differ so
# a slice that forgets the header rewrite shows.
KERNEL_SNAPSHOT = {1: R.FOO_SCHEMA, 2: R.FOO_SCHEMA_V2}
KERNEL_MAPPING = {1: 101, 2: 102}
KERNEL_KEY_ID = 100


def _full_path(raw):
    return R.replicate_record(raw, KERNEL_SNAPSHOT, KERNEL_KEY_ID, KERNEL_MAPPING)


def _varint(n: int, pad: int = 0) -> bytes:
    """Zigzag varint of ``n``; ``pad`` > 0 appends that many redundant
    groups (an overlong, non-canonical encoding of the same value)."""
    out = avro_codec.encode(n, "long")
    if pad:
        out = out[:-1] + bytes([out[-1] | 0x80]) + b"\x80" * (pad - 1) + b"\x00"
    return out


INVALID_UTF8 = [b"\xff", b"a\x80", b"\xc0\x80", b"\xed\xa0\x80", b"\xf4\x90\x80\x80"]
VARINTS = ("id_len", "index", "name_len", "tag_len")
_text = st.one_of(
    st.just(""),
    st.text(max_size=8),
    st.text(min_size=64, max_size=300),
    st.text(alphabet="héß€😀", min_size=1, max_size=12),
)
_utf8_or_invalid = st.one_of(_text.map(str.encode), st.sampled_from(INVALID_UTF8))


@st.composite
def _foo_frames(draw):
    """Frames of v1/v2 Foo records built byte by byte, valid or with one
    corruption: truncation, trailing bytes, an overlong varint, invalid
    UTF-8, an out-of-range union index, a bad magic byte, an unknown
    schema id, or random payload bytes."""
    id_b, tag_b = draw(_utf8_or_invalid), draw(_utf8_or_invalid)
    name_b = draw(st.one_of(st.none(), _utf8_or_invalid))
    v2 = draw(st.booleans())
    pads = dict.fromkeys(VARINTS, 0)
    index = 0 if name_b is None else 1
    kind = draw(st.sampled_from(
        ["valid", "truncate", "trailing", "overlong", "union", "magic", "unknown", "fuzz"]
    ))
    if kind == "overlong":
        pads[draw(st.sampled_from(VARINTS))] = draw(st.integers(1, 10))
    if kind == "union":
        index = draw(st.sampled_from([-2, -1, 2, 3, 64]))
    payload = _varint(len(id_b), pads["id_len"]) + id_b + _varint(index, pads["index"])
    if name_b is not None:
        payload += _varint(len(name_b), pads["name_len"]) + name_b
    if v2:
        payload += _varint(len(tag_b), pads["tag_len"]) + tag_b
    if kind == "fuzz":
        payload = draw(st.binary(max_size=40))
    sid = 999 if kind == "unknown" else (2 if v2 else 1)
    frame = avro_codec.frame(sid, payload)
    if kind == "truncate":
        frame = frame[: draw(st.integers(0, len(frame) - 1))]
    elif kind == "trailing":
        frame += draw(st.binary(min_size=1, max_size=4))
    elif kind == "magic":
        frame = draw(st.integers(1, 255)).to_bytes(1, "big") + frame[1:]
    return frame


@given(_foo_frames())
@settings(max_examples=600, deadline=None)
def test_kernel_matches_full_path_on_foo_frames(frame):
    """Differential: the compiled per-record kernel returns exactly the
    full decode/encode path's (key, value, error) on valid and corrupted
    frames alike."""
    kernel = R.record_kernel(KERNEL_SNAPSHOT, KERNEL_KEY_ID, KERNEL_MAPPING)
    assert kernel(frame) == _full_path(frame)


WIDE_SCHEMA = {
    "type": "record", "name": "Wide",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "id", "type": "string"},
        {"name": "l", "type": "long"},
        {"name": "by", "type": "bytes"},
        {"name": "n", "type": "null"},
        {"name": "u", "type": ["null", "long", "string", "bytes", "boolean"]},
    ],
}
_long = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(
    st.fixed_dictionaries({
        "b": st.booleans(), "i": st.integers(-(2**31), 2**31 - 1), "id": _text,
        "l": _long, "by": st.binary(max_size=20), "n": st.none(),
        "u": st.one_of(st.none(), _long, _text, st.binary(max_size=8), st.booleans()),
    }),
    st.lists(st.tuples(st.integers(0, 200), st.integers(0, 255)), max_size=3),
    st.integers(0, 3),
)
@settings(max_examples=400, deadline=None)
def test_kernel_matches_full_path_on_mutated_wide_records(datum, flips, cut):
    """Differential over every type the walker covers: a valid record
    under a schema with the id between other fields, then bytes
    overwritten and the tail cut or extended."""
    frame = bytearray(avro_codec.serialize_confluent(datum, WIDE_SCHEMA, 7))
    for pos, byte in flips:
        frame[5 + pos % max(1, len(frame) - 5)] = byte
    frame = bytes(frame[: len(frame) - cut] if cut < 2 else frame + b"\x00" * (cut - 1))
    snapshot, mapping = {7: WIDE_SCHEMA}, {7: 70}
    kernel = R.record_kernel(snapshot, KERNEL_KEY_ID, mapping)
    assert kernel(frame) == R.replicate_record(frame, snapshot, KERNEL_KEY_ID, mapping)


def _foo_records():
    return [
        (1, {"id": "7", "name": None}),
        (1, {"id": str(uuid.UUID(int=7)), "name": "short"}),
        (1, {"id": "é€😀", "name": "x" * 300}),
        (2, {"id": "", "name": "naïve", "tag": "t"}),
    ]


def test_kernel_slices_valid_frames_and_matches_every_truncation(monkeypatch):
    """Valid v1/v2 frames never reach the full path; every truncation of
    them, a NULL value and an empty value come out exactly as the full
    path writes them."""
    frames = [
        avro_codec.serialize_confluent(rec, KERNEL_SNAPSHOT[sid], sid)
        for sid, rec in _foo_records()
    ]
    kernel = R.record_kernel(KERNEL_SNAPSHOT, KERNEL_KEY_ID, KERNEL_MAPPING)
    expected = [_full_path(f) for f in frames]
    for f in frames:
        for cut in range(len(f)):
            assert kernel(f[:cut]) == _full_path(f[:cut]), (f, cut)
    assert kernel(None) == _full_path(None) == (None, None, "decode_error")

    def full_path_called(*args):
        raise AssertionError("a valid frame took the full path")

    monkeypatch.setattr(R, "replicate_record", full_path_called)
    assert [kernel(f) for f in frames] == expected
    assert all(error is None for _, _, error in expected)


def test_walker_varint_bounds():
    """Ten-byte varints are accepted up to 2**64 - 1 (the int64 extremes
    re-encode to themselves); a larger value, an eleventh byte or a
    redundant zero group is declined."""
    walk = avro_codec.compile_id_walker(
        {"type": "record", "name": "L",
         "fields": [{"name": "id", "type": "string"}, {"name": "l", "type": "long"}]}
    )
    id_enc = _varint(1) + b"a"
    for n in (-(2**63), 2**63 - 1, 0, -1, 63, -64, 64):
        assert walk(id_enc + _varint(n)) == (0, 2)
    top = _varint(2**63 - 1)  # zigzag 2**64 - 2: ten bytes ending in 0x01
    assert len(top) == 10 and top[-1] == 0x01
    assert walk(id_enc + top[:-1] + b"\x02") is None  # 2**64 and above
    assert walk(id_enc + top[:-1] + b"\x81\x00") is None  # eleven bytes
    assert walk(id_enc + _varint(5, pad=1)) is None


def _record(*fields):
    return {"type": "record", "name": "R",
            "fields": [{"name": n, "type": t} for n, t in fields]}


@pytest.mark.parametrize(
    "schema",
    [
        "string",
        _record(("other", "string")),
        _record(("id", "long")),
        _record(("id", ["null", "string"])),
        _record(("id", {"type": "string"})),
        _record(("id", "string"), ("id", "string")),
        _record(("id", "string"), ("f", "float")),
        _record(("id", "string"), ("u", ["null", "int", "long"])),
        _record(("id", "string"), ("u", ["null", ["null", "string"]])),
        _record(("id", "string"), ("e", {"type": "enum", "name": "E", "symbols": ["A"]})),
        _record(("id", "string"), ("a", {"type": "array", "items": "string"})),
        _record(("id", "string"), ("m", {"items": "string"})),
    ],
    ids=["bare-string", "no-id", "long-id", "union-id", "dict-id", "duplicate-id",
         "float", "int-long-union", "nested-union", "enum", "array", "malformed"],
)
def test_walker_declines_uncovered_schemas(schema):
    """No walker (every record takes the full path) unless the schema is a
    well-formed flat record of covered types with exactly one id typed
    "string" and unions whose branches the encoder tells apart."""
    assert avro_codec.compile_id_walker(schema) is None


LONG_ID_SCHEMA = {
    "type": "record", "name": "LongId",
    "fields": [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}],
}
NESTED_SCHEMA = {
    "type": "record", "name": "Nested",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "inner", "type": {"type": "record", "name": "Inner",
                                   "fields": [{"name": "x", "type": "long"}]}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ],
}


def test_declined_schemas_replicate_through_full_path(spark):
    """Schemas the walker declines (id typed long; a nested record and an
    array field) replicate through plan_routing with key = Avro string of
    str(id) and the full path's value encoding; a Foo frame with trailing
    bytes after a valid payload comes out as the full path writes it,
    trailing bytes dropped."""
    assert avro_codec.compile_id_walker(LONG_ID_SCHEMA) is None
    assert avro_codec.compile_id_walker(NESTED_SCHEMA) is None
    scope = uuid.uuid4().hex[:8]
    src = MockSchemaRegistry.get_scope(f"fb-{scope}")
    tgt = MockSchemaRegistry.get_scope(f"fbt-{scope}")
    try:
        cases = [
            (LONG_ID_SCHEMA, {"id": -12345678901, "name": "n"}, b""),
            (NESTED_SCHEMA, {"id": "k", "inner": {"x": 3}, "tags": ["a", "b"]}, b""),
            (R.FOO_SCHEMA, {"id": "t", "name": "x"}, b"\x00junk"),
        ]
        ts = dt.datetime(2024, 1, 1)
        rows = []
        for off, (schema, rec, trailing) in enumerate(cases):
            sid = src.register("t-value", schema)
            rows.append((None, avro_codec.serialize_confluent(rec, schema, sid) + trailing,
                         "t", 0, off, ts))
        env = spark.createDataFrame(rows, R.KAFKA_ENVELOPE)
        out = {r["offset"]: r for r in R.plan_routing(env, src, tgt, "t2").collect()}
        key_id = tgt.latest("t2-key")[0]
        for off, (schema, rec, _) in enumerate(cases):
            row = out[off]
            assert row["error"] is None
            assert bytes(row["key"]) == avro_codec.serialize_confluent(
                str(rec["id"]), "string", key_id)
            target_id = tgt.register("t2-value", schema)  # idempotent lookup
            assert bytes(row["value"]) == avro_codec.serialize_confluent(rec, schema, target_id)
    finally:
        MockSchemaRegistry.drop_scope(f"fb-{scope}")
        MockSchemaRegistry.drop_scope(f"fbt-{scope}")


def test_timeout_raises_and_rerun_commits_exactly_once(spark, dirs):
    """A run that does not finish within timeout_sec is stopped and raises
    instead of returning as if it succeeded; a rerun on the same
    checkpoint commits every record exactly once."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": f"n{i}"} for i in range(20)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    with pytest.raises(TimeoutError):
        R.replicate_stream(
            spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
            "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"], timeout_sec=0.001,
        )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    out = R.decode_envelope(
        R.read_committed(spark, dirs["tgt"]), tgt_reg.snapshot(), R.FOO_SCHEMA
    ).collect()
    assert sorted(r["id"] for r in out) == sorted(r["id"] for r in records)


def test_idempotent_replay_of_committed_batch(spark, dirs):
    """R7-R9 crash-window semantics: replaying an already-committed batch
    (crash between marker creation and checkpoint ack) must not duplicate
    output."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": f"n{i}"} for i in range(10)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(dirs["src"])
    out = R.plan_replication(env, src_reg, tgt_reg, "target-topic-b", R.FOO_SCHEMA)
    writer = R.batch_writer(dirs["tgt"])
    writer(out, 0)
    writer(out, 0)  # replay
    assert R.read_committed(spark, dirs["tgt"]).count() == 10


def test_multi_record_replication_preserves_all(spark, dirs):
    """For every source record exactly one target record (SURVEY §2.3),
    including the nullable-union name field round-trip."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": None if i % 2 else f"name-{i}"} for i in range(50)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"],
    )
    out = R.decode_envelope(
        R.read_committed(spark, dirs["tgt"]), tgt_reg.snapshot(), R.FOO_SCHEMA
    )
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 50
    for i in range(50):
        assert rows[str(i)]["kafka_key"] == str(i)
        assert rows[str(i)]["name"] == (None if i % 2 else f"name-{i}")


def test_multi_schema_topic_replication(spark, dirs):
    """GenericRecord parity: a topic carrying TWO schema versions
    replicates each record under its own propagated schema — per-record
    schema-id dispatch, like KafkaAvroSerializer (reference serde config,
    application.yml:12,15-16)."""
    import datetime as dt

    from avro_topic_replication_spark.functions import avro_codec

    src_reg, tgt_reg = _fresh_registries()
    bar_schema = {
        "type": "record", "name": "Bar", "namespace": "com.foo",
        "fields": [
            {"name": "id", "type": "string"},
            {"name": "extra", "type": "long"},
        ],
    }
    foo_id = src_reg.register("source-topic-a-value", R.FOO_SCHEMA)
    bar_id = src_reg.register("source-topic-a-value", bar_schema)
    rows = []
    for i in range(20):
        if i % 2:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "name": f"n{i}"}, R.FOO_SCHEMA, foo_id
            )
        else:
            payload = avro_codec.serialize_confluent(
                {"id": str(i), "extra": i * 10}, bar_schema, bar_id
            )
        rows.append((None, payload, "source-topic-a", 0, i, dt.datetime(2024, 1, 1)))
    spark.createDataFrame(rows, R.KAFKA_ENVELOPE).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dirs["src"])

    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", None, dirs["ckpt"],
    )
    # both schemas propagated into the target registry
    tgt_snapshot = tgt_reg.snapshot()
    names = {s["name"] for s in tgt_snapshot.values() if isinstance(s, dict)}
    assert {"Foo", "Bar"} <= names
    # every record decodes under its own mapped schema with key == id
    out = R.read_committed(spark, dirs["tgt"]).collect()
    assert len(out) == 20
    for row in out:
        sid, key = avro_codec.deserialize_confluent(bytes(row["key"]), tgt_snapshot)
        vid, record = avro_codec.deserialize_confluent(bytes(row["value"]), tgt_snapshot)
        assert key == record["id"]
        if "extra" in record:
            assert record["extra"] == int(record["id"]) * 10
        else:
            assert record["name"] == f"n{record['id']}"


def test_progress_listener_observes_batches(spark, dirs):
    """Observability parity (ReplicationApplication.java:64,101): the
    listener sees every micro-batch with its row count — the structured
    replacement for the reference's per-batch log lines."""
    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(uuid.uuid4()), "name": f"r{i}"} for i in range(7)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    lst = R.ReplicationProgressListener()
    R.replicate_stream(
        spark, dirs["src"], dirs["tgt"], src_reg, tgt_reg,
        "target-topic-b", R.FOO_SCHEMA, dirs["ckpt"], listener=lst,
    )
    assert lst.total_rows() == 7
    assert all(b["processedRowsPerSecond"] >= 0 for b in lst.batches)


FOO_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tag", "type": "string", "default": "untagged"},
    ],
}


def test_schema_resolution_backward_compatible_reader():
    """Registry BACKWARD compatibility: a v2 reader (adds `tag` with a
    default) consumes v1-written records; a v1 reader consumes v2-written
    records by dropping the new field (Avro spec Schema Resolution)."""
    from avro_topic_replication_spark.functions import avro_codec as C

    v1_bytes = C.encode({"id": "7", "name": "x"}, R.FOO_SCHEMA)
    datum = C.resolve(C.decode(v1_bytes, R.FOO_SCHEMA), R.FOO_SCHEMA, FOO_V2)
    assert datum == {"id": "7", "name": "x", "tag": "untagged"}

    v2_bytes = C.encode({"id": "8", "name": None, "tag": "gold"}, FOO_V2)
    datum = C.resolve(C.decode(v2_bytes, FOO_V2), FOO_V2, R.FOO_SCHEMA)
    assert datum == {"id": "8", "name": None}  # new field dropped for old reader


def test_schema_resolution_incompatible_raises():
    from avro_topic_replication_spark.functions import avro_codec as C

    bad_reader = {
        "type": "record", "name": "Foo", "namespace": "com.foo",
        "fields": [{"name": "id", "type": "string"},
                   {"name": "required_new", "type": "string"}],  # no default
    }
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not read-compatible"):
        C.resolve(C.decode(C.encode({"id": "9"}, R.FOO_SCHEMA), R.FOO_SCHEMA),
                  R.FOO_SCHEMA, bad_reader)


def test_confluent_deserialize_with_evolution():
    """Mixed-version topic: records framed under two schema ids, one
    consumer on the v2 reader — every record arrives v2-shaped."""
    from avro_topic_replication_spark.functions import avro_codec as C

    schemas = {1: R.FOO_SCHEMA, 2: FOO_V2}
    msgs = [
        C.serialize_confluent({"id": "a", "name": None}, R.FOO_SCHEMA, 1),
        C.serialize_confluent({"id": "b", "name": "n", "tag": "t"}, FOO_V2, 2),
    ]
    out = [C.deserialize_confluent_evolved(m, schemas, FOO_V2) for m in msgs]
    assert out[0] == (1, {"id": "a", "name": None, "tag": "untagged"})
    assert out[1] == (2, {"id": "b", "name": "n", "tag": "t"})


def test_kafka_swap_path_options_reach_the_missing_jar(spark):
    """Exercise the documented real-broker swap as far as a jar-less
    sandbox allows: the readStream.format("kafka") plan built from
    kafka_source_options must fail ONLY because the kafka data source
    class is absent (no spark-sql-kafka jar in the container) — any other
    error would mean the options themselves are malformed. On a cluster
    with the jar on the classpath this exact builder is the reference's
    R1/R2 source (application.yml:7-10, README.adoc:34)."""
    opts = R.kafka_source_options("localhost:9093", "source-topic-a")
    assert opts["maxOffsetsPerTrigger"] == "500"  # README.adoc:34 batch bound
    assert opts["kafka.isolation.level"] == "read_committed"  # application.yml:10
    with pytest.raises(Exception) as ei:
        spark.readStream.format("kafka").options(**opts).load()
    msg = str(ei.value)
    assert "kafka" in msg.lower()
    # Spark's missing-data-source error, not an option-validation error
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg, msg


def test_observe_metrics_on_decode(spark, dirs):
    """DataFrame.observe / Observation: named task-level metrics ride the
    job instead of a second counting pass — the observability channel a
    production replicator exports (rows, distinct keys) per batch."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    src_reg, tgt_reg = _fresh_registries()
    records = [{"id": str(i), "name": None if i % 2 else f"n{i}"} for i in range(20)]
    R.write_envelope_fixture(
        spark, records, dirs["src"], "source-topic-a", src_reg, R.FOO_SCHEMA
    )
    env = spark.read.parquet(dirs["src"])
    decoded = R.decode_envelope(env, src_reg.snapshot(), R.FOO_SCHEMA)
    obs = Observation("replication_metrics")
    observed = decoded.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("id").alias("n_keys"),  # DISTINCT aggs are
        # disallowed in observed metrics; HLL is the observable analog
        F.sum(F.isnull("name").cast("long")).alias("n_null_names"),
    )
    assert observed.count() == 20  # action triggers metric collection
    got = obs.get
    assert got["n_rows"] == 20
    assert 19 <= got["n_keys"] <= 21  # HLL estimate, exact at this cardinality
    assert got["n_null_names"] == 10


def test_tasks_keep_zip_directories(spark):
    """PySpark's worker calls importlib.invalidate_caches() at the start of
    every task; before Python 3.13 each zipimporter then re-reads its
    archive directory (pyspark.zip, py4j). Once a task has imported the
    package, invalidate_caches() must read no zip directory, in that task
    and in later tasks on the same worker; the driver keeps the stdlib
    method."""

    def count_rereads(batches):
        import importlib
        import zipimport as zi

        import pyarrow as pa

        import avro_topic_replication_spark  # noqa: F401

        archives = []
        read = zi._read_directory
        zi._read_directory = lambda archive: archives.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"rereads": [len(archives)]})

    # the second job's tasks run on the workers the first job released
    for _ in range(2):
        rows = spark.range(2, numPartitions=2).mapInArrow(count_rereads, "rereads long").collect()
        assert [r["rereads"] for r in rows] == [0, 0]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_kernel_module_import_leaves_pandas_unloaded():
    """Every fresh worker that runs the replication kernel imports its
    module; pandas (~0.3 s) is imported only by decode_envelope."""
    code = (
        "import sys\n"
        "import avro_topic_replication_spark.operators.replication\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == "False"
