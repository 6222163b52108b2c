"""The reference's own capability: exactly-once Avro topic replication
(R1–R9), Spark-first.

Reference dataflow (SURVEY.md §2.1; ReplicationApplication.java:62-101):
Kafka source → read-committed filter → Confluent-Avro deserialize →
extract value.id → re-key → Confluent-Avro serialize (auto-register) →
transactional sink → batch barrier → post-commit offset ack.

Spark mapping implemented here:

| R# | reference mechanism                | this module                      |
|----|------------------------------------|----------------------------------|
| R1 | @KafkaListener batches ≤500        | readStream (envelope dir replay; |
|    | (README.adoc:34)                   | kafka_source_options for a real  |
|    |                                    | cluster, maxOffsetsPerTrigger)   |
| R2 | isolation read-committed           | read_committed() — only          |
|    | (application.yml:10)               | marker-committed batches visible |
| R3 | KafkaAvroDeserializer              | replicate_transform: ONE Arrow-  |
|    | (application.yml:12)               | batched pass over frame bytes: a |
|    |                                    | plan-time walker per snapshot    |
|    |                                    | schema validates the payload;    |
|    |                                    | the rest decode in full and      |
|    |                                    | classify: error NULL or          |
|    |                                    | unknown_schema / decode_error /  |
|    |                                    | missing_id                       |
| R4 | consumerRecord.get("id") (:71)     | the walker's span of id, or      |
|    |                                    | record["id"] on the full path    |
| R5 | re-key with id.toString() (:70-71) | key = key header + the payload's |
|    |                                    | own Avro string of id (serde     |
|    |                                    | parity); full path: encode       |
|    |                                    | str(id)                          |
| R6 | KafkaAvroSerializer + auto-register| value = target header + the      |
|    | (application.yml:15-16,README:27)  | unchanged payload; full path:    |
|    |                                    | re-encode. One plan-time         |
|    |                                    | register() step (plan_routing)   |
|    |                                    | for both policies                |
| R7 | executeInTransaction (:66-78)      | foreachBatch: write data, then   |
|    |                                    | atomically create commit marker  |
|    |                                    | (one helper for both sinks)      |
| R8 | future.get barrier → abort (:80-94)| strict: an in-plan guard raises  |
|    |                                    | on the first non-NULL error, the |
|    |                                    | task fails the batch before the  |
|    |                                    | marker exists; DLQ: error rows   |
|    |                                    | go to the dead-letter sink under |
|    |                                    | the same marker                  |
| R9 | ack after commit (:99-100)         | checkpoint advances only after   |
|    |                                    | foreachBatch returns             |

Crash-window semantics (honest, mirroring README.adoc:22-25): a crash
after data-write but before marker leaves an uncommitted batch dir that
read_committed() ignores and a replay overwrites — effectively-exactly-
once for committed readers, exactly the reference's contract.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import avro_codec
from ..sources.registry import MockSchemaRegistry

# A2 envelope (FIXTURES.md): the fixed schema of Spark's Kafka source.
KAFKA_ENVELOPE = StructType(
    [
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), True),
        StructField("topic", StringType(), True),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

# The reference's Avro fixture (com.foo.Foo.avsc:1-19).
FOO_SCHEMA = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}

# A BACKWARD-compatible evolution of Foo (new field with a default) — the
# registry's default compatibility mode admits exactly this kind of change.
FOO_SCHEMA_V2 = {
    "type": "record",
    "name": "Foo",
    "namespace": "com.foo",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tag", "type": "string", "default": "untagged"},
    ],
}

STRING_SCHEMA = "string"  # output key schema (KafkaAvroSerializer on a String)


def kafka_source_options(bootstrap: str, topic: str) -> dict[str, str]:
    """R1/R2 options for a real cluster: spark.readStream.format("kafka")
    .options(**kafka_source_options(...)). Batch bound mirrors the
    reference's ≤500-record listener batches (README.adoc:34); read
    committed mirrors application.yml:10; failOnDataLoss mirrors
    setMissingTopicsFatal (ReplicationApplication.java:41)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "500",
        "kafka.isolation.level": "read_committed",
        "failOnDataLoss": "true",
    }


# ---------------------------------------------------------------------------
# R3–R6: validate/slice (or decode → re-key → encode), one classifying
# Arrow-batched pass
# ---------------------------------------------------------------------------
# The kernel's output: the envelope plus the row's error class (NULL for a
# replicated record). A fresh field list: StructType.add would mutate the
# shared KAFKA_ENVELOPE.
DLQ_ENVELOPE = StructType(
    KAFKA_ENVELOPE.fields + [StructField("error", StringType(), True)]
)


def replicate_record(raw, snapshot: dict, key_schema_id: int, mapping: dict):
    """The full path for one source frame: decode it, extract ``id``,
    re-encode key and value. Returns ``(key, value, error)``: the framed
    key and value with error None, or (None, None, class) with class
    ``unknown_schema`` (frame carries a schema id absent from the
    plan-time registry snapshot — KeyError), ``decode_error`` (malformed
    frame/payload) or ``missing_id`` (decoded record lacks the re-key
    field). Every error class is produced here."""
    try:
        src_id, record = avro_codec.deserialize_confluent(bytes(raw), snapshot)
        if not isinstance(record, dict) or record.get("id") is None:
            raise LookupError("missing_id")
        key = avro_codec.serialize_confluent(
            str(record["id"]), STRING_SCHEMA, key_schema_id
        )
        value = avro_codec.serialize_confluent(
            record, snapshot[src_id], mapping[src_id]
        )
        return key, value, None
    except KeyError:
        return None, None, "unknown_schema"
    except LookupError:
        return None, None, "missing_id"
    except Exception:
        return None, None, "decode_error"


def record_kernel(schemas_by_id: dict, key_schema_id: int, id_mapping: dict):
    """Compile the per-record function of ``replicate_transform``:
    ``replicate(raw) -> (key, value, error)``, equal to
    ``replicate_record`` on every input.

    Each snapshot schema is compiled into an id walker
    (``avro_codec.compile_id_walker``). A frame whose schema has a walker
    and whose payload the walker accepts is copied, not decoded: the
    target registry holds the source schema's own text, so the re-encoded
    value is the payload byte for byte under the target header, and the
    key is the payload's own encoding of ``id`` under the key header.
    Every other frame takes ``replicate_record``."""
    snapshot, mapping = dict(schemas_by_id), dict(id_mapping)
    key_header = avro_codec.frame(key_schema_id, b"")
    passthrough = {}  # source schema id → (walker, target value header)
    for sid, schema in snapshot.items():
        walk = avro_codec.compile_id_walker(schema)
        if walk is not None and sid in mapping:
            passthrough[sid] = (walk, avro_codec.frame(mapping[sid], b""))

    def replicate(raw):
        if raw is not None and len(raw) >= 5 and raw[0] == 0:
            hit = passthrough.get(int.from_bytes(raw[1:5], "big"))
            if hit is not None:
                span = hit[0](raw, 5)
                if span is not None:
                    return key_header + raw[span[0] : span[1]], hit[1] + raw[5:], None
        return replicate_record(raw, snapshot, key_schema_id, mapping)

    return replicate


def replicate_transform(
    env: DataFrame,
    schemas_by_id: dict,
    target_topic: str,
    key_schema_id: int,
    id_mapping: dict,
) -> DataFrame:
    """The record transform of the pipeline: for each source envelope row,
    emit the target envelope with key = Avro-string(id) framed for the
    target registry and value under ITS OWN schema's target-registry id
    (``id_mapping``: source schema id → target schema id). Per-record
    schema dispatch mirrors the GenericRecord serde of the reference — a
    topic carrying several schema versions replicates each record under
    the matching propagated schema, exactly like KafkaAvroSerializer.

    One mapInArrow pass — the distributed analog of the reference's
    single listener loop (ReplicationApplication.java:63-78) — runs the
    plan-time compiled ``record_kernel`` on every value: frame bytes are
    sliced where the schema allows it, decoded and re-encoded otherwise.
    (partition, offset, timestamp) pass through as Arrow arrays for
    downstream dedup/audit. Every row is classified into the ``error``
    column of ``DLQ_ENVELOPE`` (see ``replicate_record``); a classified
    row passes through with NULL key/value. The failure policy is applied
    downstream of this pass: ``plan_replication`` aborts the batch on the
    first classified row, the DLQ paths split on ``error`` (both
    partition-local, no shuffle).
    """
    replicate = record_kernel(schemas_by_id, key_schema_id, id_mapping)
    names = DLQ_ENVELOPE.fieldNames()

    def transform(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = [replicate(raw) for raw in batch.column("value").to_pylist()]
            keys, values, errors = zip(*out) if out else ((), (), ())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys, pa.binary()),
                    pa.array(values, pa.binary()),
                    pa.repeat(pa.scalar(target_topic, pa.string()), len(out)),
                    batch.column("partition"),
                    batch.column("offset"),
                    batch.column("timestamp"),
                    pa.array(errors, pa.string()),
                ],
                names=names,
            )

    return env.mapInArrow(transform, schema=DLQ_ENVELOPE)


def plan_routing(
    env: DataFrame,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema=None,
) -> DataFrame:
    """Plan-time registry work (R6 auto-registration, README.adoc:27
    parity) + the classifying transform: snapshot the source registry for
    decode, propagate EVERY known source schema into the target registry
    (the auto-registration the Confluent serde does lazily, done eagerly
    at plan time), and build ``replicate_transform`` with the id mapping.
    Returns ``DLQ_ENVELOPE`` rows. ``value_schema`` seeds an empty source
    registry (direct batch use); otherwise registration is driven by the
    snapshot."""
    key_id = target_registry.register(f"{target_topic}-key", STRING_SCHEMA)
    snapshot = source_registry.snapshot()
    if value_schema is not None and not snapshot:
        source_registry.register(f"{target_topic}-value", value_schema)
        snapshot = source_registry.snapshot()
    id_mapping = {
        src_id: target_registry.register(f"{target_topic}-value", schema)
        for src_id, schema in snapshot.items()
    }
    return replicate_transform(env, snapshot, target_topic, key_id, id_mapping)


def plan_replication(
    env: DataFrame,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema=None,
) -> DataFrame:
    """The strict pipeline: ``plan_routing`` plus an in-plan guard that
    raises on the first row with a non-NULL ``error``, failing the whole
    batch before any commit — the NPE→transaction-abort behavior of the
    reference (ReplicationApplication.java:71, §3.1 step 6). Returns
    ``KAFKA_ENVELOPE`` rows."""
    out = plan_routing(env, source_registry, target_registry, target_topic, value_schema)
    replicated = F.when(F.col("error").isNull(), True).otherwise(
        F.raise_error(
            F.format_string(
                "record at partition %d offset %d: %s - aborting batch",
                "partition", "offset", "error",
            )
        )
    )
    return out.where(replicated).drop("error")


# ---------------------------------------------------------------------------
# R7–R9: transactional sink, batch barrier, post-commit ack
# ---------------------------------------------------------------------------
def committed_marker(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, "commits", str(batch_id))


def _write_data(df: DataFrame, topic_dir: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(os.path.join(topic_dir, "data", str(batch_id)))


def _marker_committed(marker_dir: str, write_data):
    """foreachBatch body around ``write_data(batch_df, batch_id)``:
    write-then-commit-marker, idempotent on replay.

    - a replayed batch (crash between marker and checkpoint ack) sees its
      marker and skips — effectively-exactly-once downstream;
    - any task failure in ``write_data`` aborts the batch before the
      marker exists (the R8 barrier);
    - the marker is created atomically AFTER a successful write (R7
      transaction commit);
    - Structured Streaming acks the checkpoint only after this returns
      (R9 post-commit offset ack).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = committed_marker(marker_dir, batch_id)
        if os.path.exists(marker):
            return  # replay of a committed batch: idempotent skip
        write_data(batch_df, batch_id)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.rename(tmp, marker)  # atomic commit point

    return write


def batch_writer(target_dir: str):
    """foreachBatch body of the strict pipeline: the batch lands in
    data/<batch_id>/ under ``target_dir``, then its commit marker."""
    return _marker_committed(
        target_dir, lambda df, batch_id: _write_data(df, target_dir, batch_id)
    )


def dlq_batch_writer(main_dir: str, dlq_dir: str):
    """foreachBatch body for the DLQ split: good rows (error IS NULL,
    error column dropped) land under the main topic dir, routed rows
    (with their error class) under the dead-letter dir, and ONE commit
    marker — created only after BOTH writes — covers the pair, so the
    main/DLQ split is batch-atomic: a crash between the writes replays
    the whole batch into both sinks idempotently (the R7/R8 semantics of
    ``batch_writer`` extended to two destinations)."""

    def split(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # split reads it twice
        _write_data(batch_df.filter(F.col("error").isNull()).drop("error"), main_dir, batch_id)
        _write_data(batch_df.filter(F.col("error").isNotNull()), dlq_dir, batch_id)

    return _marker_committed(main_dir, split)


def _drain(out: DataFrame, writer, checkpoint_dir: str, timeout_sec: float) -> None:
    """Run ``out`` through the foreachBatch ``writer`` with an
    availableNow trigger: process what the source holds at start, then
    stop. A run still going after ``timeout_sec`` is stopped and raises
    ``TimeoutError``; a batch without its marker replays on the next run
    over the same checkpoint."""
    q = (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    if not finished:
        raise TimeoutError(
            f"replication stream did not finish within {timeout_sec}s; stopped"
        )


def replicate_stream_dlq(
    spark: SparkSession,
    source_dir: str,
    main_dir: str,
    dlq_dir: str,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema,
    checkpoint_dir: str,
    corrupt=None,
    timeout_sec: int = 120,
) -> None:
    """The R1–R9 streaming pipeline in tolerant mode: same source,
    transform and checkpoint mechanics as ``replicate_stream``, without
    the strict guard — records flow from ``plan_routing`` into the
    two-sink ``dlq_batch_writer``. ``corrupt`` optionally maps the
    envelope DataFrame before the transform (test harnesses inject
    deterministic corruption there). Raises ``TimeoutError`` like
    ``replicate_stream``."""
    env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
    if corrupt is not None:
        env = corrupt(env)
    out = plan_routing(env, source_registry, target_registry, target_topic, value_schema)
    _drain(out, dlq_batch_writer(main_dir, dlq_dir), checkpoint_dir, timeout_sec)


def read_committed(spark: SparkSession, target_dir: str) -> DataFrame:
    """R2 on the output side: expose only batches whose commit marker
    exists (the read_committed isolation the reference's downstream
    consumers rely on, application.yml:10)."""
    commits = os.path.join(target_dir, "commits")
    if not os.path.isdir(commits):
        return spark.createDataFrame([], KAFKA_ENVELOPE)
    dirs = [
        os.path.join(target_dir, "data", b)
        # digit-only filter: a crash between the tmp-marker write and its
        # rename can leave "<id>.tmp" behind; an uncommitted marker must
        # never crash (or admit rows into) the read-committed view
        for b in sorted((x for x in os.listdir(commits) if x.isdigit()), key=int)
        if os.path.isdir(os.path.join(target_dir, "data", b))
    ]
    if not dirs:
        return spark.createDataFrame([], KAFKA_ENVELOPE)
    return spark.read.schema(KAFKA_ENVELOPE).parquet(*dirs)


class ReplicationProgressListener(StreamingQueryListener):
    """Per-batch observability, the reference's logging as structured
    metrics (ReplicationApplication.java:64 "Received batch of {} records",
    :73-75 per-record send, :101 post-commit ack log). Spark's listener
    bus delivers one progress event per micro-batch; we keep batch id,
    input rows and throughput — what an operator dashboards at 100 TB."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "processedRowsPerSecond": p.processedRowsPerSecond,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def total_rows(self) -> int:
        return int(sum(b["numInputRows"] for b in self.batches))


def replicate_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    source_registry: MockSchemaRegistry,
    target_registry: MockSchemaRegistry,
    target_topic: str,
    value_schema,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    listener: ReplicationProgressListener | None = None,
) -> None:
    """The full R1–R9 streaming pipeline over a file-backed topic
    simulation (envelope parquet dir standing in for the Kafka source —
    swap the first line for format("kafka") + kafka_source_options on a
    real cluster; everything downstream is identical). Raises
    ``TimeoutError`` if the run has not finished after ``timeout_sec``."""
    if listener is not None:
        spark.streams.addListener(listener)
    try:
        env = spark.readStream.schema(KAFKA_ENVELOPE).parquet(source_dir)
        out = plan_replication(
            env, source_registry, target_registry, target_topic, value_schema
        )
        _drain(out, batch_writer(target_dir), checkpoint_dir, timeout_sec)
    finally:
        if listener is not None:
            # listener events ride an async bus; drain until the recorded
            # batch count is stable across a polling interval (not merely
            # non-empty — a multi-micro-batch run delivers events after the
            # first one arrives) before detaching
            deadline = time.monotonic() + 10
            seen = -1
            while time.monotonic() < deadline:
                n = len(listener.batches)
                if n == seen:
                    break
                seen = n
                time.sleep(0.4)
            spark.streams.removeListener(listener)


# ---------------------------------------------------------------------------
# fixture production (test harness analog of scripts/produce-records.sh)
# ---------------------------------------------------------------------------
def write_envelope_fixture(
    spark: SparkSession,
    records: list[dict],
    out_dir: str,
    topic: str,
    registry: MockSchemaRegistry,
    value_schema,
    key_bytes: bytes | None = None,
) -> int:
    """Encode records as Confluent-framed Avro and write a source-topic
    envelope parquet dir (keyless input, like the reference's test
    producer — ReplicationApplicationTest.java:96-100). Returns the
    registered value schema id."""
    import datetime as dt

    sid = registry.register(f"{topic}-value", value_schema)
    rows = [
        (
            key_bytes,
            avro_codec.serialize_confluent(r, value_schema, sid),
            topic,
            0,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i % 60),
        )
        for i, r in enumerate(records)
    ]
    spark.createDataFrame(rows, KAFKA_ENVELOPE).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return sid


def decode_envelope(
    env: DataFrame, schemas_by_id: dict, value_schema
) -> DataFrame:
    """Consumer-side deserializer (KafkaAvroDeserializer analog used by
    the golden test to verify the target topic): key as Avro string,
    value decoded into typed columns of the Foo fixture shape."""
    # Imported here: pandas costs ~0.3 s, and every fresh Python worker
    # that runs the replication kernel imports this module.
    import pandas as pd

    snapshot = dict(schemas_by_id)

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_keys, ids, names = [], [], []
            for kraw, vraw in zip(pdf["key"], pdf["value"]):
                if kraw is None:
                    out_keys.append(None)
                else:
                    _, k = avro_codec.deserialize_confluent(bytes(kraw), snapshot)
                    out_keys.append(k)
                _, record = avro_codec.deserialize_confluent(bytes(vraw), snapshot)
                ids.append(record.get("id"))
                names.append(record.get("name"))
            yield pd.DataFrame(
                {
                    "kafka_key": out_keys,
                    "id": ids,
                    "name": names,
                    "topic": pdf["topic"],
                    "offset": pdf["offset"],
                }
            )

    return env.mapInPandas(
        dec, schema="kafka_key string, id string, name string, topic string, offset long"
    )
