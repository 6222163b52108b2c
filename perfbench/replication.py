"""The two replication workloads: ``replicate_drain`` and ``replicate_tail``.

Both drive ``operators/replication`` through its public entry points
(``replicate_stream``, ``replicate_stream_dlq``, ``read_committed``) on
topics from ``gen`` and check every committed record outside the timed
regions.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from layers import SqlMetrics

TARGET_TOPIC = "target-topic-b"
TAIL_FILE_RECORDS = 500  # the reference's <=500-record listener batches


def percentile(values: "list[float]", q: float) -> float:
    """Nearest-rank percentile (0 < q <= 100)."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q / 100) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Registries:
    """The source registry (v1 and v2 of Foo under the source subject)
    and a fresh target registry per call, as a subclass of the program's
    MockSchemaRegistry that times register/snapshot calls from outside
    while ``traced`` is set."""

    def __init__(self, registry_cls) -> None:
        self.traced = False
        self.calls: list[tuple[str, float]] = []
        owner = self

        class Timed(registry_cls):
            def register(self, subject, schema):
                t0 = time.perf_counter()
                try:
                    return super().register(subject, schema)
                finally:
                    if owner.traced:
                        owner.calls.append(("register", time.perf_counter() - t0))

            def snapshot(self):
                t0 = time.perf_counter()
                try:
                    return super().snapshot()
                finally:
                    if owner.traced:
                        owner.calls.append(("snapshot", time.perf_counter() - t0))

        self._cls = Timed
        self.source = Timed()
        self.source_ids = {
            "v1": self.source.register(f"{gen.SOURCE_TOPIC}-value", gen.FOO_V1),
            "v2": self.source.register(f"{gen.SOURCE_TOPIC}-value", gen.FOO_V2),
        }

    def target(self):
        return self._cls()

    def take_calls(self) -> "list[tuple[str, float]]":
        out = list(self.calls)
        self.calls.clear()
        return out


def _committed(R, spark, target_dir: str) -> pa.Table:
    """Every row visible through ``read_committed``, read back with
    pyarrow from the files Spark lists for it."""
    files = sorted(f.removeprefix("file:") for f in R.read_committed(spark, target_dir).inputFiles())
    if not files:
        return gen.ENVELOPE.empty_table()
    return pa.concat_tables(pq.read_table(f, schema=gen.ENVELOPE) for f in files)


def check_replicated(rows: pa.Table, topic: "gen.Topic", expected: np.ndarray, target) -> int:
    """Failed records among the ``expected`` offsets: not committed exactly
    once, or committed with other bytes than the generated record framed
    under ``target``'s ids: the key must be the Avro string of the
    record's id and the value its generated payload. A seeded sample of
    rows is also decoded field by field. Rows outside ``expected`` count
    as failures too."""
    key_id = target.register(f"{TARGET_TOPIC}-key", "string")
    v1 = target.register(f"{TARGET_TOPIC}-value", gen.FOO_V1)
    v2 = target.register(f"{TARGET_TOPIC}-value", gen.FOO_V2)
    n = len(topic)
    offsets = rows["offset"].to_numpy() - topic.offset0
    inside = (offsets >= 0) & (offsets < n)
    counts = np.bincount(offsets[inside], minlength=n)
    want = np.zeros(n, bool)
    want[expected] = True
    bad = (want & (counts != 1)) | (~want & (counts > 0))
    idx = pa.array(np.where(inside, offsets, 0))
    header = pa.array([gen.frame(v1 if t is None else v2, b"") for t in topic.tags], pa.binary())
    checks = [
        pc.equal(pc.binary_slice(rows["key"], 0, 5), pa.scalar(gen.frame(key_id, b""), pa.binary())),
        pc.equal(pc.binary_slice(rows["key"], 5, 1 << 30), topic.key_payloads.take(idx)),
        pc.equal(pc.binary_slice(rows["value"], 0, 5), header.take(idx)),
        pc.equal(pc.binary_slice(rows["value"], 5, 1 << 30), topic.payloads.take(idx)),
        pc.equal(rows["topic"], TARGET_TOPIC),
    ]
    ok = checks[0]
    for c in checks[1:]:
        ok = pc.and_(ok, c)
    wrong = ~pc.fill_null(ok, False).to_numpy(zero_copy_only=False) & inside
    bad[offsets[wrong]] = True
    for i in random.Random(n).sample(range(rows.num_rows), min(1000, rows.num_rows)):
        off = offsets[i]
        if not inside[i]:
            continue
        try:
            _, key = gen.decode_key(rows["key"][i].as_py())
            _, rid, name, tag = gen.decode_foo(rows["value"][i].as_py(), topic.tags[off] is not None)
        except (ValueError, IndexError, UnicodeDecodeError, TypeError):
            bad[off] = True
            continue
        if key != rid or (rid, name, tag) != (topic.ids[off], topic.names[off], topic.tags[off]):
            bad[off] = True
    return int(bad.sum()) + int((~inside).sum())


def _fresh(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _traced_call(ctx, regs: Registries, call) -> dict:
    """Run ``call``; return its start (wall clock) and duration, and when
    traced the SQL metrics, executions and registry calls it caused, all
    read after the timed region."""
    sql = SqlMetrics(ctx.spark) if ctx.traced else None
    regs.take_calls()  # drop the previous check's lookups
    start = time.time()
    t0 = time.perf_counter()
    call()
    op = {"start": start, "wall_s": time.perf_counter() - t0}
    if sql is not None:
        op["sql"], op["execs"] = sql.take()
        op["registry"] = regs.take_calls()
    return op


def replication_layers(ops: "list[dict]", batches: "list[dict]") -> dict:
    """Per-call medians of the replicate calls' layer numbers: registry,
    status store / driver accumulators, and listener micro-batches."""
    def med(fn):
        return median([fn(o) for o in ops])

    def sql(key):
        return med(lambda o: o["sql"].get(key, 0.0))

    m = {
        "registry.snapshot_ms": med(lambda o: sum(t for n, t in o["registry"] if n == "snapshot") * 1e3),
        "registry.register_calls": med(lambda o: sum(1 for n, _ in o["registry"] if n == "register")),
        "replication.python_run_s": sql("time to run Python workers"),
        "replication.python_start_s": sql("time to start Python workers"),
        "replication.python_init_s": sql("time to initialize Python workers"),
        "replication.bytes_to_python": sql("data sent to Python workers"),
        "replication.bytes_from_python": sql("data returned from Python workers"),
        "replication.sink_commit_s": med(
            lambda o: o["sql"].get("task commit time", 0.0) + o["sql"].get("job commit time", 0.0)),
        "replication.files_written": sql("number of written files"),
        "replication.bytes_written": sql("written output"),
    }
    busy = [b for b in batches if b["rows"] > 0]
    for key, name in (("latestOffset", "latest_offset_ms"), ("queryPlanning", "planning_ms"),
                      ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms"), ("triggerExecution", "trigger_ms")):
        m[f"replication.batch.{name}"] = median([b["duration_ms"].get(key, 0) for b in busy])
    overheads, per_call = [], []
    for o in ops:
        mine = [b for b in batches if o["start"] <= b["t"] <= o["start"] + o["wall_s"]]
        per_call.append(sum(1 for b in mine if b["rows"] > 0))
        trigger_s = sum(b["duration_ms"].get("triggerExecution", 0) for b in mine) / 1e3
        overheads.append(o["wall_s"] - trigger_s)
    m["replication.call_overhead_s"] = median(overheads)
    m["replication.batches"] = median(per_call)
    m["replication.records_per_batch"] = median([b["rows"] for b in busy])
    return m


# ---------------------------------------------------------------------------
# replicate_drain, replicate_drain_dlq: catch-up throughput on a staged backlog
# ---------------------------------------------------------------------------
class Drain:
    """Calls of one path over a staged backlog, each into fresh target and
    checkpoint dirs, until the calls add up to the run length: the strict
    ``replicate_stream`` over a clean backlog, or the tolerant
    ``replicate_stream_dlq`` over one with a few percent of corrupted
    frames."""

    RECORDS = 160_000
    CORRUPT_SHARE = 0.03  # the tolerant path's backlog only
    WARM_CALLS = 3
    MIN_CALLS = 3

    def __init__(self, ctx, seed: int, seconds: float, tolerant: bool) -> None:
        self.ctx, self.R, self.seed, self.tolerant = ctx, ctx.R, seed, tolerant
        self.regs = Registries(ctx.registry_cls)
        self.src = os.path.join(ctx.work, "drain-src")
        self.calls = 0

    def stage(self) -> None:
        self.topic = gen.Topic(self.seed, self.RECORDS, self.regs.source_ids)
        values = self.topic.values
        self.plan: dict[int, str] = {}
        if self.tolerant:
            self.plan = gen.corruption_plan(self.seed, self.RECORDS, self.CORRUPT_SHARE)
            values = [gen.corrupt(v, self.plan[i]) if i in self.plan else v for i, v in enumerate(values)]
        _fresh(self.src)
        self.files = gen.write_envelope_files(values, 0, self.src, 2 * self.ctx.cpus)

    def inputs(self) -> dict:
        corrupt = {c: sum(1 for v in self.plan.values() if v == c) for c in gen.CORRUPT_CLASSES}
        return {**self.topic.stats(), "corrupt": corrupt, "files": len(self.files),
                "digest": gen.digest(self.files)}

    def warm(self) -> None:
        """Discarded calls: the first runs cold, and calls keep speeding
        up over the next two while the JVM compiles."""
        for _ in range(self.WARM_CALLS):
            self._call()

    def _strict(self, work: str) -> dict:
        ctx, R = self.ctx, self.R
        tgt, ck = (os.path.join(work, x) for x in ("tgt", "ck"))
        target = self.regs.target()
        op = _traced_call(ctx, self.regs, lambda: R.replicate_stream(
            ctx.spark, self.src, tgt, self.regs.source, target, TARGET_TOPIC, None, ck))
        rows = _committed(R, ctx.spark, tgt)
        return {**op, "failed": check_replicated(rows, self.topic, np.arange(len(self.topic)), target)}

    def _tolerant(self, work: str) -> dict:
        ctx, R = self.ctx, self.R
        main, dlq, ck = (os.path.join(work, x) for x in ("main", "dlq", "ck"))
        target = self.regs.target()
        op = _traced_call(ctx, self.regs, lambda: R.replicate_stream_dlq(
            ctx.spark, self.src, main, dlq, self.regs.source, target, TARGET_TOPIC, None, ck))
        if "execs" in op:
            # the eager localCheckpoint of the DLQ writer: the one execution
            # that neither plans the transform nor writes a sink
            op["checkpoint_s"] = sum(e["wall_s"] for e in op["execs"] if not any(
                n.startswith(("Execute ", "MapInPandas")) for n in e["nodes"]))
        good = np.array(sorted(set(range(len(self.topic))) - set(self.plan)))
        failed = check_replicated(_committed(R, ctx.spark, main), self.topic, good, target)
        routed = pq.read_table(os.path.join(dlq, "data"), columns=["offset", "error"]).to_pylist()
        got: dict[int, list] = {}
        for r in routed:
            got.setdefault(r["offset"], []).append(r["error"])
        failed += sum(1 for o, c in self.plan.items() if got.get(o) != [c])
        failed += sum(1 for o in got if o not in self.plan)
        return {**op, "failed": failed,
                "routed": {c: sum(1 for r in routed if r["error"] == c) for c in gen.CORRUPT_CLASSES}}

    def _call(self) -> dict:
        """One timed call and its untimed check."""
        work = os.path.join(self.ctx.work, f"drain-{self.calls}")
        op = (self._tolerant if self.tolerant else self._strict)(work)
        _fresh(work)
        self.calls += 1
        return {**op, "records": len(self.topic)}

    def measure(self, seconds: float) -> dict:
        ops: list[dict] = []
        while len(ops) < self.MIN_CALLS or sum(o["wall_s"] for o in ops) < seconds:
            ops.append(self._call())
        # the median over calls: a few calls slowed by other load on the
        # host do not move it
        rate = median([o["records"] / o["wall_s"] for o in ops])
        return {
            "metrics": {"throughput_per_s": rate},
            "samples": {"throughput_per_s": len(ops)},
            "report": {"dlq_records_per_s" if self.tolerant else "records_per_s": (rate, "rec/s", len(ops)),
                       "drain_s": (median([o["wall_s"] for o in ops]), "s", len(ops))},
            "ops": ops,
            "failed": sum(o["failed"] for o in ops),
            "attempted": sum(o["records"] for o in ops),
        }

    def layers(self, measured: dict, batches: "list[dict]") -> dict:
        ops = measured["ops"]
        return {**replication_layers(ops, batches),
                "replication.dlq_checkpoint_s": median([o.get("checkpoint_s", 0.0) for o in ops])}


# ---------------------------------------------------------------------------
# replicate_tail: open-loop trickle of 500-record files
# ---------------------------------------------------------------------------
class Tail:
    """A generator thread renames pre-encoded 500-record files into the
    source dir on a fixed schedule (open loop); the main thread calls
    ``replicate_stream`` back to back on one target and checkpoint. Each
    file's lag is the mtime of the commit marker of the batch holding its
    offsets minus the file's scheduled drop time."""

    FILES_PER_S = 12.5  # 6,250 rec/s, far below drain throughput
    WINDOW_FILES = 50  # lag percentiles are taken per 4 s window of drops
    WARM_FILES = 150  # the discarded warm-up run: 12 s of drops

    def __init__(self, ctx, seed: int, seconds: float) -> None:
        self.ctx, self.R, self.seed = ctx, ctx.R, seed
        self.regs = Registries(ctx.registry_cls)
        self.n_files = max(int(round(seconds * self.FILES_PER_S)), self.WARM_FILES, 3 * self.WINDOW_FILES)
        self.runs = 0

    def _dir(self, name: str) -> str:
        return os.path.join(self.ctx.work, f"tail-{self.runs}-{name}")

    def stage(self) -> None:
        """Pre-encode the files of the next run; the generator only renames."""
        n = self.n_files * TAIL_FILE_RECORDS
        self.topic = gen.Topic(self.seed + self.runs, n, self.regs.source_ids)
        _fresh(self._dir("staged"))
        self.files = gen.write_envelope_files(self.topic.values, 0, self._dir("staged"), self.n_files)
        self.digest = gen.digest(self.files)

    def inputs(self) -> dict:
        return {**self.topic.stats(), "files": self.n_files, "records_per_file": TAIL_FILE_RECORDS,
                "files_per_s": self.FILES_PER_S, "digest": self.digest}

    def warm(self) -> None:
        """A discarded run on the first staged files: the first calls of
        a process run cold, and calls keep speeding up for seconds after."""
        self._run(self.files[:self.WARM_FILES])

    def measure(self, seconds: float) -> dict:
        self.stage()  # the warm run took the staged files
        return self._run(self.files)

    def _run(self, files: "list[str]") -> dict:
        ctx, R = self.ctx, self.R
        src, tgt, ck = self._dir("src"), self._dir("tgt"), self._dir("ck")
        os.makedirs(src)
        target = self.regs.target()
        drops: list[tuple[float, float]] = []  # (due, done) per file
        t0 = time.time() + 0.05
        period = 1.0 / self.FILES_PER_S

        def generator() -> None:
            for k, path in enumerate(files):
                due = t0 + k * period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(path, os.path.join(src, os.path.basename(path)))
                drops.append((due, time.time()))

        thread = threading.Thread(target=generator, name="tail-generator", daemon=True)
        thread.start()
        calls: list[dict] = []
        while True:
            last = not thread.is_alive()  # every file is in place before this call
            calls.append(_traced_call(ctx, self.regs, lambda: R.replicate_stream(
                ctx.spark, src, tgt, self.regs.source, target, TARGET_TOPIC, None, ck)))
            if last:
                break
        thread.join()
        self.runs += 1
        return self._score(tgt, target, drops, calls, len(files))

    def _score(self, tgt: str, target, drops, calls, n_files: int) -> dict:
        rows = _committed(self.R, self.ctx.spark, tgt)
        n = n_files * TAIL_FILE_RECORDS
        failed = check_replicated(rows, self.topic, np.arange(n), target)
        commits = os.path.join(tgt, "commits")
        marker_t = {int(b): os.stat(os.path.join(commits, b)).st_mtime_ns / 1e9
                    for b in os.listdir(commits) if b.isdigit()}
        batch_of: dict[int, int] = {}  # offset -> batch id, from the data dir it lives in
        for b in marker_t:
            table = pq.read_table(os.path.join(tgt, "data", str(b)), columns=["offset"])
            batch_of.update((off, b) for off in table["offset"].to_pylist())
        lags, waits, services, files_failed = [], [], [], 0
        windows: dict[int, list[float]] = {}
        for k, (due, _) in enumerate(drops):
            first = k * TAIL_FILE_RECORDS
            b = batch_of.get(first)
            if b is None or any(batch_of.get(first + i) != b for i in range(TAIL_FILE_RECORDS)):
                files_failed += 1
                continue
            commit = marker_t[b]
            lags.append(commit - due)
            windows.setdefault(k // self.WINDOW_FILES, []).append(commit - due)
            call = next((c for c in calls if c["start"] <= commit <= c["start"] + c["wall_s"] + 0.05), None)
            if call is not None:
                waits.append(call["start"] - due)
                services.append(commit - call["start"])
        files_failed += n_files - len(drops)
        return {
            "metrics": {
                # delivered rate at the offered one: first due drop to last commit
                "throughput_per_s": rows.num_rows / (max(marker_t.values()) - drops[0][0]),
            },
            "samples": {"throughput_per_s": rows.num_rows},
            # lag percentiles per window of drops, median over the windows:
            # a few seconds of other load on the host move one window, not
            # the figure
            "report": {"lag_p50_s": (median([percentile(w, 50) for w in windows.values()]), "s", len(lags)),
                       "lag_p90_s": (median([percentile(w, 90) for w in windows.values()]), "s", len(lags)),
                       "calls": (len(calls), "count", 1)},
            "layers": {"tail.queue_wait_s": median(waits), "tail.service_s": median(services),
                       "tail.generator_late_s": max(done - due for due, done in drops)},
            "ops": calls,
            "lags": lags,
            "failed": failed + files_failed,
            "attempted": n + n_files,
        }

    def layers(self, measured: dict, batches: "list[dict]") -> dict:
        return {**replication_layers(measured["ops"], batches), **measured["layers"]}
