"""Benchmark of the replicator and the query engine: one command per run.

    python3 perfbench/run.py --workload replicate_drain --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):
  replicate_drain      catch-up throughput of the strict R1-R9 pipeline
                       on a backlog
  replicate_drain_dlq  the same for the tolerant (dead-letter) pipeline on
                       a backlog with corrupted frames
  replicate_tail       open-loop 500-record files; drop-to-commit lag
  queries              warm passes over a frozen sample of the query
                       registry
The last two are not in BENCHMARK.json: their run-to-run spread on a
shared host is wider than the largest bound allowed there.

``--trace 0`` measures and prints the end-to-end metrics. ``--trace 1``
measures the same work twice in one process, untraced and then traced,
each for half of ``--seconds``, and prints the per-layer metrics, the
tracing overhead among them. A layer that a workload does not run reads
0. Before the last line the run prints a table with units and sample
counts; the last stdout line is one JSON object: correct, attempted,
failed, metrics. The full result (inputs, environment, samples, spans)
goes to perfbench/results/. The run exits 1 on any correctness failure
and 2 when the program is not next to the benchmark.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "avro_topic_replication_spark"
WORKLOADS = ("replicate_drain", "replicate_drain_dlq", "replicate_tail", "queries")
# Well below the RAM of a small shared machine. The heap is fixed and
# pre-touched, so peak RSS does not move with the collector's sizing.
DRIVER_MEMORY = "1g"
STAGINGS = 3  # input staging repeats; setup_s counts its median


class Ctx:
    """What every workload needs: the session, the program's modules and
    the run's scratch dir inside the checkout."""

    def __init__(self, spark, work: str, cpus: int) -> None:
        from avro_topic_replication_spark.operators import replication
        from avro_topic_replication_spark.sources.registry import MockSchemaRegistry

        self.spark = spark
        self.R = replication
        self.registry_cls = MockSchemaRegistry
        self.root = ROOT
        self.work = work
        self.cpus = cpus
        self.traced = False


def pin_environment(work: str, cpus: int) -> None:
    """Spark's Python workers import the program from the repo root; Spark,
    the JVM and Python keep their temporary files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def make_workload(name: str, ctx, seed: int, seconds: float):
    if name == "queries":
        from query_sample import Queries

        return Queries(ctx, seed, seconds)
    from replication import Drain, Tail

    if name == "replicate_tail":
        return Tail(ctx, seed, seconds)
    return Drain(ctx, seed, seconds, tolerant=name == "replicate_drain_dlq")


def codec_layers(seed: int) -> dict:
    """Single-thread per-record decode/encode time of the program's codec
    over a seeded sample of the drain input."""
    import gen
    from avro_topic_replication_spark.functions import avro_codec

    schemas = {1: gen.FOO_V1, 2: gen.FOO_V2}
    topic = gen.Topic(seed, 20_000, {"v1": 1, "v2": 2})
    t0 = time.perf_counter()
    decoded = [avro_codec.deserialize_confluent(v, schemas) for v in topic.values]
    t1 = time.perf_counter()
    encoded = [avro_codec.serialize_confluent(r, schemas[sid], sid) for sid, r in decoded]
    t2 = time.perf_counter()
    if encoded != topic.values:
        raise RuntimeError("the codec round trip changed the drain sample")
    n = len(topic)
    return {"avro_codec.decode_us": (t1 - t0) / n * 1e6, "avro_codec.encode_us": (t2 - t1) / n * 1e6}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the program ({PACKAGE}/) is not next to the benchmark", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"] for m in spec()["per_layer" if args.trace else "end_to_end"]}
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cpus)

    import pyarrow

    from avro_topic_replication_spark.session import get_spark
    from layers import BatchRecorder, Trace, peak_rss_mb

    trace = Trace(f"{args.workload}-{args.seed}-{args.trace}")
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    trace.add("session.start", t, t + session_s)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    result: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "environment": {"nproc": cpus, "spark": spark.version, "pyarrow": pyarrow.__version__,
                        "python": platform.python_version(), "driver_memory": DRIVER_MEMORY,
                        "master": spark.sparkContext.master},
    }
    # a traced run measures twice: untraced, then traced
    seconds = args.seconds / 2 if args.trace else args.seconds
    try:
        ctx = Ctx(spark, work, cpus)
        wl = make_workload(args.workload, ctx, args.seed, seconds)
        stagings = []
        for _ in range(STAGINGS):
            t = time.perf_counter()
            wl.stage()
            stagings.append(time.perf_counter() - t)
            trace.add("stage", t, t + stagings[-1])
        t = time.perf_counter()
        wl.warm()
        trace.add("warm", t, time.perf_counter())
        # one invocation's set-up, with input staging at its median over STAGINGS
        setup_s = time.perf_counter() - T_START - sum(stagings) + statistics.median(stagings)

        t = time.perf_counter()
        measured = wl.measure(seconds)
        trace.add("measure", t, time.perf_counter(), traced=False)
        result["inputs"] = wl.inputs()
        failed, attempted = measured["failed"], measured["attempted"]
        metrics = {"setup_s": setup_s, **measured["metrics"]}
        samples = {"setup_s": 1, **measured["samples"], "peak_rss_mb": 1}
        if args.trace:
            recorder = BatchRecorder()
            spark.streams.addListener(recorder)
            ctx.traced = True
            if hasattr(wl, "regs"):
                wl.regs.traced = True
            t = time.perf_counter()
            traced = wl.measure(seconds)
            parent = trace.add("measure", t, time.perf_counter(), traced=True)
            batches = recorder.settle()
            spark.streams.removeListener(recorder)
            failed += traced["failed"]
            attempted += traced["attempted"]
            _op_spans(trace, parent, traced["ops"], batches)
            found = {"session.start_s": session_s, **codec_layers(args.seed),
                     **wl.layers(traced, batches),
                     "trace.overhead_throughput_per_s":
                         measured["metrics"]["throughput_per_s"] - traced["metrics"]["throughput_per_s"]}
            metrics = {name: found.get(name, 0.0) for name in units}
            samples = {name: len(traced["ops"]) for name in units}
            result["batches"] = batches
            result["traced_ops"] = [_compact(o) for o in traced["ops"]]
        by_process = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid)}
        rss = sum(by_process.values())
        result["peak_rss_mb_by_process"] = by_process
        if not args.trace:
            metrics["peak_rss_mb"] = rss
        result.update(setup={"session_start_s": session_s, "stagings_s": stagings},
                      report=measured["report"], problems=getattr(wl, "problems", {}),
                      ops=[_compact(o) for o in measured["ops"]], lags=measured.get("lags"),
                      failed=failed, attempted=attempted, peak_rss_mb=rss)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        # the program caches fixtures of the generated tables in its own
        # scratch dir; sweep the ones whose tables are now gone
        from avro_topic_replication_spark.streaming.replay import gc_scratch

        gc_scratch()
    result.update(metrics=metrics, samples=samples, spans=trace.spans)

    print(f"{args.workload} seed {args.seed}: attempted {attempted}, failed {failed}, "
          f"error_rate {failed / attempted:.6g}, peak_rss_mb {rss:.1f}")
    print("  inputs " + json.dumps({k: v for k, v in result["inputs"].items() if k != "order"}))
    for k, (v, unit, n) in measured["report"].items():
        print(f"  {k:<34} {v:.6g} {unit} (n={n})")
    for k, v in metrics.items():
        print(f"  {k:<34} {v:.6g} {units[k]} (n={samples[k]})")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    line = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(line))
    return 0 if failed == 0 else 1


def _op_spans(trace, parent: int, ops: "list[dict]", batches: "list[dict]") -> None:
    """Spans of the traced ops under ``parent``: each replicate call with
    its micro-batches (listener timestamps and durations, wall clock), or
    each query with its build and execute parts (perf counter)."""
    from datetime import datetime

    for b in batches:
        b["t"] = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
    for o in ops:
        if "query" in o:
            q = trace.add(f"query.{o['query']}", o.get("start", 0.0), o.get("start", 0.0) + o["wall_s"], parent)
            if o["ok"]:
                trace.add("build", o["start"], o["start"] + o["build_s"], q)
                trace.add("execute", o["start"] + o["build_s"], o["start"] + o["wall_s"], q)
            continue
        end = o["start"] + o["wall_s"]
        call = trace.add(f"replicate.{o.get('path', 'tail')}", o["start"], end, parent, clock="wall")
        for b in batches:
            if o["start"] <= b["t"] <= end:
                trace.add("micro_batch", b["t"], b["t"] + b["duration_ms"].get("triggerExecution", 0) / 1e3,
                          call, clock="wall", rows=b["rows"])


def _compact(op: dict) -> dict:
    """An op without its bulky status-store detail."""
    return {k: v for k, v in op.items() if k not in ("sql", "execs", "jobs")}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
