"""Checks of the benchmark itself; no Spark session needed.

    python3 perfbench/selfcheck.py [perfbench/results/*.json ...]

1. The same seed gives byte-identical inputs (topic backlogs, tail files,
   corruption plan, query tables) and another seed gives other ones.
2. The independent Foo encoder in ``gen`` agrees with the program's codec
   (``functions/avro_codec``) in both directions, and a corrupted frame
   fails to decode.
3. BENCHMARK.json keeps the shape the runner relies on.
4. Every result file named on the command line (or, by default, every
   file in perfbench/results/) has each metric of its mode named, with
   BENCHMARK.json's unit and a sample count.

Exits 1 and names the failed check when one fails.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _stage(seed: int, out: str) -> str:
    """Every input kind for ``seed`` under ``out``; returns their digest."""
    shutil.rmtree(out, ignore_errors=True)
    ids = {"v1": 1, "v2": 2}
    topic = gen.Topic(seed, 5_000, ids)
    plan = gen.corruption_plan(seed, len(topic), 0.03)
    dirty = [gen.corrupt(v, plan[i]) if i in plan else v for i, v in enumerate(topic.values)]
    files = gen.write_envelope_files(topic.values, 0, os.path.join(out, "clean"), 8)
    files += gen.write_envelope_files(dirty, 0, os.path.join(out, "dirty"), 8)
    gen.write_query_tables(gen.query_tables(seed, 0.001), os.path.join(out, "tables"))
    files += sorted(glob.glob(os.path.join(out, "tables", "*.parquet")))
    return gen.digest(files) + json.dumps(sorted(plan.items()))


def check_inputs(scratch: str) -> "list[str]":
    a = _stage(7, os.path.join(scratch, "a"))
    b = _stage(7, os.path.join(scratch, "b"))
    c = _stage(8, os.path.join(scratch, "c"))
    errors = []
    if a != b:
        errors.append("the same seed gave different input bytes")
    if a == c:
        errors.append("two seeds gave the same input bytes")
    return errors


def check_codec() -> "list[str]":
    from avro_topic_replication_spark.functions import avro_codec

    schemas = {1: gen.FOO_V1, 2: gen.FOO_V2}
    topic = gen.Topic(3, 2_000, {"v1": 1, "v2": 2})
    errors = []
    for i, value in enumerate(topic.values):
        sid, rec = avro_codec.deserialize_confluent(value, schemas)
        want = {"id": topic.ids[i], "name": topic.names[i]}
        if topic.tags[i] is not None:
            want["tag"] = topic.tags[i]
        if rec != want or avro_codec.serialize_confluent(rec, schemas[sid], sid) != value:
            errors.append(f"record {i}: gen and avro_codec disagree")
            break
        if gen.decode_foo(value, sid == 2)[1:] != (topic.ids[i], topic.names[i], topic.tags[i]):
            errors.append(f"record {i}: gen.decode_foo does not invert gen.foo_payload")
            break
    for cls in gen.CORRUPT_CLASSES:
        bad = gen.corrupt(topic.values[0], cls)
        try:
            avro_codec.deserialize_confluent(bad, schemas)
            errors.append(f"a {cls} frame decoded")
        except KeyError:
            if cls != "unknown_schema":
                errors.append(f"a {cls} frame raised KeyError")
        except ValueError:
            if cls != "decode_error":
                errors.append(f"a {cls} frame raised ValueError")
    return errors


def check_spec(spec: dict) -> "list[str]":
    errors = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        errors.append("BENCHMARK.json keys")
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    errors += [f"bad or repeated name {n!r}" for n in names if not NAME.match(n) or names.count(n) > 1]
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errors.append(f"metric {m['name']}: unit or direction")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            errors.append(f"metric {m['name']}: bound")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"]):
        errors.append("no setup_s")
    errors += [f"workload {w['name']}: why" for w in spec["workloads"] if not 0 < len(w["why"]) <= 200]
    return errors


def check_result(path: str, spec: dict) -> "list[str]":
    with open(path) as f:
        r = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if r["trace"] else "end_to_end"]}
    errors = []
    if set(r["metrics"]) != set(want):
        errors.append(f"{path}: metrics {sorted(set(r['metrics']) ^ set(want))} missing or extra")
    for name, value in r["metrics"].items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            errors.append(f"{path}: {name} is not a number")
        if r["samples"].get(name, 0) < 1:
            errors.append(f"{path}: {name} has no sample count")
    if not r["trace"]:
        errors += [f"{path}: {name} is 0" for name, v in r["metrics"].items() if v == 0]
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(HERE, ".work", f"selfcheck-{os.getpid()}")
    try:
        errors = check_inputs(scratch) + check_codec() + check_spec(spec)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    results = sys.argv[1:] or sorted(glob.glob(os.path.join(HERE, "results", "*.json")))
    for path in results:
        errors += check_result(path, spec)
    for e in errors:
        print("FAIL", e)
    print(f"selfcheck: {len(errors)} failure(s); {len(results)} result file(s) checked")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
