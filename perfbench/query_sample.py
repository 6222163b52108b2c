"""The ``queries`` workload: warm passes over a frozen sample of the
query registry (``queries.all_queries()``) on generated tables.

The sample is stored in ``query_sample.json`` so that adding or removing
a registry query later does not change the workload. The seed shuffles
the run order only; the tables come from a fixed generator seed.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import gen
from layers import JobMetrics, SqlMetrics

HERE = os.path.dirname(os.path.abspath(__file__))
TABLE_SEED = 20240101
SCALE = 0.01  # 60,000 lineitem rows: per-query fixed cost dominates, as in bench.py's sub-second tail


def load_sample() -> "list[str]":
    with open(os.path.join(HERE, "query_sample.json")) as f:
        return json.load(f)["queries"]


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


class Queries:
    """The DuckDB oracle check is the discarded cold pass; timed passes
    build each query (``q.fn``) and execute it through the noop sink, as
    ``bench.py`` times it."""

    def __init__(self, ctx, seed: int, seconds: float) -> None:
        from avro_topic_replication_spark.queries import all_queries

        self.ctx = ctx
        registry = all_queries()
        names = load_sample()
        missing = [n for n in names if n not in registry]
        if missing:
            raise SystemExit(f"sampled queries missing from the registry: {missing}")
        self.queries = [registry[n] for n in names]
        random.Random(seed).shuffle(self.queries)
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.problems: dict[str, str] = {}
        self.counted = False

    def stage(self) -> None:
        self.tables = gen.query_tables(TABLE_SEED, SCALE)
        gen.write_query_tables(self.tables, self.sf_dir)

    def inputs(self) -> dict:
        files = [os.path.join(self.sf_dir, f"{t}.parquet") for t in sorted(self.tables)]
        return {"queries": len(self.queries),
                "oracle": sum(q.oracle is not None for q in self.queries),
                "order": [q.name for q in self.queries],
                "rows": {t: tb.num_rows for t, tb in self.tables.items()},
                "digest": gen.digest(files)}

    def _cleanup(self) -> None:
        from avro_topic_replication_spark.session import release_tracked_persists

        self.ctx.spark.catalog.clearCache()
        release_tracked_persists()

    def warm(self) -> None:
        """The oracle check is the cold first pass; two more discarded
        passes follow, as pass times keep falling through the second."""
        self._check()
        self._pass()
        self._pass()

    def _check(self) -> None:
        """Compare every oracle-bearing query with DuckDB once (rows-only
        queries must return a row); failures are kept in ``problems``."""
        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        from oracle import compare, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        try:
            for q in self.queries:
                try:
                    df = q.fn(self.ctx.spark, self.sf_dir)
                    if q.oracle is not None:
                        found = compare(df, con, q.oracle)
                        if found:
                            self.problems[q.name] = str(found[:2])[:300]
                    elif df.limit(1).count() < 1:
                        self.problems[q.name] = "rows-only query returned no row"
                except Exception as e:  # one broken query is a counted failure
                    self.problems[q.name] = f"{type(e).__name__}: {e}"[:300]
                finally:
                    self._cleanup()
        finally:
            con.close()

    def _pass(self) -> "list[dict]":
        spark, traced = self.ctx.spark, self.ctx.traced
        sql = SqlMetrics(spark) if traced else None
        jobs = JobMetrics(spark) if traced else None
        out = []
        for q in self.queries:
            row = {"query": q.name, "ok": True}
            t0 = time.perf_counter()
            try:
                df = q.fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                row.update(start=t0, build_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0)
            except Exception as e:  # counted as a failed operation
                row.update(wall_s=time.perf_counter() - t0, ok=False, error=f"{type(e).__name__}: {e}"[:300])
            finally:
                self._cleanup()
            if traced:
                row["sql"], execs = sql.take()
                row["executions"] = len(execs)
                row["jobs"] = jobs.take()
            out.append(row)
        return out

    def measure(self, seconds: float) -> dict:
        passes: list[list[dict]] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self._pass())
        rows = [r for p in passes for r in p]
        first = not self.counted  # the oracle check counts once
        self.counted = True
        walls = sorted(r["wall_s"] for r in rows)
        return {
            "metrics": {"throughput_per_s": len(walls) / sum(walls)},
            "samples": {"throughput_per_s": len(walls)},
            "report": {"queries_total_s": (statistics.median(sum(r["wall_s"] for r in p) for p in passes),
                                           "s", len(passes)),
                       # interpolated: with a few dozen executions of ten
                       # fixed queries, a nearest rank sits on the gap
                       # between the slowest query and the rest
                       "query_p50_s": (statistics.median(walls), "s", len(walls)),
                       "query_p90_s": (statistics.quantiles(walls, n=10, method="inclusive")[-1], "s", len(walls))},
            "ops": rows,
            "passes": passes,
            "failed": sum(not r["ok"] for r in rows) + (len(self.problems) if first else 0),
            "attempted": len(rows) + (len(self.queries) if first else 0),
        }

    def layers(self, measured: dict, batches: "list[dict]") -> dict:
        """Per pass of the sample (median over passes): the catalog's scans,
        the engine's shuffle/aggregate/join/sort/Python operators, and the
        build/execute split with its job overhead counts."""
        passes = measured["passes"]

        def per_pass(fn):
            return _median([sum(fn(r) for r in p) for p in passes])

        def sql(*keys):
            return per_pass(lambda r: sum(r.get("sql", {}).get(k, 0.0) for k in keys))

        def job(key):
            return per_pass(lambda r: r.get("jobs", {}).get(key, 0))

        return {
            "catalog.scan_s": sql("scan time"),
            "catalog.bytes_read": sql("size of files read"),
            "catalog.files_read": sql("number of files read"),
            "catalog.metadata_ms": sql("metadata time") * 1e3,
            "engine.shuffle_bytes": sql("shuffle bytes written"),
            "engine.shuffle_records": sql("shuffle records written"),
            "engine.shuffle_write_s": sql("shuffle write time"),
            "engine.agg_build_s": sql("time in aggregation build"),
            "engine.join_build_s": sql("time to build hash map", "time to build"),
            "engine.sort_s": sql("sort time"),
            "engine.python_run_s": sql("time to run Python workers"),
            "engine.python_start_s": sql("time to start Python workers"),
            "engine.python_init_s": sql("time to initialize Python workers"),
            "queries.build_s": per_pass(lambda r: r.get("build_s", 0.0)),
            "queries.execute_s": per_pass(lambda r: r.get("execute_s", 0.0)),
            "queries.short_s": per_pass(lambda r: r["wall_s"] if r["wall_s"] < 1.0 else 0.0),
            "queries.sql_executions": per_pass(lambda r: r.get("executions", 0)),
            "queries.jobs": job("jobs"),
            "queries.stages": job("stages"),
            "queries.tasks": job("tasks"),
        }
