"""Physical-plan audit: the engine's scale-health linter.

Every 100-TB failure mode this repo designs against has a visible
signature in the executed plan. This module extracts those signals so
tests (tests/test_plans.py) and humans (the CLI below) can check ANY
query — including new ones — instead of hand-reading `.explain` output.

Signals and why they matter at scale:

- ``n_exchanges``          every Exchange is a shuffle of the full stream
- ``single_partition``     `Exchange SinglePartition` funnels the plan
                           through ONE task — the classic global-window /
                           global-sort straggler (tiny reductions are fine;
                           fact-sized inputs are not)
- ``cartesian``            CartesianProduct = all-pairs blowup
- ``row_python_udf``       BatchEvalPython = row-at-a-time Python on the
                           hot path (Arrow stages show as ArrowEvalPython /
                           MapInPandas / MapInArrow instead)
- ``broadcasts``           BroadcastHashJoin count — dims should broadcast
- ``pushed_filters``       predicates that reached the parquet scan
- ``scans``                number of FileScan nodes (a rescan of the same
                           table may mean a missing reuse/persist)

Usage::

    python -m avro_topic_replication_spark.plans.audit [query ...]

prints one JSON line per registered query (all queries if none named)
with the signal dict; exit code 1 if any query trips a hard rule
(cartesian product or row-Python UDF).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def audit_plan(plan: str) -> dict:
    return {
        "n_exchanges": plan.count("Exchange"),
        "single_partition": plan.count("Exchange SinglePartition"),
        "cartesian": plan.count("CartesianProduct"),
        "row_python_udf": plan.count("BatchEvalPython"),
        "arrow_python": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        + plan.count("MapInArrow"),
        "broadcasts": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "pushed_filters": plan.count("PushedFilters: ["),
        "scans": plan.count("FileScan"),
    }


def audit(df: DataFrame) -> dict:
    return audit_plan(physical_plan(df))


# Hard rules: plans that should never appear in this engine. (Soft signals
# like single_partition are judged per query — a <=32-row offsets
# aggregate legitimately funnels; a fact table never does.) Queries tagged
# "udf" are exempt from row_python_udf: they exist to exercise that API
# surface and say so in their docstrings. Queries tagged "blocked-product"
# are exempt from the cartesian rule: Spark ML's ALS recommendForAll is
# IMPLEMENTED as a CartesianProduct of user-factor blocks × item-factor
# blocks (numUserBlocks × numItemBlocks bounded pairs, BLAS top-k per
# pair) — a deliberate, bounded blocking strategy inside pyspark.ml, not
# an accidental all-rows product in this repo's dataflow.
HARD_RULES = ("cartesian", "row_python_udf")


def violations_for(report: dict, tags: tuple[str, ...] = ()) -> list[str]:
    out = [r for r in HARD_RULES if report.get(r)]
    if "udf" in tags and "row_python_udf" in out:
        out.remove("row_python_udf")
    if "blocked-product" in tags and "cartesian" in out:
        out.remove("cartesian")
    return out


def formatted_plan(df: DataFrame) -> str:
    """`.explain("formatted")` text (node tree + per-node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _main(argv: list[str]) -> int:
    from ..queries import all_queries
    from ..session import get_spark

    spark = get_spark(app_name="plan-audit")
    sf_dir = "/root/testdata/sf0.001"
    qs = all_queries()
    if argv and argv[0] == "--explain":
        # print formatted plans for the named queries (for PLANS.md)
        for name in argv[1:]:
            print(f"### {name}\n")
            print("```")
            print(formatted_plan(qs[name].fn(spark, sf_dir)).rstrip())
            print("```\n")
        return 0
    names = argv or sorted(qs)
    bad = 0
    for name in names:
        try:
            report = audit(qs[name].fn(spark, sf_dir))
        except Exception as e:  # a query that cannot even plan is a finding
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            bad += 1
            continue
        report["query"] = name
        violations = violations_for(report, qs[name].tags)
        if violations:
            report["violations"] = violations
            bad += 1
        print(json.dumps(report))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1:]))
