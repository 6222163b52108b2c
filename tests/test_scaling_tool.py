"""Unit tests for tools/scaling_analysis.py (SCALE.md r12): the
first-difference exponent fit, the input-growth family classification
(documents/embeddings are flat until sf0.1), and the super-linear exit
gate; and for tools/core_scaling.py's argument check and partial report.
Spark-free — the registry import is exercised but no session."""

from __future__ import annotations

import importlib.util
import json
import math
import os
import subprocess

import pytest

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def tool():
    return _load("scaling_analysis")


@pytest.fixture()
def core_scaling():
    return _load("core_scaling")


def test_exponent_identity_for_power_law(tool):
    """For t = f + c*sf^e sampled at 10x-apart points, the difference
    ratio is exactly 10^e — the identity the whole analysis rests on."""
    for e in (0.5, 1.0, 1.5, 2.0):
        f, c = 0.7, 3.0
        t = [f + c * sf ** e for sf in (0.001, 0.01, 0.1)]
        d21, d32 = t[1] - t[0], t[2] - t[1]
        assert math.log10(d32 / d21) == pytest.approx(e, abs=1e-9)


def test_family_classification(tool):
    class Q:
        def __init__(self, name, oracle):
            self.name, self.oracle = name, oracle

    assert tool._family(Q("x", "SELECT * FROM lineitem")) == "10x"
    assert tool._family(Q("x", "SELECT * FROM documents")) == "flat-then-10x"
    # a mixed documents+facts query is dominated by the scaling table
    assert tool._family(Q("x", "FROM documents JOIN orders")) == "10x"
    assert tool._family(Q("x", "SELECT * FROM nation")) == "dims-only"
    # rows-only (no oracle): name-prefix inference
    assert tool._family(Q("vec_knn_query", None)) == "flat-then-10x"
    assert tool._family(Q("stream_live_tumbling", None)) == "10x"
    assert tool._family(Q("join_bucketed", None)) == "10x"


def test_latest_per_sf_reads_history(tool, tmp_path, monkeypatch):
    hist = {"runs": [
        {"sf": 0.1, "queries": {"q": 1.0}},
        {"sf": 0.01, "queries": {"q": 0.5}},
        {"sf": 0.1, "queries": {"q": 2.0}},  # latest 0.1 wins
    ]}
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    assert tool._latest_per_sf([0.1, 0.01]) == [{"q": 2.0}, {"q": 0.5}]
    with pytest.raises(SystemExit):
        tool._latest_per_sf([0.001])


def test_main_gates_on_super_linear(tool, tmp_path, monkeypatch, capsys):
    """A quadratic-growth lineitem query must flip the exit code (the
    scale-regression gate); the committed history must not."""

    class Q:
        def __init__(self, name, oracle):
            self.name, self.oracle = name, oracle

    def fake_registry():
        return {"quad": Q("quad", "FROM lineitem"),
                "lin": Q("lin", "FROM lineitem")}

    hist = {"runs": [
        {"sf": sf, "queries": {
            # quad: d32/d21 = 100 (e=2), both deltas over the 0.3s
            # noise floor; lin: e = 1 -> "~linear", not flagged
            "quad": 0.5 + 5000 * sf ** 2,
            "lin": 0.5 + 50 * sf,
        }} for sf in (0.001, 0.01, 0.1)
    ]}
    json.dump(hist, open(tmp_path / "BENCH_HISTORY.json", "w"))
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    monkeypatch.setattr(tool.sys, "argv", ["scaling_analysis.py"])
    import avro_topic_replication_spark.queries as reg
    monkeypatch.setattr(reg, "all_queries", fake_registry)
    assert tool.main() == 1
    out = capsys.readouterr().out
    assert "SUPER-LINEAR" in out and "quad" in out


@pytest.mark.parametrize("cpus", ["8", "8,16,32", "8,8", ""])
def test_core_scaling_rejects_cpus_without_two_values(core_scaling, monkeypatch, cpus):
    """run() reports one low and one high core count, so any other
    --cpus list is refused before a child starts."""
    monkeypatch.setattr(core_scaling, "run", lambda *a: pytest.fail("run() started"))
    monkeypatch.setattr(core_scaling.sys, "argv", ["core_scaling.py", "run", "--cpus", cpus])
    assert core_scaling.main() == 2
    assert core_scaling.parse_cpus("32,8") == [8, 32]


def test_core_scaling_prints_partial_table_when_a_child_fails(core_scaling, monkeypatch, capsys):
    calls = []

    def fake_child(cmd, env, **kw):
        calls.append(env["SPARK_GRAFT_CPUS"])
        if len(calls) == 1:
            return subprocess.CompletedProcess(cmd, 0, '{"q": 2.0}\n', "")
        return subprocess.CompletedProcess(cmd, 1, "", "boom")

    monkeypatch.setattr(core_scaling.subprocess, "run", fake_child)
    with pytest.raises(SystemExit, match="child at 32 cores failed"):
        core_scaling.run(["q"], [8, 32], runs=1, passes=1)
    out = json.loads(capsys.readouterr().out)
    assert out["partial"] is True
    assert out["queries"] == {"q": {"c8": 2.0, "c32": None, "ratio": None}}
