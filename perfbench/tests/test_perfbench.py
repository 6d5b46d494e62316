"""Tests of the benchmark itself: the tail rule, self times, the names
and limits of BENCHMARK.json, the output schema, and a tiny smoke run
of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


# -- tail rule ---------------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = harness.tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in values) == harness.TAIL_BEYOND


def test_tail_is_order_free_and_uses_rank_n_minus_ten():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    value, pct, n = harness.tail(values)
    assert value == 2.0 and n == 12
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_without_enough_samples_reports_the_maximum():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert harness.tail([1.0] * 10) == (1.0, 100.0, 10)
    with pytest.raises(ValueError):
        harness.tail([])


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_children_once():
    tr = harness.Tracer(True)
    parent = tr.add("batch", "streaming", 1, 0.0, 10.0)
    tr.add("decode", "sources", 1, 1.0, 4.0, parent=parent.id)
    tr.add("write", "plans", 1, 3.0, 6.0, parent=parent.id)  # overlaps decode
    tr.add("late", "plans", 1, 9.0, 12.0, parent=parent.id)  # runs past the parent
    got = tr.self_times()
    assert got["streaming"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["sources"] == pytest.approx(3.0)
    assert got["plans"] == pytest.approx(6.0)


def test_disabled_tracer_records_nothing(tmp_path):
    tr = harness.Tracer(False)
    with tr.span("x", "oracle", 1) as sp:
        assert sp is None
    assert tr.spans == [] and tr.self_times() == {}
    on = harness.Tracer(True)
    with on.span("outer", "oracle", 7):
        with on.span("inner", "query", 7):
            pass
    path = tmp_path / "spans.json"
    on.write(str(path))
    spans = json.loads(path.read_text())
    assert [s["name"] for s in spans] == ["outer", "inner"]
    assert spans[1]["parent"] == spans[0]["id"] and spans[1]["op_id"] == "7"
    assert harness.Tracer.load(str(path)).self_times() == on.self_times()


# -- BENCHMARK.json ----------------------------------------------------------


def test_metric_names_and_limits():
    doc = harness.benchmark()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                        "per_layer"}
    assert doc["command"] == ["python3", "perfbench/run.py"]
    assert doc["paths"] == ["perfbench"]
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
    assert 1 <= len(doc["end_to_end"]) <= 16 and 1 <= len(doc["per_layer"]) <= 128
    assert 2 <= len(doc["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert isinstance(doc["run_seconds"], int) and 1 <= doc["run_seconds"] <= 60


def test_missing_program_exits_nonzero_without_result(tmp_path, capsys):
    import run

    old = run.ROOT
    run.ROOT = str(tmp_path)
    try:
        assert run.main(["--workload", "ingest", "--seed", "1"]) != 0
    finally:
        run.ROOT = old
    assert capsys.readouterr().out == ""


# -- tiny smoke run of each workload -----------------------------------------
#
# Each run gets its own process, as in the benchmark proper: a second
# Spark session started in one process fails in the ingest path (a
# null JVM Column inside a select).


def _smoke(workload: str, trace: int, patch: str) -> dict:
    code = (
        f"import sys; sys.path[:0] = [{BENCH!r}, {ROOT!r}]; import run, {workload}; {patch}; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', "
        f"'--seconds', '1', '--trace', '{trace}']))"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    doc = harness.benchmark()
    names = [m["name"] for m in doc["per_layer" if trace else "end_to_end"]]
    assert list(result["metrics"]) == names
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], float)
    return result["metrics"]


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_ingest(trace):
    got = _smoke("ingest", trace, "ingest.FLOWS_PER_BATCH = 300; ingest.EARLIER_FLOWS = 200")
    if trace:
        assert got["streaming.state_rows"]["value"] > 0
        assert got["sources.decode_yield"]["value"] == 1.0
        assert got["plans.build_rollups_s"]["value"] > 0
        assert got["oracle.build_s"]["value"] == 0.0  # idle layer
    else:
        assert all(m["value"] > 0 for m in got.values())


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_registry(trace):
    got = _smoke("registry", trace, "registry.SUBSET = ('sankey_2dim', 'docs_chunking'); "
                                    "registry.WARMUP_PASSES = 0")
    if trace:
        assert got["oracle.docs_chunking_s"]["value"] > 0
        assert got["spark.jobs"]["value"] > 0
        assert got["sources.decode_s"]["value"] == 0.0  # idle layer
    else:
        assert all(m["value"] > 0 for m in got.values())
