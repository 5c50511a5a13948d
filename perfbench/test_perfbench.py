"""Self-tests of the benchmark at toy size (20 objects, sf0.001, 2 keys).

    python3 -m pytest perfbench -q

Each test runs ``run.py`` in a subprocess, the way the benchmark is run,
and reads its last output line.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import PANEL_KEYS, TOY  # noqa: E402


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p, lines


def _tagged(lines, tag: str):
    """The JSON after ``tag`` on the first line that starts with it."""
    return next((json.loads(l[len(tag) + 1:]) for l in lines if l.startswith(tag + " ")), None)


@functools.lru_cache(maxsize=None)
def _result(workload: str, trace: int, *extra: str):
    p, lines = _run(workload, trace, "--toy", *extra)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(lines[-1]), _tagged(lines, "detail"), p.stderr


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _assert_metrics(result, entries):
    want = {e["name"]: e["unit"] for e in entries}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want
    for n, m in result["metrics"].items():
        assert isinstance(m["value"], float), n


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer", op=True) as outer:
        with tr.span("inner") as inner:
            pass
    selfs = tr.self_times()
    assert selfs[inner.id] == pytest.approx(inner.dur)
    assert selfs[outer.id] == pytest.approx(outer.dur - inner.dur)
    assert inner.parent == outer.id and inner.op == outer.id


def test_verb_cycle_untraced_is_correct():
    result, detail, _ = _result("verb_cycle", 0)
    _assert_metrics(result, _spec()["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert detail["ops_failed_ratio"] == 0.0
    assert all(detail[f"verbs.{v}_s"] > 0 for v in ("publish", "ingest", "move", "remove"))


def test_verb_cycle_traced_catches_a_corrupted_byte():
    result, _, err = _result("verb_cycle", 1, "--fault", "verb_byte")
    _assert_metrics(result, _spec()["per_layer"])
    m = {n: v["value"] for n, v in result["metrics"].items()}
    assert result["failed"] >= 1 and not result["correct"]
    assert m["ops_failed_ratio"] > 0
    assert "differs from its source" in err
    assert m["fs.copy_calls"] > 0 and m["fs.list_entries"] > 0
    assert abs(m["trace.verb_step_coverage"] - 1) <= 0.1


def test_query_panel_traced_is_correct():
    result, _, _ = _result("query_panel", 1)
    _assert_metrics(result, _spec()["per_layer"])
    m = {n: v["value"] for n, v in result["metrics"].items()}
    assert result["correct"] and m["ops_failed_ratio"] == 0.0
    assert m["query.agg_groupby.build_s"] > 0 and m["panel.stages"] > 0
    assert m["etl.output_files"] > 0 and m["etl.write_jobs"] > 0
    # taken from the sink's own execution, through the listener
    assert m["catalyst.planning_ms"] > 0 and m["query.agg_groupby.exchanges"] > 0
    assert abs(m["trace.key_step_coverage"] - 1) <= 0.1


def test_every_per_layer_metric_is_measured_by_a_workload():
    runs = [_result("verb_cycle", 1, "--fault", "verb_byte"), _result("query_panel", 1)]
    unmeasured = [set(_tagged(err.splitlines(), "unmeasured")) for _, _, err in runs]
    off_toy = {
        f"query.{k}.{m}"
        for k in PANEL_KEYS if k not in TOY.panel_keys
        for m in ("build_s", "build_jobs", "sink_s", "shuffle_bytes", "exchanges")
    }
    assert set.intersection(*unmeasured) <= off_toy


def test_query_panel_catches_a_wrong_oracle_row():
    result, detail, err = _result("query_panel", 0, "--fault", "oracle_row")
    assert result["failed"] >= 1 and not result["correct"]
    assert detail["ops_failed_ratio"] > 0
    assert "row mismatch" in err or "row count" in err


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_*", "__pycache__"))
    p, lines = _run("verb_cycle", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not (lines and lines[-1].startswith("{"))
