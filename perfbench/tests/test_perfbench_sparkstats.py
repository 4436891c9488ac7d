"""Status-store value parsing and aggregation, without Spark."""

from __future__ import annotations

import json

import pytest

from perfbench.sparkstats import (
    boundary_totals,
    max_task_share,
    parse_metric_value,
    read_runner_phases,
    runner_split,
    stage_totals,
)

MULTI = "total (min, med, max (stageId: taskId))\n{} (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 3.0: task 8))"


@pytest.mark.parametrize(
    "text, expected",
    [
        ("100,000", 100_000.0),
        ("7", 7.0),
        ("0.0 B", 0.0),
        ("968.0 B", 968.0),
        ("46.6 KiB", 46.6 * 1024),
        ("1,024.5 MiB", 1024.5 * (1 << 20)),
        ("2.0 GiB", 2.0 * (1 << 30)),
        ("12 ms", 12.0),
        ("9.8 s", 9800.0),
        (MULTI.format("25.2 KiB"), 25.2 * 1024),
        ("total (min, med, max (stageId: taskId))\n1.2 s (302 ms, 310 ms, 313 ms (stage 0.0: task 1))", 1200.0),
        ("", 0.0),
        ("n/a", 0.0),
    ],
)
def test_parse_metric_value(text, expected):
    assert parse_metric_value(text) == pytest.approx(expected)


def test_max_task_share():
    assert max_task_share([1, 1, 2]) == pytest.approx(0.5)
    assert max_task_share([5]) == 1.0
    assert max_task_share([]) == 0.0
    assert max_task_share([0, 0]) == 0.0


def test_stage_totals_units():
    stages = [
        {"tasks": 4, "run_ms": 1500, "cpu_ns": 2_000_000_000, "gc_ms": 100,
         "shuffle_read": 3_000_000, "shuffle_write": 1_000_000, "spill_disk": 0},
        {"tasks": 1, "run_ms": 500, "cpu_ns": 500_000_000, "gc_ms": 0,
         "shuffle_read": 0, "shuffle_write": 2_000_000, "spill_disk": 5_000_000},
    ]
    t = stage_totals(stages)
    assert t == {
        "stages": 2, "tasks": 5, "executor_run_s": pytest.approx(2.0),
        "executor_cpu_s": pytest.approx(2.5), "jvm_gc_s": pytest.approx(0.1),
        "shuffle_read_mb": pytest.approx(3.0), "shuffle_write_mb": pytest.approx(3.0),
        "spill_mb": pytest.approx(5.0),
    }
    assert stage_totals([])["stages"] == 0


def test_boundary_totals_reads_only_python_nodes():
    nodes = [
        ("MapInPandas", {
            "number of output rows": "1,000",
            "data sent to Python workers": MULTI.format("2.0 MiB"),
            "data returned from Python workers": "1.0 MiB",
        }),
        ("ArrowEvalPythonUDTF", {"number of output rows": "10"}),
        ("HashAggregate", {"number of output rows": "99"}),
        ("Exchange", {"data size": "5.0 MiB"}),
    ]
    b = boundary_totals(nodes)
    assert b["py_rows_out"] == 1010
    assert b["py_sent_mb"] == pytest.approx(2 * (1 << 20) / 1e6)
    assert b["py_recv_mb"] == pytest.approx((1 << 20) / 1e6)


def test_runner_split_and_sidecar(tmp_path):
    phases = {"runner_start": 100.5, "spark_ready": 108.5, "job_submitted": 111.0, "job_done": 115.0}
    assert runner_split(phases, submitted_at=100.0) == {
        "runner_spawn_s": pytest.approx(0.5),
        "runner_boot_s": pytest.approx(8.0),
        "runner_job_s": pytest.approx(6.5),
    }
    (tmp_path / "job-1").mkdir()
    (tmp_path / "job-1" / "runner_phases.json").write_text(json.dumps(phases))
    assert read_runner_phases(str(tmp_path), "job-1") == phases
    assert read_runner_phases(str(tmp_path), "missing") is None
