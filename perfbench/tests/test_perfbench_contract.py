"""BENCHMARK.json agrees with the code, and inputs and checks are
deterministic."""

from __future__ import annotations

import json
import os

from perfbench import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_match_the_code():
    b = _bench()
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_seeded_inputs_are_deterministic_and_seed_dependent():
    assert workloads.seeded_ints(3, 0, 50) == workloads.seeded_ints(3, 0, 50)
    assert workloads.seeded_ints(3, 0, 50) != workloads.seeded_ints(4, 0, 50)
    assert workloads.seeded_ints(3, 0, 50) != workloads.seeded_ints(3, 1, 50)
    p = workloads.seeded_payloads(5, 2, 300)
    assert p == workloads.seeded_payloads(5, 2, 300)
    assert len(set(p)) == 300
    assert all(768 <= len(x) <= 1280 for x in p)


def test_mismatches_is_an_exact_multiset_check():
    assert workloads.mismatches([1, 2, 2, 3], [3, 2, 1, 2]) == 0
    assert workloads.mismatches([1, 2, 3], [1, 2]) == 1  # missing
    assert workloads.mismatches([1, 2, 3], [1, 2, 4]) == 1  # wrong
    assert workloads.mismatches([1, 2], [1, 2, 2]) == 1  # duplicated
    assert workloads.mismatches([1, 2], []) == 2


def test_job_count_is_fixed_by_seconds():
    wl = workloads.RpmStream()
    assert wl.jobs_for(0.1) == 1
    assert wl.jobs_for(wl.job_s * 6) == 6


def _cpu(readings, monkeypatch):
    from perfbench import host

    it = iter(readings)
    monkeypatch.setattr(host, "cpu_times", lambda: next(it))


class _Jobs(workloads.Workload):
    """Records the job indices it ran; each job takes 1 s."""

    def __init__(self) -> None:
        self.ran: list[int] = []

    def job(self, b, i, region):
        self.ran.append(i)
        region.attempted += 1
        region.op_walls.append(float(len(self.ran)))


def test_a_stolen_job_runs_once_more_and_the_less_stolen_attempt_is_kept(monkeypatch):
    # (busy, stolen) readings: job 0 loses half its CPU, its rerun none
    _cpu([(0, 0), (1, 1), (1, 1), (2, 1), (2, 1), (3, 1)], monkeypatch)
    wl = _Jobs()
    region = workloads.run_region(wl, workloads.Bench(None, 1), 2, retries=1)
    assert wl.ran == [0, 0, 1]
    assert region.retried == 1 and region.attempted == 3
    assert region.op_walls == [2.0, 3.0] and region.stolen == [0.0, 0.0]


def test_retries_are_capped(monkeypatch):
    _cpu([(0, 0), (1, 1), (1, 1), (2, 2), (2, 2), (3, 3)], monkeypatch)
    wl = _Jobs()
    region = workloads.run_region(wl, workloads.Bench(None, 1), 2, retries=1)
    assert wl.ran == [0, 0, 1] and region.retried == 1
    assert region.op_walls == [1.0, 3.0]  # equal steal: the first attempt stays


def test_stolen_share_is_of_the_cpu_time_asked_for():
    from perfbench import host

    assert host.stolen_share((10.0, 1.0), (13.0, 2.0)) == 0.25
    assert host.stolen_share((1.0, 1.0), (1.0, 1.0)) == 0.0
