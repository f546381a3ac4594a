"""Tests of the benchmark's own arithmetic, on tiny fixed inputs.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__))]

from probes import covered_s, new_entries, self_times, stage_totals  # noqa: E402


def _stage(sid, start_ms, end_ms, run_ms, cpu_ns, status="COMPLETE", attempt=0, tasks=2):
    return {
        "stageId": sid,
        "attemptId": attempt,
        "status": status,
        "numTasks": tasks,
        "submissionTime": start_ms,
        "completionTime": end_ms,
        "executorRunTime": run_ms,
        "executorCpuTime": cpu_ns,
        "inputBytes": 10,
        "shuffleWriteBytes": 5,
        "diskBytesSpilled": 1,
        "memoryBytesSpilled": 2,
        "outputBytes": 0,
    }


def test_stage_diff_keeps_only_new_stage_attempts():
    before = [_stage(1, 0, 1, 1, 1), _stage(2, 0, 1, 1, 1)]
    after = before + [_stage(2, 5, 6, 1, 1, attempt=1), _stage(3, 5, 6, 1, 1)]
    got = new_entries(before, after, ("stageId", "attemptId"))
    assert [(s["stageId"], s["attemptId"]) for s in got] == [(2, 1), (3, 0)]


def test_covered_merges_overlaps_and_clips():
    # [0,2] and [1,3] overlap -> [0,3]; [5,20] clipped to [5,10]
    assert covered_s([(1, 3), (0, 2), (5, 20)], 0, 10) == pytest.approx(8.0)
    assert covered_s([], 0, 10) == 0.0
    assert covered_s([(-5, -1)], 0, 10) == 0.0


def test_driver_gap_and_busy_share():
    # op from t=100 s to t=110 s on 4 slots; stages cover 101-103 and
    # 102-106 (union 5 s), a skipped stage is ignored
    stages = [
        _stage(1, 101_000, 103_000, run_ms=4_000, cpu_ns=3_000_000_000),
        _stage(2, 102_000, 106_000, run_ms=12_000, cpu_ns=2_000_000_000),
        _stage(3, 100_000, 110_000, run_ms=0, cpu_ns=0, status="SKIPPED"),
    ]
    m = stage_totals(stages, 100.0, 110.0, slots=4)
    assert m["stages"] == 2
    assert m["tasks"] == 4
    assert m["driver_gap_s"] == pytest.approx(5.0)
    assert m["exec_run_s"] == pytest.approx(16.0)
    assert m["exec_cpu_s"] == pytest.approx(5.0)
    assert m["exec_wait_s"] == pytest.approx(11.0)
    assert m["busy_share"] == pytest.approx(16.0 / (10.0 * 4))
    assert m["spill_bytes"] == 6


def test_running_stage_counts_until_op_end():
    m = stage_totals([_stage(1, 108_000, None, 0, 0, status="ACTIVE")], 100.0, 110.0, 1)
    assert m["driver_gap_s"] == pytest.approx(8.0)


def test_span_self_time_subtracts_child_union():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps child 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},  # grandchild: not 0's
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_fact_generator_is_seeded():
    gen = pytest.importorskip("gen")
    a, b = gen.immigration_frame(7, 500), gen.immigration_frame(7, 500)
    assert a.equals(b)
    assert not a.equals(gen.immigration_frame(8, 500))
    # the fixture's dirty-data traits are present
    assert (a["arrdate"] == 0).any() and a["arrdate"].isna().any()
    assert (a["i94port"] == "ZZZ").any() and (a["i94addr"] == "XX").any()
