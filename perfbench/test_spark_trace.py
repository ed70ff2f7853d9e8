"""Tests of the benchmark's trace arithmetic on synthetic stage lists.

    python3 -m pytest perfbench/test_spark_trace.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import tail  # noqa: E402
from spark_trace import StageInfo, covered_s, flag_underfanned, heavy_stage, max_task_share  # noqa: E402


def stage(sid, tasks, run_s, task_run=None):
    return StageInfo(stage_id=sid, num_tasks=tasks, run_s=run_s, cpu_s=run_s,
                     task_run_s=task_run or [run_s / tasks] * tasks)


def test_flags_single_task_heavy_stage():
    # gopher_repetition on sf0.1: a 1-task stage carrying ~10 s of work
    stages = [stage(0, 1, 0.05), stage(1, 1, 9.8), stage(2, 4, 0.4)]
    assert heavy_stage(stages).stage_id == 1
    assert flag_underfanned(stages, default_parallelism=4)


def test_no_flag_when_heavy_stage_is_fanned_out():
    stages = [stage(0, 1, 0.05), stage(1, 4, 9.8)]
    assert not flag_underfanned(stages, default_parallelism=4)


def test_no_flag_on_one_core_or_light_stage():
    assert not flag_underfanned([stage(1, 1, 9.8)], default_parallelism=1)
    # a single-task stage with little work is not the failure shape
    assert not flag_underfanned([stage(1, 1, 0.2)], default_parallelism=4)
    assert not flag_underfanned([], default_parallelism=4)


def test_max_task_share_of_skewed_stage():
    s = stage(1, 4, 4.0, task_run=[2.5, 0.5, 0.5, 0.5])
    assert max_task_share(s) == 2.5 / 4.0
    assert max_task_share(stage(2, 1, 1.0)) == 1.0
    assert max_task_share(None) == 0.0


def test_covered_merges_overlaps_and_clips():
    assert covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered_s([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_s([], 0, 10) == 0


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    v, pct, n = tail(xs)
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in xs) == 10
    assert tail([3.0, 1.0, 2.0])[:2] == (3.0, 100.0)
