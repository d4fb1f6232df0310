"""The bench's job-count pins: every headline lane carries a
``jobs_max``, and the count the bench records is the one a lane's run
really submits."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
import bench


def test_every_headline_lane_pins_its_jobs():
    missing = [q for q in bench.HEADLINE if "jobs_max" not in bench.PLAN_PINS.get(q, {})]
    assert missing == []


@pytest.mark.parametrize("lane, jobs", [("q_filter_regex", 2), ("q_group_counts", 3)])
def test_timed_reps_counts_one_runs_jobs(spark, sf_dir, lane, jobs):
    fn = {**entrymod.queries(), **entrymod.extra_queries()}[lane]
    fn(spark, sf_dir).count()  # the bench's untimed warm-up
    walls, _, n, got = bench.timed_reps(spark, lane, fn, sf_dir, reps=2)
    assert len(walls) == 2 and n > 0
    assert got == jobs == bench.PLAN_PINS[lane]["jobs_max"]
