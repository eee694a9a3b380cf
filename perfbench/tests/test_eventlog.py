"""The event-log reducer on a canned log: one grouped job whose SQL
execution is re-planned adaptively, and one job outside any group."""

from __future__ import annotations

import os

import pytest

from eventlog import Trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def trace():
    return Trace.from_file(LOG)


def test_task_metrics_roll_up_per_group(trace):
    g1 = trace.get("g1")
    assert g1["jobs"] == 1
    assert g1["tasks"] == 2
    assert g1["cpu_s"] == pytest.approx(3.0)
    assert g1["run_s"] == pytest.approx(2.0)
    assert g1["shuffle_write_bytes"] == 1000
    assert g1["shuffle_read_bytes"] == 1000
    assert g1["spill_bytes"] == 15
    assert g1["input_bytes"] == 400


def test_ungrouped_jobs_fall_under_empty_group(trace):
    other = trace.get("")
    assert other["jobs"] == 1
    assert other["tasks"] == 1
    assert other["cpu_s"] == pytest.approx(0.5)


def test_plan_metrics_from_task_and_driver_updates(trace):
    g1 = trace.get("g1")
    assert g1["op.HashAggregate.number of output rows"] == 7
    assert g1["op.HashAggregate.spill size"] == 64
    assert g1["op.Exchange.shuffle bytes written"] == 1000
    assert g1["op.Scan.size of files read"] == 4096


def test_operator_counts_come_from_the_final_plan(trace):
    g1 = trace.get("g1")
    assert g1["op.Exchange.count"] == 1
    assert g1["op.ShuffleQueryStage.count"] == 1
    assert g1["op.AdaptiveSparkPlan.count"] == 1


def test_scans_match_their_location(trace):
    assert trace.scans_of("g1", "src.parquet") == 1
    assert trace.scans_of("g1", "other.parquet") == 0
    assert trace.scans_of("missing", "src.parquet") == 0


def test_merged_sums_groups(trace):
    both = trace.merged("g1", "")
    assert both["jobs"] == 2
    assert both["cpu_s"] == pytest.approx(3.5)
    assert trace.get("missing") == {}
