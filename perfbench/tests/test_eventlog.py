"""The event-log fold on a checked-in three-job log: one plan-build job, one
materialize job that reuses the build job's stage, and one job without a
group. Run with ``python3 -m pytest perfbench/tests``."""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold(eventlog.read_events(str(HERE / "fixtures" / "tiny_eventlog.jsonl")))


def test_groups_present(groups):
    assert set(groups) == {"p0:q5:build", "p0:q5:exec", ""}
    assert all(set(v) == set(eventlog.FIELDS) for v in groups.values())


def test_build_group(groups):
    g = groups["p0:q5:build"]
    assert (g["jobs"], g["stages"], g["tasks"], g["sql_executions"]) == (1, 1, 2, 1)
    assert g["executor_run_s"] == pytest.approx(0.57)
    assert g["executor_cpu_s"] == pytest.approx(0.3)
    assert g["gc_s"] == pytest.approx(0.01)
    assert g["shuffle_write_bytes"] == 800
    assert g["shuffle_read_bytes"] == 0
    assert g["task_skew"] == pytest.approx(0.4 / 0.3)
    assert g["slowest_stage_s"] == pytest.approx(0.6)


def test_reused_stage_stays_with_the_job_that_ran_it(groups):
    g = groups["p0:q5:exec"]
    # stage 0 is listed by the exec job too, but ran under the build job
    assert (g["jobs"], g["stages"], g["tasks"], g["sql_executions"]) == (1, 1, 3, 1)
    assert g["shuffle_write_bytes"] == 0
    assert g["shuffle_read_bytes"] == 800  # local + remote
    assert g["spill_bytes"] == 96  # memory + disk
    assert g["executor_cpu_s"] == pytest.approx(0.41)
    assert g["gc_s"] == pytest.approx(0.025)
    assert g["task_skew"] == pytest.approx(4.0)


def test_ungrouped_job(groups):
    g = groups[""]
    assert (g["jobs"], g["stages"], g["tasks"], g["sql_executions"]) == (1, 1, 1, 0)
    assert g["task_skew"] == 1.0
