"""The event-log rollup on a small hand-written log."""

import os

from spans import GroupStats, rollup_eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.json")


def test_rollup_sums_jobs_stages_and_task_metrics_per_job_group():
    groups = rollup_eventlog(FIXTURE)
    assert groups == {
        # two jobs; stage 2 of job 1 was skipped (never submitted), so it
        # counts no stage and no tasks
        "ub.s0": GroupStats(jobs=2, stages=3, tasks=7, executor_run_ms=2050,
                            shuffle_write_bytes=5000, spill_bytes=400),
        # the failed first attempt of stage 4 never completed: only the
        # retry counts
        "ub.p0": GroupStats(jobs=1, stages=1, tasks=1, executor_run_ms=70),
        None: GroupStats(jobs=1, stages=1, tasks=1, executor_run_ms=9),
    }
