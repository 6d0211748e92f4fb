"""The generator's expected counters and rows against real uploader calls at
a small scale, the output check itself, and the traced-run rollup.

Starts one local Spark session for the module (about 15 s). Run with::

    python3 -m pytest uploader_bench/tests -q -p no:cacheprovider
"""

import time

import pytest

import run

N_ORDERS = 1500  # TPC-H sf0.001: lineitem gets 6,000 rows


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    s = run.Session(str(tmp_path_factory.mktemp("session")), trace=True)
    yield s
    if s.sc._jsc is not None:
        s.stop()


@pytest.fixture
def lap(session, tmp_path, request):
    return run.Lap(session, request.param, 11, str(tmp_path), n_orders=N_ORDERS)


@pytest.mark.parametrize("lap", ["l5_merge", "l0_diff"], indirect=True)
def test_uploader_produces_the_expected_counters_and_rows(lap):
    first, second = lap.call(), lap.call()
    assert lap.failures == []
    # the restore makes every call repeat the same Spark work
    assert first["jobs"] == second["jobs"] > 0
    assert first["target_bytes"] > 0 and first["meta_bytes"] > 0


@pytest.mark.parametrize("lap", ["l0_diff"], indirect=True)
def test_check_reports_wrong_counters_and_wrong_rows(lap):
    table, ds, ins, upd, nul, dele = lap.plan.expected_reports[0]
    lap.plan.expected_reports[0] = (table, ds, ins, upd + 1, nul, dele)
    lap.call()
    assert len(lap.failures) == 1 and "counters" in lap.failures[0]
    lap.plan.expected_reports[0] = (table, ds, ins, upd, nul, dele)
    lap.digests[table] = (lap.digests[table][0], lap.digests[table][1] + 1)
    lap.call()
    assert len(lap.failures) == 2 and "committed (rows, hash)" in lap.failures[1]


@pytest.mark.parametrize("lap", ["l5_merge"], indirect=True)
def test_traced_rollup_emits_every_layer_metric(lap):
    # per_layer stops the session to flush the event log: keep this test last
    metrics = run.per_layer(lap, time.perf_counter(), 0.0)
    assert lap.failures == []
    assert set(metrics) == set(run.PER_LAYER) | set(run.INVARIANTS)
    assert metrics["trace.counts_repeat"] == 1
    assert metrics["crs.read_jobs"] > 0 and metrics["target.stage_jobs"] > 0
    assert metrics["diff.merge_stats_jobs"] > 0 and metrics["meta.calls"] > 0
    table_days = len(lap.gen.SCHEMAS) * len(lap.gen.L5_NAMES)
    assert metrics["tolerance.checks"] == table_days
    assert 0 < metrics["diff.useful_frac"] <= 1
    assert metrics["crs.bad_rows"] == table_days * lap.gen.BAD_ROWS_L5
