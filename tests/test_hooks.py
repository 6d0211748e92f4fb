"""Hooks (§2.9): function registry, TablesAffected DSL, conditional finish
SQL, shell event hooks, and their wiring into the uploader."""

from __future__ import annotations

import pytest

from linz_bde_uploader_spark.meta.store import MetaStore
from linz_bde_uploader_spark.plans.hooks import (
    EventHooks,
    HookContext,
    HookRegistry,
    run_finish_sql,
    tables_affected,
)


class FakeClock:
    def __init__(self, t=1_000_000.0):
        self.t = t

    def __call__(self):
        return self.t


def _store_with_loads(tmp_path):
    """upl 1 loads roads (level 0, 5 inserts) and parcels (level 5,
    0 changes — loaded but not affected)."""
    m = MetaStore(str(tmp_path / "meta"), clock=FakeClock())
    u = m.create_upload()
    roads = m.register_table("roads")
    parcels = m.register_table("parcels")
    m.record_load(roads, u, "20240101000000", "0", False, ninsert=5)
    m.record_load(parcels, u, "20240101000000", "5", True)  # all-zero counters
    return m, u


def test_registry_runs_in_name_order_and_wraps_failures():
    reg = HookRegistry()
    ran = []
    reg.register("bde_postlevel0_b_second", lambda ctx: ran.append("b"))
    reg.register("bde_postlevel0_a_first", lambda ctx: ran.append("a"))
    reg.register("bde_postupload_x", lambda ctx: ran.append("x"))
    ctx = HookContext(1, None)
    assert reg.run_post_level0(ctx) == 2
    assert ran == ["a", "b"]
    assert reg.run_post_upload(ctx) == 1

    def boom(ctx):
        raise ValueError("nope")

    reg.register("bde_postupload_boom", boom)
    with pytest.raises(RuntimeError, match="bde_postupload_boom failed"):
        reg.run_post_upload(ctx)


def test_tables_affected_dsl(tmp_path):
    m, u = _store_with_loads(tmp_path)
    # 'affected' (default): roads yes (5 inserts), parcels no (all zero)
    assert tables_affected(m, u, ["roads"], "")
    assert not tables_affected(m, u, ["parcels"], "")
    # 'loaded': parcels counts (a stats row exists)
    assert tables_affected(m, u, ["parcels"], "loaded")
    # all vs any over a mixed list
    assert not tables_affected(m, u, ["roads", "parcels"], "all")
    assert tables_affected(m, u, ["roads", "parcels"], "any")
    # level0: only level-0 rows count -> parcels' level-5 row is invisible
    assert not tables_affected(m, u, ["parcels"], "any level0 loaded")
    assert tables_affected(m, u, ["roads"], "level0")
    # level0_dataset requires the upload itself to contain a level-0 load
    assert tables_affected(m, u, ["roads"], "level0_dataset")
    # unknown table -> False
    assert not tables_affected(m, u, ["ghost"], "loaded")


def test_tables_affected_level0_dataset_gate(tmp_path):
    m = MetaStore(str(tmp_path / "meta"), clock=FakeClock())
    u = m.create_upload()
    t = m.register_table("roads")
    m.record_load(t, u, "20240102000000", "5", True, ninsert=1)
    # level-5-only upload: level0_dataset guard fails outright
    assert not tables_affected(m, u, ["roads"], "level0_dataset loaded")


def test_run_finish_sql_guards_and_substitution(tmp_path):
    m, u = _store_with_loads(tmp_path)
    ran = []
    sql = (
        "UPDATE x SET done = {id};"
        "if roads affected ? REFRESH MATERIALIZED VIEW mv_{id};"
        "if parcels affected ? SHOULD NOT RUN;"
        "if any roads parcels loaded ? ANALYZE both"
    )
    out = run_finish_sql(sql, ran.append, m, u)
    assert out == ran
    assert ran == [
        f"UPDATE x SET done = {u}",
        f"REFRESH MATERIALIZED VIEW mv_{u}",
        "ANALYZE both",
    ]

    def failing(cmd):
        raise ValueError("db down")

    with pytest.raises(RuntimeError, match="Cannot run finishing SQL"):
        run_finish_sql("SELECT 1", failing, m, u)


def test_event_hooks_fire(tmp_path):
    out = tmp_path / "fired.txt"
    h = EventHooks(commands={
        "start_dataset": f"echo {{id}} {{dataset}} {{level}} >> {out}"})
    assert h.fire("start_dataset", 3, "20240101000000", "5")
    assert out.read_text().strip() == "3 20240101000000 5"
    # no upload id -> no event (reference guard)
    assert not h.fire("start_dataset", None, "x", "0")
    # unconfigured event -> no-op
    assert not h.fire("finish", 3)


def test_uploader_fires_hooks(spark, tmp_path):
    from tests.test_meta_discovery_sinks import UPLOADER_CONF, _write_repo
    from linz_bde_uploader_spark.plans.uploader import BdeUploader, parse_tables_conf

    repo = _write_repo(tmp_path)
    meta = MetaStore(str(tmp_path / "meta"))
    reg = HookRegistry()
    calls = []
    reg.register("bde_postlevel0_mark", lambda ctx: calls.append(("l0", ctx.upload_id)))
    reg.register("bde_postupload_mark", lambda ctx: calls.append(("post", ctx.upload_id)))
    sql_ran = []
    up = BdeUploader(
        spark, repo, str(tmp_path / "tables"), meta,
        parse_tables_conf(UPLOADER_CONF),
        registry=reg,
        finish_sql="if crs_parcel_bndry affected ? NOTE {id}",
        sql_runner=sql_ran.append,
    )
    up.run_level0()
    assert calls == [("l0", 1), ("post", 1)]
    assert sql_ran == ["NOTE 1"]
    calls.clear()
    sql_ran.clear()
    up.run_level5()
    assert calls == [("post", 2)]  # no level-0 functions on a level-5 run
    assert sql_ran == ["NOTE 2"]
