"""Tests for the metadata store (S6, C1–C8), dataset discovery (S3, P11),
sinks (S4/S5), config parsing (P12), continuity check, and the end-to-end
uploader run loop — modeled on the reference's own e2e corpus
(t/linz_bde_uploader.t): golden first load, watermark no-op rerun,
level-5 I/U/D merge with exact stats, tolerance abort, missing change
table error.
"""

from __future__ import annotations

import os

import pytest

from linz_bde_uploader_spark.meta.store import (
    ActiveUploadError,
    MetaStore,
    TableLockedError,
)
from linz_bde_uploader_spark.operators.tolerance import RowToleranceError
from linz_bde_uploader_spark.plans import discovery
from linz_bde_uploader_spark.plans.uploader import (
    BdeUploader,
    ConfigError,
    ContinuityError,
    TableDef,
    check_start_date,
    parse_tables_conf,
    parse_upload_details,
    select_tables,
)
from linz_bde_uploader_spark.sinks.target import ParquetTarget


# ---------------------------------------------------------------------------
# metadata store
# ---------------------------------------------------------------------------


class FakeClock:
    def __init__(self, t=1_000_000.0):
        self.t = t

    def __call__(self):
        return self.t


def test_upload_lifecycle_and_single_writer_gate(tmp_path):
    clk = FakeClock()
    m = MetaStore(str(tmp_path / "meta"), clock=clk)
    # a fresh store needs no bootstrap: every control table reads empty
    assert m._read("upload") == []
    u1 = m.create_upload()
    assert u1 == 1
    # C1: second concurrent upload refused
    with pytest.raises(ActiveUploadError):
        m.create_upload()
    # override-locks expires the active job and proceeds
    u2 = m.create_upload(override_locks=True)
    assert u2 == 2
    m.finish_upload(u2, ok=True)
    rows = {r["id"]: r["status"] for r in m._read("upload")}
    assert rows == {1: "E", 2: "C"}


def test_zombie_release_and_purge(tmp_path):
    clk = FakeClock()
    m = MetaStore(str(tmp_path / "meta"), clock=clk)
    u1 = m.create_upload()
    tbl = m.register_table("roads", key_column="id")
    m.acquire_table_lock(tbl, u1)
    # C5: after the expiry window the zombie is released, locks freed
    clk.t += 4 * 3600
    released = m.release_expired(expiry_hours=3.0)
    assert released == [u1]
    assert m._read("upload_table")[0]["upl_id_lock"] is None
    # C6: old finished jobs purge, orphan stats dropped
    m.record_load(tbl, u1, "20240101000000", "0", False, ninsert=5)
    clk.t += 8 * 86400
    assert m.purge_old(expiry_days=7.0) == 1
    assert m._read("upload") == []
    assert m._read("upload_stats") == []


def test_table_lock_conflict(tmp_path):
    m = MetaStore(str(tmp_path / "meta"), clock=FakeClock())
    u1 = m.create_upload()
    u2 = m.create_upload(allow_concurrent=True)
    tbl = m.register_table("roads")
    m.acquire_table_lock(tbl, u1)
    with pytest.raises(TableLockedError):
        m.acquire_table_lock(tbl, u2)
    m.acquire_table_lock(tbl, u2, force=True)  # force-steal path


def test_record_load_advances_watermarks(tmp_path):
    m = MetaStore(str(tmp_path / "meta"), clock=FakeClock())
    u = m.create_upload()
    tbl = m.register_table("roads", key_column="id",
                           row_tol_error=0.2, row_tol_warning=0.95)
    m.record_load(tbl, u, "20240101000000", "0", False, ninsert=10,
                  details="BdeUpload rds 2024-01-01 00:00:00")
    st = m.table_status("ROADS")  # case-insensitive lookup
    assert st.last_level0_dataset == "20240101000000"
    assert st.last_upload_dataset == "20240101000000"
    assert st.last_upload_type == "0"
    m.record_load(tbl, u, "20240102000000", "5", True, nupdate=2)
    st = m.table_status("roads")
    assert st.last_upload_dataset == "20240102000000"
    assert st.last_level0_dataset == "20240101000000"  # level 0 mark sticks
    stats = m._read("upload_stats")
    assert [s["dataset"] for s in stats] == ["20240101000000", "20240102000000"]
    assert stats[0]["ninsert"] == 10 and stats[1]["nupdate"] == 2


# ---------------------------------------------------------------------------
# discovery
# ---------------------------------------------------------------------------


def _mk_repo(tmp_path, level, names, files=("rds",)):
    for n in names:
        d = tmp_path / f"level_{level}" / n
        d.mkdir(parents=True, exist_ok=True)
        for f in files:
            (d / f"{f}.crs").write_text("HEDR x\n{CRS-DATA}\n1|\n")
    return str(tmp_path)


def test_list_and_pending(tmp_path):
    repo = _mk_repo(tmp_path, "0", ["20240101000000", "20240201000000", "junk"])
    ds = discovery.list_datasets(repo, "0")
    assert [d.name for d in ds] == ["20240101000000", "20240201000000"]
    # -before keeps strictly-older datasets; bare date normalized (P11)
    ds_b = discovery.list_datasets(repo, "0", before="20240201")
    assert [d.name for d in ds_b] == ["20240101000000"]
    # level 0: latest only, watermark-gated
    assert [d.name for d in discovery.pending_level0(ds, None)] == ["20240201000000"]
    assert discovery.pending_level0(ds, "20240201000000") == []
    assert [d.name for d in discovery.pending_level0(ds, "20240201000000", rebuild=True)] \
        == ["20240201000000"]
    # level 5: all after watermark in order
    repo5 = _mk_repo(tmp_path, "5", ["20240105000000", "20240110000000"])
    d5 = discovery.list_datasets(repo5, "5")
    assert [d.name for d in discovery.pending_level5(d5, "20240105000000")] \
        == ["20240110000000"]
    assert [d.name for d in discovery.pending_level5(d5, None, l5_is_full=True)] \
        == ["20240110000000"]


def test_completeness_gates_pending(tmp_path):
    repo = _mk_repo(tmp_path, "0", ["20240101000000"])
    incomplete = tmp_path / "level_0" / "20240301000000"
    incomplete.mkdir(parents=True)
    ds = discovery.list_datasets(str(tmp_path), "0")
    # the newer-but-incomplete dataset is skipped; older complete one loads
    pend = discovery.pending_level0(ds, None, required_files=["rds"])
    assert [d.name for d in pend] == ["20240101000000"]


# ---------------------------------------------------------------------------
# config (P12) + continuity
# ---------------------------------------------------------------------------


CONF = """
# comment
TABLE l5_change_table files xaud
TABLE crs_parcel_bndry key=pri_id row_tol=0.20,0.95 files pab1
TABLE crs_action l0_only key=audit_id files xact
COLUMN audit_id int
COLUMN action varchar
TABLE big_l5 l5_is_full key=id files big
"""


def test_parse_tables_conf():
    defs = parse_tables_conf(CONF)
    assert [d.name for d in defs] == [
        "l5_change_table", "crs_parcel_bndry", "crs_action", "big_l5"]
    pab = defs[1]
    assert pab.key_column == "pri_id" and pab.files == ["pab1"]
    assert pab.row_tol_error == 0.20 and pab.row_tol_warning == 0.95
    assert defs[2].l0_only and defs[2].column_overrides == ["audit_id", "action"]
    assert defs[3].l5_is_full


def test_parse_errors_collected():
    with pytest.raises(ConfigError, match="line 1.*line 2"):
        parse_tables_conf("TABLE t badopt files f\nCOLUMN")


def test_select_tables_subset_exclude_level():
    defs = parse_tables_conf(CONF)
    sub = select_tables(defs, subset=["crs_parcel_bndry"])
    assert [d.name for d in sub] == ["l5_change_table", "crs_parcel_bndry"]
    exc = select_tables(defs, exclude=["crs_action"])
    assert "crs_action" not in [d.name for d in exc]
    l5 = select_tables(defs, level="5")
    assert "crs_action" not in [d.name for d in l5]  # l0_only dropped
    with pytest.raises(ConfigError):
        select_tables(defs, subset=["nope"])


def test_check_start_date_tiers():
    assert check_start_date("2024-01-01 00:00:00", "2024-01-01 00:00:00") == "ok"
    # within warn tolerance
    assert check_start_date("2024-01-01 00:10:00", "2024-01-01 00:00:00",
                            warn_tol_hours=0.5) == "ok"
    # beyond warn
    assert check_start_date("2024-01-01 02:00:00", "2024-01-01 00:00:00",
                            warn_tol_hours=0.5) == "warning"
    # beyond fail -> raises
    with pytest.raises(ContinuityError):
        check_start_date("2024-01-02 00:00:00", "2024-01-01 00:00:00",
                         warn_tol_hours=0.5, fail_tol_hours=2.0)
    # unparseable -> unchecked (reference WARNs and continues)
    assert check_start_date("garbage", "2024-01-01 00:00:00") == "unchecked"


def test_parse_upload_details():
    d = parse_upload_details("BdeUpload pab1 2024-01-01 00:00:00 xact 2024-01-02 03:04:05")
    assert d == {"pab1": "2024-01-01 00:00:00", "xact": "2024-01-02 03:04:05"}
    assert parse_upload_details(None) == {}
    assert parse_upload_details("not a details string") == {}


# ---------------------------------------------------------------------------
# sinks (S4/S5)
# ---------------------------------------------------------------------------


def test_target_replace_and_atomic_versions(spark, tmp_path):
    t = ParquetTarget(str(tmp_path / "tgt"), key="id")
    assert not t.exists()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    stats = t.replace(df)
    assert stats.ninsert == 2
    v1 = t.current_version()
    t.replace(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert t.current_version() != v1
    assert [r.id for r in t.read(spark).collect()] == [3]
    # vacuum keeps the current version
    t.vacuum(keep=1)
    assert t.read(spark).count() == 1


def test_target_incremental_merge_and_tolerance_abort(spark, tmp_path):
    t = ParquetTarget(str(tmp_path / "tgt"), key="id")
    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string")
    t.replace(cur)
    inc = spark.createDataFrame(
        [(1, "a2"), (3, "c"), (4, "d"), (9, "new")], "id long, v string")
    keys = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")
    stats = t.apply_incremental(spark, inc, keys)
    assert (stats.ninsert, stats.nupdate, stats.nnullupdate, stats.ndelete) \
        == (1, 1, 1, 1)
    got = {(r.id, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a2"), (3, "c"), (4, "d"), (9, "new")}

    # error-tier violation aborts; previous version stays live
    empty_inc = spark.createDataFrame([], "id long, v string")
    all_keys = spark.createDataFrame([(i,) for i in [1, 3, 4, 9]], "id long")
    before = t.current_version()
    with pytest.raises(RowToleranceError):
        t.apply_incremental(spark, empty_inc, all_keys, row_tol_error=0.5)
    assert t.current_version() == before
    assert t.read(spark).count() == 4


# ---------------------------------------------------------------------------
# end-to-end uploader (reference t/linz_bde_uploader.t scenarios)
# ---------------------------------------------------------------------------


PAB_L0 = """HEDR 1.0.0
SOFTWARE bde_copy V1.0
SCHEMA bde
USER tester
START 2024-01-01 00:00:00
END 2024-01-01 06:00:00
SQL SELECT * FROM crs_parcel_bndry
TABLE crs_parcel_bndry
COLUMN pri_id integer
COLUMN sequence integer
COLUMN lin_id integer
COLUMN audit_id integer
DESC parcel boundaries
SIZE 100
{CRS-DATA}
1|1|10|1000|
2|1|20|1001|
3|2|30|1002|
"""

# level-5 increment: update pri_id=1 (lin_id 10->11), delete pri_id=2,
# insert pri_id=4,5,6; pri_id=3 declared U but unchanged -> nullupdate
PAB_L5 = """HEDR 1.0.0
SOFTWARE bde_copy V1.0
SCHEMA bde
USER tester
START 2024-01-01 06:00:00
END 2024-01-02 06:00:00
SQL SELECT * FROM crs_parcel_bndry
TABLE crs_parcel_bndry
COLUMN pri_id integer
COLUMN sequence integer
COLUMN lin_id integer
COLUMN audit_id integer
DESC parcel boundaries
SIZE 100
{CRS-DATA}
1|1|11|1000|
3|2|30|1002|
4|2|40|1003|
5|3|50|1004|
6|3|60|1005|
"""

XAUD_L5 = """HEDR 1.0.0
START 2024-01-01 06:00:00
END 2024-01-02 06:00:00
TABLE l5_change_table
COLUMN id integer
COLUMN tablename varchar
COLUMN tablekeyvalue integer
COLUMN action varchar
COLUMN timestamp datetime
{CRS-DATA}
1|CRS_PARCEL_BNDRY|1|U|2024-01-01 12:00:00|
2|crs_parcel_bndry|2|D|2024-01-01 12:00:00|
3|crs_parcel_bndry|3|U|2024-01-01 12:00:00|
4|crs_parcel_bndry|4|I|2024-01-01 12:00:00|
5|crs_parcel_bndry|5|I|2024-01-01 12:00:00|
6|crs_parcel_bndry|6|I|2024-01-01 12:00:00|
7|other_table|99|U|2024-01-01 12:00:00|
"""

UPLOADER_CONF = """
TABLE l5_change_table files xaud
TABLE crs_parcel_bndry key=pri_id row_tol=0.20,0.95 files pab1
"""


def _write_repo(tmp_path):
    l0 = tmp_path / "repo" / "level_0" / "20240101000000"
    l0.mkdir(parents=True)
    (l0 / "pab1.crs").write_text(PAB_L0)
    l5 = tmp_path / "repo" / "level_5" / "20240102000000"
    l5.mkdir(parents=True)
    (l5 / "pab1.crs").write_text(PAB_L5)
    (l5 / "xaud.crs").write_text(XAUD_L5)
    return str(tmp_path / "repo")


def _mk_uploader(spark, tmp_path):
    repo = _write_repo(tmp_path)
    meta = MetaStore(str(tmp_path / "meta"))
    defs = parse_tables_conf(UPLOADER_CONF)
    return BdeUploader(spark, repo, str(tmp_path / "tables"), meta, defs), meta


def test_uploader_level0_golden_and_noop_rerun(spark, tmp_path):
    up, meta = _mk_uploader(spark, tmp_path)
    reports = up.run_level0()
    assert len(reports) == 1 and reports[0].ninsert == 3
    # golden content check (reference t/linz_bde_uploader.t:642-711)
    t = ParquetTarget(str(tmp_path / "tables" / "crs_parcel_bndry"), "pri_id")
    rows = sorted((r.pri_id, r.sequence, r.lin_id, r.audit_id)
                  for r in t.read(spark).collect())
    assert rows == [(1, 1, 10, 1000), (2, 1, 20, 1001), (3, 2, 30, 1002)]
    # watermark no-op rerun (reference :713-725)
    assert up.run_level0() == []
    # rebuild forces a reload
    assert len(up.run_level0(rebuild=True)) == 1


def test_uploader_level5_exact_stats_and_poststate(spark, tmp_path):
    up, meta = _mk_uploader(spark, tmp_path)
    up.run_level0()
    reports = up.run_level5()
    assert len(reports) == 1
    r = reports[0]
    # exact merge counters (reference asserts ninsert=3, ndelete=1,
    # nupdate=2 for its scenario, t/linz_bde_uploader.t:1164-1183; ours:
    # 3 inserts, 1 delete, 1 update, 1 null-update)
    assert (r.ninsert, r.nupdate, r.nnullupdate, r.ndelete) == (3, 1, 1, 1)
    t = ParquetTarget(str(tmp_path / "tables" / "crs_parcel_bndry"), "pri_id")
    rows = sorted((x.pri_id, x.lin_id) for x in t.read(spark).collect())
    assert rows == [(1, 11), (3, 30), (4, 40), (5, 50), (6, 60)]
    # watermark advanced; rerun is a no-op
    assert meta.table_status("crs_parcel_bndry").last_upload_dataset == "20240102000000"
    assert up.run_level5() == []


def test_uploader_full_incremental_restores_mutated_data(spark, tmp_path):
    """-full-incremental re-applies the snapshot as a full-compare diff:
    mutated rows are repaired with exact I/U/D counters instead of a
    blind replace (reference -rebuild restore, t/linz_bde_uploader.t:
    850-906, via ver_apply_table_differences)."""
    up, meta = _mk_uploader(spark, tmp_path)
    up.run_level0()
    # mutate the live table: drop pri_id=3, corrupt pri_id=1's lin_id
    t = ParquetTarget(str(tmp_path / "tables" / "crs_parcel_bndry"), "pri_id")
    mutated = spark.createDataFrame(
        [(1, 1, 99, 1000), (2, 1, 20, 1001)],
        "pri_id int, sequence int, lin_id int, audit_id int",
    )
    t.replace(mutated)
    reports = up.run_level0(rebuild=True, full_incremental=True)
    r = reports[0]
    assert (r.ninsert, r.nupdate, r.ndelete) == (1, 1, 0)  # 3 back, 1 fixed
    rows = sorted((x.pri_id, x.lin_id) for x in t.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]


def test_uploader_level5_continuity_warning(spark, tmp_path):
    """A level-5 file whose START doesn't meet the previous END beyond the
    warn tolerance surfaces continuity='warning' (reference CheckStartDate
    warn tier); within tolerance it's 'ok'."""
    repo = _write_repo(tmp_path)
    # Shift the L5 START an hour past the recorded L0 END (06:00 -> 07:00)
    l5 = os.path.join(repo, "level_5", "20240102000000", "pab1.crs")
    with open(l5) as fh:
        content = fh.read()
    with open(l5, "w") as fh:
        fh.write(content.replace("START 2024-01-01 06:00:00",
                                 "START 2024-01-01 07:00:00"))
    meta = MetaStore(str(tmp_path / "meta"))
    defs = parse_tables_conf(UPLOADER_CONF)
    up = BdeUploader(spark, repo, str(tmp_path / "tables"), meta, defs,
                     warn_tol_hours=0.5)
    up.run_level0()
    # seed a level-5 watermark with details so the check has a previous END
    st = meta.table_status("crs_parcel_bndry")
    meta.record_load(st.tbl_id, 1, "20240101000000", "5", True,
                     details="BdeUpload pab1 2024-01-01 06:00:00")
    reports = up.run_level5()
    assert reports[0].continuity == "warning"


def test_uploader_l5_is_full_replaces(spark, tmp_path):
    """An l5_is_full table's level-5 file is applied as a full replace
    (reference conf/tables.conf:40), not a change-table merge."""
    repo = _write_repo(tmp_path)
    conf = """
TABLE l5_change_table files xaud
TABLE crs_parcel_bndry l5_is_full row_tol=0.20,0.95 files pab1
"""
    meta = MetaStore(str(tmp_path / "meta"))
    up = BdeUploader(spark, repo, str(tmp_path / "tables"), meta,
                     parse_tables_conf(conf))
    up.run_level0()
    reports = up.run_level5()
    r = reports[0]
    # full replace: ninsert = file row count, no U/D classification
    assert (r.ninsert, r.nupdate, r.nnullupdate, r.ndelete) == (5, 0, 0, 0)
    t = ParquetTarget(str(tmp_path / "tables" / "crs_parcel_bndry"), "pri_id")
    assert sorted(x.pri_id for x in t.read(spark).collect()) == [1, 3, 4, 5, 6]


def test_cli_smoke(spark, tmp_path, capsys):
    """-full then -incremental through the argparse entry point."""
    from linz_bde_uploader_spark.__main__ import main

    repo = _write_repo(tmp_path)
    conf = tmp_path / "tables.conf"
    conf.write_text(UPLOADER_CONF)
    common = ["-repo", repo, "-target", str(tmp_path / "tables"),
              "-meta", str(tmp_path / "meta"), "-config", str(conf)]
    assert main(["-full", *common]) == 0
    assert "crs_parcel_bndry 20240101000000 L0: +3" in capsys.readouterr().out
    assert main(["-incremental", *common]) == 0
    assert "L5: +3 ~1 0:1 -1" in capsys.readouterr().out
    assert main(["-purge", "-meta", str(tmp_path / "meta")]) == 0


def test_dataset_transaction_all_or_nothing(spark, tmp_path):
    """Two tables staged in one dataset txn: a tolerance abort on the
    second leaves BOTH at their previous versions (reference per-dataset
    transaction rollback, lib/LINZ/BdeDatabase.pm:476-510)."""
    from linz_bde_uploader_spark.sinks.target import (
        DatasetManifest,
        DatasetTransaction,
    )

    ta = ParquetTarget(str(tmp_path / "ta"), key="id")
    tb = ParquetTarget(str(tmp_path / "tb"), key="id")
    df4 = spark.createDataFrame([(i, "x") for i in range(4)], "id long, v string")
    ta.replace(df4)
    tb.replace(df4)
    va, vb = ta.current_version(), tb.current_version()
    man = DatasetManifest(str(tmp_path / "_manifest"))

    txn = DatasetTransaction(man)
    keys = spark.createDataFrame([(i,) for i in range(4)], "id long")
    good_inc = spark.createDataFrame([(0, "y"), (1, "x"), (2, "x"), (3, "x")],
                                     "id long, v string")
    v1, s1 = ta.stage_incremental(spark, good_inc, keys)
    txn.stage(ta, v1, s1)
    # second table: empty incoming deletes everything -> tolerance error
    empty = spark.createDataFrame([], "id long, v string")
    with pytest.raises(RowToleranceError):
        tb.stage_incremental(spark, empty, keys, row_tol_error=0.5)
    txn.abort()
    # nothing moved
    assert ta.current_version() == va and tb.current_version() == vb
    assert {r.v for r in ta.read(spark).collect()} == {"x"}

    # the happy path commits both together
    txn2 = DatasetTransaction(man)
    v1, s1 = ta.stage_incremental(spark, good_inc, keys)
    v2, s2 = tb.stage_incremental(spark, good_inc, keys)
    txn2.stage(ta, v1, s1)
    txn2.stage(tb, v2, s2)
    txn2.commit()
    assert ta.current_version() == v1 and tb.current_version() == v2
    assert s1.nupdate == 1 and s1.nnullupdate == 3


def test_dataset_manifest_jointly_atomic_commit(spark, tmp_path, monkeypatch):
    """SURVEY §7.4 hard part 2: the manifest flip is the single commit
    point. A crash between the per-table pointer flips leaves manifest
    readers seeing the ENTIRE new dataset; repair() converges the
    stragglers idempotently; before the manifest flip, readers see the
    entire old dataset."""
    from linz_bde_uploader_spark.sinks.target import (
        DatasetManifest,
        DatasetTransaction,
        ParquetTarget,
    )

    ta = ParquetTarget(str(tmp_path / "ta"), key="id")
    tb = ParquetTarget(str(tmp_path / "tb"), key="id")
    old = spark.createDataFrame([(i, "old") for i in range(3)], "id long, v string")
    ta.replace(old)
    tb.replace(old)
    man = DatasetManifest(str(tmp_path / "_manifest"))
    man.commit({os.path.abspath(ta.path): ta.current_version(),
                os.path.abspath(tb.path): tb.current_version()})

    new = spark.createDataFrame([(i, "new") for i in range(3)], "id long, v string")
    va, sa = ta.stage_replace(new)
    vb, sb = tb.stage_replace(new)
    txn = DatasetTransaction(manifest=man)
    txn.stage(ta, va, sa)
    txn.stage(tb, vb, sb)

    # simulate a crash: the FIRST per-table pointer flip succeeds, the
    # process dies before the second
    flips = {"n": 0}
    real_commit = ParquetTarget._commit

    def dying_commit(self, version):
        if flips["n"] >= 1:
            raise RuntimeError("simulated crash mid-convergence")
        flips["n"] += 1
        real_commit(self, version)

    monkeypatch.setattr(ParquetTarget, "_commit", dying_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.commit()
    monkeypatch.setattr(ParquetTarget, "_commit", real_commit)

    # per-table pointers are torn (one new, one still old)...
    assert ta.current_version() == va
    assert tb.current_version() != vb
    # ...but manifest readers see the ENTIRE new dataset — never a mix
    assert man.version_of(ta.path) == va and man.version_of(tb.path) == vb
    rows = {r.v for r in man.read(spark, ta.path).collect()} | {
        r.v for r in man.read(spark, tb.path).collect()
    }
    assert rows == {"new"}
    # recovery: repair converges the straggler pointer, idempotently
    assert man.repair() == 1
    assert tb.current_version() == vb
    assert man.repair() == 0

    # and BEFORE any manifest flip, staged-but-uncommitted versions are
    # invisible through the manifest (all-old)
    v2a, s2a = ta.stage_replace(old)
    assert man.version_of(ta.path) == va
    assert {r.v for r in man.read(spark, ta.path).collect()} == {"new"}


def test_uploader_level5_missing_changetable_errors(spark, tmp_path):
    up, meta = _mk_uploader(spark, tmp_path)
    up.run_level0()
    os.remove(os.path.join(up.repo, "level_5", "20240102000000", "xaud.crs"))
    with pytest.raises(FileNotFoundError, match="change table"):
        up.run_level5()
    # the failed upload is marked E, not left active
    assert all(r["status"] != "A" for r in meta._read("upload"))


def test_target_change_feed_between_versions(spark, tmp_path):
    """S8 analog: the CDC feed between two committed versions is the net
    I/U/D diff, exact and replayable because versions are immutable."""
    t = ParquetTarget(str(tmp_path / "tgt"), key="id")
    t.replace(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"))
    v0 = t.current_version()
    inc = spark.createDataFrame(
        [(1, "a2"), (3, "c"), (4, "d"), (9, "new")], "id long, v string")
    keys = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")
    t.apply_incremental(spark, inc, keys)

    feed = {(r.id, r._action) for r in t.changes_between(spark, v0).collect()}
    # 1 updated, 2 deleted, 9 inserted; 3 touched-but-identical and 4
    # untouched are absent from the feed
    assert feed == {(1, "U"), (2, "D"), (9, "I")}

    # version list is commit-ordered and time travel sees the v0 snapshot
    vs = t.versions()
    assert vs[0] == v0 and len(vs) == 2
    assert {r.id for r in t.read_version(spark, v0).collect()} == {1, 2, 3, 4}
