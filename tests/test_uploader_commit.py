"""The uploader's plan and its one commit path: a run plans its pending
datasets once, and both levels publish a dataset through one
``DatasetTransaction`` and one manifest flip, then write stats and
watermarks. Covers the level-0 all-or-nothing boundary, crashes and
interrupts before and after the manifest flip, several level-5 days in one
run, and ``-override-locks`` through the CLI."""

from __future__ import annotations

import os
import shutil

import pytest

from linz_bde_uploader_spark.meta.store import ActiveUploadError, MetaStore
from linz_bde_uploader_spark.operators.tolerance import RowToleranceError
from linz_bde_uploader_spark.plans.uploader import (
    BdeUploader,
    ConfigError,
    parse_tables_conf,
)
from linz_bde_uploader_spark.sinks.target import DatasetManifest, ParquetTarget
from tests.test_meta_discovery_sinks import UPLOADER_CONF, _write_repo

L0_OLD, L0_NEW = "20240101000000", "20240105000000"
L5_DAY, L5_DAY2 = "20240102000000", "20240103000000"

# crs_parcel_copy loads the same files as crs_parcel_bndry under another name
TWO_TABLE_CONF = UPLOADER_CONF + (
    "TABLE crs_parcel_copy key=pri_id row_tol=0.90,0.95 files pab2\n"
)


def _write_two_table_repo(tmp_path) -> str:
    repo = _write_repo(tmp_path)
    for ds in (os.path.join("level_0", L0_OLD), os.path.join("level_5", L5_DAY)):
        d = os.path.join(repo, ds)
        shutil.copy(os.path.join(d, "pab1.crs"), os.path.join(d, "pab2.crs"))
    with open(os.path.join(repo, "level_5", L5_DAY, "xaud.crs"), "a") as fh:
        for i, action in enumerate("UDUIII", 1):
            fh.write(f"{10 + i}|crs_parcel_copy|{i}|{action}|2024-01-01 12:00:00|\n")
    return repo


def _add_level0(repo: str, files: dict[str, str]) -> None:
    """A newer level-0 dataset: each file is the old snapshot's header
    followed by ``files[name]`` as its data rows."""
    new = os.path.join(repo, "level_0", L0_NEW)
    os.makedirs(new)
    for name, rows in files.items():
        with open(os.path.join(repo, "level_0", L0_OLD, name)) as fh:
            head = fh.read().split("{CRS-DATA}")[0]
        with open(os.path.join(new, name), "w") as fh:
            fh.write(head + "{CRS-DATA}\n" + rows)


def _uploader(spark, tmp_path, repo, conf, **kw):
    meta = MetaStore(str(tmp_path / "meta"))
    up = BdeUploader(spark, repo, str(tmp_path / "tables"), meta,
                     parse_tables_conf(conf), **kw)
    return up, meta


def _target(tmp_path, name) -> ParquetTarget:
    return ParquetTarget(str(tmp_path / "tables" / name), "pri_id")


def _rows(spark, t: ParquetTarget):
    return sorted(tuple(r) for r in t.read(spark).collect())


def test_level0_manifest_commit_failure_leaves_old_version(spark, tmp_path, monkeypatch):
    """A level-0 load publishes nothing before the manifest flip: if the
    flip itself fails, the table pointer, the manifest entry and the
    level-0 watermark all still name the previous load."""
    repo = _write_repo(tmp_path)
    up, meta = _uploader(spark, tmp_path, repo, UPLOADER_CONF)
    up.run_level0()
    t = _target(tmp_path, "crs_parcel_bndry")
    old = t.current_version()
    _add_level0(repo, {"pab1.crs": "1|1|10|1000|\n2|1|20|1001|\n"})

    def failing_commit(self, entries):
        raise OSError("manifest write failed")

    monkeypatch.setattr(DatasetManifest, "commit", failing_commit)
    with pytest.raises(OSError, match="manifest write failed"):
        up.run_level0(rebuild=True)

    assert t.current_version() == old
    assert up.manifest.version_of(t.path) == old
    assert meta.table_status("crs_parcel_bndry").last_level0_dataset == L0_OLD
    assert {r["id"]: r["status"] for r in meta._read("upload")} == {1: "C", 2: "E"}


def test_level0_dataset_is_all_or_nothing(spark, tmp_path):
    """Level 0 commits per dataset, like level 5: when the second table of
    a ``-full-incremental`` dataset fails its row-tolerance gate, the first
    table stays at its old version and keeps no staged directory."""
    repo = _write_two_table_repo(tmp_path)
    up, meta = _uploader(spark, tmp_path, repo, TWO_TABLE_CONF)
    assert len(up.run_level0()) == 2
    first, second = _target(tmp_path, "crs_parcel_bndry"), _target(tmp_path, "crs_parcel_copy")
    old_first, old_second = first.current_version(), second.current_version()
    rows_first = _rows(spark, first)
    _add_level0(repo, {
        "pab1.crs": "1|1|99|1000|\n2|1|20|1001|\n3|2|30|1002|\n",  # one update
        "pab2.crs": "1|1|10|1000|\n",  # 3 -> 1 rows: below ceil(3 * 0.90)
    })

    with pytest.raises(RowToleranceError):
        up.run_level0(full_incremental=True)

    assert first.current_version() == old_first and first.versions() == [old_first]
    assert second.current_version() == old_second and second.versions() == [old_second]
    assert _rows(spark, first) == rows_first
    assert up.manifest.version_of(first.path) == old_first
    assert meta.table_status("crs_parcel_bndry").last_level0_dataset == L0_OLD


def test_level5_crash_after_manifest_flip_converges(spark, tmp_path, monkeypatch):
    """A crash after the manifest flip but before the table pointers move:
    a fresh uploader's ``repair()`` moves both pointers to the manifest,
    and re-running the day (its watermark never advanced) ends with the
    same rows as a run that did not crash."""

    def load(root, crash: bool):
        repo = _write_two_table_repo(root)
        up, meta = _uploader(spark, root, repo, TWO_TABLE_CONF)
        up.run_level0()
        targets = [_target(root, n) for n in ("crs_parcel_bndry", "crs_parcel_copy")]
        if crash:
            old = [t.current_version() for t in targets]
            real_commit = ParquetTarget._commit

            def dying_commit(self, version):
                raise RuntimeError("simulated crash after the manifest flip")

            monkeypatch.setattr(ParquetTarget, "_commit", dying_commit)
            with pytest.raises(RuntimeError, match="simulated crash"):
                up.run_level5()
            monkeypatch.setattr(ParquetTarget, "_commit", real_commit)
            new = [up.manifest.version_of(t.path) for t in targets]
            assert [t.current_version() for t in targets] == old
            assert all(n != o for n, o in zip(new, old))
            assert meta._read("upload")[-1]["status"] == "E"

            up, meta = _uploader(spark, root, repo, TWO_TABLE_CONF)  # repairs
            assert [t.current_version() for t in targets] == new
            assert up.manifest.repair() == 0
        up.run_level5()
        for t in targets:
            assert meta.table_status(os.path.basename(t.path)).last_upload_dataset == L5_DAY
        return [_rows(spark, t) for t in targets]

    crashed = load(tmp_path / "crash", crash=True)
    assert crashed == load(tmp_path / "clean", crash=False)
    assert crashed[0] == [(1, 1, 11, 1000), (3, 2, 30, 1002), (4, 2, 40, 1003),
                          (5, 3, 50, 1004), (6, 3, 60, 1005)]


def test_cli_override_locks(spark, tmp_path, capsys):
    """``-override-locks`` reaches the upload gate: with a crashed upload
    still active and holding a table lock, a run fails without the flag
    and succeeds with it, marking the old upload ``E``."""
    from linz_bde_uploader_spark.__main__ import main

    repo = _write_repo(tmp_path)
    conf = tmp_path / "tables.conf"
    conf.write_text(UPLOADER_CONF)
    meta = MetaStore(str(tmp_path / "meta"))
    stale = meta.create_upload()
    meta.acquire_table_lock(meta.register_table("crs_parcel_bndry"), stale)
    common = ["-repo", repo, "-target", str(tmp_path / "tables"),
              "-meta", str(tmp_path / "meta"), "-config", str(conf)]

    with pytest.raises(ActiveUploadError):
        main(["-full", *common])
    assert main(["-full", "-override-locks", *common]) == 0
    assert "crs_parcel_bndry 20240101000000 L0: +3" in capsys.readouterr().out
    assert {r["id"]: r["status"] for r in meta._read("upload")} == {stale: "E", stale + 1: "C"}


def test_column_overrides_define_the_first_load(spark, tmp_path):
    """``COLUMN`` records rename a file's fields. On a table's first load
    the header still gives the types, under the override names; the next
    level-5 load merges by the renamed key."""
    conf = (
        "TABLE l5_change_table files xaud\n"
        "TABLE crs_parcel_bndry key=par_id row_tol=0.20,0.95 files pab1\n"
        "COLUMN par_id integer\nCOLUMN seq integer\n"
        "COLUMN line_id integer\nCOLUMN aud_id integer\n"
    )
    up, _ = _uploader(spark, tmp_path, _write_repo(tmp_path), conf)
    assert up.run_level0()[0].ninsert == 3
    t = ParquetTarget(str(tmp_path / "tables" / "crs_parcel_bndry"), "par_id")
    assert t.read(spark).dtypes == [
        ("par_id", "int"), ("seq", "int"), ("line_id", "int"), ("aud_id", "int"),
    ]
    assert _rows(spark, t) == [(1, 1, 10, 1000), (2, 1, 20, 1001), (3, 2, 30, 1002)]
    r = up.run_level5()[0]
    assert (r.ninsert, r.nupdate, r.nnullupdate, r.ndelete) == (3, 1, 1, 1)
    assert [row[:3] for row in _rows(spark, t)] == [
        (1, 1, 11), (3, 2, 30), (4, 2, 40), (5, 3, 50), (6, 3, 60),
    ]


def test_column_count_mismatch_is_a_config_error(spark, tmp_path):
    """``COLUMN`` records that do not match a file's field count stop the
    load with a ``ConfigError`` naming the table, the file and both
    counts. Nothing is published and the upload ends ``E``."""
    repo = _write_repo(tmp_path)
    up, meta = _uploader(spark, tmp_path, repo, UPLOADER_CONF)
    up.run_level0()
    t = _target(tmp_path, "crs_parcel_bndry")
    old = t.current_version()
    conf = UPLOADER_CONF + "COLUMN pri_id\nCOLUMN sequence\nCOLUMN lin_id\n"
    up, meta = _uploader(spark, tmp_path, repo, conf)

    with pytest.raises(
        ConfigError, match=r"crs_parcel_bndry: 3 COLUMN records but pab1\.crs has 4 fields"
    ):
        up.run_level5()

    assert t.current_version() == old and t.versions() == [old]
    assert up.manifest.version_of(t.path) == old
    assert meta.table_status("crs_parcel_bndry").last_upload_dataset == L0_OLD
    assert {r["id"]: r["status"] for r in meta._read("upload")} == {1: "C", 2: "E"}


class _Interrupt(BaseException):
    """Stands in for ``KeyboardInterrupt``: not an ``Exception``."""


def test_interrupt_mid_load_aborts_and_ends_upload_e(spark, tmp_path, monkeypatch):
    """A ``BaseException`` raised while staging the second table of a
    dataset deletes the first table's staged directory, moves no pointer,
    and ends the upload ``E``, not ``C``."""
    repo = _write_two_table_repo(tmp_path)
    up, meta = _uploader(spark, tmp_path, repo, TWO_TABLE_CONF)
    up.run_level0()
    targets = [_target(tmp_path, n) for n in ("crs_parcel_bndry", "crs_parcel_copy")]
    before = [(t.current_version(), t.versions()) for t in targets]
    real_stage = ParquetTarget.stage_incremental

    def interrupted(self, *a, **k):
        if self.path.endswith("crs_parcel_copy"):
            raise _Interrupt
        return real_stage(self, *a, **k)

    monkeypatch.setattr(ParquetTarget, "stage_incremental", interrupted)
    with pytest.raises(_Interrupt):
        up.run_level5()

    assert [(t.current_version(), t.versions()) for t in targets] == before
    assert meta._read("upload")[-1]["status"] == "E"


def test_level5_two_days_in_one_run(spark, tmp_path):
    """Two pending level-5 days load in one run. The keyed table applies
    day 1, then day 2, and day 2's START is checked against the END that
    day 1 recorded earlier in the same run. The ``l5_is_full`` table is
    replaced once, from the latest day (reference
    lib/LINZ/BdeUpload.pm:687)."""
    repo = _write_repo(tmp_path)
    day1, day2 = (os.path.join(repo, "level_5", ds) for ds in (L5_DAY, L5_DAY2))
    os.makedirs(day2)
    for ds in (os.path.join(repo, "level_0", L0_OLD), day1):
        shutil.copy(os.path.join(ds, "pab1.crs"), os.path.join(ds, "pab2.crs"))

    def write_day2(name, rows, start=None):
        with open(os.path.join(day1, name)) as fh:
            head = fh.read().split("{CRS-DATA}")[0]
        if start:
            head = head.replace("START 2024-01-01 06:00:00", f"START {start}")
        with open(os.path.join(day2, name), "w") as fh:
            fh.write(head + "{CRS-DATA}\n" + rows)

    # day 2 starts an hour after day 1's END (2024-01-02 06:00:00)
    write_day2("pab1.crs", "4|2|41|1003|\n7|4|70|1006|\n", start="2024-01-02 07:00:00")
    write_day2("pab2.crs", "8|1|80|1007|\n9|1|90|1008|\n")
    write_day2("xaud.crs", "".join(
        f"{i}|crs_parcel_bndry|{key}|{action}|2024-01-02 12:00:00|\n"
        for i, (key, action) in enumerate(((4, "U"), (5, "D"), (7, "I")), 1)
    ))
    conf = UPLOADER_CONF + "TABLE crs_parcel_full l5_is_full files pab2\n"
    up, meta = _uploader(spark, tmp_path, repo, conf)
    up.run_level0()

    reports = up.run_level5()

    assert [(r.table, r.dataset, r.continuity) for r in reports] == [
        ("crs_parcel_bndry", L5_DAY, "ok"),
        ("crs_parcel_bndry", L5_DAY2, "warning"),
        ("crs_parcel_full", L5_DAY2, "ok"),
    ]
    assert [(r.ninsert, r.nupdate, r.nnullupdate, r.ndelete) for r in reports] == [
        (3, 1, 1, 1), (1, 1, 0, 1), (2, 0, 0, 0),
    ]
    assert [row[:3] for row in _rows(spark, _target(tmp_path, "crs_parcel_bndry"))] == [
        (1, 1, 11), (3, 2, 30), (4, 2, 41), (6, 3, 60), (7, 4, 70),
    ]
    assert _rows(spark, _target(tmp_path, "crs_parcel_full")) == [
        (8, 1, 80, 1007), (9, 1, 90, 1008),
    ]
    full_id = meta.table_status("crs_parcel_full").tbl_id
    assert [(s["dataset"], s["ninsert"]) for s in meta._read("upload_stats")
            if s["tbl_id"] == full_id and s["type"] == "5"] == [(L5_DAY2, 2)]


def test_level5_rerun_reads_nothing(spark, tmp_path):
    """Once a level-5 day is applied, a rerun plans no dataset: it reads no
    change table and launches no Spark job, even after that day's change
    file is gone."""
    up, _ = _uploader(spark, tmp_path, _write_repo(tmp_path), UPLOADER_CONF)
    up.run_level0()
    assert len(up.run_level5()) == 1
    os.remove(os.path.join(up.repo, "level_5", L5_DAY, "xaud.crs"))
    sc = spark.sparkContext
    group = f"level5-rerun-{tmp_path.name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        assert up.run_level5() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
