"""Upload orchestration: table config (P12), level-5 continuity check,
and the end-to-end run loop (reference §3 entry points).

Ties together every component the way ``lib/LINZ/BdeUpload.pm`` does:
discovery (S3) → per dataset → per table → read ``.crs`` (S1/S2) → clean
(P4–P8) → negotiate (P1/P2) → stage (S4) → apply (A1/J1–J6, S5) →
tolerance (C9) → dataset commit → stats + watermarks (S6), under the
job/lock services (C1–C8). The per-table work is a Spark job; planning and
metadata stay on the driver — the same control/data split as the
reference, with the data plane distributed.

``-full`` and ``-incremental`` share one run loop, as both go through
``ApplyDatasetUpdates`` in the reference (lib/LINZ/BdeUpload.pm:716-840).
A run plans first, as ``GetLevel0Updates`` / ``GetLevel5Updates`` do
(:612-707): discovery lists each table's pending datasets once, and the
lists are grouped per dataset. Each planned dataset, in name order, then
stages its tables into one ``DatasetTransaction`` and commits it with one
manifest flip, and only then are the stats and watermarks written. A
failure before the flip leaves every table of the dataset at its previous
version. The levels differ only in the planning rule, the stage call, and
level 5's change table.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession

from linz_bde_uploader_spark.meta.store import MetaStore
from linz_bde_uploader_spark.operators.negotiate import negotiate_columns
from linz_bde_uploader_spark.plans import discovery
from linz_bde_uploader_spark.sinks.target import (
    DatasetManifest,
    DatasetTransaction,
    ParquetTarget,
)
from linz_bde_uploader_spark.sources.crs import read_crs

from pyspark.sql import functions as F
from pyspark.sql import types as T

CHANGE_TABLE_NAME = "l5_change_table"


@dataclass
class TableDef:
    """One ``TABLE`` record of tables.conf (reference parse:
    lib/LINZ/BdeUpload.pm:125-200; format doc conf/tables.conf:20-53)."""

    name: str
    files: list[str] = field(default_factory=list)
    key_column: str | None = None
    row_tol_error: float | None = None
    row_tol_warning: float | None = None
    l0_only: bool = False
    l5_only: bool = False
    l5_is_full: bool = False
    column_overrides: list[str] | None = None  # COLUMN records (P2)

    @property
    def is_change_table(self) -> bool:
        return self.name == CHANGE_TABLE_NAME

    def levels(self) -> set[str]:
        if self.l0_only:
            return {"0"}
        if self.l5_only:
            return {"5"}
        return {"0", "5"}


class ConfigError(ValueError):
    """tables.conf parse error (collected with line numbers like the
    reference, lib/LINZ/BdeUpload.pm:119-123)."""


def parse_tables_conf(text: str) -> list[TableDef]:
    """Parse the reference's tables.conf format:
    ``TABLE name [options] files f1 f2 ...`` + following ``COLUMN`` lines."""
    defs: list[TableDef] = []
    errors: list[str] = []
    current: TableDef | None = None
    for lineno, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        toks = line.split()
        kind = toks[0].upper()
        if kind == "TABLE":
            if len(toks) < 2:
                errors.append(f"line {lineno}: TABLE without a name")
                continue
            d = TableDef(name=toks[1].lower())
            rest = toks[2:]
            if "files" in rest:
                i = rest.index("files")
                d.files = rest[i + 1 :]
                rest = rest[:i]
            for opt in rest:
                if opt == "l0_only":
                    d.l0_only = True
                elif opt == "l5_only":
                    d.l5_only = True
                elif opt == "l5_is_full":
                    d.l5_is_full = True
                elif opt.startswith("key="):
                    d.key_column = opt[4:].lower()
                elif opt.startswith("row_tol="):
                    try:
                        e, w = opt[8:].split(",")
                        d.row_tol_error, d.row_tol_warning = float(e), float(w)
                    except ValueError:
                        errors.append(f"line {lineno}: bad row_tol {opt!r}")
                else:
                    errors.append(f"line {lineno}: unknown option {opt!r}")
            defs.append(d)
            current = d
        elif kind == "COLUMN":
            if current is None:
                errors.append(f"line {lineno}: COLUMN before any TABLE")
                continue
            if len(toks) < 2:
                errors.append(f"line {lineno}: COLUMN without a name")
                continue
            if current.column_overrides is None:
                current.column_overrides = []
            current.column_overrides.append(toks[1].lower())
        else:
            errors.append(f"line {lineno}: unrecognized record {toks[0]!r}")
    if errors:
        raise ConfigError("; ".join(errors))
    return defs


def select_tables(
    defs: list[TableDef],
    subset: list[str] | None = None,
    exclude: list[str] | None = None,
    level: str | None = None,
) -> list[TableDef]:
    """P12: subset/exclude/level filtering (lib/LINZ/BdeUpload.pm:225-253).
    The change table always rides along for level 5. Unknown subset names
    are a config error (the reference dies on them)."""
    by_name = {d.name: d for d in defs}
    if subset is not None:
        unknown = [n for n in subset if n.lower() not in by_name]
        if unknown:
            raise ConfigError(f"subset names not in config: {unknown}")
        keep = {n.lower() for n in subset}
        out = [d for d in defs if d.name in keep or d.is_change_table]
    else:
        out = list(defs)
    if exclude:
        drop = {n.lower() for n in exclude}
        out = [d for d in out if d.name not in drop or d.is_change_table]
    if level is not None:
        out = [d for d in out if level in d.levels() or d.is_change_table]
    return out


# -- level-5 continuity check (§2.8) ----------------------------------------

_TS_RE = re.compile(r"^\d{4}-\d\d-\d\d\s+\d\d:\d\d:\d\d$")


class ContinuityError(RuntimeError):
    """START/END gap beyond the fail tolerance — silent data loss guard
    (lib/LINZ/BdeUpload.pm:1088-1092)."""


def check_start_date(
    start_time: str | None,
    prev_end_time: str | None,
    warn_tol_hours: float = 0.5,
    fail_tol_hours: float = 0.0,
) -> str:
    """A level-5 file's START must match the previous file's END
    (CheckStartDate, lib/LINZ/BdeUpload.pm:1070-1100). Returns
    'ok' | 'unchecked' | 'warning'; raises ContinuityError at fail tier
    (tolerances in hours; 0 disables a tier — the reference's defaults are
    warn 0.5h, fail disabled, conf/linz_bde_uploader.conf:133-134)."""
    if start_time == prev_end_time:
        return "ok"
    if (
        start_time is None
        or prev_end_time is None
        or not _TS_RE.match(start_time)
        or not _TS_RE.match(prev_end_time)
    ):
        return "unchecked"  # reference WARNs and continues
    fmt = "%Y-%m-%d %H:%M:%S"
    diff_h = abs(
        (datetime.strptime(start_time, fmt) - datetime.strptime(prev_end_time, fmt)).total_seconds()
    ) / 3600.0
    if fail_tol_hours and diff_h > fail_tol_hours:
        raise ContinuityError(
            f"START {start_time} differs from previous END {prev_end_time} "
            f"by more than {fail_tol_hours} hours"
        )
    if warn_tol_hours and diff_h > warn_tol_hours:
        return "warning"
    return "ok"


def parse_upload_details(details: str | None) -> dict[str, str]:
    """Parse the ``BdeUpload <file> <end-time> ...`` details string into a
    file→END-time map (lib/LINZ/BdeUpload.pm:952-958)."""
    out: dict[str, str] = {}
    if not details or not details.startswith("BdeUpload"):
        return out
    for m in re.finditer(r"(\S+)\s+(\d{4}-\d\d-\d\d\s+\d\d:\d\d:\d\d)", details):
        out[m.group(1).lower()] = m.group(2)
    return out


# -- the run loop ------------------------------------------------------------


@dataclass
class LoadReport:
    table: str
    dataset: str
    level: str
    ninsert: int
    nupdate: int
    nnullupdate: int
    ndelete: int
    continuity: str = "ok"


class BdeUploader:
    """The `-full` / `-incremental` entry points (reference
    bin/linz_bde_uploader.pl:78-248 + lib/LINZ/BdeUpload.pm:559-840)."""

    def __init__(
        self,
        spark: SparkSession,
        repo: str,
        target_root: str,
        meta: MetaStore,
        tables: list[TableDef],
        max_errors: int = 0,
        override_locks: bool = False,
    ):
        self.spark = spark
        self.repo = repo
        self.target_root = target_root
        self.meta = meta
        self.tables = tables
        self.max_errors = max_errors
        self.override_locks = override_locks  # -override-locks (C1)
        # Dataset-level commit point: every completed dataset publishes all
        # its table versions through ONE atomic manifest flip; repair() at
        # startup converges per-table pointers after a mid-flip crash.
        self.manifest = DatasetManifest(os.path.join(target_root, "_manifest"))
        self.manifest.repair()

    def _load_files(self, ds: discovery.DatasetRef, d: TableDef, prev_details: dict[str, str]):
        """Read and clean one table's files in a dataset. Returns
        (DataFrame, details-string, continuity-status, file schema) — the
        file schema is the first header's types under the ``COLUMN``
        override names, if any. Every column is read as a string and goes
        through the character pass (P4/P5) in the reader, one pass per
        line (``read_crs(clean=True)``); negotiation then casts to the
        target types."""
        frames = []
        details = "BdeUpload"
        continuity = "ok"
        header0 = None
        for fname in d.files:
            p = ds.file_path(fname)
            if p is None:
                raise FileNotFoundError(f"{ds.name}: missing file {fname} for {d.name}")
            df, hdr = read_crs(
                self.spark, p, cast=False, max_errors=self.max_errors, clean=True
            )
            if ds.level == "5" and prev_details:
                # default tiers: the reference's warn 0.5 h, fail disabled
                if check_start_date(hdr.start, prev_details.get(fname.lower())) == "warning":
                    continuity = "warning"
            details += f" {fname} {hdr.end or ''}"
            if d.column_overrides:
                if len(d.column_overrides) != len(df.columns):
                    raise ConfigError(
                        f"{d.name}: {len(d.column_overrides)} COLUMN records "
                        f"but {os.path.basename(p)} has {len(df.columns)} fields"
                    )
                df = df.toDF(*d.column_overrides)
            frames.append(df)
            header0 = header0 or hdr
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2)
        schema = header0.schema
        if d.column_overrides:
            schema = T.StructType([
                T.StructField(name, f.dataType, f.nullable)
                for name, f in zip(d.column_overrides, schema)
            ])
        return out, details, continuity, schema

    def run_level0(
        self,
        before: str | None = None,
        rebuild: bool = False,
        full_incremental: bool = False,
    ) -> list[LoadReport]:
        """Level-0 snapshot apply. With ``full_incremental`` (the
        ``-full-incremental`` flag) an existing keyed target is updated by
        full-outer diff + keyed merge instead of replaced — same final
        state, but I/U/D counters and tolerance gates apply (reference
        ver_apply_table_differences, :1914-1944)."""
        datasets = discovery.list_datasets(self.repo, "0", before)
        return self._run("0", datasets, rebuild=rebuild, full_incremental=full_incremental)

    def run_level5(self, before: str | None = None) -> list[LoadReport]:
        datasets = discovery.list_datasets(self.repo, "5", before)
        if not any(d.is_change_table for d in self.tables):
            raise ConfigError("level-5 run requires an l5_change_table record")
        return self._run("5", datasets)

    def _run(
        self, level: str, datasets, rebuild: bool = False, full_incremental: bool = False
    ) -> list[LoadReport]:
        """The upload lifecycle both levels share: one upload row, the
        run's plan, then each planned dataset in name order as one
        transaction, then the upload's final status: ``C``, or ``E`` on
        any exception, ``KeyboardInterrupt`` included."""
        reports: list[LoadReport] = []
        upl_id = self.meta.create_upload(override_locks=self.override_locks)
        ok = False
        try:
            for ds, planned in self._plan(level, datasets, rebuild):
                # Level 5 reads the day's change table once, and only when
                # a keyed table needs it.
                chg = None
                if level == "5" and not all(d.l5_is_full for d in planned):
                    chg = self._change_table(ds)
                # Whole-dataset transaction: every planned table stages its
                # new version first; ONE manifest flip then publishes them
                # all, so any failure before it (including a tolerance
                # abort) leaves every table at its previous state — the
                # reference's per-dataset txn (BdeDatabase.pm:476-510).
                txn = DatasetTransaction(self.manifest)
                try:
                    loads = [
                        self._stage_table(upl_id, ds, d, chg, full_incremental, txn)
                        for d in planned
                    ]
                except BaseException:
                    txn.abort()
                    raise
                # Not under the abort above: once the manifest has flipped,
                # the staged directories are live data.
                txn.commit()
                reports += [self._record(upl_id, ds, level, load) for load in loads]
            ok = True
        finally:
            self.meta.finish_upload(upl_id, ok=ok)
        return reports

    def _plan(self, level: str, datasets, rebuild: bool):
        """The run's worklist (GetLevel0Updates / GetLevel5Updates,
        lib/LINZ/BdeUpload.pm:612-707): each selected table's status is
        read once, a new table registered, and discovery lists the
        datasets it has pending. Returns ``[(dataset, [table])]`` in
        dataset name order, config order within a dataset. A level with
        no dataset reads and registers nothing."""
        if not datasets:
            return []
        work: dict[str, list[TableDef]] = {}
        for d in select_tables(self.tables, level=level):
            if d.is_change_table:
                continue
            st = self.meta.table_status(d.name)
            if st is None:
                self.meta.register_table(
                    d.name, key_column=d.key_column,
                    row_tol_error=d.row_tol_error, row_tol_warning=d.row_tol_warning,
                )
            if level == "0":
                last = st.last_level0_dataset if st else None
                pending = discovery.pending_level0(datasets, last, rebuild, d.files)
            else:
                last = st.last_upload_dataset if st else None
                pending = discovery.pending_level5(datasets, last, d.l5_is_full, d.files)
            for ds in pending:
                work.setdefault(ds.name, []).append(d)
        return [(ds, work[ds.name]) for ds in datasets if ds.name in work]

    def _change_table(self, ds: discovery.DatasetRef):
        """A level-5 dataset's change table (reference
        CreateLevel5ChangeTable, lib/LINZ/BdeUpload.pm:874-906)."""
        chg_def = next(d for d in self.tables if d.is_change_table)
        chg_path = ds.file_path(chg_def.files[0]) if chg_def.files else None
        if chg_path is None:
            raise FileNotFoundError(
                f"{ds.name}: missing change table file "
                f"{chg_def.files} (t/linz_bde_uploader.t:1077-1099)"
            )
        return read_crs(self.spark, chg_path, cast=True)[0]

    def _stage_table(self, upl_id, ds, d: TableDef, chg, full_incremental: bool, txn):
        """Lock, load, negotiate and stage one planned table of a dataset
        into ``txn``. Returns what ``_record`` needs. The status is read
        again here: a level-5 file's START is checked against the END
        times of the table's latest level-5 load, which may be an earlier
        dataset of this run."""
        st = self.meta.table_status(d.name)
        prev = parse_upload_details(
            st.last_upload_details if st.last_upload_type == "5" else None
        )
        self.meta.acquire_table_lock(st.tbl_id, upl_id)
        t0 = time.monotonic()
        df, details, cont, file_schema = self._load_files(ds, d, prev)
        target = ParquetTarget(f"{self.target_root}/{d.name}", key=d.key_column)
        # first load: the file header defines the table
        schema = target.read(self.spark).schema if target.exists() else file_schema
        df = negotiate_columns(df, schema)
        tol = {"row_tol_error": d.row_tol_error, "row_tol_warning": d.row_tol_warning}
        incremental = ds.level == "5"
        if incremental and not d.l5_is_full:
            if d.key_column is None:
                raise ConfigError(f"{d.name}: level-5 requires key=")
            # P9/P10: lowercase tablename, project this table's keys. A key
            # the change table repeats needs no distinct: the set only
            # feeds left-semi joins.
            keys = (
                chg.filter(F.lower(F.col("tablename")) == d.name)
                .select(F.col("tablekeyvalue").cast("long").alias(d.key_column))
            )
            version, stats = target.stage_incremental(self.spark, df, keys, **tol)
        elif full_incremental and d.key_column is not None and target.exists():
            version, stats = target.stage_full_incremental(self.spark, df, **tol)
            incremental = True
        else:
            # a level-0 replace; "the level 5 files [of an l5_is_full
            # table] are actually a full level 0 update" (conf/tables.conf:40)
            version, stats = target.stage_replace(df)
        txn.stage(target, version, stats)
        return d, st.tbl_id, stats, incremental, details, cont, time.monotonic() - t0

    def _record(self, upl_id, ds, level: str, load) -> LoadReport:
        """Stats row + watermarks (S6) for one committed table load."""
        d, tbl_id, stats, incremental, details, cont, dur = load
        self.meta.record_load(
            tbl_id, upl_id, ds.name, level, incremental=incremental,
            ninsert=stats.ninsert, nupdate=stats.nupdate,
            nnullupdate=stats.nnullupdate, ndelete=stats.ndelete,
            duration_secs=dur, details=details,
        )
        return LoadReport(
            d.name, ds.name, level, stats.ninsert, stats.nupdate,
            stats.nnullupdate, stats.ndelete, cont,
        )
