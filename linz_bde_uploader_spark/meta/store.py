"""The metadata/control store — uploads, per-table watermarks, load stats.

Mirrors the reference's ``bde_control`` schema and its service functions
(/root/reference/sql/01-bde_control_tables.sql:43-191 for the three tables;
/root/reference/sql/02-bde_control_functions.sql.in:136-435 for job/lock
lifecycle, :975-1057 for the stats/watermark write):

- ``upload``        — one row per upload job: id, schema_name, start_time,
                      end_time (doubles as the lease heartbeat), status
                      U (uninitialized) / A (active) / C (completed) /
                      E (completed with errors).
- ``upload_table``  — per-table registry + watermarks: key_column,
                      last_upload_id/dataset/type/incremental/details,
                      last_level0_dataset, upl_id_lock (advisory table
                      lock), row tolerances.
- ``upload_stats``  — one row per (table, dataset) load: ninsert, nupdate,
                      nnullupdate, ndelete, duration — the observable
                      contract every load must satisfy (the reference's own
                      e2e asserts these counters, t/linz_bde_uploader.t:
                      1176-1183).

Spark-first design decision: this is *driver-side state*, kilobytes, not a
data-plane table — exactly the split the reference makes (control tables in
PostgreSQL, data flows through COPY). It is stored as one parquet file per
table under a root directory, written atomically (tmp file + ``os.replace``)
so a crashed run never leaves a torn table, and read either directly
(pyarrow, for driver decisions — no Spark job for a watermark lookup) or as
a Spark DataFrame (``spark_df``) for analysis joins (J7). On a cluster the
same API would back onto a JDBC store or Delta table; nothing in the
call-sites changes.

Concurrency services implemented (SURVEY §2.10): C1 single-writer gate,
C2 advisory table locks, C4 heartbeat, C5 expired-lock/zombie release,
C6 old-job purge, C8 job timeout check. All are CAS-free single-writer
operations here — the reference's own model is one uploader process, with
the gate protecting against *accidental* concurrent runs, not a
high-contention lock service.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

UPLOAD_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("schema_name", pa.string()),
        ("start_time", pa.float64()),  # epoch seconds (UTC)
        ("end_time", pa.float64()),
        ("status", pa.string()),  # U/A/C/E
    ]
)

UPLOAD_TABLE_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("schema_name", pa.string()),
        ("table_name", pa.string()),
        ("key_column", pa.string()),
        ("last_upload_id", pa.int64()),
        ("last_upload_dataset", pa.string()),
        ("last_upload_type", pa.string()),  # '0' or '5'
        ("last_upload_incremental", pa.bool_()),
        ("last_upload_details", pa.string()),
        ("last_upload_time", pa.float64()),
        ("last_level0_dataset", pa.string()),
        ("upl_id_lock", pa.int64()),
        ("row_tol_warning", pa.float64()),
        ("row_tol_error", pa.float64()),
    ]
)

UPLOAD_STATS_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("upl_id", pa.int64()),
        ("tbl_id", pa.int64()),
        ("type", pa.string()),  # '0' or '5'
        ("incremental", pa.bool_()),
        ("dataset", pa.string()),
        ("upload_time", pa.float64()),
        ("duration_secs", pa.float64()),
        ("ninsert", pa.int64()),
        ("nupdate", pa.int64()),
        ("nnullupdate", pa.int64()),
        ("ndelete", pa.int64()),
    ]
)

_SCHEMAS = {
    "upload": UPLOAD_SCHEMA,
    "upload_table": UPLOAD_TABLE_SCHEMA,
    "upload_stats": UPLOAD_STATS_SCHEMA,
}


class ActiveUploadError(RuntimeError):
    """Another upload is active (reference C1 gate,
    sql/02-bde_control_functions.sql.in:136-161)."""


class TableLockedError(RuntimeError):
    """Table advisory lock held by another upload (C2, :592-691)."""


@dataclass
class TableStatus:
    """The lastUploadStats view the planner consumes
    (sql/02-bde_control_functions.sql.in:103-132)."""

    tbl_id: int
    key_column: str | None
    last_upload_dataset: str | None
    last_upload_type: str | None
    last_upload_details: str | None
    last_level0_dataset: str | None
    row_tol_error: float | None
    row_tol_warning: float | None


class MetaStore:
    def __init__(self, root: str, clock=time.time):
        self.root = root
        self._clock = clock
        os.makedirs(root, exist_ok=True)

    # -- low-level table IO -------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def _read(self, table: str) -> list[dict]:
        p = self._path(table)
        if not os.path.exists(p):
            return []
        return pq.read_table(p).to_pylist()

    def _write(self, table: str, rows: list[dict]) -> None:
        # Atomic single-file replace: a reader (or a crashed writer) never
        # sees a torn table. The store is single-writer by contract (C1).
        t = pa.Table.from_pylist(rows, schema=_SCHEMAS[table])
        tmp = self._path(table) + ".tmp"
        pq.write_table(t, tmp)
        os.replace(tmp, self._path(table))

    def spark_df(self, spark, table: str):
        """The control table as a Spark DataFrame (metadata joins, J7)."""
        p = self._path(table)
        if not os.path.exists(p):
            self._write(table, [])
            p = self._path(table)
        return spark.read.parquet(p)

    # -- job lifecycle (C1, C4, C5, C6, C8) ---------------------------------

    def create_upload(
        self,
        allow_concurrent: bool = False,
        override_locks: bool = False,
        expiry_hours: float = 3.0,
    ) -> int:
        """C1: refuse a new job while any upload is active, unless
        concurrent uploads are allowed or locks are overridden
        (lib/LINZ/BdeDatabase.pm:377-398). Expired actives are zombie-
        released first (C5); overridden actives end ``E`` and lose their
        table locks the same way."""
        self.release_expired(expiry_hours)
        rows = self._read("upload")
        active = [r for r in rows if r["status"] == "A"]
        if active and not allow_concurrent:
            if not override_locks:
                raise ActiveUploadError(
                    f"upload(s) {[r['id'] for r in active]} still active"
                )
            for r in active:
                r["status"] = "E"
                self._release_table_locks(r["id"])
        now = self._clock()
        new_id = max((r["id"] for r in rows), default=0) + 1
        rows.append(
            {
                "id": new_id,
                "schema_name": "bde",
                "start_time": now,
                "end_time": now,
                "status": "A",
            }
        )
        self._write("upload", rows)
        return new_id

    def heartbeat(self, upl_id: int) -> None:
        """C4: bump end_time of the active job — the lease renewal
        (sql/02-bde_control_functions.sql.in:346-366)."""
        rows = self._read("upload")
        for r in rows:
            if r["id"] == upl_id:
                r["end_time"] = self._clock()
        self._write("upload", rows)

    def finish_upload(self, upl_id: int, ok: bool = True) -> None:
        rows = self._read("upload")
        for r in rows:
            if r["id"] == upl_id:
                r["status"] = "C" if ok else "E"
                r["end_time"] = self._clock()
        self._write("upload", rows)
        self._release_table_locks(upl_id)

    def release_expired(self, expiry_hours: float = 3.0) -> list[int]:
        """C5: actives whose heartbeat is older than the expiry become 'E'
        and their table locks are freed (:165-213,372-435)."""
        cutoff = self._clock() - expiry_hours * 3600.0
        rows = self._read("upload")
        released = []
        for r in rows:
            if r["status"] == "A" and r["end_time"] < cutoff:
                r["status"] = "E"
                released.append(r["id"])
        if released:
            self._write("upload", rows)
            for upl_id in released:
                self._release_table_locks(upl_id)
        return released

    def purge_old(self, expiry_days: float = 7.0) -> int:
        """C6: delete finished uploads older than the retention window plus
        their orphaned stats rows (:217-256)."""
        cutoff = self._clock() - expiry_days * 86400.0
        rows = self._read("upload")
        keep = [
            r for r in rows if not (r["status"] in ("C", "E") and r["end_time"] < cutoff)
        ]
        n_purged = len(rows) - len(keep)
        if n_purged:
            kept_ids = {r["id"] for r in keep}
            self._write("upload", keep)
            stats = [s for s in self._read("upload_stats") if s["upl_id"] in kept_ids]
            self._write("upload_stats", stats)
        return n_purged

    def check_timeout(self, upl_id: int, max_runtime_hours: float) -> None:
        """C8: wall-clock job timeout checked between steps
        (lib/LINZ/BdeUpload.pm:534-557)."""
        if not max_runtime_hours:
            return
        rows = [r for r in self._read("upload") if r["id"] == upl_id]
        if rows and self._clock() - rows[0]["start_time"] > max_runtime_hours * 3600.0:
            raise TimeoutError(
                f"upload {upl_id} exceeded max runtime {max_runtime_hours}h"
            )

    # -- table registry + advisory locks (C2) -------------------------------

    def register_table(
        self,
        table_name: str,
        key_column: str | None = None,
        row_tol_error: float | None = None,
        row_tol_warning: float | None = None,
    ) -> int:
        """Upsert the per-table registry row (bde_AddTable, :445-533).
        Names are lowercased at the boundary (reference discipline)."""
        table_name = table_name.lower()
        rows = self._read("upload_table")
        for r in rows:
            if r["table_name"] == table_name:
                if key_column is not None:
                    r["key_column"] = key_column.lower()
                if row_tol_error is not None:
                    r["row_tol_error"] = row_tol_error
                if row_tol_warning is not None:
                    r["row_tol_warning"] = row_tol_warning
                self._write("upload_table", rows)
                return r["id"]
        new_id = max((r["id"] for r in rows), default=0) + 1
        rows.append(
            {
                "id": new_id,
                "schema_name": "bde",
                "table_name": table_name,
                "key_column": key_column.lower() if key_column else None,
                "last_upload_id": None,
                "last_upload_dataset": None,
                "last_upload_type": None,
                "last_upload_incremental": None,
                "last_upload_details": None,
                "last_upload_time": None,
                "last_level0_dataset": None,
                "upl_id_lock": None,
                "row_tol_warning": row_tol_warning,
                "row_tol_error": row_tol_error,
            }
        )
        self._write("upload_table", rows)
        return new_id

    def acquire_table_lock(self, tbl_id: int, upl_id: int, force: bool = False) -> None:
        """C2: claim the advisory per-table lock (:592-691; force-steal
        path :539-567)."""
        rows = self._read("upload_table")
        for r in rows:
            if r["id"] == tbl_id:
                holder = r["upl_id_lock"]
                if holder is not None and holder != upl_id and not force:
                    raise TableLockedError(
                        f"table {r['table_name']} locked by upload {holder}"
                    )
                r["upl_id_lock"] = upl_id
        self._write("upload_table", rows)

    def _release_table_locks(self, upl_id: int) -> None:
        rows = self._read("upload_table")
        changed = False
        for r in rows:
            if r["upl_id_lock"] == upl_id:
                r["upl_id_lock"] = None
                changed = True
        if changed:
            self._write("upload_table", rows)

    def table_status(self, table_name: str) -> TableStatus | None:
        """The planner's watermark read (bde_GetLastUploadStats analog,
        :103-132)."""
        table_name = table_name.lower()
        for r in self._read("upload_table"):
            if r["table_name"] == table_name:
                return TableStatus(
                    tbl_id=r["id"],
                    key_column=r["key_column"],
                    last_upload_dataset=r["last_upload_dataset"],
                    last_upload_type=r["last_upload_type"],
                    last_upload_details=r["last_upload_details"],
                    last_level0_dataset=r["last_level0_dataset"],
                    row_tol_error=r["row_tol_error"],
                    row_tol_warning=r["row_tol_warning"],
                )
        return None

    # -- stats + watermark write (S6) ---------------------------------------

    def record_load(
        self,
        tbl_id: int,
        upl_id: int,
        dataset: str,
        level: str,
        incremental: bool,
        ninsert: int = 0,
        nupdate: int = 0,
        nnullupdate: int = 0,
        ndelete: int = 0,
        duration_secs: float = 0.0,
        details: str | None = None,
    ) -> None:
        """S6: append the upload_stats row and advance the upload_table
        watermarks in one logical step (bde_WriteUploadTableStatistics,
        sql/02-bde_control_functions.sql.in:975-1057). ``details`` carries
        the per-file END times consumed by the level-5 continuity check."""
        stats = self._read("upload_stats")
        stats.append(
            {
                "id": max((s["id"] for s in stats), default=0) + 1,
                "upl_id": upl_id,
                "tbl_id": tbl_id,
                "type": level,
                "incremental": incremental,
                "dataset": dataset,
                "upload_time": self._clock(),
                "duration_secs": duration_secs,
                "ninsert": ninsert,
                "nupdate": nupdate,
                "nnullupdate": nnullupdate,
                "ndelete": ndelete,
            }
        )
        self._write("upload_stats", stats)

        rows = self._read("upload_table")
        for r in rows:
            if r["id"] == tbl_id:
                r["last_upload_id"] = upl_id
                r["last_upload_dataset"] = dataset
                r["last_upload_type"] = level
                r["last_upload_incremental"] = incremental
                r["last_upload_time"] = self._clock()
                if details is not None:
                    r["last_upload_details"] = details
                if level == "0":
                    r["last_level0_dataset"] = dataset
        self._write("upload_table", rows)
