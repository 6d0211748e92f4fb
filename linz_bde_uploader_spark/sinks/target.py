"""Target-table sink (reference S4/S5).

The reference's sink pipeline is: bulk-``COPY`` the cleaned file stream
into an index-less *working copy* in a per-job scratch schema
(lib/LINZ/BdeDatabase.pm:512-565, working copy built LIKE the target at
sql/02-bde_control_functions.sql.in:1237-1288), then *apply* the working
copy to the target — full replace for level 0 (DELETE + INSERT SELECT,
:1949-1973) or keyed merge for level 5 (:1762-1765) — inside a
transaction, with the row-tolerance gate aborting before commit
(:1770,1944).

Spark-first mapping:

- **Staging (S4)** — no separate working copy: the cleaned, negotiated
  DataFrame feeds the merge directly, and each apply writes its result as
  an uncommitted version directory (below). There is no index to defer
  because Spark joins don't use indexes (the reference's index-less COPY
  trick is free here).
- **Target (S5)** — ``ParquetTarget``: a directory-backed table with
  *atomic versioned commits*: every apply writes a new version directory
  and flips a one-line ``_CURRENT`` pointer file via ``os.replace`` — the
  same swap-pointer protocol Delta/Iceberg implement with a transaction
  log. Readers resolve the pointer and only ever see a fully-written
  version; a crashed writer leaves a garbage directory, never a torn
  table. The tolerance gate runs *before* the pointer flip, so an
  error-tier violation aborts with the previous version intact — the
  reference's rollback semantics (t/linz_bde_uploader.t:1309-1359).
- **Dataset commit** — the uploader never flips a table pointer itself.
  Level 0 and level 5 alike stage every pending table of a dataset into
  one ``DatasetTransaction``; its commit is one ``DatasetManifest`` flip,
  after which the per-table pointers converge (``repair()`` replays that
  convergence after a crash). ``replace`` and ``apply_incremental`` stage
  and flip a single table directly, outside any dataset.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators.diff import (
    KeyValidityError,
    MergeStats,
    apply_changes,
    classify_incremental_changes,
    full_table_diff,
    merge_stats,
    validate_key_column,
)
from linz_bde_uploader_spark.operators.tolerance import check_row_tolerance

CURRENT_MARKER = "_CURRENT"


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count observed on whichever action runs it."""
    seen = Observation()
    return df.observe(seen, F.count(F.lit(1)).alias("n")), seen


def _rows_seen(seen: Observation) -> int:
    """The observed row count. AQE drops a query stage that came out empty
    from the final plan, and the stage's observed metrics with it: an
    observation without metrics saw no rows."""
    return seen.get["n"] if seen._jo.getRow().length() else 0


def _written_rows(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet to ``path``; return the rows written,
    observed on the write itself (no second pass)."""
    df, seen = _counted(df)
    df.write.mode("overwrite").parquet(path)
    return _rows_seen(seen)


class ParquetTarget:
    """A versioned parquet-directory table with atomic pointer commits."""

    def __init__(self, path: str, key: str | None = None):
        self.path = path
        self.key = key
        #: ToleranceResult of the most recent gated stage on this instance
        #: (old/new counts + thresholds + tier). The counts are observed on
        #: the staged write itself, so callers never re-count them.
        self.last_gate = None
        self._read_memo: tuple[str, DataFrame] | None = None
        os.makedirs(path, exist_ok=True)

    # -- version plumbing ---------------------------------------------------

    def _marker(self) -> str:
        return os.path.join(self.path, CURRENT_MARKER)

    def current_version(self) -> str | None:
        try:
            with open(self._marker()) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def _data_dir(self) -> str:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"target table at {self.path} has no data yet")
        return os.path.join(self.path, v)

    def _commit(self, version: str) -> None:
        tmp = self._marker() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._marker())

    def _new_version(self) -> tuple[str, str]:
        # Nanosecond timestamp: two applies can land in the same
        # millisecond, and a random suffix would then break the
        # "lexical order == commit order" contract versions() provides
        # (a reversed CDC feed swaps I and D). Nanoseconds are strictly
        # increasing within a writer process; the uuid only disambiguates
        # concurrent writers, whose relative order is undefined anyway.
        v = f"v-{time.time_ns():019d}-{uuid.uuid4().hex[:8]}"
        return v, os.path.join(self.path, v)

    def vacuum(self, keep: int = 2) -> int:
        """C7 analog (Delta VACUUM): drop all but the newest ``keep``
        version directories that are not current."""
        cur = self.current_version()
        versions = self.versions()
        doomed = [d for d in versions[:-keep] if d != cur] if keep else [
            d for d in versions if d != cur
        ]
        for d in doomed:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        return len(doomed)

    # -- reads --------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """The current version. Version directories are immutable, so the
        frame is memoized per directory: each ``spark.read.parquet`` runs a
        schema-inference job, and one table load reads the current version
        for negotiation and again for its merge."""
        d = self._data_dir()
        if self._read_memo is None or self._read_memo[0] != d:
            self._read_memo = (d, spark.read.parquet(d))
        return self._read_memo[1]

    def versions(self) -> list[str]:
        """Committed-order list of version directory names (oldest first —
        names embed a zero-padded nanosecond timestamp, so lexical order
        is commit order within a writer process)."""
        return sorted(
            d
            for d in os.listdir(self.path)
            if d.startswith("v-") and os.path.isdir(os.path.join(self.path, d))
        )

    def read_version(self, spark: SparkSession, version: str) -> DataFrame:
        """Time travel: read a specific committed version (immutable
        directories make every version a consistent snapshot)."""
        return spark.read.parquet(os.path.join(self.path, version))

    def changes_between(
        self,
        spark: SparkSession,
        from_version: str,
        to_version: str | None = None,
    ) -> DataFrame:
        """CDC feed (reference S8, the logical-replication publisher
        bin/linz-bde-uploader-schema-publish.pl:57-94, re-expressed
        lakehouse-style like Delta's Change Data Feed): the net I/U/D row
        changes between two committed versions, computed with the
        full-compare kernel — ``(key, _action)``, unchanged rows excluded.

        Because versions are immutable snapshots, the feed is exact and
        replayable from any retained version; downstream consumers
        (replicas, caches, search indexes) apply it idempotently by key.
        One sort-merge shuffle per side — same 100-TB shape as J6.
        """
        if self.key is None:
            raise ValueError("changes_between requires a key column")
        old = self.read_version(spark, from_version)
        new = (
            self.read(spark)
            if to_version is None
            else self.read_version(spark, to_version)
        )
        return full_table_diff(old, new, self.key)

    # -- applies (S5): two-phase stage -> commit ----------------------------
    #
    # Each apply writes a fully-validated new version directory (phase 1)
    # and flips the pointer (phase 2). The split exists so a
    # DatasetTransaction can stage several tables and flip all their
    # pointers together at dataset end — the reference wraps a whole
    # dataset (many tables) in one DB transaction
    # (lib/LINZ/BdeDatabase.pm:476-510, conf/linz_bde_uploader.conf:85-92).

    def stage_replace(self, incoming: DataFrame) -> tuple[str, MergeStats]:
        """Phase-1 of a level-0 full replace (reference :1949-1973): write
        the snapshot as an uncommitted version; ninsert = the rows the
        write saw, observed on the write itself (one pass)."""
        v, d = self._new_version()
        return v, MergeStats(ninsert=_written_rows(incoming, d))

    def replace(self, incoming: DataFrame) -> MergeStats:
        v, stats = self.stage_replace(incoming)
        self._commit(v)
        return stats

    def _stage_gated(
        self,
        current: DataFrame,
        actions: DataFrame,
        incoming: DataFrame,
        row_tol_error: float | None,
        row_tol_warning: float | None,
    ) -> tuple[str, MergeStats]:
        """Count and key-gate the actions (``merge_stats`` raises on a
        duplicated or NULL key before any version directory exists), then
        write the merge once. The action set is classified once: it is
        persisted (memory, spilling to disk; two columns, one row per
        changed key) before ``merge_stats`` reads it, the write reads the
        same rows, and it is released once the write ends or the key gate
        raises, before the other gates run. The write carries both gate
        counts: ``old_n`` is observed on ``current`` as the merge reads it,
        ``new_n`` on the merged rows as they are written. A failed
        conservation or tolerance gate deletes the staged version; the
        previous version stays live."""
        actions = actions.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = merge_stats(actions)
            current, seen = _counted(current)
            merged = apply_changes(current, incoming, actions, self.key)
            v, d = self._new_version()
            new_n = _written_rows(merged, d)
        finally:
            actions.unpersist()
        old_n = _rows_seen(seen)
        try:
            # Conservation: a keyed merge adds one row per insert and drops
            # one per delete. One action row per key (merge_stats' gate)
            # implies it, with one exception the gate cannot see: a key held
            # twice in current whose copy equal to the incoming row
            # classified '0' and was dropped by full_table_diff. Any other
            # miss means the write lost or added rows.
            expected = old_n + stats.ninsert - stats.ndelete
            if new_n != expected:
                raise KeyValidityError(
                    f"key column {self.key!r} is not unique: the merge wrote "
                    f"{new_n} rows, expected {old_n} + {stats.ninsert} inserts "
                    f"- {stats.ndelete} deletes = {expected}"
                )
            self.last_gate = check_row_tolerance(
                old_n, new_n, row_tol_error, row_tol_warning
            )
        except Exception:
            shutil.rmtree(d, ignore_errors=True)  # abort: previous version stays live
            raise
        return v, stats

    def stage_incremental(
        self,
        spark: SparkSession,
        incoming: DataFrame,
        change_keys: DataFrame,
        row_tol_error: float | None = None,
        row_tol_warning: float | None = None,
    ) -> tuple[str, MergeStats]:
        """Phase-1 of the level-5 merge (reference :1576-1814): classify
        I/U/D/0 → key gate → apply → conservation and tolerance gates. The
        merged result is written once and the gates' row counts are
        observed on that write; a duplicated or NULL key raises before
        anything is written, and an error-tier violation deletes the staged
        version and raises — the previous version stays live."""
        if self.key is None:
            raise ValueError("incremental apply requires a key column")
        current = self.read(spark)
        validate_key_column(incoming, self.key)  # schema gate, no job
        actions = classify_incremental_changes(current, incoming, change_keys, self.key)
        return self._stage_gated(
            current, actions, incoming, row_tol_error, row_tol_warning
        )

    def apply_incremental(self, spark, incoming, change_keys,
                          row_tol_error=None, row_tol_warning=None) -> MergeStats:
        v, stats = self.stage_incremental(
            spark, incoming, change_keys, row_tol_error, row_tol_warning
        )
        self._commit(v)
        return stats

    def stage_full_incremental(
        self,
        spark: SparkSession,
        incoming: DataFrame,
        row_tol_error: float | None = None,
        row_tol_warning: float | None = None,
    ) -> tuple[str, MergeStats]:
        """Phase-1 of ``-full-incremental`` (J6 → J5): full-outer diff
        against the snapshot, then the same gated write (:1914-1944)."""
        if self.key is None:
            raise ValueError("full-incremental apply requires a key column")
        current = self.read(spark)
        validate_key_column(incoming, self.key)  # schema gate, no job
        actions = full_table_diff(current, incoming, self.key)
        return self._stage_gated(
            current, actions, incoming, row_tol_error, row_tol_warning
        )


class DatasetManifest:
    """Jointly-atomic multi-table commit point (SURVEY §7.4 hard part 2).

    One JSON file lists every (table path → version) pair of the dataset;
    committing writes a new ``manifest-<ns>.json`` and flips ONE pointer
    file via ``os.replace`` — the single atomic commit point, the same
    design as a Delta/Iceberg snapshot manifest. Readers that resolve
    table versions *through the manifest* see either the entire old
    dataset or the entire new one, never a mix. The per-table ``_CURRENT``
    pointers remain as a convenience for direct readers and are converged
    best-effort after the manifest flip; ``repair()`` replays that
    convergence idempotently from the current manifest, so a crash between
    the flips heals on the next open and is invisible to manifest
    readers (mirrors the reference's whole-dataset DB transaction,
    lib/LINZ/BdeDatabase.pm:476-510)."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _marker(self) -> str:
        return os.path.join(self.path, CURRENT_MARKER)

    def current(self) -> dict[str, str]:
        """The committed (table path → version) map; {} before any commit."""
        try:
            with open(self._marker()) as fh:
                name = fh.read().strip()
        except FileNotFoundError:
            return {}
        with open(os.path.join(self.path, name)) as fh:
            return json.load(fh)

    def commit(self, entries: dict[str, str]) -> str:
        """Atomically publish ``entries`` merged over the current map.
        The ``os.replace`` of the marker IS the commit: a crash anywhere
        before it leaves the previous manifest fully live."""
        merged = {**self.current(), **entries}
        name = f"manifest-{time.time_ns():019d}.json"
        tmp = os.path.join(self.path, name + f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(merged, fh, indent=0, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, name))
        ptmp = self._marker() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(ptmp, "w") as fh:
            fh.write(name)
        os.replace(ptmp, self._marker())
        return name

    def version_of(self, table_path: str) -> str | None:
        return self.current().get(os.path.abspath(table_path))

    def read(self, spark: SparkSession, table_path: str) -> DataFrame:
        """Read a table at the dataset-consistent version: the manifest's
        entry when one exists, else the table's own pointer."""
        v = self.version_of(table_path)
        if v is None:
            return ParquetTarget(table_path).read(spark)
        return spark.read.parquet(os.path.join(table_path, v))

    def repair(self) -> int:
        """Converge per-table pointers to the current manifest (idempotent;
        the recovery path after a crash mid-convergence). Returns how many
        pointers moved."""
        moved = 0
        for table_path, version in self.current().items():
            tgt = ParquetTarget(table_path)
            if tgt.current_version() != version:
                tgt._commit(version)
                moved += 1
        return moved


class DatasetTransaction:
    """Per-dataset apply across many tables (§2.8 exactly-once analog).

    Stage every table's new version first (all merges + tolerance gates
    run with no pointer flipped), then commit. Any failure during staging
    aborts with *zero* tables changed — the reference's dataset-transaction
    rollback (whole dataset in one DB transaction,
    lib/LINZ/BdeDatabase.pm:476-510, conf/linz_bde_uploader.conf:85-92).

    Commit is *jointly atomic*: the single ``DatasetManifest`` pointer flip
    publishes every staged table at once, and the per-table pointers are
    converged afterwards (``repair()`` heals a crash mid-convergence). A
    failure raised by ``commit`` must not lead to ``abort``: once the
    manifest has flipped, the staged directories are live data."""

    def __init__(self, manifest: DatasetManifest) -> None:
        self._staged: list[tuple[ParquetTarget, str, MergeStats]] = []
        self.manifest = manifest

    def stage(self, target: ParquetTarget, version: str, stats: MergeStats) -> None:
        self._staged.append((target, version, stats))

    def commit(self) -> None:
        self.manifest.commit({os.path.abspath(t.path): v for t, v, _ in self._staged})
        # the dataset is now durably committed; pointer convergence below
        # is best-effort and replayable via manifest.repair()
        self.manifest.repair()

    def abort(self) -> None:
        for target, version, _ in self._staged:
            shutil.rmtree(os.path.join(target.path, version), ignore_errors=True)
        self._staged.clear()
