"""JSONL source with the engine's error-budget semantics.

The reference reads exactly one format (`.crs`, sources/crs.py — its
reader abstraction is LINZ::Bde, lib/LINZ/BdeUpload.pm:1014). A modern
ingest surface also takes line-delimited JSON staging drops; this reader
extends the same contract the `.crs` path established:

- declarative schema (Catalyst prunes/pushes down as usual);
- PERMISSIVE parse with a corrupt-record column — bad lines are
  *routed*, not fatal (reference P8: bde_copy error classes,
  conf/linz_bde_uploader.conf:359-376);
- an eager budget check that raises ``ErrorBudgetExceeded`` when bad
  lines exceed ``max_errors`` (lib/LINZ/BdeUpload.pm:1164-1178's abort
  tier).

Gzip transparency is inherited from Hadoop text IO, exactly like `.crs`
(S2). At scale the one-pass budget count is the same scan the data read
warms; swap to accumulators only if fail-fast semantics can be relaxed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators.clean import ErrorBudgetExceeded

CORRUPT_COL = "_corrupt_record"


def _enforce_budget(
    raw: DataFrame, what: str, max_errors: int
) -> DataFrame:
    bad = raw.filter(F.col(CORRUPT_COL).isNotNull())
    n_bad = bad.count()
    if n_bad > max_errors:
        sample = [r[CORRUPT_COL] for r in bad.limit(3).collect()]
        raise ErrorBudgetExceeded(
            f"{what}: {n_bad} corrupt lines exceeds max_errors={max_errors}; "
            f"sample: {sample!r}"
        )
    return raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    max_errors: int = 0,
) -> DataFrame:
    """Line-delimited JSON with a declared schema and an error budget.

    ``schema_ddl`` is the column list in DDL form (e.g. ``"doc_id LONG,
    text STRING"``); the corrupt-record column is appended internally and
    stripped from the result.
    """
    raw = (
        spark.read.schema(f"{schema_ddl}, {CORRUPT_COL} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    # Spark leaves corrupt-record rows with all data columns NULL and the
    # raw line in the corrupt column; a cached scan is required before
    # filtering on the corrupt column alone (SPARK-21610) — selecting all
    # columns, as here, is fine.
    return _enforce_budget(raw.cache(), path, max_errors)

