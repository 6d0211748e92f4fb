"""Counts observed on the action that runs a frame, so no second pass
counts it."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, n: Column) -> tuple[DataFrame, Observation]:
    """``df`` with the aggregate ``n`` observed on whichever action runs
    it; read the value with ``rows_seen``."""
    seen = Observation()
    return df.observe(seen, n.alias("n")), seen


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed."""
    return observed(df, F.count(F.lit(1)))


def rows_seen(seen: Observation) -> int:
    """The observed count. AQE drops a query stage that came out empty
    from the final plan, and the stage's observed metrics with it: an
    observation without metrics saw no rows."""
    return seen.get["n"] if seen._jo.getRow().length() else 0
