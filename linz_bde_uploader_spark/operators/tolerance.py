"""Row-count tolerance invariant (reference C9).

After a load that deletes rows, the new row count must satisfy
``new_count >= ceil(old_count * tolerance)`` — two tiers, warning and error;
the error tier aborts (rolls back) the load
(/root/reference/sql/02-bde_control_functions.sql.in:2006-2083; config
``row_tol=<error>,<warning>`` conf/tables.conf:41-46; e2e behavior
t/linz_bde_uploader.t:1309-1359).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


class RowToleranceError(RuntimeError):
    """Error-tier violation — the load must be rolled back."""


@dataclass
class ToleranceResult:
    old_count: int
    new_count: int
    warning_threshold: int
    error_threshold: int
    level: str  # 'ok' | 'warning' (the error tier raises)

    @property
    def ok(self) -> bool:
        return self.level == "ok"


def check_row_tolerance(
    old_count: int,
    new_count: int,
    tol_error: float | None = None,
    tol_warning: float | None = None,
) -> ToleranceResult:
    """Evaluate both tiers. Tolerances are ratios in [0,1]; ``None`` disables
    a tier. ``ceil(count*tol)::bigint`` per the reference (:2064,2073). The
    error tier raises :class:`RowToleranceError`."""
    err_thr = int(math.ceil(old_count * tol_error)) if tol_error is not None else 0
    warn_thr = int(math.ceil(old_count * tol_warning)) if tol_warning is not None else 0
    if tol_error is not None and new_count < err_thr:
        raise RowToleranceError(
            f"row count {new_count} below error tolerance {err_thr} "
            f"(= ceil({old_count} * {tol_error}))"
        )
    level = "warning" if tol_warning is not None and new_count < warn_thr else "ok"
    return ToleranceResult(old_count, new_count, warn_thr, err_thr, level)
