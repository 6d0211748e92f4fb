"""Schema negotiation: header ∩ target projection (reference P1/P2).

The reference intersects the file-declared field names with the target
table's actual columns, case-insensitively, preserving file field order, and
loads only the intersection (``bde_SelectValidColumns``,
/root/reference/sql/02-bde_control_functions.sql.in:1336-1375). Zero matching
columns is a hard error (lib/LINZ/BdeUpload.pm:1031-1033). Config
``COLUMN`` records (conf/tables.conf:50-53) rename the file's fields before
negotiation; the uploader applies them when it reads the files. Missing
target columns take the target's column defaults (working copy created
INCLUDING DEFAULTS, :1276-1279).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class NoMatchingColumnsError(ValueError):
    """No file field matches any target column (reference hard error,
    tested at t/linz_bde_uploader.t:1456-1492)."""


def negotiate_columns(
    df: DataFrame,
    target_schema: T.StructType,
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """Project ``df`` (file-shaped) onto ``target_schema``.

    - keeps only file fields that exist in the target (case-insensitive);
    - casts each kept field to the target column's type (the reference lets
      PostgreSQL COPY do this parse);
    - fills absent target columns with ``defaults`` (or NULL).

    Output column order is the *target* order, ready for a positional sink.
    """
    file_cols = list(df.columns)

    target_by_lower = {f.name.lower(): f for f in target_schema.fields}
    matched = {c.lower() for c in file_cols if c.lower() in target_by_lower}
    if not matched:
        raise NoMatchingColumnsError(
            f"no field matches column names of target table: file fields {file_cols}, "
            f"target columns {[f.name for f in target_schema.fields]}"
        )

    defaults = defaults or {}
    out: list[Column] = []
    for f in target_schema.fields:
        lname = f.name.lower()
        if lname in matched:
            src = next(c for c in file_cols if c.lower() == lname)
            out.append(F.col(src).cast(f.dataType).alias(f.name))
        elif lname in defaults:
            out.append(defaults[lname].cast(f.dataType).alias(f.name))
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(out)


def schema_drift(prev_schema, new_schema) -> "list[dict]":
    """Schema-evolution findings between two snapshot schemas — the
    audit a long-running loader needs when the upstream exporter
    changes shape between runs (the reference handles this implicitly:
    COLUMN records override header names per file,
    `bin/linz_bde_uploader.pl` table definitions pin the target shape;
    this makes the drift EXPLICIT instead of silently negotiated away).

    Returns one finding dict per changed column, name-matched
    case-insensitively (the :func:`negotiate_columns` convention):
    ``{"column", "change", "prev_type", "new_type"}`` with ``change``
    in ``added`` / ``removed`` / ``type_changed`` /
    ``nullability_changed``. Pure driver-side metadata work — no job.
    """
    prev = {f.name.lower(): f for f in prev_schema.fields}
    new = {f.name.lower(): f for f in new_schema.fields}
    findings: list[dict] = []
    for name in sorted(set(prev) | set(new)):
        p, n = prev.get(name), new.get(name)
        if p is None:
            findings.append({
                "column": name, "change": "added",
                "prev_type": "", "new_type": n.dataType.simpleString(),
            })
        elif n is None:
            findings.append({
                "column": name, "change": "removed",
                "prev_type": p.dataType.simpleString(), "new_type": "",
            })
        elif p.dataType != n.dataType:
            findings.append({
                "column": name, "change": "type_changed",
                "prev_type": p.dataType.simpleString(),
                "new_type": n.dataType.simpleString(),
            })
        elif p.nullable != n.nullable:
            findings.append({
                "column": name, "change": "nullability_changed",
                "prev_type": f"nullable={p.nullable}",
                "new_type": f"nullable={n.nullable}",
            })
    return findings

