"""``.crs`` (BDE extract) file source.

Format contract (observed from the reference's fixtures and reader call
sites — /root/reference/t/data/pab1.crs:1-20, lib/LINZ/BdeUpload.pm:1014-1067):

- Header: ``KEY<whitespace>value`` lines — ``HEDR SOFTWARE SCHEMA USER
  START END SQL TABLE COLUMN... DESC SIZE`` — terminated by a literal
  ``{CRS-DATA}`` marker line.
- ``COLUMN`` records: ``name  type  NULL|NOT NULL``.
- Data: one row per line, fields ``|``-separated with a trailing ``|``;
  empty string encodes NULL (reference lib/LINZ/BdeDatabase.pm:542,
  ``NULL AS ''``).
- Gzip-compressed variants are read transparently (reference README.md:25).

Spark-first design: the header is tiny and bounded, so it is parsed on the
driver (streamed, never loads the data section); the data section is read
with ``spark.read.text`` (JVM-side, splittable for uncompressed files) and
projected with ``split``/``element_at`` — whole-stage-codegen friendly, no
Python in the row path. Header lines are removed by an exact literal
``NOT IN (header lines)`` filter, which Catalyst evaluates JVM-side; data
lines always carry a trailing ``|`` while header lines do not, so the
filter is exact.

The character pass (P4/P5, ``operators/clean.py``) can run here, once per
line, as the reference's ``bde_copy`` cleans the byte stream before
``COPY ... DELIMITER '|' NULL AS ''`` splits it. The text source ends lines
at LF, CR and CRLF, so a line holds neither; the line pass leaves ``|``
alone, so the cleaned line splits into the same positions as the raw one.
"""

from __future__ import annotations

import gzip
import io
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linz_bde_uploader_spark.observed import observed, rows_seen
from linz_bde_uploader_spark.operators.clean import ErrorBudgetExceeded, clean_line

#: file-side declared type → Spark type (reference headers use
#: integer/int/varchar/char/datetime — t/data/*.crs; the loader itself never
#: casts, the sink's schema wins; these are the natural readings).
_TYPE_MAP = {
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "serial": T.IntegerType(),
    "smallint": T.IntegerType(),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "text": T.StringType(),
    "datetime": T.TimestampNTZType(),
    "date": T.DateType(),
    "decimal": T.DoubleType(),
    "numeric": T.DoubleType(),
    "number": T.DoubleType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "real": T.DoubleType(),
}

DATA_MARKER = "{CRS-DATA}"


@dataclass
class CrsColumn:
    name: str
    type_name: str
    nullable: bool

    @property
    def spark_type(self) -> T.DataType:
        base = self.type_name.lower().split("(", 1)[0].strip()
        return _TYPE_MAP.get(base, T.StringType())


@dataclass
class CrsHeader:
    """Parsed .crs header. START/END drive level-5 continuity checks."""

    table: str = ""
    columns: list[CrsColumn] = field(default_factory=list)
    start: str | None = None
    end: str | None = None
    meta: dict[str, str] = field(default_factory=dict)
    raw_lines: list[str] = field(default_factory=list)

    @property
    def field_names(self) -> list[str]:
        return [c.name for c in self.columns]

    @property
    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type, True) for c in self.columns]
        )


def _open_text(path: str) -> io.TextIOBase:
    if path.endswith(".gz"):
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8", errors="replace")
    return open(path, encoding="utf-8", errors="replace")


def read_crs_header(path: str, max_header_lines: int = 10000) -> CrsHeader:
    """Stream the header (only) off the front of a .crs file on the driver.

    Bounded: stops at the ``{CRS-DATA}`` marker; never reads the data
    section, so it is safe for arbitrarily large extracts.
    """
    hdr = CrsHeader()
    with _open_text(path) as fh:
        for i, line in enumerate(fh):
            line = line.rstrip("\r\n")
            hdr.raw_lines.append(line)
            if line.strip() == DATA_MARKER:
                break
            if i >= max_header_lines:
                raise ValueError(f"{path}: no {DATA_MARKER} marker in first {max_header_lines} lines")
            if not line.strip():
                continue
            parts = line.split(None, 1)
            key = parts[0].upper()
            value = parts[1].strip() if len(parts) > 1 else ""
            if key == "COLUMN":
                toks = value.split()
                if not toks:
                    continue
                name = toks[0].lower()
                type_name = toks[1] if len(toks) > 1 else "varchar"
                nullable = "NOT" not in [t.upper() for t in toks[2:]]
                hdr.columns.append(CrsColumn(name, type_name, nullable))
            elif key == "TABLE":
                hdr.table = value.strip().lower()
            elif key == "START":
                hdr.start = value
            elif key == "END":
                hdr.end = value
            else:
                hdr.meta[key] = value
        else:
            raise ValueError(f"{path}: missing {DATA_MARKER} marker")
    return hdr


def read_crs(
    spark: SparkSession,
    path: str,
    cast: bool = True,
    max_errors: int = 0,
    clean: bool = False,
) -> tuple[DataFrame, CrsHeader]:
    """Read one .crs file into a DataFrame.

    Returns ``(df, header)``. Column values are raw header-typed columns;
    empty string becomes NULL (the format's NULL encoding). With
    ``cast=False`` every column stays string-typed (the reference defers
    typing to the target table — schema negotiation does the same here).

    Rows whose field count doesn't match the header (``column_count`` error
    class, P8) are excluded from the result; they are counted eagerly, in
    one job that scans the file to Spark's ``noop`` sink and observes the
    count, and ``ErrorBudgetExceeded`` is raised when it exceeds ``max_errors``
    (reference: bde_copy error budget, conf/linz_bde_uploader.conf:359-376
    and max_file_errors handling at lib/LINZ/BdeUpload.pm:1164-1178).
    Value-level casts are ``try_cast`` so a single bad cell nulls out rather
    than aborting a 100-TB job (the date-range error class is the cleaner's
    job, not the reader's).

    With ``clean=True`` every field goes through the character pass
    (P4/P5) before any cast: each line is cleaned once by ``clean_line``
    and split again, and a field is the cleaned piece at its position —
    the same value as ``clean_text`` on the raw field. The NULL test stays
    on the raw field, so a field of only deletable characters reads ``''``,
    not NULL.
    """
    header = read_crs_header(path)
    if not header.columns:
        raise ValueError(f"{path}: header declares no COLUMN records")

    # Exact JVM-side header removal: every header line literal (and blanks).
    # Data lines always carry a trailing '|' while header lines do not, so
    # the literal filter cannot drop a data row.
    header_lits = sorted({ln for ln in header.raw_lines if ln})
    data = (
        spark.read.text(path)
        .filter((F.length("value") > 0) & (~F.col("value").isin(header_lits)))
        .select("value", F.split("value", r"\|").alias("_raw"))
    )
    # column_count validation: a valid row has a trailing '|', so it splits
    # into n_fields + 1 pieces with an empty last piece. (Catalyst pushes
    # this filter below the projection and re-derives the split there.)
    n_ok = F.size("_raw") == len(header.columns) + 1
    # An observation on a scan, not filter().count(): under AQE the count
    # runs a shuffle-map job and then the final aggregate.
    scan, seen = observed(data, F.count_if(~n_ok))
    scan.write.format("noop").mode("overwrite").save()
    n_bad = rows_seen(seen)
    if n_bad > max_errors:
        raise ErrorBudgetExceeded(
            f"{path}: {n_bad} column_count errors exceeds max_errors={max_errors}"
        )
    data = data.filter(n_ok)
    if clean:
        # Its own projection: inlined into each element_at below, Catalyst
        # would clean the line once per column.
        data = data.select("_raw", F.split(clean_line("value"), r"\|").alias("_cl"))
    cols = []
    for i, c in enumerate(header.columns):
        raw = F.element_at("_raw", i + 1)
        v = F.element_at("_cl", i + 1) if clean else raw
        v = F.when(raw == "", None).otherwise(v)  # '' encodes NULL
        if cast:
            v = v.try_cast(c.spark_type)
        cols.append(v.alias(c.name))
    return data.select(cols), header
