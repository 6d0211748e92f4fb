"""The character/date/spatial cleaning pass (reference P4–P8).

Re-expresses the behavior contract of the reference's external ``bde_copy``
cleaner, which is fully specified by its shipped configuration
(/root/reference/conf/linz_bde_uploader.conf:349-1245):

- **Character map** (P4): ``|`` and ``\\`` → space (they collide with the
  field/escape syntax), LF → literal ``\\n``, CR → literal ``\\r``; all C0
  control characters except TAB deleted; all C1 controls (U+0080–U+009F)
  deleted; NBSP and broken-bar → space; guillemets « » → ``"``; acute
  accent ´ → ``'``; middle dot · → ``.``; soft hyphen deleted; code points
  U+00A1–U+017F kept as-is, plus en/em dash, curly quotes and bullet
  (U+2013, U+2014, U+2018, U+2019, U+201C, U+201D, U+2022 — the conf's
  "late addition" identity mappings near conf:1222-1241).
- **UTF-8 policy** (P5): ``utf8_encoding enforced`` — invalid sequences
  dropped, characters outside the kept set replaced with ``?``
  (conf:401-409).
- **Date fixup** (P6): timestamps with year < ``minimum_year`` replaced by
  sentinel ``1800-01-01 00:00:00`` (conf:378-383).
- **Spatial fixup** (P7): strip leading digits/spaces off WKT, prepend
  ``SRID=4167;``, add ``longitude_offset`` (default 160.0) to every
  longitude (conf:386-391).
- **Error budget** (P8): per-file error classes routed as
  ignore/warn/error; the load aborts with :class:`ErrorBudgetExceeded` when
  errors exceed ``max_errors`` (conf:359-376; lib/LINZ/BdeUpload.pm:
  1164-1178). The reader counts and enforces it (``sources/crs.py::
  read_crs``); the exception lives here.

Scale posture: the char map compiles to a single JVM ``translate`` plus
``regexp_replace`` calls — whole-stage codegen, zero Python. The load path
does not clean field by field: ``read_crs(clean=True)`` runs
:func:`clean_line` once over each ``|``-delimited record, one ``translate``
and one kept-class ``regexp_replace`` per line, as the reference's
``bde_copy`` cleans the byte stream before ``COPY`` splits it. Only the
longitude-offset rewrite (arithmetic inside free text) uses the sanctioned
slow path: an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _default_char_map() -> dict[str, str | None]:
    m: dict[str, str | None] = {}
    # C0 controls deleted (TAB \x09 kept; LF/CR handled as multi-char below)
    for cp in range(0x01, 0x20):
        if cp in (0x09, 0x0A, 0x0D):
            continue
        m[chr(cp)] = None
    # C1 controls deleted
    for cp in range(0x80, 0xA0):
        m[chr(cp)] = None
    m["|"] = " "
    m["\\"] = " "
    m["\n"] = "\\n"   # multi-char: newline → the two characters backslash-n
    m["\r"] = "\\r"
    m["\u00a0"] = " "   # NBSP -> space
    m["¦"] = " "   # broken bar
    m["«"] = '"'   # «
    m["»"] = '"'   # »
    m["´"] = "'"   # ´
    m["·"] = "."   # ·
    m["\u00ad"] = None  # soft hyphen deleted
    # Invalid UTF-8 bytes surface as U+FFFD from the reader's replacement
    # decode; the reference's enforced policy DELETES invalid bytes
    # (conf:401-409: "invalid bytes deleted (+warn)"), while unmapped
    # valid characters become '?'. Deleting the replacement char here
    # makes the two-stage (decode, clean) pipeline byte-equivalent.
    m["\ufffd"] = None
    return m


#: characters that survive the default map: TAB, printable ASCII, Latin-1/
#: Latin-Extended-A through U+017F (the conf's identity ``replace`` block,
#: conf:409-1219 — note it includes U+017F LONG S at conf:649), plus the
#: conf's "late addition triple width substitutions" (conf:1222-1241):
#: en/em dash U+2013/U+2014, curly quotes U+2018/U+2019/U+201C/U+201D and
#: bullet U+2022. Anything else becomes '?' under the enforced-UTF-8 policy.
_KEPT_CLASS = r"[^\t\x20-\x7E¡-ſ–—‘’“”•]"


@dataclass
class CleanConfig:
    char_map: dict[str, str | None] = field(default_factory=_default_char_map)
    unmapped_replacement: str | None = "?"   # None → keep unmapped chars
    kept_class_regex: str = _KEPT_CLASS
    minimum_year: int = 0
    invalid_datetime: str = "1800-01-01 00:00:00"
    wkt_prefix: str = "SRID=4167;"
    longitude_offset: float = 160.0


def clean_text(col: Column | str, cfg: CleanConfig | None = None) -> Column:
    """The P4+P5 character pass as a single JVM-side expression chain.

    The reference cleaner maps each *input* character exactly once
    (single-pass). Chained Spark replaces would re-map outputs — e.g.
    LF → ``\\n`` followed by ``\\`` → space would destroy the escape — so
    multi-char outputs go through unused private-use placeholders: source →
    placeholder and all 1:1 work in one ``translate`` (inherently
    single-pass), then placeholders expand to their multi-char outputs.
    """
    cfg = cfg or CleanConfig()
    c = F.col(col) if isinstance(col, str) else col
    trans_from, trans_to = "", ""
    deletions = ""
    expansions: list[tuple[str, str]] = []  # (placeholder, output)
    next_placeholder = 0xE000  # private-use area, never in kept set
    for src, dst in cfg.char_map.items():
        if dst is None:
            deletions += src
        elif len(dst) == 1:
            trans_from += src
            trans_to += dst
        else:
            ph = chr(next_placeholder)
            next_placeholder += 1
            trans_from += src
            trans_to += ph
            expansions.append((ph, dst))
    # translate deletes inputs beyond the target string's length
    c = F.translate(c, trans_from + deletions, trans_to)
    for ph, out in expansions:
        c = F.regexp_replace(c, re.escape(ph), out.replace("\\", "\\\\"))
    if cfg.unmapped_replacement is not None:
        c = F.regexp_replace(c, cfg.kept_class_regex, cfg.unmapped_replacement)
    return c


def clean_line(col: Column | str) -> Column:
    """:func:`clean_text` over a whole ``|``-delimited ``.crs`` record.

    The map is the default one minus ``|`` (the field separator), LF and CR
    (the text source ends lines at LF, CR and CRLF, so a record holds
    neither). The separators survive, and splitting the cleaned line gives,
    field by field, ``clean_text`` of the raw fields: each mapping acts on
    one character, none outputs ``|``, and a field never holds ``|``. This
    is one ``translate`` and one kept-class ``regexp_replace`` per line.
    """
    cfg = CleanConfig()
    cfg.char_map = {k: v for k, v in cfg.char_map.items() if k not in "|\n\r"}
    return clean_text(col, cfg)


def fix_date_range(
    col: Column | str,
    cfg: CleanConfig | None = None,
    sentinel_type: str = "timestamp",
) -> Column:
    """P6: timestamps before ``minimum_year`` collapse to the sentinel.
    ``sentinel_type`` must match the input column ('timestamp' or
    'timestamp_ntz') so the when/otherwise branches agree."""
    cfg = cfg or CleanConfig()
    c = F.col(col) if isinstance(col, str) else col
    sentinel = F.lit(cfg.invalid_datetime).cast(sentinel_type)
    return F.when(F.year(c) < cfg.minimum_year, sentinel).otherwise(c)


def _make_wkt_shift_udf(offset: float, prefix: str):
    pair_re = re.compile(r"(-?\d+(?:\.\d+)?)([ ]+)(-?\d+(?:\.\d+)?)")
    strip_re = re.compile(r"^[\d ]+")

    def _shift_one(s: str) -> str:
        s = strip_re.sub("", s)

        def bump(m: re.Match) -> str:
            lon = float(m.group(1)) + offset
            # render without trailing .0 for integral values, like bde_copy's
            # plain %g-style numeric output
            lon_s = f"{lon:g}"
            return f"{lon_s}{m.group(2)}{m.group(3)}"

        return prefix + pair_re.sub(bump, s)

    @pandas_udf("string")
    def wkt_fixup(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else _shift_one(v))

    return wkt_fixup


def fix_wkt(col: Column | str, cfg: CleanConfig | None = None) -> Column:
    """P7: leading-digit strip + SRID prefix + longitude offset.

    The strip+prefix is pure JVM; the longitude arithmetic inside WKT text
    needs real parsing, so it runs as one Arrow-batched pandas UDF.
    Prefer ``fix_wkt_df`` where a whole column is being fixed — it keeps
    the dominant POINT case out of Python entirely.
    """
    cfg = cfg or CleanConfig()
    c = F.col(col) if isinstance(col, str) else col
    if cfg.longitude_offset == 0.0:
        return F.concat(F.lit(cfg.wkt_prefix), F.regexp_replace(c, r"^[\d ]+", ""))
    return _make_wkt_shift_udf(cfg.longitude_offset, cfg.wkt_prefix)(c)


#: integral-coordinate POINT — the overwhelmingly common row shape, whose
#: longitude shift is exact integer arithmetic (no float rendering issues)
_INT_POINT_RE = r"^[\d ]*POINT\((-?\d+)( +)(-?\d+)\)$"


def fix_wkt_df(
    df: DataFrame, col: str, out_col: str, cfg: CleanConfig | None = None
) -> DataFrame:
    """P7 over a whole column, with a JVM fast path.

    Rows matching integral-coordinate ``POINT(lon lat)`` (and an integral
    offset) are rewritten entirely in codegen — regexp_extract + long
    arithmetic + concat; only the remaining rows (multi-pair geometries,
    fractional coordinates) go through the pandas UDF. The split-and-union
    keeps the Python worker out of the hot path instead of hiding it in a
    CASE branch, which Spark would still evaluate for every row.
    """
    cfg = cfg or CleanConfig()
    off = cfg.longitude_offset
    if off != int(off):
        # fractional offsets produce fractional longitudes; %g rendering
        # parity requires the UDF everywhere
        return df.withColumn(out_col, fix_wkt(F.col(col), cfg))
    c = F.col(col)
    is_fast = F.coalesce(c.rlike(_INT_POINT_RE), F.lit(False))
    fast = df.filter(is_fast).withColumn(
        out_col,
        F.concat(
            F.lit(cfg.wkt_prefix),
            F.lit("POINT("),
            (F.regexp_extract(c, _INT_POINT_RE, 1).cast("long") + int(off)).cast("string"),
            F.regexp_extract(c, _INT_POINT_RE, 2),
            F.regexp_extract(c, _INT_POINT_RE, 3),
            F.lit(")"),
        ),
    )
    slow = df.filter(~is_fast).withColumn(out_col, fix_wkt(F.col(col), cfg))
    return fast.unionByName(slow)


class ErrorBudgetExceeded(RuntimeError):
    pass

