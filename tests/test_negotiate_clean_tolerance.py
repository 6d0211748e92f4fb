"""Schema negotiation (P1/P2), cleaning pass (P4–P8), tolerance gate (C9)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linz_bde_uploader_spark.operators.clean import (
    CleanConfig,
    ErrorBudgetExceeded,
    clean_text,
    fix_date_range,
    fix_wkt,
)
from linz_bde_uploader_spark.operators.negotiate import (
    NoMatchingColumnsError,
    negotiate_columns,
)
from linz_bde_uploader_spark.operators.tolerance import (
    RowToleranceError,
    check_row_tolerance,
)

TARGET = T.StructType(
    [
        T.StructField("line_id", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("extra_col", T.StringType()),
        T.StructField("audit_id", T.IntegerType()),
    ]
)


def test_negotiate_intersection_order_and_defaults(spark):
    df = spark.createDataFrame(
        [("9001", "1", "zzz", "71001")], ["LINE_ID", "seq", "unknown_field", "audit_id"]
    )
    out = negotiate_columns(df, TARGET)
    assert out.columns == ["line_id", "seq", "extra_col", "audit_id"]
    row = out.collect()[0]
    assert row.line_id == 9001          # case-insensitive match + cast
    assert row.extra_col is None        # missing target col → default NULL
    assert row.audit_id == 71001


def test_negotiate_defaults_expression(spark):
    df = spark.createDataFrame([("1",)], ["line_id"])
    out = negotiate_columns(df, TARGET, defaults={"extra_col": F.lit("dflt")})
    assert out.collect()[0].extra_col == "dflt"


def test_negotiate_zero_match_is_error(spark):
    df = spark.createDataFrame([("a", "b")], ["x", "y"])
    with pytest.raises(NoMatchingColumnsError):
        negotiate_columns(df, TARGET)


def test_clean_char_map(spark):
    df = spark.createDataFrame(
        [
            ("a|b",),            # pipe → space
            ("a\\b",),           # backslash → space
            ("a\nb",),           # LF → literal \n
            ("a\rb",),           # CR → literal \r
            ("a\x01b\x1fc",),    # C0 controls deleted
            ("a\x85b",),       # C1 control deleted
            ("a\u00a0b",),       # NBSP → space
            ("«quoted»",),       # guillemets → "
            ("x´y·z",),          # acute → ', middot → .
            ("soft\u00adhyphen",),
            ("keep: café Ōtaki",),  # kept set... Ō is U+014C ≤ U+017E
            ("emoji \U0001f600 gone",),  # unmapped → ?
        ],
        ["s"],
    )
    out = [r.c for r in df.select(clean_text("s").alias("c")).collect()]
    assert out[0] == "a b"
    assert out[1] == "a b"
    assert out[2] == "a\\nb"
    assert out[3] == "a\\rb"
    assert out[4] == "abc"
    assert out[5] == "ab"
    assert out[6] == "a b"
    assert out[7] == '"quoted"'
    assert out[8] == "x'y.z"
    assert out[9] == "softhyphen"
    assert out[10] == "keep: café Ōtaki"
    assert out[11] == "emoji ? gone"


def test_reference_identity_keeps_survive(spark):
    """The reference conf identity-KEEPS eight code points above U+017E:
    U+017F (long s, conf:649) and the 'late addition triple width' block
    (conf:1222-1241): en/em dash, curly quotes, bullet. They must pass
    through clean_text unchanged — round-2 regression turned them into '?'."""
    survivors = "ſ–—‘’“”•"
    df = spark.createDataFrame([(f"a{survivors}b",), ("☃" + survivors,)], ["s"])
    out = [r.c for r in df.select(clean_text("s").alias("c")).collect()]
    assert out[0] == f"a{survivors}b"
    assert out[1] == "?" + survivors  # unmapped snowman still '?'


def test_date_fixup(spark):
    cfg = CleanConfig(minimum_year=1900)
    df = spark.createDataFrame(
        [("1850-06-01 12:00:00",), ("2020-06-01 12:00:00",)], ["s"]
    ).select(F.to_timestamp("s").alias("ts"))
    out = [str(r.f) for r in df.select(fix_date_range("ts", cfg).alias("f")).collect()]
    assert out[0] == "1800-01-01 00:00:00"
    assert out[1] == "2020-06-01 12:00:00"


def test_wkt_fixup(spark):
    df = spark.createDataFrame(
        [
            ("123 POINT(10.5 -41.25)",),
            ("LINESTRING(1 2, 3.5 4.5)",),
            (None,),
        ],
        ["wkt"],
    )
    out = [r.w for r in df.select(fix_wkt("wkt").alias("w")).collect()]
    assert out[0] == "SRID=4167;POINT(170.5 -41.25)"
    assert out[1] == "SRID=4167;LINESTRING(161 2, 163.5 4.5)"
    assert out[2] is None


def test_invalid_utf8_bytes_deleted(spark, tmp_path):
    """bde_copy's enforced policy: invalid bytes are DELETED, unmapped
    valid chars become '?' (conf:401-409). Invalid bytes surface as U+FFFD
    from the replacement decode and the clean pass removes them."""
    from linz_bde_uploader_spark.operators.clean import clean_text
    from linz_bde_uploader_spark.sources.crs import read_crs

    p = tmp_path / "bad.crs"
    p.write_bytes(
        b"HEDR 1\nTABLE t\nCOLUMN a varchar\n{CRS-DATA}\n" b"ab\xffcd|\n"
    )  # \xff is an invalid UTF-8 byte
    df, _ = read_crs(spark, str(p))
    out = df.select(clean_text("a").alias("a")).collect()[0].a
    assert out == "abcd"  # deleted, not '?'
    # unmapped-but-valid characters still become '?'
    df2 = spark.createDataFrame([("a☃b",)], "a string")
    assert df2.select(clean_text("a").alias("a")).collect()[0].a == "a?b"


def test_wkt_fixup_df_hybrid(spark):
    """fix_wkt_df: integral POINTs rewrite in pure JVM; everything else
    (multi-pair, fractional, leading digits, NULL) falls to the UDF —
    outputs identical to the UDF-only path."""
    from linz_bde_uploader_spark.operators.clean import fix_wkt_df

    rows = [
        (1, "POINT(12 -41)"),                 # fast path
        (2, "123 POINT(10.5 -41.25)"),        # fractional -> slow
        (3, "LINESTRING(1 2, 3.5 4.5)"),      # multi-pair -> slow
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, wkt string")
    out = {r.id: r.w for r in fix_wkt_df(df, "wkt", "w").collect()}
    assert out[1] == "SRID=4167;POINT(172 -41)"
    assert out[2] == "SRID=4167;POINT(170.5 -41.25)"
    assert out[3] == "SRID=4167;LINESTRING(161 2, 163.5 4.5)"
    assert out[4] is None
    assert out.keys() == {1, 2, 3, 4}


def test_error_budget(spark, crs_dir, tmp_path):
    from linz_bde_uploader_spark.sources.crs import read_crs

    # a row one field short is a column_count error (P8): over budget the
    # read aborts, within budget the row is dropped and the rest load
    short = tmp_path / "short.crs"
    short.write_text(
        (crs_dir / "bnd1.crs").read_text(encoding="utf-8") + "9004|4|504|71004|\n",
        encoding="utf-8",
    )
    with pytest.raises(ErrorBudgetExceeded, match="1 column_count errors"):
        read_crs(spark, str(short), max_errors=0)
    df, _ = read_crs(spark, str(short), max_errors=5)
    assert sorted(r.line_id for r in df.collect()) == [9001, 9002, 9003]


def test_tolerance_tiers():
    # mirror of the reference warn/error behavior (row_tol=0.40,0.95 style)
    ok = check_row_tolerance(100, 100, tol_error=0.40, tol_warning=0.95)
    assert ok.level == "ok"
    warn = check_row_tolerance(100, 75, tol_error=0.40, tol_warning=0.95)
    assert warn.level == "warning"
    with pytest.raises(RowToleranceError, match="error tolerance 40"):
        check_row_tolerance(100, 25, tol_error=0.40, tol_warning=0.95)
    disabled = check_row_tolerance(100, 0)
    assert disabled.level == "ok"


def test_clean_text_matches_python_model(spark):
    """Property check: clean_text == a direct Python simulation of the
    reference cleaner (single-pass map, then kept-class enforcement) on
    random unicode including the map's edge characters."""
    import random
    import re as _re

    from linz_bde_uploader_spark.operators.clean import (
        _KEPT_CLASS,
        _default_char_map,
    )

    cmap = _default_char_map()
    kept = _re.compile(_KEPT_CLASS)

    def model(s: str) -> str:
        out = []
        for ch in s:  # single pass: map first, then policy on unmapped
            if ch in cmap:
                if cmap[ch] is not None:
                    out.append(cmap[ch])
            elif kept.search(ch):
                out.append("?")
            else:
                out.append(ch)
        return "".join(out)

    rng = random.Random(7)
    alphabet = (
        "ab|\\\n\r\t\x01\x1f\x85 «»´·­ ¦ſ–—‘’“”•☃é€�"
        "\U0001f600Ōz0"
    )
    rows = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
            for _ in range(200)]
    df = spark.createDataFrame([(r,) for r in rows], ["s"])
    got = [r.c for r in df.select(clean_text("s").alias("c")).collect()]
    for src, g in zip(rows, got):
        assert g == model(src), repr(src)


class TestSchemaDrift:
    def _schemas(self):
        from pyspark.sql import types as T

        prev = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("price", T.DoubleType(), True),
            T.StructField("old_flag", T.StringType(), True),
        ])
        new = T.StructType([
            T.StructField("ID", T.LongType(), True),            # nullability
            T.StructField("name", T.StringType(), True),        # unchanged
            T.StructField("price", T.StringType(), True),       # type change
            T.StructField("added_col", T.IntegerType(), True),  # added
        ])                                                       # old_flag removed
        return prev, new

    def test_findings(self):
        from linz_bde_uploader_spark.operators.negotiate import schema_drift

        prev, new = self._schemas()
        got = {f["column"]: f for f in schema_drift(prev, new)}
        assert got["added_col"]["change"] == "added"
        assert got["old_flag"]["change"] == "removed"
        assert got["price"]["change"] == "type_changed"
        assert got["price"]["prev_type"] == "double"
        assert got["id"]["change"] == "nullability_changed"
        assert "name" not in got
        # identical schemas -> no findings
        assert schema_drift(prev, prev) == []
