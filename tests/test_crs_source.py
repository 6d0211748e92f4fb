"""Golden tests for the .crs reader (reference format contract:
/root/reference/t/data/*.crs, header keys + '|'-terminated rows +
empty-string-is-NULL)."""

import gzip

from linz_bde_uploader_spark.sources.crs import read_crs, read_crs_header


def test_header_parse(crs_dir):
    hdr = read_crs_header(str(crs_dir / "bnd1.crs"))
    assert hdr.table == "bnd_line"
    assert hdr.field_names == ["line_id", "seq", "ref_id", "flipped", "audit_id"]
    assert hdr.start == "2024-03-05 10:00:00"
    assert [c.type_name for c in hdr.columns] == [
        "integer", "integer", "integer", "char", "integer",
    ]
    assert hdr.columns[4].nullable is False
    assert hdr.meta["HEDR"] == "2.0.0"


def test_read_snapshot(spark, crs_dir):
    df, hdr = read_crs(spark, str(crs_dir / "bnd1.crs"))
    rows = sorted(df.collect(), key=lambda r: r.line_id)
    assert len(rows) == 3
    assert rows[0].line_id == 9001 and rows[0].flipped == "Y" and rows[0].audit_id == 71001
    assert rows[2].ref_id == 503
    assert df.schema["line_id"].dataType.typeName() == "integer"


def test_empty_string_is_null(spark, crs_dir):
    df, _ = read_crs(spark, str(crs_dir / "glyphs.crs"))
    rows = {r.id: r.des for r in df.collect()}
    assert rows[4] is None


def test_utf8_fidelity(spark, crs_dir):
    df, _ = read_crs(spark, str(crs_dir / "glyphs.crs"))
    rows = {r.id: r.des for r in df.collect()}
    assert rows[1] == "café"
    assert rows[2] == "naïve – dash"
    assert rows[3] == "Ōtaki"


def test_gzip_transparency(spark, crs_dir, tmp_path):
    src = (crs_dir / "bnd1.crs").read_bytes()
    gz = tmp_path / "bnd1.crs.gz"
    gz.write_bytes(gzip.compress(src))
    df, hdr = read_crs(spark, str(gz))
    assert hdr.table == "bnd_line"
    assert df.count() == 3


def test_changeset_read(spark, crs_dir):
    df, hdr = read_crs(spark, str(crs_dir / "audit.crs"))
    assert hdr.table == "audit_data"
    assert df.count() == 5
    acts = {r.tablekeyvalue: r.action for r in df.collect()}
    assert acts[71003] == "D" and acts[71100] == "I" and acts[71001] == "U"
    ts = df.filter("id = 1").collect()[0].timestamp
    assert str(ts) == "2024-03-05 10:30:00"


#: one record per character class the cleaner handles; written as bytes so
#: line 8 can carry invalid UTF-8 (a stray continuation byte mid-field, and
#: a lead byte whose next byte is the field's '|')
_DIRTY_LINES = [
    "1|c0 \x01\x07\x0b\x1f end|c1 \x80\x85\x9f end|",
    "2|soft\u00adhyphen|nbsp\u00a0here|",
    "3|«quoted»|back\\slash|",
    "4|漢字 Ελληνικά|Ōtaki māori|",
    "5|tab\there|bar¦ acute´ dot·|",
    "6||\u00ad\x01\x85|",
    "7|–—‘’“”•|emoji \U0001f600 end|",
]


def _dirty_crs(path):
    head = (
        "HEDR\t 2.0.0\nTABLE\tdirty\n"
        "COLUMN\t id   integer NULL\n"
        "COLUMN\t a    varchar NULL\n"
        "COLUMN\t b    varchar NULL\n"
        "{CRS-DATA}\n"
    )
    body = "".join(ln + "\n" for ln in _DIRTY_LINES).encode("utf-8")
    body += b"8|bad\x80byte|tail\xc3|\n"
    path.write_bytes(head.encode("utf-8") + body)
    return str(path)


def test_clean_in_reader_equals_clean_per_field(spark, tmp_path):
    """One character pass per line gives exactly what ``clean_text`` gives
    on each raw field: the same values, the same NULLs."""
    from linz_bde_uploader_spark.operators.clean import clean_text

    p = _dirty_crs(tmp_path / "dirty.crs")
    per_field, _ = read_crs(spark, p, cast=False)
    per_field = per_field.select([clean_text(c).alias(c) for c in per_field.columns])
    per_line, _ = read_crs(spark, p, cast=False, clean=True)
    assert per_line.columns == per_field.columns == ["id", "a", "b"]
    got = sorted(tuple(r) for r in per_line.collect())
    assert got == sorted(tuple(r) for r in per_field.collect())
    rows = {r[0]: r[1:] for r in got}
    assert len(rows) == 8
    assert rows["1"] == ("c0  end", "c1  end")
    assert rows["2"] == ("softhyphen", "nbsp here")
    assert rows["3"] == ('"quoted"', "back slash")
    assert rows["4"] == ("?? ????????", "Ōtaki māori")
    assert rows["5"] == ("tab\there", "bar  acute' dot.")
    assert rows["6"] == (None, "")  # empty is NULL; all-deleted is ''
    assert rows["7"] == ("–—‘’“”•", "emoji ? end")
    assert rows["8"] == ("badbyte", "tail")


def test_bad_row_check_is_one_job(spark, crs_dir, tmp_path, jobs_launched):
    """The column_count check observes its count on one scan of the file:
    one job per ``read_crs``, with the exact count in the budget error. An
    empty data section reads 0 bad rows."""
    import pytest

    from linz_bde_uploader_spark.operators.clean import ErrorBudgetExceeded

    src = (crs_dir / "bnd1.crs").read_text(encoding="utf-8")
    bad = tmp_path / "bad.crs"
    bad.write_text(src + "9004|4|\n9005|5|505|N|71005|x|\n", encoding="utf-8")
    (df, _), jobs = jobs_launched(lambda: read_crs(spark, str(bad), max_errors=2))
    assert jobs == 1
    assert df.count() == 3
    with pytest.raises(ErrorBudgetExceeded, match="2 column_count errors exceeds max_errors=1"):
        read_crs(spark, str(bad), max_errors=1)

    empty = tmp_path / "empty.crs"
    empty.write_text(src[: src.index("{CRS-DATA}")] + "{CRS-DATA}\n", encoding="utf-8")
    (df, _), jobs = jobs_launched(lambda: read_crs(spark, str(empty)))
    assert jobs == 1 and df.count() == 0
