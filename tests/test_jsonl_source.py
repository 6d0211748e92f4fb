"""JSONL source: declared schema, corrupt-record routing, error
budget (the .crs contract generalized — reference P8 abort tier,
lib/LINZ/BdeUpload.pm:1164-1178)."""

from __future__ import annotations

import pytest

from linz_bde_uploader_spark.operators.clean import ErrorBudgetExceeded
from linz_bde_uploader_spark.sources.jsonl import read_jsonl

SCHEMA = "id LONG, name STRING, score DOUBLE"


@pytest.fixture()
def jsonl_file(tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n'
        '{"id": 2, "name": "b", "score": 2.5}\n'
        "this is not json\n"
        '{"id": 4, "name": "d", "score": 4.5}\n'
    )
    return str(p)


def test_jsonl_budget_enforced(spark, jsonl_file):
    with pytest.raises(ErrorBudgetExceeded) as ei:
        read_jsonl(spark, jsonl_file, SCHEMA, max_errors=0)
    assert "1 corrupt lines" in str(ei.value)


def test_jsonl_bad_rows_routed_within_budget(spark, jsonl_file):
    df = read_jsonl(spark, jsonl_file, SCHEMA, max_errors=1)
    rows = sorted((r.id, r.name, r.score) for r in df.collect())
    assert rows == [(1, "a", 1.5), (2, "b", 2.5), (4, "d", 4.5)]
    assert "_corrupt_record" not in df.columns


def test_jsonl_gzip_transparency(spark, tmp_path):
    import gzip

    p = tmp_path / "rows.jsonl.gz"
    with gzip.open(p, "wt") as fh:
        fh.write('{"id": 7, "name": "z", "score": 0.5}\n')
    df = read_jsonl(spark, str(p), SCHEMA)
    assert [(r.id, r.name, r.score) for r in df.collect()] == [(7, "z", 0.5)]
