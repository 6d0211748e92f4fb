"""Round-16 optimization tests.

Pins the engine-exact integer-scaled rounding that replaced the float
``round()`` calls in ``dq.gate_agreement`` / ``_gate_agreement_sql``:
the driver's round-15 correctness gate caught a hash mismatch on a
cell that both local engines agreed on, i.e. the old double-division
``round(x, 4)`` path was sensitive to the engine build. The new path
rounds in int64 (half away from zero) and performs exactly one
IEEE-exact division by 10000.0, so the result bits are engine-free.
"""

from fractions import Fraction

import pytest


def _half_away_4dp(num: int, den: int) -> float:
    """Ground truth: exact rational, half-away-from-zero at 4 dp."""
    if den == 0:
        return 0.0
    f = Fraction(num, den) * 10000
    q = (2 * abs(f.numerator) + f.denominator) // (2 * f.denominator)
    return (q if num >= 0 else -q) / 10000.0


# (n, na, nb, n11) arms: degenerate, exact .xxxx5 ties on both the
# agree and kappa rationals, negative kappa, near-tie last-ulp traps.
ARMS = [
    (6, 6, 6, 6),          # degenerate: den == 0
    (10, 5, 5, 5),         # kappa = 1 exactly
    (10, 5, 5, 0),         # kappa = -1 exactly
    (16, 8, 8, 5),         # agree = 10/16 = .625 exact
    (10000, 5000, 5000, 2813),   # kappa tie candidates
    (20000, 10000, 10000, 5001),
    (80000, 40000, 40000, 20005),  # agree tie: 40010/80000 = .5 + tie
    (3, 2, 1, 1),
    (7, 3, 5, 2),
    (12345, 6789, 4321, 2222),
    (99991, 45678, 54321, 23456),
    (8, 4, 4, 3),          # agree = 6/8, kappa = .5
    (40000, 20000, 20000, 10001),  # kappa = 1/10000 * k near-tie
    (10, 9, 9, 9),
    (10, 1, 9, 1),
]


def _cells(n, na, nb, n11):
    n10 = na - n11
    n01 = nb - n11
    n00 = n - na - nb + n11
    e = na * nb + (n - na) * (n - nb)
    num = n * (n11 + n00) - e
    den = n * n - e
    return n10, n01, n00, num, den


class TestGateAgreementEngineExactRounding:
    def test_spark_duckdb_and_rational_agree(self, spark):
        duckdb = pytest.importorskip("duckdb")
        from linz_bde_uploader_spark.functions.dq import (
            Q_AGREE_EXPR,
            Q_KAPPA_EXPR,
        )
        from pyspark.sql import functions as F

        rows = []
        for n, na, nb, n11 in ARMS:
            n10, n01, n00, num, den = _cells(n, na, nb, n11)
            assert min(n10, n01, n00) >= 0, "bad arm fixture"
            rows.append((n, n11, n10, n01, n00, num, den))
        sdf = spark.createDataFrame(
            rows,
            "n long, n11 long, n10 long, n01 long, n00 long, "
            "_num long, _den long",
        )
        got = (
            sdf.select(
                (F.expr(Q_AGREE_EXPR).cast("double") / F.lit(10000.0))
                .alias("agree_frac"),
                F.when(F.col("_den") == 0, F.lit(0.0))
                .otherwise(
                    F.expr(Q_KAPPA_EXPR).cast("double") / F.lit(10000.0)
                )
                .alias("kappa"),
            )
            .collect()
        )
        con = duckdb.connect()
        duck_agree = Q_AGREE_EXPR.replace(" div ", " // ").replace(
            "10000L", "10000"
        )
        duck_kappa = Q_KAPPA_EXPR.replace(" div ", " // ").replace(
            "10000L", "10000"
        )
        for (n, na, nb, n11), row in zip(ARMS, got):
            n10, n01, n00, num, den = _cells(n, na, nb, n11)
            (da, dk) = con.execute(
                f"SELECT CAST(({duck_agree}) AS DOUBLE) / 10000.0, "
                f"CASE WHEN _den = 0 THEN 0.0 ELSE "
                f"CAST(({duck_kappa}) AS DOUBLE) / 10000.0 END "
                f"FROM (SELECT CAST({n} AS BIGINT) n, "
                f"CAST({n11} AS BIGINT) n11, CAST({n10} AS BIGINT) n10, "
                f"CAST({n01} AS BIGINT) n01, CAST({n00} AS BIGINT) n00, "
                f"CAST({num} AS BIGINT) _num, CAST({den} AS BIGINT) _den)"
            ).fetchone()
            want_agree = _half_away_4dp(n11 + n00, n)
            want_kappa = _half_away_4dp(num, den)
            # bit-exact three-way agreement, including repr (the
            # driver hashes raw reprs; -0.0 would be a mismatch)
            assert repr(row.agree_frac) == repr(da) == repr(want_agree)
            assert repr(row.kappa) == repr(dk) == repr(want_kappa)

    def test_full_query_oracle_parity_raw(self, spark, sf_dir):
        duckdb = pytest.importorskip("duckdb")
        import __spark_entry__ as entry

        sdf = entry.queries()["q_gate_agreement"](spark, sf_dir)
        srows = sorted(tuple(r) for r in sdf.collect())
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        orows = sorted(
            con.execute(entry.oracle_sql()["q_gate_agreement"]).fetchall()
        )
        # raw reprs, no float normalization — stricter than the old
        # 6-dp-rounded comparator that let the r15 driver miss through
        assert [repr(r) for r in srows] == [repr(r) for r in orows]


class TestHitsDegenerateGuard:
    def test_n_iters_zero_raises_value_error(self, spark):
        from linz_bde_uploader_spark.functions.graph import hits

        e = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="n_iters"):
            hits(e, n_iters=0)


class TestMemoLifecycleHardening:
    def test_column_memo_invalidated_on_context_change(self, spark):
        from pyspark.sql import functions as F

        from linz_bde_uploader_spark import caching

        c1 = caching.memo_column(("r16-test",), lambda: F.lit(1))
        assert caching.memo_column(("r16-test",), lambda: F.lit(2)) is c1
        # simulate a gateway/context swap: the memo must NOT serve the
        # old tree to a different active context
        saved = type(spark.sparkContext)._active_spark_context
        try:
            type(spark.sparkContext)._active_spark_context = object()
            # builder must not need the JVM under the dummy context;
            # memo_column only stores what it returns
            sentinel = object()
            c2 = caching.memo_column(("r16-test",), lambda: sentinel)
            assert c2 is sentinel  # old tree NOT served across contexts
        finally:
            type(spark.sparkContext)._active_spark_context = saved
            caching._COLUMN_EXPRS.clear()
            caching._MEMO_CTX = None

    def test_memoized_query_survives_session_stop_start(self):
        # the VERDICT item-6 scenario, end to end in a clean process:
        # build a memoized gate under session 1, stop it, re-run the
        # same memoized query under session 2.
        import subprocess
        import sys

        code = """
import sys
sys.path.insert(0, "/root/repo")
from linz_bde_uploader_spark.session import get_spark
from linz_bde_uploader_spark.functions.text import gopher_pass
import pyspark.sql.functions as F

def run(spark):
    d = spark.createDataFrame(
        [(1, "the of and to a in is it was for " * 5)],
        "doc_id long, text string")
    return d.select(gopher_pass("text").alias("g")).collect()[0].g

s1 = get_spark("memo-lifecycle-1", shuffle_partitions=2)
r1 = run(s1)
s1.stop()
s2 = get_spark("memo-lifecycle-2", shuffle_partitions=2)
r2 = run(s2)
s2.stop()
assert r1 == r2, (r1, r2)
print("MEMO-LIFECYCLE-OK")
"""
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=600,
            env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "2"},
        )
        assert "MEMO-LIFECYCLE-OK" in out.stdout, out.stderr[-2000:]


class TestScanSplitConfBytes:
    def test_suffix_parsing_and_default(self, spark):
        from linz_bde_uploader_spark.plans.workload import (
            _split_conf_bytes,
        )

        assert _split_conf_bytes(None) == 128 * 1024 * 1024
        old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        try:
            for raw, want in [
                ("134217728b", 128 * 1024**2),
                ("64m", 64 * 1024**2),
                ("64MB", 64 * 1024**2),
                ("1g", 1024**3),
                ("4096k", 4 * 1024**2),
                ("12345", 12345),
                ("1t", 1024**4),
                ("2pb", 2 * 1024**5),
            ]:
                spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
                assert _split_conf_bytes(spark) == want, raw
        finally:
            if old is None:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
            else:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old)


class TestDuckdbDoubleLiterals:
    def test_dlit_round_trips_known_drifters(self):
        duckdb = pytest.importorskip("duckdb")
        import __spark_entry__ as entry
        from linz_bde_uploader_spark.functions.dedup import lsh_scurve
        from linz_bde_uploader_spark.functions.sampling import (
            CHIN_EXP_D,
            CHIN_EXP_N,
            CHIN_G,
        )
        from linz_bde_uploader_spark.functions.sketches import hll_lc_terms

        con = duckdb.connect()
        vals = [CHIN_G, CHIN_EXP_N, CHIN_EXP_D, 0.05, 1.0, 1e-12,
                123456789.123456789]
        vals += hll_lc_terms(64)
        vals += [lsh_scurve((i + 1) / 20.0, 2, 4) for i in range(19)]
        for v in vals:
            got = con.execute(
                f"SELECT {entry._dlit(v)}"
            ).fetchone()[0]
            assert repr(got) == repr(v), v
        # the motivating case: a plain 16-digit decimal literal drifts
        plain = con.execute("SELECT 0.9633636474609375::DOUBLE").fetchone()[0]
        exact = con.execute(
            f"SELECT {entry._dlit(0.9633636474609375)}"
        ).fetchone()[0]
        assert repr(exact) == "0.9633636474609375"
        if repr(plain) == repr(exact):  # engine fixed it upstream: fine
            pytest.skip("this DuckDB build parses plain decimals exactly")

    def test_oracle_sql_has_no_long_plain_decimals(self):
        # DuckDB types a plain decimal literal as DECIMAL and converts it
        # to DOUBLE one ulp off once the mantissa passes 2^53; such
        # constants must go through _dlit (scientific notation)
        import re

        import __spark_entry__ as entry

        plain = re.compile(r"(?<![\w.])(\d+)\.(\d+)(?![\w.])")
        bad = [
            (name, m.group(0))
            for name, sql in entry.oracle_sql().items()
            for m in plain.finditer(sql)
            if len(m.group(1)) + len(m.group(2)) >= 16
        ]
        assert not bad, bad
        assert plain.search("SELECT 0.9633636474609375 AS x")
        assert not plain.search("SELECT 0.9633636474609375e0 AS x")

    def test_dlit_rejects_non_finite(self):
        import __spark_entry__ as entry

        for v in (float("inf"), float("-inf"), float("nan")):
            with pytest.raises(ValueError, match="non-finite"):
                entry._dlit(v)


class TestLitExprParity:
    def test_expr_literals_bit_identical_to_f_lit(self, spark):
        import math

        from pyspark.sql import functions as F

        from linz_bde_uploader_spark.functions.litexpr import (
            lit_double_array,
            lit_double_matrix,
            sql_double,
        )

        vals = [0.0, -0.0, 1.0, -0.5, 0.9633636474609375, 1e-05,
                4.9e-324, 7.891e300, 123456789.123456789, 1 / 3,
                math.pi, -2.2250738585072014e-308]
        one = spark.range(1)
        got = one.select(
            lit_double_array(vals).alias("a"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
            lit_double_matrix([vals[:3], vals[3:6]]).alias("m"),
        ).collect()[0]
        assert [repr(x) for x in got.a] == [repr(x) for x in got.b]
        assert [repr(v) for v in got.a] == [repr(float(v)) for v in vals]
        assert [[repr(x) for x in r] for r in got.m] == [
            [repr(float(v)) for v in vals[:3]],
            [repr(float(v)) for v in vals[3:6]],
        ]
        # non-finite fallbacks parse (values, not syntax errors)
        nf = one.select(
            F.expr(sql_double(float("nan"))).alias("n"),
            F.expr(sql_double(float("inf"))).alias("p"),
            F.expr(sql_double(float("-inf"))).alias("q"),
        ).collect()[0]
        assert math.isnan(nf.n) and nf.p == float("inf") and nf.q == float("-inf")
        # empty arrays type as array<double>
        e = one.select(lit_double_array([]).alias("e")).dtypes
        assert e[0][1] == "array<double>"
