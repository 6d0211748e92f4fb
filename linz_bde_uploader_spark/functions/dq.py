"""Data-quality audit primitives — the pre-load checks an ETL engine
runs before trusting a snapshot.

The reference engine's quality machinery is row-count tolerance and the
key-validity gate (`sql/02-bde_control_functions.sql.in:2006-2083`,
mirrored in `operators/tolerance.py` and the sink key gates); this
module is the general form a warehouse pipeline needs on top:
declarative per-table checks — null rates, value-range violations,
cross-table referential integrity, internal consistency — rolled into
ONE auditable datasheet of ``(check, n_rows, n_bad, bad_rate)`` rows.

Design: every check is a (name, DataFrame, boolean "bad" Column)
triple; the audit compiles each into one conditional aggregate and
unions the one-row results. Referential integrity is expressed as a
LEFT JOIN against the parent's DISTINCT key set with "parent missing"
as the bad predicate — the same plan Spark would run for an anti-join
count, but it composes with the uniform check interface (AQE
broadcasts the key set when small).

Scale: each check is one scan + one partial-agg (checks over the same
table share nothing by design — at 100 TB you run the audit per
ingested partition, not per full table, and the union is |checks|
one-row frames). Nothing collects; the datasheet is the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_row(
    name: str, df: DataFrame, bad: Column, null_is_bad: bool = True
) -> DataFrame:
    """One audit row: ``(check, n_rows, n_bad, bad_rate)`` with
    ``bad_rate`` at 6 dp (0.0 on an empty table — an empty input is a
    row-count problem, not a rate problem).

    NULL semantics are explicit: a three-valued-NULL predicate (e.g.
    ``length(text) != n_chars`` where either side is NULL) counts as
    **bad** by default (``null_is_bad=True``) — a row the check cannot
    vouch for is a finding, not a pass. Pass ``null_is_bad=False``
    only when NULLs are a different check's finding (the
    :func:`fk_check` convention, whose predicate is never NULL by
    construction).
    """
    bad = F.coalesce(bad, F.lit(bool(null_is_bad)))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
    ).select(
        F.lit(name).alias("check"),
        "n_rows",
        F.coalesce(F.col("n_bad"), F.lit(0)).alias("n_bad"),
        F.when(
            F.col("n_rows") > 0,
            F.round(
                F.coalesce(F.col("n_bad"), F.lit(0)).cast("double")
                / F.col("n_rows"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("bad_rate"),
    )


def null_check(name: str, df: DataFrame, col: str) -> DataFrame:
    """Null-rate audit row for one column."""
    return check_row(name, df, F.col(col).isNull())


def range_check(
    name: str, df: DataFrame, col: str, lo: float, hi: float
) -> DataFrame:
    """Closed-range audit row: bad = NULL or outside ``[lo, hi]``."""
    c = F.col(col)
    return check_row(
        name, df, c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi))
    )


def fk_check(
    name: str,
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Referential-integrity audit row: bad = child key (non-NULL) with
    no parent row. NULL child keys are NOT orphans here — they are the
    null_check's finding; counting them twice double-reports one
    defect."""
    pk = (
        parent.select(F.col(parent_col).alias("_pk"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = child.select(F.col(child_col).alias("_ck")).join(
        pk, F.col("_ck") == F.col("_pk"), "left"
    )
    return check_row(
        name,
        joined,
        F.col("_ck").isNotNull() & F.col("_hit").isNull(),
    )


def dq_audit(checks: "list[DataFrame]") -> DataFrame:
    """Union the one-row check frames into the audit datasheet —
    ``(check, n_rows, n_bad, bad_rate)``, one row per check."""
    if not checks:
        raise ValueError("at least one check is required")
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# Engine-exact 4-dp rounding of a rational of exact int64s, half away
# from zero: (2·|num|·10⁴ + den) div (2·den) with the sign re-applied.
# Spark's `div` and DuckDB 1.0's integer `//` both truncate toward zero
# (-7 div 2 = -7 // 2 = -3), unlike Python's flooring `//`. The sign
# branch keeps both operands non-negative, where truncation and floor
# coincide, so the result does not depend on either rounding rule and one
# SQL spelling serves both engines modulo the operator token. Shared with
# the parity test so the two can't drift.
Q_AGREE_EXPR = "(2 * (n11 + n00) * 10000L + n) div (2 * n)"
Q_KAPPA_EXPR = (
    "CASE WHEN _num < 0 THEN "
    "-((2 * (-_num) * 10000L + _den) div (2 * _den)) "
    "ELSE ((2 * _num * 10000L + _den) div (2 * _den)) END"
)


def gate_agreement(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inter-gate agreement audit over the four document quality gates
    — the pipeline-diagnostics datasheet behind every "which filter do
    we trust" decision (the FineWeb/RefinedWeb line repeatedly reports
    near-zero agreement between heuristic and learned filters; Cohen
    1960 for the statistic): for every PAIR of gates, the 2×2
    confusion counts, raw agreement, and Cohen's κ — chance-corrected,
    so a gate pair that agrees only because both pass almost
    everything scores ≈ 0, not ≈ 1.

    The four gates run VERBATIM (one implementation per family):
    ``gopher`` (:func:`~linz_bde_uploader_spark.functions.text.
    gopher_pass`), ``classifier`` (:func:`~...text.quality_classifier`
    keep at its 0.5 default), ``readability`` (:func:`~...text.
    readability_signals` flesch ≥ 50 — the 'medium' band floor), and
    ``langid`` (:func:`~...text.lang_guess` == 'en').

    Determinism: the 2×2 cells are exact integer counts folded in ONE
    corpus aggregate (``n``, four per-gate sums, six pairwise-AND
    sums; the other three cells are integer arithmetic of those);
    ``agree_frac`` and κ are rationals of exact integers —

        κ = (n·(n11+n00) − E) / (n² − E),
        E = na·nb + (n−na)·(n−nb)

    (the algebraic form of (pₒ−pₑ)/(1−pₑ) cleared of fractions, so no
    intermediate float exists) — rounded at 4 dp IN INTEGER ARITHMETIC
    (half away from zero: ``(2·|num|·10⁴ + den) div (2·den)``, sign
    re-applied, then one exact ``/ 10000.0``), so the result double is
    bit-identical on any engine regardless of how its float ``round()``
    breaks representation-boundary cases. A degenerate pair (both gates
    constant ⟹ denominator 0) reports κ = 0.0 — chance explains
    everything — never NULL.

    Returns 6 rows ``(gate_a, gate_b, n, n11, n10, n01, n00,
    agree_frac, kappa)`` ordered by (gate_a, gate_b).

    Scale: the gate flags are map-only Column expressions over one
    scan (the classifier's fold, the Gopher signals, two readability
    regexps, the stopword probe); ONE 11-sum partial aggregate to a
    single row; the 6-row datasheet is a literal explode of that row.
    Int64 is safe to n ≈ 6·10⁸ docs per audit partition (2·10⁴·n² in
    the scaled κ numerator); shard the audit by ingest partition past
    that.
    """
    from linz_bde_uploader_spark.functions.text import (  # noqa: PLC0415
        gopher_pass,
        lang_guess,
        quality_classifier,
        readability_signals,
    )

    qc = quality_classifier(docs, id_col=id_col, text_col=text_col,
                            passthrough=(text_col,))
    flags = qc.select(
        F.col("keep").cast("long").alias("f_classifier"),
        gopher_pass(text_col).cast("long").alias("f_gopher"),
        (readability_signals(text_col)["flesch"] >= 50)
        .cast("long")
        .alias("f_readability"),
        (lang_guess(text_col) == "en").cast("long").alias("f_langid"),
    )
    gates = ["classifier", "gopher", "langid", "readability"]
    pairs = [
        (a, b) for i, a in enumerate(gates) for b in gates[i + 1:]
    ]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(f"f_{g}").cast("long").alias(f"s_{g}") for g in gates]
    aggs += [
        F.sum(F.col(f"f_{a}") * F.col(f"f_{b}"))
        .cast("long")
        .alias(f"p_{a}_{b}")
        for a, b in pairs
    ]
    one = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("gate_a"),
                F.lit(b).alias("gate_b"),
                F.col(f"s_{a}").alias("na"),
                F.col(f"s_{b}").alias("nb"),
                F.col(f"p_{a}_{b}").alias("n11"),
            )
            for a, b in pairs
        ]
    )
    ex = one.select("n", F.explode(rows).alias("r")).select(
        F.col("r.gate_a").alias("gate_a"),
        F.col("r.gate_b").alias("gate_b"),
        "n",
        F.col("r.n11").alias("n11"),
        (F.col("r.na") - F.col("r.n11")).alias("n10"),
        (F.col("r.nb") - F.col("r.n11")).alias("n01"),
        (F.col("n") - F.col("r.na") - F.col("r.nb") + F.col("r.n11"))
        .alias("n00"),
        F.col("r.na").alias("_na"),
        F.col("r.nb").alias("_nb"),
    )
    e = F.col("_na") * F.col("_nb") + (F.col("n") - F.col("_na")) * (
        F.col("n") - F.col("_nb")
    )
    num = F.col("n") * (F.col("n11") + F.col("n00")) - e
    den = F.col("n") * F.col("n") - e
    # Engine-exact 4-dp rounding: half-away-from-zero on the integer-
    # scaled numerator (operands are exact int64, `div` truncates — equal
    # to floor for the non-negative operands used here), then ONE exact
    # division by 10000.0. No float round() of a double division exists
    # on this path, so the result bits cannot depend on an engine's
    # round() implementation. An all-integer quotient also yields +0.0
    # (never -0.0) when a tiny negative kappa rounds to zero.
    staged = ex.withColumn("_num", num).withColumn("_den", den)
    q_agree = F.expr(Q_AGREE_EXPR)
    q_kappa = F.expr(Q_KAPPA_EXPR)
    return staged.select(
        "gate_a",
        "gate_b",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        (q_agree.cast("double") / F.lit(10000.0)).alias("agree_frac"),
        F.when(F.col("_den") == 0, F.lit(0.0))
        .otherwise(q_kappa.cast("double") / F.lit(10000.0))
        .alias("kappa"),
    ).orderBy("gate_a", "gate_b")
