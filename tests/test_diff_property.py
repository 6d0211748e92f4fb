"""Property-based check of the diff/merge kernel (hypothesis).

The reference's own test strategy (SURVEY §5) is scenario tables with
known I/U/D/0/X outcomes; this generalizes it: random current/incoming
states and change-key sets, with a 20-line Python model computing the
expected classification and merged table. Any divergence between the
Spark kernel and the model is a real bug, found without hand-writing
the scenario.

Spark jobs are slow per example, so the suite runs few, large-ish
examples (deadline disabled) — the value is the randomized structure,
not the example count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linz_bde_uploader_spark.operators.diff import (
    apply_changes,
    classify_incremental_changes,
)

# a row is (key, payload); payload None is a legitimate value and
# exercises the null-safe compare
ROWS = st.dictionaries(
    st.integers(min_value=0, max_value=30),
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    max_size=20,
)
KEYSETS = st.sets(st.integers(min_value=0, max_value=30), max_size=25)


def model_classify(cur: dict, inc: dict, chg: set) -> dict[int, str]:
    out = {}
    for k in chg:
        in_cur, in_inc = k in cur, k in inc
        if in_cur and not in_inc:
            out[k] = "D"
        elif in_inc and not in_cur:
            out[k] = "I"
        elif in_cur and in_inc:
            out[k] = "0" if cur[k] == inc[k] else "U"
        # neither side: no action row
    return out


def model_merge(cur: dict, inc: dict, actions: dict[int, str]) -> dict:
    out = dict(cur)
    for k, a in actions.items():
        if a in ("D", "U", "X"):
            out.pop(k, None)
    for k, a in actions.items():
        if a in ("I", "U", "X"):
            out[k] = inc[k]
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cur=ROWS, inc=ROWS, chg=KEYSETS)
def test_kernel_matches_model(spark, cur, inc, chg):
    cur_df = spark.createDataFrame(
        list(cur.items()) or [(None, None)], "k long, v long"
    ).filter("k IS NOT NULL")
    inc_df = spark.createDataFrame(
        list(inc.items()) or [(None, None)], "k long, v long"
    ).filter("k IS NOT NULL")
    chg_df = spark.createDataFrame(
        [(k,) for k in chg] or [(None,)], "k long"
    ).filter("k IS NOT NULL")

    actions = classify_incremental_changes(cur_df, inc_df, chg_df, "k")
    action_rows = actions.collect()
    got_actions = {r.k: r._action for r in action_rows}
    assert len(action_rows) == len(got_actions), "duplicate action keys"
    assert got_actions == model_classify(cur, inc, chg)

    merged = apply_changes(cur_df, actions, "k")
    merged_rows = merged.collect()
    got = {r.k: r.v for r in merged_rows}
    assert len(merged_rows) == len(got), "duplicate merged keys"
    assert got == model_merge(cur, inc, got_actions)
