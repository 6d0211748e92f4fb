"""Determinism and self-consistency of the seeded repository generator."""

import os

import pytest

import gen

N_ORDERS = 200


def _tree(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_byte_identical_files_and_plan(tmp_path, workload):
    p1 = gen.generate(str(tmp_path / "a"), workload, 7, N_ORDERS)
    p2 = gen.generate(str(tmp_path / "b"), workload, 7, N_ORDERS)
    p3 = gen.generate(str(tmp_path / "c"), workload, 8, N_ORDERS)
    t1, t2, t3 = (_tree(p.repo) for p in (p1, p2, p3))
    assert t1 == t2
    assert t1.keys() == t3.keys() and t1 != t3
    assert p1.expected_reports == p2.expected_reports
    assert p1.expected_final == p2.expected_final
    assert p1.run_rows == p2.run_rows


def test_l0_diff_counters_match_the_two_snapshots(tmp_path):
    plan = gen.generate(str(tmp_path), "l0_diff", 3, N_ORDERS)
    for table, dataset, ins, upd, nul, dele in plan.expected_reports:
        assert dataset == gen.B_NAME and nul == 0
        n_a = N_ORDERS * (1 if table == "orders" else gen.LINEITEM_PER_ORDER)
        assert len(plan.expected_final[table].rows) == n_a + ins - dele
        assert upd > 0 and ins > 0 and dele > 0
    # every timed file carries its column-count errors
    assert plan.run_rows == sum(len(s.rows) for s in plan.expected_final.values()) + 2 * gen.BAD_ROWS_L0


def test_l5_merge_days_carry_every_action_and_keys_are_unique(tmp_path):
    plan = gen.generate(str(tmp_path), "l5_merge", 3, N_ORDERS)
    assert [(t, d) for t, d, *_ in plan.expected_reports] == [
        (t, d) for d in gen.L5_NAMES for t in gen.SCHEMAS
    ]
    for _, _, ins, upd, nul, dele in plan.expected_reports:
        assert min(ins, upd, nul, dele) > 0
    for table, state in plan.expected_final.items():
        assert all(row[0] == str(k) for k, row in state.rows.items())
    change = os.path.join(plan.repo, "level_5", gen.L5_NAMES[0], f"{gen.CHANGE_FILE}.crs")
    with open(change, encoding="utf-8") as fh:
        names = {line.split("|")[1] for line in fh.read().split("{CRS-DATA}\n", 1)[1].splitlines()}
    assert {"lineitem", "LINEITEM", "Lineitem", "crs_parcel"} <= names


def test_clean_applies_the_reference_character_map():
    assert gen.clean("a\x07b«c»· 東Ōé\\") == 'ab"c". ?Ōé '
