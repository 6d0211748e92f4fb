"""The diff/merge kernel against the reference's own e2e scenario shape
(t/linz_bde_uploader.t:1164-1221: level-5 merge with exact I/U/D/nullU
counters and exact post-state) — re-created with original data."""

import pytest
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators.diff import (
    ACTION_COL,
    apply_changes,
    classify_incremental_changes,
    full_table_diff,
    keyswap_repair,
    merge_stats,
)

COLS = ["line_id", "seq", "ref_id", "flipped", "audit_id"]


@pytest.fixture(scope="module")
def scenario(spark):
    # current table state (3 rows, key = audit_id)
    current = spark.createDataFrame(
        [
            (9001, 1, 501, "Y", 71001),
            (9002, 2, 502, "N", 71002),
            (9003, 3, 503, "Y", 71003),
        ],
        COLS,
    )
    # incoming snapshot: 71003 gone, 71001 seq changed, 71002 unchanged
    # (declared U but actually a null update), two new keys 71100/71101
    incoming = spark.createDataFrame(
        [
            (9001, 10, 501, "Y", 71001),
            (9002, 2, 502, "N", 71002),
            (9100, 4, 601, "N", 71100),
            (9101, 5, 602, "Y", 71101),
        ],
        COLS,
    )
    change_keys = spark.createDataFrame(
        [(71003,), (71100,), (71101,), (71001,), (71002,)], ["audit_id"]
    )
    return current, incoming, change_keys


def test_classification(spark, scenario):
    current, incoming, change_keys = scenario
    actions = classify_incremental_changes(current, incoming, change_keys, "audit_id")
    acts = {r.audit_id: r[ACTION_COL] for r in actions.collect()}
    assert acts == {
        71003: "D",
        71100: "I",
        71101: "I",
        71001: "U",
        71002: "0",  # declared U, data identical → null update
    }


def test_merge_stats_and_apply(spark, scenario):
    current, incoming, change_keys = scenario
    actions = classify_incremental_changes(current, incoming, change_keys, "audit_id")
    stats = merge_stats(actions)
    assert (stats.ninsert, stats.nupdate, stats.nnullupdate, stats.ndelete) == (2, 1, 1, 1)

    merged = apply_changes(current, actions, "audit_id")
    rows = {r.audit_id: r for r in merged.collect()}
    assert set(rows) == {71001, 71002, 71100, 71101}
    assert rows[71001].seq == 10            # updated
    assert rows[71002].seq == 2             # untouched null-update
    assert rows[71100].line_id == 9100      # inserted


def test_keyswap_classification(spark):
    # key changed 71005→71055 while unique column line_id stays 9005:
    # the OLD key must join the change set (J4) and the new key classifies X
    current = spark.createDataFrame(
        [(9005, 1, 505, "Y", 71005), (9006, 2, 506, "N", 71006)], COLS
    )
    incoming = spark.createDataFrame(
        [(9005, 1, 505, "Y", 71055), (9006, 2, 506, "N", 71006)], COLS
    )
    change_keys = spark.createDataFrame([(71055,)], ["audit_id"])

    extra = keyswap_repair(current, incoming, change_keys, "audit_id", ["line_id"])
    assert [r.audit_id for r in extra.collect()] == [71005]

    full_keys = change_keys.unionByName(extra)
    actions = classify_incremental_changes(
        current, incoming, full_keys, "audit_id", unique_cols=["line_id"]
    )
    acts = {r.audit_id: r[ACTION_COL] for r in actions.collect()}
    assert acts == {71005: "D", 71055: "I"}

    merged = apply_changes(current, actions, "audit_id")
    keys = {r.audit_id for r in merged.collect()}
    assert keys == {71055, 71006}


def test_unique_col_differs_is_X(spark):
    # same key, but a unique-constraint column changed → 'X' (delete+insert)
    current = spark.createDataFrame([(9005, 1, 505, "Y", 71005)], COLS)
    incoming = spark.createDataFrame([(9505, 1, 505, "Y", 71005)], COLS)
    change_keys = spark.createDataFrame([(71005,)], ["audit_id"])
    actions = classify_incremental_changes(
        current, incoming, change_keys, "audit_id", unique_cols=["line_id"]
    )
    acts = {r.audit_id: r[ACTION_COL] for r in actions.collect()}
    assert acts == {71005: "X"}
    stats = merge_stats(actions)
    assert stats.nupdate == 1  # X counts as an update in upload_stats
    merged = apply_changes(current, actions, "audit_id")
    assert merged.collect()[0].line_id == 9505


def test_null_safe_compare(spark):
    # NULL == NULL must compare equal (IS NOT DISTINCT FROM semantics)
    schema = "line_id int, seq int, ref_id int, flipped string, audit_id int"
    current = spark.createDataFrame([(None, 1, None, "Y", 71001)], schema)
    incoming = spark.createDataFrame([(None, 1, None, "Y", 71001)], schema)
    change_keys = spark.createDataFrame([(71001,)], ["audit_id"])
    actions = classify_incremental_changes(current, incoming, change_keys, "audit_id")
    assert actions.collect()[0][ACTION_COL] == "0"
    # NULL vs value must differ
    incoming2 = spark.createDataFrame([(None, 1, 7, "Y", 71001)], schema)
    actions2 = classify_incremental_changes(current, incoming2, change_keys, "audit_id")
    assert actions2.collect()[0][ACTION_COL] == "U"


def test_full_table_diff(spark, scenario):
    current, incoming, _ = scenario
    diff = full_table_diff(current, incoming, "audit_id")
    acts = {r.audit_id: r[ACTION_COL] for r in diff.collect()}
    # 71002 unchanged → excluded entirely
    assert acts == {71003: "D", 71001: "U", 71100: "I", 71101: "I"}
    merged = apply_changes(current, diff, "audit_id")
    assert merged.count() == 4


def test_level0_replace(spark, scenario, tmp_path):
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    # level 0 is a full replace: the prior state is dropped whole and
    # ninsert is the written row count
    current, incoming, _ = scenario
    tgt = ParquetTarget(str(tmp_path / "t"), key="audit_id")
    tgt.replace(current)
    stats = tgt.replace(incoming)
    assert stats.ninsert == 4 and stats.ndelete == 0
    assert sorted(r.audit_id for r in tgt.read(spark).collect()) == [
        71001, 71002, 71100, 71101
    ]


def test_declared_actions_are_advisory(spark, scenario):
    # a key declared 'I' that already exists with identical data must
    # classify '0', not insert a duplicate (reference recomputes actions)
    current, _, _ = scenario
    change_keys = spark.createDataFrame([(71001,)], ["audit_id"])
    actions = classify_incremental_changes(current, current, change_keys, "audit_id")
    assert actions.collect()[0][ACTION_COL] == "0"
    merged = apply_changes(current, actions, "audit_id")
    assert merged.count() == current.count()


def test_key_validity_gate(spark, tmp_path):
    """Reference key gate (sql/02-bde_control_functions.sql.in:2839-2877):
    single integral column, NOT NULL and unique. The sink's incremental
    paths enforce the schema half before any job, and the data half on the
    merge's actions before anything is written."""
    from linz_bde_uploader_spark.operators.diff import (
        KeyValidityError,
        validate_key_column,
    )
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    good = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    validate_key_column(good, "id")                      # integral: ok

    import pytest as _pt
    with _pt.raises(KeyValidityError, match="not present"):
        validate_key_column(good, "nope")
    with _pt.raises(KeyValidityError, match="integral"):
        validate_key_column(good, "v")

    # the sink refuses a non-integral key before running any job
    tgt = ParquetTarget(str(tmp_path / "t"), key="v")
    tgt.replace(good)
    with _pt.raises(KeyValidityError, match="integral"):
        tgt.stage_incremental(
            spark, good, spark.createDataFrame([("a",)], "v string")
        )

    # an incoming key that occurs twice breaks row conservation in the
    # staged write: both stage paths delete the staged version and raise,
    # leaving the committed version live
    tgt = ParquetTarget(str(tmp_path / "d"), key="id")
    tgt.replace(good)
    live = tgt.current_version()
    twice = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "b")], "id long, v string"
    )
    keys = spark.createDataFrame([(1,)], "id long")
    cached = _persisted(spark)
    with _pt.raises(KeyValidityError, match="'id' is not unique"):
        tgt.stage_incremental(spark, twice, keys)
    with _pt.raises(KeyValidityError, match="'id' is not unique"):
        tgt.stage_full_incremental(spark, twice)
    assert tgt.current_version() == live
    assert tgt.versions() == [live]
    assert _persisted(spark) == cached  # the action set is released

    # a key carrying two action rows (or a NULL one) is refused before any
    # version directory exists: (a) new to a full-incremental load and
    # twice in the snapshot, (b) a level-5 insert whose key occurs twice,
    # (c) a level-5 delete of a key the current version holds twice; (d)
    # a full-incremental load drops the '0' row of the held-twice key's
    # unchanged copy, so only conservation sees that one
    new_twice = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "p"), (3, "q")], "id long, v string"
    )
    key3 = spark.createDataFrame([(3,)], "id long")
    held_twice = ParquetTarget(str(tmp_path / "h"), key="id")
    held_twice.replace(
        spark.createDataFrame([(1, "a"), (1, "z"), (2, "b")], "id long, v string")
    )
    cases = [
        (tgt, lambda: tgt.stage_full_incremental(spark, new_twice)),            # (a)
        (tgt, lambda: tgt.stage_incremental(spark, new_twice, key3)),           # (b)
        (held_twice, lambda: held_twice.stage_incremental(                      # (c)
            spark, spark.createDataFrame([(2, "b")], "id long, v string"), keys)),
        (tgt, lambda: tgt.stage_full_incremental(spark, spark.createDataFrame(
            [(1, "a"), (2, "b"), (None, "z")], "id long, v string"))),         # NULL
        (held_twice, lambda: held_twice.stage_full_incremental(spark, good)),   # (d)
    ]
    for target, stage in cases:
        live = target.current_version()
        with _pt.raises(KeyValidityError, match="'id' is not unique"):
            stage()
        assert target.current_version() == live
        assert target.versions() == [live]
        assert _persisted(spark) == cached


def test_key_held_twice_classifies_K(spark):
    """A key held more than once on either side classifies ``K`` on every
    row it pairs, before I and D, and ``merge_stats`` rejects it."""
    from linz_bde_uploader_spark.operators.diff import KeyValidityError

    schema = "id long, v string"
    current = spark.createDataFrame([(1, "a"), (1, "z"), (2, "b"), (4, "d")], schema)
    incoming = spark.createDataFrame([(2, "b"), (3, "p"), (3, "q"), (4, "e")], schema)
    acts = sorted(
        (r.id, r[ACTION_COL]) for r in full_table_diff(current, incoming, "id").collect()
    )
    assert acts == [(1, "K"), (1, "K"), (3, "K"), (3, "K"), (4, "U")]
    with pytest.raises(KeyValidityError, match="'id' is not unique: 4 action rows"):
        merge_stats(full_table_diff(current, incoming, "id"))


def _hash_exchanges(df) -> int:
    """Hash-partitioning exchanges in ``df``'s physical plan, not counting
    a persisted frame's own plan (an ``InMemoryTableScan`` is a leaf)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return sum(
        n.nodeName() == "Exchange"
        and n.outputPartitioning().getClass().getSimpleName() == "HashPartitioning"
        for n in _plan_nodes(plan)
    )


def test_key_gate_adds_no_exchange(spark, scenario, monkeypatch):
    """The per-key row count behind ``K`` reuses the join's exchange on
    each side (one per side, plus one per change-key semi join), and
    ``merge_stats`` aggregates the persisted set with no exchange on the
    key."""
    current, incoming, change_keys = scenario
    classified = [
        classify_incremental_changes(current, incoming, change_keys, "audit_id"),
        full_table_diff(current, incoming, "audit_id"),
    ]
    assert [_hash_exchanges(df) for df in classified] == [4, 2]

    exchanges = []
    collect = type(current).collect

    def spy(self):
        exchanges.append(_hash_exchanges(self))
        return collect(self)

    monkeypatch.setattr(type(current), "collect", spy)
    for df in classified:
        df = df.persist()
        try:
            merge_stats(df)
        finally:
            df.unpersist()
    assert exchanges == [0, 0]


def test_read_takes_the_schema_from_the_footer(spark, scenario, tmp_path, jobs_launched):
    """Reading a version launches no job: the schema is the one Spark
    stored in a part file's footer, not inferred by a job."""
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    current = scenario[0]
    tgt = ParquetTarget(str(tmp_path / "t"), key="audit_id")
    tgt.replace(current.withColumn("at", F.lit("2024-03-05 10:30:00").cast("timestamp_ntz")))
    fresh = ParquetTarget(tgt.path, key="audit_id")
    df, jobs = jobs_launched(lambda: fresh.read(spark))
    assert jobs == 0
    assert df.schema == spark.read.parquet(tgt._data_dir()).schema
    assert df.columns == [*current.columns, "at"]
    assert df.count() == 3


def _persisted(spark) -> int:
    """RDDs the session holds persisted."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _plan_nodes(plan):
    """A logical plan's nodes, without the plans a node only describes
    (an ``InMemoryRelation`` prints the plan it cached as an inner child)."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _stage_all(spark, scenario, tgt):
    """Every stage path over the scenario fixture: the level-0 replace of
    ``current``, then a level-5 merge and a full-incremental diff of
    ``incoming`` over it. Yields (method, previous version, staged
    version, stats)."""
    current, incoming, change_keys = scenario
    v, stats = tgt.stage_replace(current)
    tgt._commit(v)
    yield "stage_replace", None, v, stats
    for name, args in (
        ("stage_incremental", (incoming, change_keys)),
        ("stage_full_incremental", (incoming,)),
    ):
        prev = tgt.current_version()
        v, stats = getattr(tgt, name)(spark, *args)
        yield name, prev, v, stats


def test_gate_counts_come_from_the_staged_write(spark, scenario, tmp_path, monkeypatch):
    """The gate's old/new counts and the replace's ninsert are observed on
    the staged write: they equal direct counts of the versions, and no
    stage path runs ``DataFrame.count``."""
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    tgt = ParquetTarget(str(tmp_path / "t"), key="audit_id")
    for name, prev, v, stats in _stage_all(spark, scenario, tgt):
        written = tgt.read_version(spark, v).count()
        if prev is None:
            assert stats.ninsert == written == 3
        else:
            assert tgt.last_gate.old_count == tgt.read_version(spark, prev).count()
            assert tgt.last_gate.new_count == written == 4, name

    # an empty current version: AQE drops the empty stage, and its observed
    # metrics with it, from the final plan
    empty = ParquetTarget(str(tmp_path / "e"), key="audit_id")
    empty.replace(scenario[0].limit(0))
    empty.stage_full_incremental(spark, scenario[1])
    assert (empty.last_gate.old_count, empty.last_gate.new_count) == (0, 4)

    def no_count(self):
        raise AssertionError("a stage path ran DataFrame.count")

    # the session's concrete DataFrame class: it overrides the base
    # pyspark.sql.DataFrame.count
    monkeypatch.setattr(type(scenario[0]), "count", no_count)
    tgt = ParquetTarget(str(tmp_path / "u"), key="audit_id")
    staged = {name: stats for name, _, _, stats in _stage_all(spark, scenario, tgt)}
    assert staged["stage_replace"].ninsert == 3
    assert (staged["stage_incremental"].ninsert, staged["stage_incremental"].ndelete) == (2, 1)
    assert staged["stage_full_incremental"].nupdate == 1


def _leaves(df):
    """The leaves of ``df``'s optimized plan, cached plans not entered."""
    return [n for n in _plan_nodes(df._jdf.queryExecution().optimizedPlan())
            if n.children().isEmpty()]


def test_action_set_is_classified_once(spark, scenario, tmp_path, monkeypatch):
    """The merged frame a stage writes reads its action set from the
    persisted rows ``merge_stats`` counted, so the compare is not planned a
    second time, and its fresh rows from the same set, so the incoming
    rows are not read again (no semi join, no leaf of ``incoming`` outside
    the ``InMemoryRelation``); the persisted set is released on success and
    on the tolerance gate, and neither leaves a staged ``v-*``."""
    from linz_bde_uploader_spark.operators.tolerance import RowToleranceError
    from linz_bde_uploader_spark.sinks import target as T

    written = {}
    write = T._written_rows
    incoming_leaves = _leaves(scenario[1])

    def spy(df, path):
        nodes = list(_plan_nodes(df._jdf.queryExecution().optimizedPlan()))
        written["cached"] = any(n.nodeName() == "InMemoryRelation" for n in nodes)
        written["joins"] = [str(n.joinType()) for n in nodes if n.nodeName() == "Join"]
        written["reads_incoming"] = any(
            n.sameResult(m) for n in _leaves(df) for m in incoming_leaves
        )
        return write(df, path)

    monkeypatch.setattr(T, "_written_rows", spy)
    cached = _persisted(spark)
    tgt = T.ParquetTarget(str(tmp_path / "t"), key="audit_id")
    for name, _, v, _ in _stage_all(spark, scenario, tgt):
        assert _persisted(spark) == cached, name
        if name != "stage_replace":
            assert written["cached"], name
            assert "FullOuter" not in written["joins"], (name, written["joins"])
            assert "LeftSemi" not in written["joins"], (name, written["joins"])
            assert not written["reads_incoming"], name

    # the tolerance error tier: 3 rows down to 1
    incoming = scenario[1]
    live, versions = tgt.current_version(), tgt.versions()
    with pytest.raises(RowToleranceError):
        tgt.stage_full_incremental(spark, incoming.limit(1), row_tol_error=0.5)
    assert tgt.current_version() == live
    assert tgt.versions() == versions
    assert _persisted(spark) == cached


def test_empty_change_keys_still_count_the_current_version(spark, scenario, tmp_path):
    """A level-5 stage whose change-key set is empty reads an empty action
    set; AQE prunes the empty stages, and ``old_n`` must still be the
    current version's row count."""
    from linz_bde_uploader_spark.operators.diff import MergeStats
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    current, incoming, change_keys = scenario
    tgt = ParquetTarget(str(tmp_path / "t"), key="audit_id")
    tgt.replace(current)
    _, stats = tgt.stage_incremental(spark, incoming, change_keys.limit(0))
    assert stats == MergeStats()
    assert (tgt.last_gate.old_count, tgt.last_gate.new_count) == (3, 3)


def test_read_is_memoized_per_version(spark, scenario, tmp_path):
    """One table load reads the current version for negotiation and again
    for its merge; the second read reuses the first frame, and a commit
    moves it."""
    from linz_bde_uploader_spark.sinks.target import ParquetTarget

    current, incoming, _ = scenario
    tgt = ParquetTarget(str(tmp_path / "t"), key="audit_id")
    tgt.replace(current)
    first = tgt.read(spark)
    assert tgt.read(spark) is first
    tgt.replace(incoming)
    assert tgt.read(spark) is not first
    assert tgt.read(spark).count() == 4
