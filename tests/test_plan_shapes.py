"""Physical-plan shape assertions: the properties that make the 100-TB
posture real — filters reach the parquet scan, projection prunes columns,
aggregates combine map-side, small dimensions broadcast. A regression in
any of these is invisible to row-level correctness checks but is exactly
what dies at 1000× the data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    """TPC-H q6 shape: the shipdate/discount/quantity filters must appear
    as PushedFilters on the lineitem scan, and the scan schema must carry
    only the referenced columns, not all 16."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(
        (F.col("l_quantity") < 24) & (F.col("l_discount") >= 0.05)
    ).select("l_extendedprice", "l_discount")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:200]
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in schema_part
    assert "l_comment" not in schema_part  # pruned


def test_partial_aggregation_map_side_combine(spark):
    """groupBy aggregates must run as partial (map-side) + final
    HashAggregate pairs — one-pass shuffle of pre-combined state, not raw
    rows."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    agg = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_count" in plan


def test_small_dimension_broadcasts(spark):
    """nation (25 rows) joined to customer must be a BroadcastHashJoin —
    no shuffle of the fact side on the join key."""
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    j = c.join(n, c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_covers_clean_pass(spark):
    """The P4/P5 character pass must stay inside WholeStageCodegen (pure
    JVM translate/regexp chain — zero Python in the hot path)."""
    from linz_bde_uploader_spark.operators.clean import clean_text

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = d.select("doc_id", clean_text("text").alias("cleaned"))
    plan = _plan(q)
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_uses_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = o.orderBy(F.desc("o_totalprice")).limit(5)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan


def test_no_harness_query_compiles_to_scale_smell(spark):
    """Every registered harness query must compile free of the operators
    that die at 100×: CartesianProduct, BroadcastNestedLoopJoin (except
    the two documented one-row/tiny broadcast-side loops), and
    row-at-a-time Python UDFs (BatchEvalPython). Compile-only — no
    execution."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from scripts.plan_audit import WHITELIST, audit

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    offenders = {}
    for name, fn in entry.queries().items():
        hits = audit(spark, name, fn, sf_dir)
        if hits:
            offenders[name] = hits
    assert not offenders, offenders
    # the whitelist must stay minimal and intentional: the two batch-kNN
    # broadcast-query loops (q_sim_batch_topk and the query-set recall
    # audit built on the same plan) plus the one-row scalar broadcasts
    # (TF-IDF's corpus size N, the bigram LM's vocabulary size V, the
    # collocations' bigram total, the trigram LM's totals row) — all
    # map-only over the big side
    assert set(WHITELIST) == {
        "q_sim_batch_topk", "q_batch_ann_recall", "q_tfidf_topk",
        "q_lm_perplexity", "q_lm_collocations", "q_lm_trigram_perplexity",
        "q_pipeline_quality_funnel", "q_bm25_topk",
        "q_passage_retrieval", "q_graph_pagerank_directed",
        "q_hybrid_rrf", "q_mixture_perplexity", "q_lm_kneser_ney",
        "q_curriculum",
        # round 9: the link-graph composite ends in the same dangling-
        # mass directed PageRank one-row broadcast
        "q_link_graph_rank",
        # round 14: bitext margin mining runs the batch-kNN
        # broadcast-query loop twice (forward over the target corpus,
        # backward over the source corpus for the bounded candidate
        # set) — the q_sim_batch_topk shape
        "q_bitext_margin",
        # round 14: DoReMi's uniform-reference loss composes the
        # global bigram LM scorer, inheriting its one-row vocabulary
        # broadcast — the q_lm_perplexity shape
        "q_mixture_doremi",
        # round 14: the perplexity-pruning ablation composes the same
        # scorer, same one-row vocabulary broadcast
        "q_ppl_prune_ablation",
        # round 15 session 2: HITS' per-half-step L1 normalization
        # divides by a one-row total broadcast (the dangling-mass
        # shape, twice per iteration)
        "q_graph_hits",
        # round 15 session 2: RHO-select composes the global bigram
        # scorer — the q_mixture_doremi shape, same one-row V row
        "q_rho_select",
        # round 15 session 2: the Chinchilla planner broadcasts the
        # one-row measured-supply aggregate into the 6-row budget
        # table — the TF-IDF corpus-size shape
        "q_chinchilla_plan",
        # round 15 session 2: the LM-order ablation composes all three
        # scorers, inheriting their one-row totals broadcasts
        "q_lm_order_ablation",
    }


def test_no_complex_output_columns(spark):
    """Every registered harness query must surface only atomic-typed
    output columns. The external driver canonicalizes results with a
    pandas sort over all columns, which hashes values — Array/Map/Struct
    columns are unhashable and turn an oracle-exact answer into a driver
    `err` (r5: q_inverted_index's array<long> postings). Serialize
    complex values (array_join / to_json) at the query surface instead.
    Schema-only — no execution."""
    import sys

    from pyspark.sql.types import ArrayType, MapType, StructType

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    offenders = {}
    for name, fn in entry.queries().items():
        bad = [
            f.name
            for f in fn(spark, sf_dir).schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_salted_join_shuffles_on_salted_key(spark):
    """The skew escape hatch must actually change the physical exchange:
    the join keys include _salt, so a hot key's rows spread over n tasks
    instead of one. (With broadcast disabled — the cluster-scale shape —
    the shuffle partitioning must carry the salt column.)"""
    from linz_bde_uploader_spark.operators.skew import salted_join

    large = spark.range(10_000).selectExpr(
        "id AS event_id", "'hot' AS k", "id % 7 AS payload"
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], ["k", "attr"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_join(large, small, "k", n=8, salt_from=["event_id"])
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    join_line = next(ln for ln in plan.splitlines() if "SortMergeJoin" in ln)
    assert "_salt" in join_line  # (key, salt) composite join key
    assert "_salt" in plan.split("Exchange hashpartitioning")[1][:120]


def test_crs_clean_runs_once_per_line(spark, crs_dir):
    """``read_crs(clean=True)`` cleans each line once: the optimized plan
    holds one ``translate`` for all five columns (a projection collapsed
    into the per-column ``element_at``s would hold five), and the scan
    stays inside WholeStageCodegen."""
    from linz_bde_uploader_spark.sources.crs import read_crs

    df, _ = read_crs(spark, str(crs_dir / "bnd1.crs"), cast=False, clean=True)
    assert len(df.columns) == 5
    assert df._jdf.queryExecution().optimizedPlan().toString().count("translate(") == 1
    plan = _plan(df)
    assert plan.count("translate(") == 1
    ops = [ln.strip().lstrip("+- ") for ln in plan.splitlines()]
    assert [op for op in ops if op.startswith(("Project", "Filter"))] == []
    assert "*(1) Project" in plan and "*(1) Filter" in plan


def test_crs_bare_cr_ends_a_line(spark, tmp_path):
    """The text source ends lines at a bare CR too, so a CR inside a data
    line splits it in two, and both halves fail the field count. This is
    why the per-line character pass has no CR (or LF) to map."""
    from linz_bde_uploader_spark.operators.clean import ErrorBudgetExceeded
    from linz_bde_uploader_spark.sources.crs import read_crs

    p = tmp_path / "cr.crs"
    p.write_bytes(
        b"TABLE\tt\nCOLUMN\t id integer NULL\nCOLUMN\t des varchar NULL\n"
        b"COLUMN\t n integer NULL\n{CRS-DATA}\n"
        b"1|one|1|\n2|tw\ro|2|\r\n3|three|3|\n"
    )
    with pytest.raises(ErrorBudgetExceeded, match="2 column_count errors"):
        read_crs(spark, str(p), max_errors=1, clean=True)
    df, _ = read_crs(spark, str(p), max_errors=2, clean=True)
    assert sorted((r.id, r.des) for r in df.collect()) == [(1, "one"), (3, "three")]
