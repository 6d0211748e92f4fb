"""Round-13 births: the LAION-style multimodal corpus-build composite
(per-stage funnel + per-source card over one level frame), the
drop-reason provenance pair over the text corpus-build level frame,
the per-source contamination datasheet (the span family's third
grain), D4 selection (SemDeDup + per-cluster prototypicality
filter), and the UniMax epoch-capped budget split."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestMmCorpusComposite:
    """q_mm_corpus_e2e / q_mm_corpus_card — two grains of ONE level
    frame: the funnel must be monotone with real mass at every stage,
    stage 1 must equal the standalone url_dedup operator's survivor
    count (the composite runs it verbatim), and the card's per-source
    sums must reproduce the funnel exactly."""

    def _funnel(self, spark):
        import __spark_entry__ as E

        return {
            r.stage_no: r for r in E.q_mm_corpus_e2e(spark, SF).collect()
        }

    def test_funnel_monotone_with_real_mass(self, spark):
        fun = self._funnel(spark)
        assert [fun[i].stage for i in range(4)] == [
            "ingest", "url_dedup", "alignment", "fp_dedup",
        ]
        n = [fun[i].n_pairs for i in range(4)]
        b = [fun[i].n_bytes for i in range(4)]
        assert n[0] > n[1] > n[2] > n[3] > 0  # every gate drops something
        assert b[0] > b[1] > b[2] > b[3] > 0
        d = spark.read.parquet(f"{SF}/embeddings.parquet")
        assert n[0] == d.count()

    def test_stage1_is_the_standalone_url_dedup(self, spark):
        import __spark_entry__ as E
        from linz_bde_uploader_spark.functions.urls import url_dedup

        d = spark.read.parquet(f"{SF}/embeddings.parquet")
        src = F.concat(F.lit("src"), F.col("label").cast("string"))
        pid = F.pmod(F.col("vec_id"), F.lit(10)).cast("string")
        m = F.pmod(F.col("vec_id"), F.lit(3))
        url = (
            F.when(m == 0, F.concat(
                F.lit("https://WWW."), F.upper(src),
                F.lit(".Example.COM/p/"), pid, F.lit("/?utm_source=x")))
            .when(m == 1, F.concat(
                F.lit("http://files."), src,
                F.lit(".example.com:80/p/"), pid))
            .otherwise(F.concat(
                F.lit("https://"), src,
                F.lit(".example.com/p/"), pid, F.lit("?gclid=1")))
        )
        caption = F.concat(
            src, F.lit(" caption "),
            F.repeat(F.lit("x"),
                     F.pmod(F.col("vec_id"), F.lit(7)).cast("int")),
        )
        pairs = d.select(
            F.col("vec_id").alias("media_id"),
            url.alias("url"), caption.alias("caption"),
        )
        standalone = url_dedup(
            pairs, url_col="url", id_col="media_id", text_col="caption"
        ).count()
        assert self._funnel(spark)[1].n_pairs == standalone

    def test_card_sums_reproduce_funnel(self, spark):
        import __spark_entry__ as E

        fun = self._funnel(spark)
        card = E.q_mm_corpus_card(spark, SF)
        sums = card.agg(
            F.sum("n_ingest").alias("i"),
            F.sum("n_url_kept").alias("u"),
            F.sum("n_aligned").alias("a"),
            F.sum("n_final").alias("f"),
            F.sum("final_bytes").alias("fb"),
        ).collect()[0]
        assert sums.i == fun[0].n_pairs
        assert sums.u == fun[1].n_pairs
        assert sums.a == fun[2].n_pairs
        assert sums.f == fun[3].n_pairs
        assert sums.fb == fun[3].n_bytes
        # every card row is internally monotone and null-free
        for r in card.collect():
            assert r.n_ingest >= r.n_url_kept >= r.n_aligned >= r.n_final
            assert r.mean_align is not None and r.kept_frac is not None
            # a source with survivors reports a real cosine, not the
            # empty-source sentinel
            if r.n_final > 0:
                assert -1.0 <= r.mean_align <= 1.0
            else:
                assert r.mean_align == -2.0


class TestCorpusDropReason:
    """q_corpus_drop_reason / q_corpus_drop_hist — the per-doc
    attribution must be the funnel read doc-wise: docs with
    drop_stage_no > s are exactly the stage-s survivors, the histogram
    is the rollup of the per-doc rows, and fractions sum to ~1."""

    def test_attribution_matches_funnel(self, spark):
        import __spark_entry__ as E

        fun = {
            r.stage_no: r
            for r in E.q_corpus_build_e2e(spark, SF).collect()
        }
        per_doc = E.q_corpus_drop_reason(spark, SF).collect()
        assert len(per_doc) == fun[0].n_docs  # every ingested doc has a row
        for s in range(7):
            survivors = sum(1 for r in per_doc if r.drop_stage_no > s)
            toks = sum(
                r.n_tokens for r in per_doc if r.drop_stage_no > s
            )
            assert survivors == fun[s].n_docs, f"stage {s}"
            assert toks == fun[s].n_tokens, f"stage {s}"

    def test_hist_is_the_rollup(self, spark):
        import __spark_entry__ as E

        per_doc = E.q_corpus_drop_reason(spark, SF).collect()
        want = {}
        for r in per_doc:
            k = (r.drop_stage_no, r.dropped_by)
            nd, nt = want.get(k, (0, 0))
            want[k] = (nd + 1, nt + r.n_tokens)
        hist = E.q_corpus_drop_hist(spark, SF).collect()
        got = {
            (r.drop_stage_no, r.dropped_by): (r.n_docs, r.n_tokens)
            for r in hist
        }
        assert got == want
        assert abs(sum(r.frac_of_ingest for r in hist) - 1.0) < 0.01
        # survivors labeled 'kept' and only they carry stage 7
        for r in hist:
            assert (r.drop_stage_no == 7) == (r.dropped_by == "kept")


class TestDecontamSource:
    """q_decontam_source — the span family's third grain must describe
    the SAME span set as the doc and eval-item grains: total spans
    agree across all three, and the source rows are exactly the doc
    rows rolled up by source."""

    def test_three_grains_one_span_set(self, spark):
        import __spark_entry__ as E

        per_doc = E.q_decontam_spans(spark, SF).collect()
        per_item = E.q_decontam_bench(spark, SF).collect()
        per_src = E.q_decontam_source(spark, SF).collect()

        assert sum(r.n_spans for r in per_src) == sum(
            r.n_spans for r in per_doc
        ) == sum(r.n_spans for r in per_item) > 0

        # roll the doc grain up by source and compare field-for-field
        d = spark.read.parquet(f"{SF}/documents.parquet")
        src_of = {r.doc_id: r.source for r in d.collect()}
        want = {}
        for r in per_doc:
            s = src_of[r.doc_id]
            nd, nc, ns, ct, mx = want.get(s, (0, 0, 0, 0, 0))
            want[s] = (
                nd + 1,
                nc + (1 if r.contaminated_tokens > 0 else 0),
                ns + r.n_spans,
                ct + r.contaminated_tokens,
                max(mx, r.max_span),
            )
        got = {
            r.source: (
                r.n_docs, r.n_contaminated, r.n_spans,
                r.contaminated_tokens, r.max_span,
            )
            for r in per_src
        }
        assert got == want
        for r in per_src:
            assert 0.0 <= r.contaminated_frac <= 1.0
            assert 0.0 <= r.contam_ratio <= 1.0


class TestD4Select:
    """q_d4_select — the audit rows must be exactly the q_semdedup
    survivors, and the keep flag must select the ceil(0.75·m) FARTHEST
    points per cluster (most-prototypical dropped)."""

    def test_rides_semdedup_and_keeps_farthest(self, spark):
        import math

        import __spark_entry__ as E

        sem = {
            (r.vec_id, r.cluster) for r in E.q_semdedup(spark, SF).collect()
        }
        rows = E.q_d4_select(spark, SF).collect()
        assert {(r.vec_id, r.cluster) for r in rows} == sem

        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, []).append(r)
        assert any(
            len(v) > 1 for v in by_cluster.values()
        )  # the cut is exercised
        for cl, members in by_cluster.items():
            m = len(members)
            assert all(r.cluster_size == m for r in members)
            cut = math.ceil(0.75 * m)
            # rank order = (sq_dist desc, vec_id asc), ranks 1..m
            ordered = sorted(
                members, key=lambda r: (-r.sq_dist, r.vec_id)
            )
            assert [r.proto_rank for r in ordered] == list(range(1, m + 1))
            kept = {r.vec_id for r in members if r.keep == 1}
            assert kept == {r.vec_id for r in ordered[:cut]}, cl
            # the dropped band is the most prototypical (nearest), so
            # every kept distance >= every dropped distance
            if cut < m:
                assert min(r.sq_dist for r in ordered[:cut]) >= max(
                    r.sq_dist for r in ordered[cut:]
                )


class TestUnimaxPlan:
    """sampling.unimax_plan — crafted corpora against a pure-Python
    reference waterfiller: mixed capped/uncapped, all-capped (budget
    exceeds the whole max_epochs corpus), none-capped, and the
    zero-token source (no-silent-drop)."""

    @staticmethod
    def _ref(tokens_by_source, budget, max_epochs):
        import math

        caps = sorted(
            (t * max_epochs, s) for s, t in tokens_by_source.items()
        )
        L = len(caps)
        out, prefix = {}, 0
        capped = []
        for k, (cap, s) in enumerate(caps, start=1):
            if cap * (L - k + 1) <= budget - prefix:
                capped.append(s)
                out[s] = cap
                prefix += cap
            else:
                break
        uncapped = [s for _, s in caps if s not in out]
        if uncapped:
            share = math.floor((budget - prefix) / len(uncapped))
            for s in uncapped:
                out[s] = share
        return out, set(capped)

    def _run(self, spark, tokens_by_source, budget, max_epochs):
        from linz_bde_uploader_spark.functions.sampling import unimax_plan

        rows = [
            (s, " ".join(["w"] * t) if t else "")
            for s, t in tokens_by_source.items()
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        return {
            r.source: r
            for r in unimax_plan(
                df, budget_tokens=budget, max_epochs=max_epochs
            ).collect()
        }

    def test_against_reference(self, spark):
        cases = [
            ({"a": 10, "b": 100, "c": 1000}, 600, 2),   # mixed
            ({"a": 10, "b": 100, "c": 1000}, 10000, 2),  # all capped
            ({"a": 10, "b": 100, "c": 1000}, 30, 2),     # none capped
            ({"a": 0, "b": 50, "c": 500}, 400, 3),       # zero-token src
        ]
        for tokens, budget, epochs in cases:
            got = self._run(spark, tokens, budget, epochs)
            want, capset = self._ref(tokens, budget, epochs)
            assert set(got) == set(tokens)  # no silent drops
            for s, r in got.items():
                assert r.alloc_tokens == want[s], (tokens, budget, s)
                assert (r.capped == 1) == (s in capset), (s, budget)
                assert r.cap_tokens == tokens[s] * epochs
                # epoch cap is a hard invariant
                assert r.epochs <= epochs + 1e-9
            assert sum(r.alloc_tokens for r in got.values()) <= budget

    def test_empty_token_count_convention(self, spark):
        # blank text counts ZERO tokens (text.py::token_count's
        # explicit blank branch); the DuckDB mixture oracles carry a
        # matching CASE guard because bare string_split('') would
        # return [''] and count 1 — assert the operator follows the
        # package convention rather than hard-coding the value
        from linz_bde_uploader_spark.functions.sampling import unimax_plan
        from linz_bde_uploader_spark.functions.text import token_count
        from pyspark.sql import functions as F2

        df = spark.createDataFrame(
            [("a", "")], "source string, text string"
        )
        tc = df.select(token_count(F2.col("text")).alias("t")).collect()[
            0
        ].t
        r = unimax_plan(df, budget_tokens=10, max_epochs=2).collect()[0]
        assert r.tokens == tc and r.cap_tokens == tc * 2


class TestUnimaxProperty:
    """Waterfilling invariants on RANDOM corpora (hypothesis): exact
    agreement with the pure-Python reference, budget conservation,
    the hard epoch cap, and the uniformity property (all uncapped
    sources receive the identical share)."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        toks=st.lists(
            st.integers(min_value=0, max_value=300),
            min_size=1,
            max_size=8,
        ),
        budget=st.integers(min_value=1, max_value=3000),
        epochs=st.integers(min_value=1, max_value=4),
    )
    @settings(max_examples=12, deadline=None)
    def test_matches_reference_on_random_corpora(
        self, spark, toks, budget, epochs
    ):
        from linz_bde_uploader_spark.functions.sampling import unimax_plan

        tokens_by_source = {f"s{i:02d}": t for i, t in enumerate(toks)}
        rows = [
            (s, " ".join(["w"] * t) if t else "")
            for s, t in tokens_by_source.items()
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            r.source: r
            for r in unimax_plan(
                df, budget_tokens=budget, max_epochs=epochs
            ).collect()
        }
        want, capset = TestUnimaxPlan._ref(
            tokens_by_source, budget, epochs
        )
        assert {s: r.alloc_tokens for s, r in got.items()} == want
        assert {s for s, r in got.items() if r.capped} == capset
        assert sum(r.alloc_tokens for r in got.values()) <= budget
        for r in got.values():
            assert r.alloc_tokens <= r.cap_tokens  # hard epoch cap
        shares = {
            r.alloc_tokens for r in got.values() if not r.capped
        }
        assert len(shares) <= 1  # uniformity: one share for all uncapped
