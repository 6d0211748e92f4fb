"""Round-15 births: the mixture plan→execution→audit composite
(mixture_materialize + mixture_realization_audit), the BPE vocab-size
ablation (one prefix-nested training serving every budget), the
data-constrained scaling planner (Muennighoff et al. 2023 repeat-decay
law over the UniMax allocation), the near-dup threshold ablation (five
Jaccard cuts off one verified pair set), the multi-probe radius
ablation (nested probe sets off one scored pass), the Heaps'-law
vocabulary-growth datasheet (nested hash-bucket prefixes off one
token-key agg), and the training-export composite (the full
plan→materialize→pack loop with a per-shard manifest). The k-means
Arrow strategy-invariance fix is tested in
test_clustering.py (where the family lives)."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(spark, rows):
    """A hand plan frame in unimax_plan's column contract."""
    return spark.createDataFrame(
        rows, "source string, n_docs long, tokens long, alloc_tokens long"
    )


class TestMixtureMaterialize:
    """mixture_materialize — integer-exact rate resolution and the
    epoch machinery, pinned by hand and against mixture_weights."""

    def _docs(self, spark, per_source):
        rows, i = [], 0
        for src, texts in per_source.items():
            for t in texts:
                rows.append((i, src, t))
                i += 1
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_capped_source_realizes_exactly_max_epochs(self, spark):
        # alloc = tokens * 2 resolves to base 2, frac 0: EVERY doc gets
        # exactly two copies — no hash gate involved, rem is 0
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
        )

        docs = self._docs(spark, {"a": ["x y z", "p q"]})  # 5 tokens
        plan = _plan(spark, [("a", 2, 5, 10)])
        mat = mixture_materialize(docs, plan).collect()
        per_doc = {}
        for r in mat:
            per_doc.setdefault(r.doc_id, []).append(r.epoch)
        assert per_doc == {0: [1, 2], 1: [1, 2]}

    def test_fractional_rate_matches_mixture_weights(self, spark):
        # a plan whose rate is exactly 2.5 must materialize the SAME
        # row multiset as mixture_weights at weight 2.5 — one epoch
        # machinery, two drivers
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
            mixture_weights,
        )

        texts = [f"t{i} u{i}" for i in range(40)]  # 2 tokens each
        docs = self._docs(spark, {"a": texts})
        plan = _plan(spark, [("a", 40, 80, 200)])  # rate 200/80 = 2.5
        got = sorted(
            (r.doc_id, r.epoch)
            for r in mixture_materialize(docs, plan).collect()
        )
        want = sorted(
            (r.doc_id, r.epoch)
            for r in mixture_weights(
                docs, "doc_id", "source", {"a": 2.5}
            ).collect()
        )
        assert got == want and len(got) > 80  # the .5 gate fired

    def test_rate_resolution_is_half_up_and_carries_at_100(self, spark):
        # 100·rem/tokens exactly on a half tick rounds UP (199/200 →
        # 99.5 → 100) and a frac of 100 carries into base — the
        # mixture_weights resolve convention, done in pure integers
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
        )

        texts = [f"w{i}" for i in range(200)]  # 1 token each
        docs = self._docs(spark, {"a": texts})
        # alloc 399, tokens 200: base 1, rem 199, 100·199/200 = 99.5
        # → frac 100 → base 2, frac 0: every doc exactly twice
        plan = _plan(spark, [("a", 200, 200, 399)])
        counts = {
            r.doc_id: r.cnt
            for r in mixture_materialize(docs, plan)
            .groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
        }
        assert set(counts.values()) == {2} and len(counts) == 200

    def test_zero_rate_drops_all_and_below_one_downsamples(self, spark):
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
        )

        texts = [f"w{i}" for i in range(100)]
        docs = self._docs(spark, {"a": texts, "b": texts[:50]})
        # a: alloc 0 → nothing; b: rate 0.5 → the stable half of ids
        plan = _plan(spark, [("a", 100, 100, 0), ("b", 50, 50, 25)])
        mat = mixture_materialize(docs, plan)
        assert mat.filter(F.col("source") == "a").count() == 0
        nb = mat.filter(F.col("source") == "b").count()
        assert 0 < nb < 50  # hash-gated subset, never all or none


class TestRealizationAudit:
    """mixture_realization_audit — the datasheet grain: every plan row
    surfaces, ratios and histograms verified by hand."""

    def test_datasheet_by_hand(self, spark):
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_realization_audit,
        )

        docs = spark.createDataFrame(
            [(0, "a", "x y"), (1, "a", "p q r"), (2, "c", "s t")],
            "doc_id long, source string, text string",
        )
        # a: rate 10/5 = 2.0 → both docs twice; b: planned but absent
        # from the corpus; c: alloc 0 → dropped entirely
        plan = _plan(
            spark,
            [("a", 2, 5, 10), ("b", 0, 0, 0), ("c", 1, 2, 0)],
        )
        rows = {r.source: r for r in
                mixture_realization_audit(docs, plan).collect()}
        a = rows["a"]
        assert (a.target_tokens, a.realized_docs, a.realized_tokens) == (
            10, 4, 10,
        )
        assert a.realized_ratio == 1.0 and a.epoch_hist == "1:2,2:2"
        for src in ("b", "c"):  # no-silent-drop: zero rows surface
            r = rows[src]
            assert (r.realized_docs, r.realized_tokens) == (0, 0)
            assert r.epoch_hist == ""
        assert rows["b"].realized_ratio == 1.0  # nothing owed
        assert rows["c"].realized_ratio == 1.0  # alloc 0 → vacuous

    def test_ratio_is_realized_over_target(self, spark):
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_realization_audit,
        )

        docs = spark.createDataFrame(
            [(0, "a", "x y z w")],
            "doc_id long, source string, text string",
        )
        # rate 6/4 = 1.5: doc 0's bucket decides 1 or 2 copies; either
        # way the ratio is realized/6 at 4 dp
        plan = _plan(spark, [("a", 1, 4, 6)])
        r = mixture_realization_audit(docs, plan).collect()[0]
        assert r.realized_tokens in (4, 8)
        assert r.realized_ratio == round(r.realized_tokens / 6.0, 4)

    def test_unimax_drive_covers_both_branches(self, spark):
        # the registry composite's shape: a real unimax plan (budget
        # 50k, caps 2) over the fixtures drives the audit; capped
        # sources realize exactly 2.0 (integer rate, ratio 1.0) and at
        # least one uncapped source carries a fractional histogram
        from linz_bde_uploader_spark import caching
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_realization_audit,
            unimax_plan,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = caching.track(
            unimax_plan(docs, budget_tokens=50_000, max_epochs=2)
        )
        try:
            sheet = {r.source: r for r in
                     mixture_realization_audit(docs, plan).collect()}
            caps = {r["source"] for r in plan.collect() if r["capped"]}
            assert caps and len(caps) < len(sheet)
            for s, r in sheet.items():
                if s in caps:
                    assert r.realized_ratio == 1.0
                    assert r.epoch_hist.startswith("1:")
                    assert r.epoch_hist.endswith(f"2:{r.n_docs}")
            assert any(
                "2:" in r.epoch_hist and r.realized_ratio != 1.0
                for s, r in sheet.items() if s not in caps
            )
        finally:
            caching.release_intermediates()


class TestBpeVocabAblation:
    """bpe_vocab_ablation — the prefix-nesting that lets one training
    serve every budget, and the datasheet arithmetic."""

    def test_prefix_row_equals_direct_training(self, spark):
        # the ablation's v=2 row must equal stats computed from an
        # INDEPENDENT bpe_train(n_merges=2) + bpe_encode run — the
        # prefix-nesting claim, checked end to end
        from linz_bde_uploader_spark.functions.text import (
            bpe_encode,
            bpe_train,
            bpe_vocab_ablation,
        )

        docs = spark.createDataFrame(
            [(i, "the cat sat on the mat " * 3) for i in range(6)]
            + [(9, "a wholly different text body here")],
            "doc_id long, text string",
        )
        sheet = {r.n_merges: r for r in
                 bpe_vocab_ablation(docs, (2, 4)).collect()}
        m2 = bpe_train(docs, "text", n_merges=2)
        pairs = [(r.lhs, r.rhs) for r in m2.orderBy("step").collect()]
        enc = bpe_encode(docs, pairs).collect()
        assert sheet[2].total_syms == sum(r.n_syms for r in enc)
        assert sheet[2].max_syms == max(r.n_syms for r in enc)
        assert sheet[2].n_merges_effective == 2

    def test_total_syms_monotone_in_budget(self, spark):
        # every extra merge can only shrink the corpus's symbol count
        from linz_bde_uploader_spark.functions.text import (
            bpe_vocab_ablation,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
        rows = bpe_vocab_ablation(docs, (2, 4, 6)).collect()
        syms = [r.total_syms for r in sorted(rows, key=lambda r: r.n_merges)]
        assert syms[0] > syms[1] > syms[2]
        for r in rows:  # shared corpus-constant columns
            assert r.n_docs == 80
            assert r.fertility == round(r.total_syms / r.total_words, 6)

    def test_exhaustion_reuses_last_snapshot(self, spark):
        # "abab" trains ab (step 1) then abab (step 2), after which the
        # corpus is one symbol and training exhausts — the v=3 row must
        # reuse the step-2 snapshot and report effective = 2
        from linz_bde_uploader_spark.functions.text import (
            bpe_vocab_ablation,
        )

        docs = spark.createDataFrame(
            [(1, "abab")], "doc_id long, text string"
        )
        rows = {r.n_merges: r for r in
                bpe_vocab_ablation(docs, (1, 2, 3)).collect()}
        assert rows[3].n_merges_effective == 2
        assert rows[3].total_syms == rows[2].total_syms == 1
        assert rows[1].total_syms == 2  # "ab ab"


def _half_up(x, dp):
    """Engine rounding (Spark F.round / DuckDB round): HALF_UP on the
    shortest-decimal form — Python round() is banker's and flips on
    exact half-ticks, so references must go through Decimal(repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP
        )
    )


class TestDataConstrained:
    """sampling.data_constrained_value — exact agreement with a
    pure-Python reference replaying the Muennighoff law (epochs from
    the plan, frozen 1e-9 exp, one rounded double expression for the
    effective tokens), plus invariants on the registry drive."""

    RD = 15.39

    @classmethod
    def _ref_row(cls, tokens, alloc):
        import math

        ep = _half_up(alloc / max(tokens, 1), 4)
        r = max(ep - 1.0, 0.0)
        w = int(_half_up(math.exp(-r / cls.RD) * 1e9, 0))
        if ep <= 1.0:
            eff = alloc
        else:
            eff = int(_half_up(tokens * (1.0 + cls.RD * (1.0 - w / 1e9)), 0))
        return {
            "epochs": ep,
            "repeats": _half_up(r, 4),
            "repeat_value": w / 1e9,
            "effective_tokens": eff,
            "efficiency": _half_up(eff / max(alloc, 1), 4),
        }

    def _run(self, spark, rows):
        from linz_bde_uploader_spark.functions.sampling import (
            data_constrained_value,
        )

        # bare (source, n_docs, tokens, alloc) — no epochs column:
        # the evaluator derives epochs itself, so ANY planner frame
        # (DoReMi's target_tokens included) satisfies the contract
        plan = spark.createDataFrame(
            [(f"s{i}", 1, t, a) for i, (t, a) in enumerate(rows)],
            "source string, n_docs long, tokens long, alloc_tokens long",
        )
        return {r.source: r for r in data_constrained_value(plan).collect()}

    def test_matches_reference_on_random_plans(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @given(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=5_000),
                    st.integers(min_value=0, max_value=60_000),
                ),
                min_size=2,
                max_size=6,
            )
        )
        @settings(max_examples=8, deadline=None)
        def check(rows):
            got = self._run(spark, rows)
            for i, (t, a) in enumerate(rows):
                want = self._ref_row(t, a)
                g = got[f"s{i}"]
                assert (
                    g.epochs, g.repeats, g.repeat_value,
                    g.effective_tokens, g.efficiency,
                ) == (
                    want["epochs"], want["repeats"],
                    want["repeat_value"], want["effective_tokens"],
                    want["efficiency"],
                ), (t, a)

        check()

    def test_fresh_regime_is_exact_and_deep_repeats_decay(self, spark):
        got = self._run(
            spark,
            [(1000, 800), (1000, 1000), (1000, 4000), (1000, 16000)],
        )
        # alloc <= unique: effective = alloc to the token, efficiency 1
        assert got["s0"].effective_tokens == 800
        assert got["s0"].efficiency == 1.0 and got["s0"].repeat_value == 1.0
        assert got["s1"].effective_tokens == 1000  # boundary is fresh
        # 4 epochs (3 repeats): the paper's near-fresh regime
        s2 = got["s2"]
        assert s2.repeats == 3.0 and 0.80 < s2.repeat_value < 0.83
        assert s2.effective_tokens < 4000  # decay is real
        # 16 epochs: value mostly gone — a third of the allocation
        # evaporates (10583 effective of 16000 allocated)
        s3 = got["s3"]
        assert s3.repeat_value < 0.40
        assert s3.effective_tokens == 10583
        # monotone: more allocation never reduces effective tokens
        assert (got["s1"].effective_tokens <= s2.effective_tokens
                <= s3.effective_tokens)

    def test_registry_drive_covers_both_branches(self, spark):
        from linz_bde_uploader_spark.functions.sampling import (
            data_constrained_plan,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        rows = data_constrained_plan(
            docs, budget_tokens=27_000, max_epochs=6
        ).collect()
        fresh = [r for r in rows if r.epochs <= 1.0]
        rep = [r for r in rows if r.repeats > 0]
        assert fresh and rep and len(fresh) + len(rep) == len(rows)
        for r in fresh:
            assert r.effective_tokens == r.alloc_tokens
            assert r.efficiency == 1.0
        for r in rep:
            # at these shallow repeat depths (≤ ~1.1 epochs) the decay
            # is O(R²/2R*)·U — well under one token, so it rounds away;
            # what must hold is that repeats never ADD tokens and the
            # marginal value is genuinely below fresh
            assert r.effective_tokens <= r.alloc_tokens
            assert 0.0 < r.repeat_value < 1.0


class TestDedupThresholdAblation:
    """q_dedup_threshold_ablation — one verified pair set prices every
    cut exactly: each arm must equal an INDEPENDENT direct run at that
    threshold, and the datasheet must be monotone in the cut."""

    def test_arms_equal_direct_runs_and_are_monotone(self, spark):
        import __spark_entry__ as entry
        from linz_bde_uploader_spark.functions import dedup as D

        rows = sorted(
            entry.queries()["q_dedup_threshold_ablation"](
                spark, SF
            ).collect(),
            key=lambda r: r.threshold,
        )
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        for r in rows:
            direct = D.candidate_jaccard_verify(
                docs, "doc_id", "text", threshold=r.threshold
            )
            assert r.n_pairs == direct.count()
            assert r.docs_removed == (
                direct.select("id_b").distinct().count()
            )
            assert r.survivors == r.n_docs - r.docs_removed
        # monotone: a stricter cut never removes more
        for a, b in zip(rows, rows[1:]):
            assert a.n_pairs >= b.n_pairs
            assert a.docs_removed >= b.docs_removed
            assert a.tokens_removed >= b.tokens_removed
        # the grid genuinely separates on the fixtures, and the
        # unreachable 0.99 cut exercises the zero-removal arm
        assert len({r.docs_removed for r in rows}) >= 3
        assert rows[-1].threshold == 0.99 and rows[-1].docs_removed == 0
        assert rows[-1].n_pairs == 0 and rows[-1].removed_frac == 0.0


class TestAnnRadiusAblation:
    """lsh_radius_ablation — nesting, ground-truth flags, and agreement
    with the independent probe-set machinery."""

    def test_candidates_match_probe_sets_and_recall_is_monotone(
        self, spark
    ):
        from linz_bde_uploader_spark.functions.similarity import (
            _probe_set,
            lsh_radius_ablation,
            lsh_signature,
            query_signature,
        )

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        qv = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0)
            .select("embedding").first()[0]
        ]
        rows = sorted(
            lsh_radius_ablation(
                e, qv, k=20, planes=6, exclude_id=0
            ).collect(),
            key=lambda r: r.radius,
        )
        # independent cross-check: candidate counts at r <= 2 must
        # equal a signature-IN-probe-set filter (the lsh_topk path)
        qsig = query_signature(qv, planes=6)
        sigs = e.filter(F.col("vec_id") != 0).select(
            lsh_signature(F.col("embedding"), len(qv), 6).alias("sig")
        )
        for r in (0, 1, 2):
            probes = _probe_set(qsig, 6, r)
            want = sigs.filter(F.col("sig").isin(probes)).count()
            assert rows[r].n_candidates == want
        # nesting: candidates and hits never shrink with radius; the
        # full-corpus ceiling bounds everything
        for a, b in zip(rows, rows[1:]):
            assert a.n_candidates <= b.n_candidates
            assert a.hits <= b.hits
        assert all(0 <= r.hits <= 20 for r in rows)
        assert all(r.recall == round(r.hits / 20.0, 6) for r in rows)
        # the knob genuinely moves on the fixtures
        assert rows[0].recall < rows[-1].recall


class TestVocabGrowth:
    """text.vocab_growth — nested-prefix exactness and the Heaps β
    estimate on a corpus with genuine vocabulary growth (the parquet
    fixtures have a CLOSED 31-token template vocabulary — flat growth,
    β = 0, which is itself the template-spam signature the datasheet
    exists to expose; growth behavior needs a crafted corpus)."""

    def test_growth_and_prefix_exactness_by_hand(self, spark):
        from linz_bde_uploader_spark.functions.sampling import (
            SPLIT_BUCKETS,
            split_bucket,
        )
        from linz_bde_uploader_spark.functions.text import vocab_growth

        # doc i: one NOVEL token w{i} + two common ones — vocabulary
        # grows roughly linearly in docs, so β is strongly positive
        docs = spark.createDataFrame(
            [(i, f"common also w{i}") for i in range(300)],
            "doc_id long, text string",
        )
        rows = {r.prefix_pct: r for r in
                vocab_growth(docs, prefixes=(25, 50, 100)).collect()}
        # exact per-prefix reference via the same bucket hash
        buckets = {
            r.doc_id: r.b
            for r in docs.select(
                "doc_id", split_bucket("doc_id").alias("b")
            ).collect()
        }
        assert SPLIT_BUCKETS == 100
        for p in (25, 50, 100):
            ids = [i for i in range(300) if buckets[i] < p]
            vocab = len({f"w{i}" for i in ids} | {"common", "also"})
            r = rows[p]
            assert (r.n_docs, r.n_tokens, r.vocab) == (
                len(ids), 3 * len(ids), vocab,
            )
            assert r.type_token_ratio == round(
                vocab / max(3 * len(ids), 1), 6
            )
        # β between consecutive prefixes: near-linear growth → β well
        # above the template floor and near 1 on this corpus
        import math

        for a, b in ((25, 50), (50, 100)):
            va, vb = rows[a].vocab, rows[b].vocab
            na, nb = rows[a].n_tokens, rows[b].n_tokens
            want = round(math.log(vb / va) / math.log(nb / na), 4)
            assert rows[b].heaps_beta == want
            assert 0.8 < rows[b].heaps_beta <= 1.05
        assert rows[25].heaps_beta == 0.0  # first row: no predecessor

    def test_registry_drive_shows_the_closed_template_vocabulary(
        self, spark
    ):
        from linz_bde_uploader_spark.functions.text import vocab_growth

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        rows = sorted(
            vocab_growth(docs).collect(), key=lambda r: r.prefix_pct
        )
        assert [r.prefix_pct for r in rows] == [10, 25, 50, 100]
        # the synthetic corpus is template text: the vocabulary is
        # CLOSED — every prefix sees all of it, growth is flat and
        # every β is 0 (the guard branch: V_p == V_prev → ln 1 → 0)
        assert len({r.vocab for r in rows}) == 1
        assert all(r.heaps_beta == 0.0 for r in rows)
        # prefixes nest: docs and tokens strictly grow
        for a, b in zip(rows, rows[1:]):
            assert a.n_docs < b.n_docs and a.n_tokens < b.n_tokens


class TestTrainingExport:
    """q_training_export — the plan→materialize→pack composite: mass
    conservation against the realization audit, capacity invariants,
    and shard totals."""

    def test_export_conserves_materialized_mass(self, spark):
        import __spark_entry__ as entry
        from linz_bde_uploader_spark import caching
        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
            token_count,
            unimax_plan,
        )

        rows = entry.queries()["q_training_export"](spark, SF).collect()
        caching.release_intermediates()
        assert [r.shard for r in rows] == sorted(
            {r.shard for r in rows}
        ) and len(rows) == 8
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = unimax_plan(docs, budget_tokens=50_000, max_epochs=2)
        mat = mixture_materialize(docs, plan)
        n_items = mat.count()
        tok = mat.select(
            F.least(token_count(F.col("text")), F.lit(256))
            .cast("long").alias("t")
        ).agg(F.sum("t")).collect()[0][0]
        assert sum(r.n_items for r in rows) == n_items
        assert sum(r.total_tokens for r in rows) == tok
        for r in rows:
            # every pack holds <= 256 tokens, so fills bound the count
            assert r.n_packs >= r.total_tokens / 256.0
            assert 0.0 < r.mean_fill <= 1.0
            # mean_fill consistency with the row's own totals:
            # mean >= total/(n_packs*256) with equality iff uniform
            assert r.mean_fill >= round(
                r.total_tokens / (r.n_packs * 256.0), 6
            ) - 1e-9


class TestRateResolutionProperty:
    """Hypothesis fuzz of mixture_materialize's integer rate
    resolution against a Decimal reference — base = alloc div tokens,
    frac = HALF-UP of 100·rem/tokens, frac 100 carrying into base —
    pinned by observing realized copy counts on one-token docs (a
    direct window into (base, frac): every doc realizes base or
    base+1 copies and the split follows the hash gate)."""

    def test_copy_counts_match_decimal_reference(self, spark):
        from decimal import ROUND_HALF_UP, Decimal

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from linz_bde_uploader_spark.functions.sampling import (
            mixture_materialize,
            split_bucket,
        )

        docs = spark.createDataFrame(
            [(i, "a", f"w{i}") for i in range(50)],
            "doc_id long, source string, text string",
        ).cache()
        buckets = {
            r.doc_id: r.b
            for r in docs.select(
                "doc_id", split_bucket("doc_id").alias("b")
            ).collect()
        }

        def ref(tokens, alloc):
            if tokens <= 0:
                return 0, 0
            base = alloc // tokens
            rem = alloc - base * tokens
            frac = int(
                (Decimal(100 * rem) / Decimal(tokens)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            if frac == 100:
                return base + 1, 0
            return base, frac

        @given(
            st.integers(min_value=0, max_value=3_000),
            st.integers(min_value=0, max_value=9_000),
        )
        @settings(max_examples=12, deadline=None)
        def check(tokens, alloc):
            plan = spark.createDataFrame(
                [("a", 50, tokens, alloc)],
                "source string, n_docs long, tokens long,"
                " alloc_tokens long",
            )
            counts = {
                r.doc_id: r.c
                for r in mixture_materialize(docs, plan)
                .groupBy("doc_id")
                .agg(F.count("*").alias("c"))
                .collect()
            }
            base, frac = ref(tokens, alloc)
            for i in range(50):
                want = base + (1 if buckets[i] < frac else 0)
                assert counts.get(i, 0) == want, (tokens, alloc, i)

        check()
