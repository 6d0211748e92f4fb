"""Round-14 births: the CCNet end-to-end composite (langid gate →
per-language stratified bigram LM → head/middle/tail split →
per-language datasheet), the FineWeb per-snapshot vs global dedup
ablation, the margin-criterion bitext mining face, the
quality-threshold ablation datasheet, the DoReMi one-step EG mixture
plan, the filter-vs-dedup stage-ordering ablation, and the
perplexity-pruning ablation."""

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestStratifiedLm:
    """train_stratified_bigram_lm / score_documents_stratified — one
    model per stratum, add-one arithmetic verified by hand on a
    crafted two-language corpus."""

    def test_per_stratum_probabilities_by_hand(self, spark):
        from linz_bde_uploader_spark.functions.lm import (
            score_documents_stratified,
            train_stratified_bigram_lm,
        )

        docs = spark.createDataFrame(
            [
                (1, "en", "a b a b"),
                (2, "en", "a b"),
                (3, "de", "a c"),
            ],
            "doc_id long, lang string, text string",
        )
        lm = train_stratified_bigram_lm(docs, stratum_col="lang")
        rows = {
            (r.lang, r.prev, r.cur): r for r in lm.collect()
        }
        # en: bigrams (a,b)x3? doc1 = a b, b a, a b -> (a,b)=2,(b,a)=1;
        # doc2 adds (a,b)=1 -> (a,b)=3, (b,a)=1; vocab {a,b} = 2
        en_ab = rows[("en", "a", "b")]
        assert en_ab.pair_cnt == 3 and en_ab.ctx_cnt == 3
        assert en_ab.vocab_size == 2
        assert abs(en_ab.logp - math.log((3 + 1) / (3 + 2))) < 1e-12
        en_ba = rows[("en", "b", "a")]
        assert en_ba.pair_cnt == 1 and en_ba.ctx_cnt == 1
        # de: one bigram (a,c); vocab {a,c} = 2 — counted per stratum,
        # never polluted by en's b
        de_ac = rows[("de", "a", "c")]
        assert de_ac.pair_cnt == 1 and de_ac.ctx_cnt == 1
        assert de_ac.vocab_size == 2
        assert abs(de_ac.logp - math.log((1 + 1) / (1 + 2))) < 1e-12
        # the SAME context 'a' scores differently under each language's
        # model — the whole point of per-language LMs
        assert en_ab.logp != de_ac.logp

        sc = {r.doc_id: r for r in score_documents_stratified(
            docs, lm, stratum_col="lang"
        ).collect()}
        assert set(sc) == {1, 2, 3}
        # doc3 under de's model: -logp(a,c) exactly
        assert abs(
            sc[3].cross_entropy - round(-de_ac.logp, 4)
        ) < 1e-9
        assert sc[3].n_bigrams == 1 and sc[3].lang == "de"

    def test_backoff_floor_for_unseen_bigrams(self, spark):
        from linz_bde_uploader_spark.functions.lm import (
            score_documents_stratified,
            train_stratified_bigram_lm,
        )

        train = spark.createDataFrame(
            [(1, "en", "a b a b")],
            "doc_id long, lang string, text string",
        )
        lm = train_stratified_bigram_lm(train, stratum_col="lang")
        # "a c": seen context 'a' (ctx_cnt=2), unseen cur 'c' ->
        # floor ln(1/(2+2)); "c d": unseen context -> ln(1/(0+2))
        test = spark.createDataFrame(
            [(9, "en", "a c"), (10, "en", "c d")],
            "doc_id long, lang string, text string",
        )
        got = {r.doc_id: r for r in score_documents_stratified(
            test, lm, stratum_col="lang"
        ).collect()}
        assert abs(
            got[9].cross_entropy - round(-math.log(1 / 4), 4)
        ) < 1e-9
        assert abs(
            got[10].cross_entropy - round(-math.log(1 / 2), 4)
        ) < 1e-9


class TestCcnetE2e:
    """q_ccnet_e2e — per-(language, bucket) grain over the real
    corpus: funnel monotonicity, the three-bucket partition of the
    scoreable set, and bucket mean-perplexity ordering."""

    def _rows(self, spark):
        import __spark_entry__ as E

        return E.q_ccnet_e2e(spark, SF).collect()

    def test_grain_and_funnel(self, spark):
        rows = self._rows(spark)
        langs = {r.lang for r in rows}
        d = spark.read.parquet(f"{SF}/documents.parquet")
        assert langs == {
            r.lang for r in d.select("lang").distinct().collect()
        }
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        for lang, rs in by_lang.items():
            assert sorted(r.bucket for r in rs) == [
                "head", "middle", "tail",
            ]
            # funnel columns repeat identically across the lang's rows
            assert len({(r.n_ingest, r.n_langid, r.n_scored)
                        for r in rs}) == 1
            r0 = rs[0]
            assert r0.n_ingest >= r0.n_langid >= r0.n_scored >= 0
            # buckets partition the scoreable set
            assert sum(r.n_docs for r in rs) == r0.n_scored
        assert sum(r.n_ingest for r in rows) // 3 == d.count()

    def test_langid_gate_is_the_detector(self, spark):
        from linz_bde_uploader_spark.functions.text import lang_guess

        rows = self._rows(spark)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        conf = d.filter(lang_guess(F.col("text")) == "en")
        got = {
            r.lang: r.n_langid for r in rows if r.bucket == "head"
        }
        want = {
            r.lang: r.cnt
            for r in conf.groupBy("lang").agg(
                F.count(F.lit(1)).alias("cnt")
            ).collect()
        }
        for lang, n in got.items():
            assert n == want.get(lang, 0), lang

    def test_bucket_means_are_ordered(self, spark):
        rows = self._rows(spark)
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, {})[r.bucket] = r
        checked = 0
        for lang, b in by_lang.items():
            if all(b[k].n_docs > 0 for k in ("head", "middle", "tail")):
                assert (
                    b["head"].mean_ppl
                    <= b["middle"].mean_ppl
                    <= b["tail"].mean_ppl
                ), lang
                checked += 1
        assert checked > 0  # the ordering was actually exercised


class TestSnapshotAblation:
    """q_dedup_snapshot_ablation — the within-snapshot drop set must
    be a subset of the global one per snapshot, the cross-snapshot
    column their exact difference, and the global arm must agree with
    the standalone verified-pair machinery."""

    def test_containment_and_totals(self, spark):
        import __spark_entry__ as E
        from linz_bde_uploader_spark.functions.dedup import (
            candidate_jaccard_verify,
        )

        rows = E.q_dedup_snapshot_ablation(spark, SF).collect()
        assert sorted(r.snapshot for r in rows) == [0, 1, 2, 3]
        for r in rows:
            assert 0 <= r.snap_removed <= r.global_removed <= r.n_docs
            assert r.cross_snapshot_removed == (
                r.global_removed - r.snap_removed
            )
            assert r.snap_tokens_removed <= r.global_tokens_removed
            assert abs(
                r.snap_removed_frac - round(r.snap_removed / r.n_docs, 4)
            ) < 1e-9

        d = spark.read.parquet(f"{SF}/documents.parquet")
        ver = candidate_jaccard_verify(d, "doc_id", "text", threshold=0.5)
        gdrop = {r.id_b for r in ver.select("id_b").distinct().collect()}
        assert sum(r.global_removed for r in rows) == len(gdrop)
        sdrop = {
            r.id_b
            for r in ver.filter(
                F.pmod(F.col("id_a"), F.lit(4))
                == F.pmod(F.col("id_b"), F.lit(4))
            ).select("id_b").distinct().collect()
        }
        assert sum(r.snap_removed for r in rows) == len(sdrop)
        # the FineWeb quantity exists on this corpus: some duplicates
        # really do cross snapshots
        assert sum(r.cross_snapshot_removed for r in rows) > 0

    def test_crafted_within_vs_cross(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            candidate_jaccard_verify,
        )

        # ids 0 and 4 share snapshot (0%4 == 4%4); ids 1 and 2 do not.
        # near-identical long texts so LSH certainly bands them.
        t1 = " ".join(["alpha beta gamma delta"] * 10)
        t2 = " ".join(["omega psi chi phi"] * 10)
        docs = spark.createDataFrame(
            [(0, t1), (4, t1), (1, t2), (2, t2), (7, "lone wolf text")],
            "doc_id long, text string",
        )
        ver = candidate_jaccard_verify(docs, "doc_id", "text", 0.5)
        pairs = {(r.id_a, r.id_b) for r in ver.collect()}
        assert (0, 4) in pairs and (1, 2) in pairs
        same = {
            (a, b) for a, b in pairs if a % 4 == b % 4
        }
        assert (0, 4) in same and (1, 2) not in same


class TestBitextMargin:
    """q_bitext_margin — exact agreement with a numpy reference that
    replays the published ratio-margin definition with the same
    fixed-point arithmetic, plus cut-exercise checks."""

    def test_against_numpy_reference(self, spark):
        import numpy as np

        import __spark_entry__ as E

        rows = {r.src_id: r for r in E.q_bitext_margin(spark, SF).collect()}

        emb = {
            r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
        }
        src = sorted(i for i in emb if i % 2 == 0)
        tgt = sorted(i for i in emb if i % 2 == 1)
        qs = [i for i in src if i % 10 == 0 and i < 1000]

        def cos6(a, b):
            v = float(emb[a] @ emb[b]) / (
                math.sqrt(float(emb[a] @ emb[a]))
                * math.sqrt(float(emb[b] @ emb[b]))
            )
            return round(v, 6)

        def topk(x, side, k=4):
            scored = sorted(
                ((cos6(x, y), y) for y in side if y != x),
                key=lambda t: (-t[0], t[1]),
            )[:k]
            return scored

        k = 4
        fwd = {x: topk(x, tgt, k) for x in qs}
        ycand = sorted({y for nn in fwd.values() for _, y in nn})
        bwd = {y: topk(y, src, k) for y in ycand}

        want = {}
        for x in qs:
            dx = sum(round(s * 1e6) for s, _ in fwd[x])
            nx = len(fwd[x])
            best = None
            for s, y in fwd[x]:
                dy = sum(round(sy * 1e6) for sy, _ in bwd[y])
                ny = len(bwd[y])
                den = dx * ny + dy * nx
                m = (
                    round(round(s * 1e6) * 2.0 * nx * ny / den, 4)
                    if den > 0
                    else 0.0
                )
                cand = (m, -y, s, y)
                if best is None or cand > best:
                    best = cand
            m, _, s, y = best
            want[x] = (y, s, m, 1 if m > 1.06 else 0)

        assert set(rows) == set(want)
        for x, (y, s, m, mined) in want.items():
            r = rows[x]
            assert (r.tgt_id, r.cos_score, r.margin, r.mined) == (
                y, s, m, mined,
            ), x

    def test_cut_is_exercised(self, spark):
        import __spark_entry__ as E

        rows = E.q_bitext_margin(spark, SF).collect()
        flags = {r.mined for r in rows}
        assert flags == {0, 1}
        for r in rows:
            assert (r.mined == 1) == (r.margin > 1.06)
            # mates come from the target side only
            assert r.tgt_id % 2 == 1 and r.src_id % 2 == 0


class TestQualityAblation:
    """q_quality_ablation — the calibration machinery must reappear
    verbatim (bins, counts, means, gopher rate all equal), retention
    must be the exact suffix-cumulative of the bin masses, and the
    decontam column must match the standalone operator."""

    def test_calibration_columns_match_verbatim(self, spark):
        import __spark_entry__ as E

        cal = {r.bin: r for r in E.q_quality_calibration(spark, SF).collect()}
        abl = {r.bin: r for r in E.q_quality_ablation(spark, SF).collect()}
        assert set(cal) == set(abl)
        for b, c in cal.items():
            a = abl[b]
            assert (a.n_docs, a.mean_prob, a.gopher_pass_frac) == (
                c.n_docs, c.mean_prob, c.gopher_pass_frac,
            ), b

    def test_retention_is_suffix_cumulative(self, spark):
        import __spark_entry__ as E

        rows = sorted(
            E.q_quality_ablation(spark, SF).collect(),
            key=lambda r: r.bin,
        )
        total_d = sum(r.n_docs for r in rows)
        total_t = sum(r.n_tokens for r in rows)
        for i, r in enumerate(rows):
            assert r.ret_docs == sum(x.n_docs for x in rows[i:])
            assert r.ret_tokens == sum(x.n_tokens for x in rows[i:])
            assert abs(
                r.ret_doc_frac - round(r.ret_docs / total_d, 4)
            ) < 1e-9
            assert abs(
                r.ret_token_frac - round(r.ret_tokens / total_t, 4)
            ) < 1e-9
        assert rows[0].ret_docs == total_d
        assert rows[0].ret_doc_frac == 1.0

    def test_contam_matches_standalone_operator(self, spark):
        import __spark_entry__ as E
        from linz_bde_uploader_spark.functions.decontaminate import (
            contamination_hits,
        )
        from linz_bde_uploader_spark.functions.text import (
            quality_classifier,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet")
        hits = {
            r.doc_id
            for r in contamination_hits(
                d.filter(F.col("doc_id") % 20 != 0),
                d.filter(F.col("doc_id") % 20 == 0),
                n=4,
            ).collect()
        }
        probs = {
            r.doc_id: r.prob for r in quality_classifier(d).collect()
        }
        want = {}
        for doc_id, p in probs.items():
            b = min(9, int(p * 10))
            n, c = want.get(b, (0, 0))
            contam = doc_id % 20 == 0 or doc_id in hits
            want[b] = (n + 1, c + (1 if contam else 0))
        got = {
            r.bin: r for r in E.q_quality_ablation(spark, SF).collect()
        }
        assert set(got) == set(want)
        for b, (n, c) in want.items():
            assert got[b].n_docs == n
            assert abs(got[b].contam_frac - round(c / n, 4)) < 1e-9


class TestDoremiPlan:
    """sampling.doremi_plan — exact agreement with a pure-Python
    reference replaying the whole arithmetic (global + per-domain
    add-one bigram LMs, fixed-point means, clamped excess, frozen exp
    weights, smoothed EG normalization) on crafted corpora, plus
    invariants on the real table."""

    @staticmethod
    def _ref(docs, budget=100_000, eta=1.0, c=1e-3):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        def rnd(x, n):
            # the ENGINES' rounding: half-up on the shortest decimal
            # form (Spark round = BigDecimal.valueOf(double), DuckDB
            # matches) — Python round() is banker's and flips on exact
            # half-ticks like a mean CE of 1.19145
            q = Decimal(1).scaleb(-n)
            return float(
                Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)
            )

        def irnd(x):
            return int(
                Decimal(repr(float(x))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )

        def toks(t):
            return t.strip().split(" ") if t.strip() else []

        def bigrams(t):
            l = toks(t)
            return list(zip(l[:-1], l[1:])) if len(l) >= 2 else []

        def train(items):
            pc, ctx, vocab = {}, {}, set()
            for _, _, t in items:
                for p in bigrams(t):
                    pc[p] = pc.get(p, 0) + 1
                    vocab.update(p)
            for (a, b), n in pc.items():
                ctx[a] = ctx.get(a, 0) + n
            V = len(vocab)
            return {
                p: math.log((n + 1) / (ctx[p[0]] + V))
                for p, n in pc.items()
            }

        def ce(lm, t):
            bs = bigrams(t)
            if not bs:
                return None
            return rnd(-sum(lm[p] for p in bs) / len(bs), 4)

        glm = train(docs)
        domains = sorted({s for _, s, _ in docs})
        dlm = {d: train([x for x in docs if x[1] == d]) for d in domains}
        out = {}
        ws = {}
        for d in domains:
            items = [x for x in docs if x[1] == d]
            n_docs = len(items)
            tokens = sum(len(toks(t)) for _, _, t in items)
            sr = sd = ns = 0
            for _, _, t in items:
                cr, cd = ce(glm, t), ce(dlm[d], t)
                if cr is None:
                    continue
                sr += irnd(cr * 1e4)
                sd += irnd(cd * 1e4)
                ns += 1
            ce_u = rnd(sr / (1e4 * ns), 4) if ns else 0.0
            ce_d = rnd(sd / (1e4 * ns), 4) if ns else 0.0
            exc = rnd(max(0.0, ce_u - ce_d), 4)
            ws[d] = irnd(math.exp(eta * exc) * 1e9)
            out[d] = (n_docs, tokens, ce_u, ce_d, exc)
        W, k = sum(ws.values()), len(domains)
        fin = {}
        for d in domains:
            alpha = rnd((1.0 - c) * ws[d] / W + c / k, 6)
            fin[d] = out[d] + (alpha, irnd(alpha * budget))
        return fin

    def _run(self, spark, docs, budget=100_000):
        from linz_bde_uploader_spark.functions.sampling import doremi_plan

        df = spark.createDataFrame(
            docs, "doc_id long, source string, text string"
        )
        return {
            r.source: r
            for r in doremi_plan(df, budget_tokens=budget).collect()
        }

    def test_crafted_corpora_match_reference(self, spark):
        cases = [
            # symmetric disjoint vocabularies -> equal weights
            [(1, "A", "a b a b"), (2, "B", "x y x y")],
            # one domain is pure repetition (in-domain LM fits it far
            # better), one shares the global vocab, one is UNSCOREABLE
            # (single token -> excess 0 fallback)
            [
                (1, "A", "c c c c c c"),
                (2, "B", "a b c a"),
                (3, "B", "b a c b"),
                (4, "C", "solo"),
            ],
            # single domain -> stratified == global, excess exactly 0,
            # weight 0.999 + 0.001 = 1.0
            [(1, "only", "a b c a b")],
        ]
        for docs in cases:
            got = self._run(spark, docs)
            want = self._ref(docs)
            assert set(got) == set(want), docs
            for d, (nd, tk, cu, cd, exc, alpha, tgt) in want.items():
                r = got[d]
                assert (r.n_docs, r.tokens) == (nd, tk), (docs, d)
                assert abs(r.ce_uniform - cu) < 1e-9, (docs, d)
                assert abs(r.ce_domain - cd) < 1e-9, (docs, d)
                assert abs(r.excess - exc) < 1e-9, (docs, d)
                assert abs(r.doremi_weight - alpha) < 2e-6, (docs, d)
                assert abs(r.target_tokens - tgt) <= 1, (docs, d)
        single = self._run(spark, cases[2])["only"]
        assert single.excess == 0.0 and single.doremi_weight == 1.0

    def test_real_corpus_invariants(self, spark):
        import __spark_entry__ as E

        rows = E.q_mixture_doremi(spark, SF).collect()
        assert len(rows) == 20  # every source surfaces
        s = sum(r.doremi_weight for r in rows)
        assert abs(s - 1.0) < 1e-4
        for r in rows:
            assert r.excess >= 0.0
            assert r.ce_uniform >= r.ce_domain - 1e-9  # in-domain fits better
            # half-up like the engines (Python round() is banker's and
            # flips on an exact .5 product, e.g. 0.050545 * 1e5)
            assert r.target_tokens == math.floor(
                r.doremi_weight * 100_000 + 0.5
            )
        # the EG step is monotone: more excess never means less weight
        by_exc = sorted(rows, key=lambda r: r.excess)
        for a, b in zip(by_exc, by_exc[1:]):
            assert a.doremi_weight <= b.doremi_weight + 1e-12
        # the signal is real: excess differs across domains
        assert len({r.excess for r in rows}) > 1


class TestDoremiProperty:
    """DoReMi invariants on RANDOM corpora (hypothesis, the UniMax
    precedent): exact agreement with the pure-Python reference, weight
    normalization, excess clamping, and EG monotonicity."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _word = st.sampled_from(["a", "b", "c", "d", "e"])

    @given(
        docs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # domain id
                st.lists(_word, min_size=0, max_size=8),
            ),
            min_size=1,
            max_size=6,
        ),
        budget=st.integers(min_value=1, max_value=200_000),
    )
    @settings(max_examples=8, deadline=None)
    def test_matches_reference_on_random_corpora(self, spark, docs, budget):
        from linz_bde_uploader_spark.functions.sampling import doremi_plan

        rows = [
            (i, f"dom{d}", " ".join(ws)) for i, (d, ws) in enumerate(docs)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        got = {
            r.source: r
            for r in doremi_plan(df, budget_tokens=budget).collect()
        }
        want = TestDoremiPlan._ref(rows, budget=budget)
        assert set(got) == set(want)
        total = 0.0
        for d, (nd, tk, cu, cd, exc, alpha, tgt) in want.items():
            r = got[d]
            assert (r.n_docs, r.tokens) == (nd, tk), d
            assert abs(r.excess - exc) < 1e-9, d
            assert abs(r.doremi_weight - alpha) < 2e-6, d
            assert r.excess >= 0.0
            total += r.doremi_weight
        assert abs(total - 1.0) < 1e-4


class TestOrderAblation:
    """q_corpus_order_ablation — survivors under dedup-first must be a
    SUBSET of survivors under filter-first (the containment the loss
    columns rest on), both arms must agree with independently composed
    pipelines, and the loss branch must be exercised."""

    def _gate_and_pairs(self, spark):
        from linz_bde_uploader_spark.functions import urls as U
        from linz_bde_uploader_spark.functions.dedup import (
            candidate_jaccard_verify,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet")
        pid = F.pmod(F.col("doc_id"), F.lit(10)).cast("string")
        section = F.element_at(
            F.array(F.lit("admin"), F.lit("p"), F.lit("static")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        )
        docs_u = d.select("doc_id", "source", "text").withColumn(
            "url",
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/"), section, F.lit("/"), pid,
            ),
        )
        rules = spark.createDataFrame(
            [
                ("src0.example.com", "disallow", "/admin"),
                ("src0.example.com", "allow", "/admin/4"),
                ("src1.example.com", "disallow", "/"),
                ("src1.example.com", "allow", "/static"),
                ("src2.example.com", "allow", "/p"),
                ("src2.example.com", "disallow", "/p"),
            ],
            "host string, directive string, path_prefix string",
        )
        bl = U.blocklist_filter(
            docs_u, ["src3.example.com", "src7.example.com"],
            [r"/static/9$"],
        )
        rb = U.robots_gate(
            bl.select("doc_id", "text", "url", "block_reason"), rules
        )
        ok = {
            r.doc_id
            for r in rb.filter(
                (F.col("block_reason") == "ok") & F.col("robots_allowed")
            ).select("doc_id").collect()
        }
        pairs = [
            (r.id_a, r.id_b)
            for r in candidate_jaccard_verify(
                d, "doc_id", "text", threshold=0.5
            ).collect()
        ]
        nt = {
            r.doc_id: r.nt
            for r in d.select(
                "doc_id",
                F.when(F.length(F.trim("text")) == 0, 0)
                .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
                .cast("long")
                .alias("nt"),
            ).collect()
        }
        return ok, pairs, nt

    def test_arms_match_composed_pipelines(self, spark):
        import __spark_entry__ as E

        ok, pairs, nt = self._gate_and_pairs(spark)
        all_ids = set(nt)
        # filter-first: dedup runs on the gate survivors only
        adrop = {b for a, b in pairs if a in ok and b in ok}
        surv_a = (ok - adrop)
        # dedup-first: dedup runs on everything, gate after
        bdrop = {b for _, b in pairs}
        surv_b = (all_ids - bdrop) & ok
        assert surv_b <= surv_a  # the containment the report relies on

        rows = {r.arm: r for r in
                E.q_corpus_order_ablation(spark, SF).collect()}
        ff, df_ = rows["filter_first"], rows["dedup_first"]
        assert ff.n_input == df_.n_input == len(all_ids)
        assert ff.n_stage1 == len(ok)
        assert df_.n_stage1 == len(all_ids - bdrop)
        assert ff.n_final == len(surv_a)
        assert df_.n_final == len(surv_b)
        assert ff.tokens_final == sum(nt[i] for i in surv_a)
        assert df_.tokens_final == sum(nt[i] for i in surv_b)
        # the loss columns are the A-minus-B delta, on BOTH rows
        lost = surv_a - surv_b
        for r in (ff, df_):
            assert r.lost_docs == len(lost)
            assert r.lost_tokens == sum(nt[i] for i in lost)
        assert ff.lost_docs > 0  # the ordering effect is exercised

    def test_lost_docs_are_blocked_mirror_casualties(self, spark):
        # every lost doc passes the gate itself but near-dups a
        # gate-FAILING lower id — the blocked-mirror-wins-the-cluster
        # story the ablation measures
        ok, pairs, _ = self._gate_and_pairs(spark)
        adrop = {b for a, b in pairs if a in ok and b in ok}
        bdrop = {b for _, b in pairs}
        lost = (ok - adrop) - (ok - bdrop)
        assert lost
        # doc ∈ lost ⇒ doc ∉ adrop = {b : (a,b) ∈ pairs, a ∈ ok, b ∈ ok},
        # so EVERY dropping partner must itself fail the gate.
        for doc in lost:
            partners = {a for a, b in pairs if b == doc}
            assert partners and all(p not in ok for p in partners)


class TestCcnetEdges:
    """ccnet_datasheet edge contracts: a language the gate annihilates
    still surfaces with zero rows (no-silent-drop), and gate survivors
    too short to score count in n_langid but not n_scored."""

    def test_annihilated_and_short_languages_surface(self, spark):
        from linz_bde_uploader_spark.functions.lm import ccnet_datasheet

        stop = "the a of and to in is on for with"
        docs = spark.createDataFrame(
            [
                # confident (>=3 stopword hits) and scoreable
                (1, "en", f"{stop} alpha beta gamma"),
                (2, "en", f"{stop} delta epsilon zeta"),
                # no stopwords at all -> detector says 'other' -> the
                # whole language drops at the gate
                (3, "zz", "qqq www eee rrr"),
                (4, "zz", "ttt yyy uuu"),
                # confident but 1 token after the gate? impossible with
                # >=3 stopword hits — so craft a 3-token all-stopword
                # doc: confident AND scoreable (2 bigrams)
                (5, "xx", "the the the"),
            ],
            "doc_id long, lang string, text string",
        )
        rows = ccnet_datasheet(docs).collect()
        by = {}
        for r in rows:
            by.setdefault(r.lang, {})[r.bucket] = r
        assert set(by) == {"en", "zz", "xx"}
        for lang in by:
            assert set(by[lang]) == {"head", "middle", "tail"}
        # zz annihilated at the gate: surfaces, all zeros downstream
        zz = by["zz"]["head"]
        assert zz.n_ingest == 2 and zz.n_langid == 0 and zz.n_scored == 0
        assert all(
            b.n_docs == 0 and b.tokens == 0 and b.mean_ppl == 0.0
            for b in by["zz"].values()
        )
        # xx: one confident scoreable doc -> lands in head alone
        xx = by["xx"]
        assert xx["head"].n_langid == 1 and xx["head"].n_scored == 1
        assert xx["head"].n_docs == 1
        assert xx["middle"].n_docs == 0 and xx["tail"].n_docs == 0
        # en: two scoreable docs partition into buckets, none vanish
        assert sum(b.n_docs for b in by["en"].values()) == 2


class TestPplPruneAblation:
    """q_ppl_prune_ablation — deciles partition the scoreable set in
    perplexity order, the mean column is ordered across deciles, the
    retention columns are the exact prefix-cumulative, and the decile
    assignment agrees with an independent ntile replay."""

    def _rows(self, spark):
        import __spark_entry__ as E

        return sorted(
            E.q_ppl_prune_ablation(spark, SF).collect(),
            key=lambda r: r.decile,
        )

    def test_partition_and_ordering(self, spark):
        from linz_bde_uploader_spark.functions.lm import (
            score_documents,
            train_bigram_lm,
        )

        rows = self._rows(spark)
        assert [r.decile for r in rows] == list(range(1, 11))
        d = spark.read.parquet(f"{SF}/documents.parquet")
        sc = score_documents(d, train_bigram_lm(d)).collect()
        assert sum(r.n_docs for r in rows) == len(sc)
        # ntile balance: sizes differ by at most 1
        sizes = {r.n_docs for r in rows}
        assert max(sizes) - min(sizes) <= 1
        # mean perplexity is non-decreasing across deciles
        for a, b in zip(rows, rows[1:]):
            assert a.mean_ppl <= b.mean_ppl, (a.decile, b.decile)
        # decile replay: the lowest-decile docs are the lowest ppl
        ordered = sorted(sc, key=lambda r: (r.perplexity, r.doc_id))
        n = len(ordered)
        first = [r for r in ordered[: rows[0].n_docs]]
        sp = sum(round(r.perplexity * 10000) for r in first)
        assert abs(
            rows[0].mean_ppl - round(sp / (10000.0 * len(first)), 4)
        ) < 1e-9

    def test_retention_is_prefix_cumulative(self, spark):
        rows = self._rows(spark)
        td = sum(r.n_docs for r in rows)
        tt = sum(r.n_tokens for r in rows)
        run_d = run_t = 0
        for r in rows:
            run_d += r.n_docs
            run_t += r.n_tokens
            assert r.ret_docs == run_d and r.ret_tokens == run_t
            assert abs(r.ret_doc_frac - round(run_d / td, 4)) < 1e-9
            assert abs(r.ret_token_frac - round(run_t / tt, 4)) < 1e-9
        assert rows[-1].ret_doc_frac == 1.0
        assert rows[-1].ret_token_frac == 1.0
        # the signal is real: Gopher agreement varies across deciles
        assert len({r.gopher_pass_frac for r in rows}) > 1
