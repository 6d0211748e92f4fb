"""Round-12 births: span-grain benchmark decontamination + per-item
leakage report, image-text alignment gate + datasheet, C4 blocked-word
gate, C4 three-sentence-span dedup, C4 line-and-page rules, unigram-LM
tokenizer trainer."""

from pyspark.sql import functions as F


class TestContaminationSpans:
    """decontaminate.contamination_spans — the GPT-3/PaLM span-grain
    method: maximal verbatim spans vs the benchmark located with the
    ExactSubstr verify machinery and REMOVED (not whole-doc dropped)."""

    # NB token_value features only (length, first char): fixture words
    # all differ in first letter so they are distinct features
    PASSAGE = "alpha bravo charlie delta echo foxtrot"  # 6 tokens

    def _frames(self, spark):
        bench = spark.createDataFrame(
            [
                (100, f"zulu {self.PASSAGE} yankee"),
                (101, "golf hotel india juliet kilo lima mike november"),
            ],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # quotes the full 6-token passage inside unique prose
                (1, f"papa quebec {self.PASSAGE} romeo sierra"),
                # clean: shares a few words but no >= 6-token span
                (2, "alpha bravo tango uniform victor whiskey xray"),
                # entirely a bench passage (bench 101's 8 tokens)
                (3, "golf hotel india juliet kilo lima mike november"),
                # shorter than one shingle
                (4, "alpha bravo"),
            ],
            "doc_id long, text string",
        )
        return corpus, bench

    def test_quote_scrubbed_clean_kept(self, spark):
        from linz_bde_uploader_spark.functions.decontaminate import (
            contamination_spans,
        )

        corpus, bench = self._frames(spark)
        rows = {
            r.doc_id: r
            for r in contamination_spans(corpus, bench).collect()
        }
        assert set(rows) == {1, 2, 3, 4}  # one row per corpus doc
        r1 = rows[1]
        assert (r1.n_spans, r1.n_bench, r1.max_span) == (1, 1, 6)
        assert r1.contaminated_tokens == 6
        assert r1.clean_text == "papa quebec romeo sierra"
        assert r1.contam_ratio == round(6 / 10, 4)
        # doc 2: no 6-token span -> untouched
        r2 = rows[2]
        assert (r2.n_spans, r2.contaminated_tokens) == (0, 0)
        assert r2.clean_text == "alpha bravo tango uniform victor whiskey xray"
        assert r2.contam_ratio == 0.0
        # doc 3: fully contaminated -> empty clean_text, ratio 1.0
        r3 = rows[3]
        assert r3.contaminated_tokens == 8
        assert r3.clean_text == ""
        assert r3.contam_ratio == 1.0
        # doc 4: sub-shingle doc, clamped span < 6 -> clean
        r4 = rows[4]
        assert (r4.n_spans, r4.contaminated_tokens) == (0, 0)
        assert r4.clean_text == "alpha bravo"

    def test_overlapping_spans_no_double_count(self, spark):
        """Two bench items hitting OVERLAPPING regions of one doc:
        contaminated_tokens counts distinct positions, n_bench both."""
        from linz_bde_uploader_spark.functions.decontaminate import (
            contamination_spans,
        )

        # doc tokens 1..10; bench A matches positions 1-6, bench B 4-9
        doc = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        bench = spark.createDataFrame(
            [
                (100, "alpha bravo charlie delta echo foxtrot"),
                (101, "delta echo foxtrot golf hotel india"),
            ],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [(1, doc)], "doc_id long, text string"
        )
        (r,) = contamination_spans(corpus, bench).collect()
        assert r.n_spans == 2
        assert r.n_bench == 2
        assert r.contaminated_tokens == 9  # positions 1-9, union not sum
        assert r.max_span == 6
        assert r.clean_text == "juliet"

    def test_hash_collision_breaks_run(self, spark):
        """token_value collides on (length, first char): a colliding
        shingle adjacent to a genuine run must BREAK it, not extend it
        — inherited from the verify stage's sh-string filter."""
        from linz_bde_uploader_spark.functions.decontaminate import (
            contamination_spans,
        )

        # 'delta1'/'delta2' collide (same length, same first char) but
        # differ as strings: the doc's span is NOT 8 tokens
        bench = spark.createDataFrame(
            [(100, "alpha bravo charlie delta1 echo foxtrot golf hotel")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [(1, "alpha bravo charlie delta2 echo foxtrot golf hotel")],
            "doc_id long, text string",
        )
        (r,) = contamination_spans(
            corpus, bench, min_span_tokens=4
        ).collect()
        # genuine sub-runs are the islands around the collision; the
        # longest true shared span is 4 tokens ('echo foxtrot golf
        # hotel'); 'alpha bravo charlie' is only 3
        assert r.max_span == 4
        assert r.n_spans == 1


class TestImageTextAlignment:
    """multimodal.image_text_alignment / alignment_datasheet — the
    LAION-style CLIP-score gate between image- and text-embedding
    columns, and its per-source quantile datasheet."""

    def _pairs(self, spark):
        import math

        rows = [
            # identical vectors: cosine 1.0 -> kept
            (1, "a", [1.0, 2.0, 2.0, 0.0], [1.0, 2.0, 2.0, 0.0]),
            # opposite: cosine -1.0 -> dropped
            (2, "a", [1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]),
            # orthogonal: cosine 0.0 -> dropped at 0.28
            (3, "b", [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]),
            # 45 degrees: cosine ~0.7071 -> kept
            (4, "b", [1.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(
            rows,
            "media_id long, source string, img array<double>, "
            "txt array<double>",
        )
        cos45 = round(1.0 / math.sqrt(2.0), 6)
        return df, cos45

    def test_gate_scores_and_flags(self, spark):
        from linz_bde_uploader_spark.functions.multimodal import (
            image_text_alignment,
        )

        df, cos45 = self._pairs(spark)
        rows = {
            r.media_id: r
            for r in image_text_alignment(
                df, "img", "txt", "media_id", threshold=0.28
            ).collect()
        }
        assert rows[1].align_score == 1.0 and rows[1].keep
        assert rows[2].align_score == -1.0 and not rows[2].keep
        assert rows[3].align_score == 0.0 and not rows[3].keep
        assert rows[4].align_score == cos45 and rows[4].keep
        # every pair emits a row (audit needs both sides of the cut)
        assert set(rows) == {1, 2, 3, 4}

    def test_datasheet_per_source(self, spark):
        from linz_bde_uploader_spark.functions.multimodal import (
            alignment_datasheet,
        )

        df, cos45 = self._pairs(spark)
        rows = {
            r.source: r
            for r in alignment_datasheet(
                df, "img", "txt", "source", threshold=0.28
            ).collect()
        }
        a, b = rows["a"], rows["b"]
        assert (a.n_pairs, a.n_kept, a.kept_frac) == (2, 1, 0.5)
        assert a.mean_align == 0.0  # (1 + -1) / 2
        assert a.p50 == 0.0  # interpolated midpoint of {-1, 1}
        assert (b.n_pairs, b.n_kept) == (2, 1)
        # interpolated percentiles over {0, cos45}: rank (n-1)*p
        assert b.p10 == 0.070711  # 0.1 * 0.707107, Spark half-up
        assert b.p50 == 0.353554  # 0.5 * 0.707107
        assert b.p90 == 0.636396  # 0.9 * 0.707107
        assert b.mean_align == 0.353554  # fixed-point 707107/2e6
        assert cos45 == 0.707107  # the 6-dp score both cells derive from

    def test_zero_norm_sentinel(self, spark):
        """The sentinel contract: a zero-norm embedding has no defined
        cosine and the bare divide would raise under ANSI — the gate
        emits the out-of-range sentinel -2.0 with keep=false instead
        (loud, null-free, never silently passes)."""
        from linz_bde_uploader_spark.functions.multimodal import (
            image_text_alignment,
        )

        df = spark.createDataFrame(
            [(1, "a", [0.0, 0.0], [1.0, 0.0]), (2, "a", [3.0, 0.0], [3.0, 0.0])],
            "media_id long, source string, img array<double>, "
            "txt array<double>",
        )
        rows = {
            r.media_id: r
            for r in image_text_alignment(
                df, "img", "txt", "media_id"
            ).collect()
        }
        assert rows[1].align_score == -2.0
        assert rows[1].keep is False
        assert rows[2].align_score == 1.0 and rows[2].keep


class TestUnigramLM:
    """text.unigram_lm_train / unigram_lm_encode — SentencePiece-style
    Viterbi-EM tokenizer training. Pytest-only by design (the GK
    precedent): the E-step's per-word DP has no faithful fixed-shape
    SQL twin, so properties are pinned here instead of an oracle."""

    CORPUS = "abab ababab cd abab cd cdcd xy"

    def _docs(self, spark, n=20):
        return spark.createDataFrame(
            [(i, self.CORPUS) for i in range(n)],
            "doc_id long, text string",
        )

    def test_gold_fixture_learns_repeated_units(self, spark):
        from linz_bde_uploader_spark.functions.text import unigram_lm_train

        m = {
            r.piece: (r.cnt, r.prob)
            for r in unigram_lm_train(
                self._docs(spark), vocab_size=12, n_iters=3
            ).collect()
        }
        # the dominant multi-char units are in the vocabulary and carry
        # the probability mass; chars stay for closure even at count 0
        assert "abab" in m and "cd" in m
        assert m["abab"][1] > m["cd"][1] > 0
        for ch in "abcdxy":
            assert ch in m
        # probabilities sum to 1 up to the 9-dp per-piece rounding
        assert abs(sum(p for _, p in m.values()) - 1.0) < len(m) * 1e-9

    def test_deterministic_and_partition_invariant(self, spark):
        from linz_bde_uploader_spark.functions.text import unigram_lm_train

        a = unigram_lm_train(self._docs(spark), vocab_size=12, n_iters=2)
        b = unigram_lm_train(
            self._docs(spark).repartition(7), vocab_size=12, n_iters=2
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_hard_em_likelihood_monotone(self, spark):
        """Viterbi-EM monotonically improves the joint objective
        max_seg log P(words, seg | theta), up to the deliberate 9-dp
        per-iteration probability rounding."""
        import math

        from linz_bde_uploader_spark.functions.text import (
            _viterbi_word,
            unigram_lm_train,
        )

        words = {}
        for w in self.CORPUS.split(" "):
            words[w] = words.get(w, 0) + 20

        def joint_ll(probs):
            ll = 0.0
            for w, c in words.items():
                seg = _viterbi_word(w, probs, 4)
                ll += c * sum(math.log(probs[p]) for p in seg)
            return ll

        lls = []
        for k in (1, 2, 3, 4):
            # vocab large enough that pruning keeps everything: the
            # final model IS iteration k's EM estimate
            m = unigram_lm_train(
                self._docs(spark), vocab_size=64, n_iters=k
            )
            probs = {r.piece: r.prob for r in m.collect() if r.prob > 0}
            lls.append(joint_ll(probs))
        for prev, nxt in zip(lls, lls[1:]):
            assert nxt >= prev - 1e-6, lls

    def test_encode_total_with_unknown_chars(self, spark):
        from linz_bde_uploader_spark.functions.text import (
            unigram_lm_encode,
            unigram_lm_train,
        )

        model = unigram_lm_train(self._docs(spark), vocab_size=12, n_iters=2)
        docs = spark.createDataFrame(
            [(1, "abab cdcd"), (2, "QX abab"), (3, "")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r for r in unigram_lm_encode(docs, model).collect()
        }
        # known words segment into learned pieces
        assert rows[1].n_words == 2
        assert rows[1].n_pieces == 2  # 'abab' + 'cdcd', one piece each
        # an OOV word (unseen chars, no positive path) counts ONE PIECE
        # PER CHARACTER — the trainer's fallback contract
        assert rows[2].n_words == 2 and rows[2].n_pieces == 3  # Q,X + abab
        # empty doc: totality with zeros
        assert (rows[3].n_words, rows[3].n_pieces) == (0, 0)
        assert rows[3].fertility == 0.0


class TestBadwordsGate:
    """text.badwords_gate — the C4 blocked-word page filter: any hit
    drops, counts make the gate auditable, matching is case-folded."""

    def test_hits_and_keep(self, spark):
        from linz_bde_uploader_spark.functions.text import badwords_gate

        docs = spark.createDataFrame(
            [
                (1, "clean words only here"),
                (2, "one BADWORD in the middle"),
                (3, "badword twice badword and another naughty one"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in badwords_gate(
                docs, ("badword", "NAUGHTY")
            ).collect()
        }
        assert rows[1].n_hits == 0 and rows[1].keep
        # case-folded both ways: doc BADWORD vs list badword,
        # doc naughty vs list NAUGHTY
        assert rows[2].n_hits == 1 and not rows[2].keep
        assert (rows[3].n_hits, rows[3].n_distinct_hits) == (3, 2)
        assert not rows[3].keep
        assert rows[4].n_hits == 0 and rows[4].keep  # empty doc passes

    def test_empty_list_rejected(self, spark):
        import pytest

        from linz_bde_uploader_spark.functions.text import badwords_gate

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            badwords_gate(docs, ())


class TestBenchmarkLeakage:
    """decontaminate.benchmark_leakage — the per-eval-item dirty/clean
    accounting: same span set as contamination_spans, aggregated on
    the benchmark side."""

    def test_item_grain_report(self, spark):
        from linz_bde_uploader_spark.functions.decontaminate import (
            benchmark_leakage,
            contamination_spans,
        )

        bench = spark.createDataFrame(
            [
                # item 100: 8 tokens, 6 of them leaked into TWO docs
                (100, "zulu alpha bravo charlie delta echo foxtrot yankee"),
                # item 101: fully clean
                (101, "golf hotel india juliet kilo lima"),
            ],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "papa alpha bravo charlie delta echo foxtrot quebec"),
                (2, "romeo sierra alpha bravo charlie delta echo foxtrot"),
                (3, "tango uniform victor whiskey xray"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.bench_id: r
            for r in benchmark_leakage(corpus, bench).collect()
        }
        assert set(rows) == {100, 101}  # every item emits
        r100 = rows[100]
        assert (r100.n_docs, r100.n_spans, r100.max_span) == (2, 2, 6)
        assert r100.leaked_tokens == 6  # same positions, counted once
        assert r100.leak_ratio == 0.75  # 6 of 8 item tokens
        r101 = rows[101]
        assert (r101.n_docs, r101.leaked_tokens) == (0, 0)
        assert r101.leak_ratio == 0.0
        # the two reports describe the SAME span set: total spans agree
        doc_side = contamination_spans(corpus, bench)
        assert (
            doc_side.agg(F.sum("n_spans")).first()[0]
            == sum(r.n_spans for r in rows.values())
        )


class TestC4SentenceSpanDedup:
    """dedup.c4_sentence_span_dedup — the literal C4 rule: all but one
    of any k-sentence span occurring more than once is removed; the
    FIRST corpus occurrence (lowest doc id, then position) survives."""

    def test_keep_first_remove_later(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            c4_sentence_span_dedup,
        )

        # docs 1 and 2 share the 3-sentence span "s1. s2. s3"; doc 2
        # also repeats it INTERNALLY; doc 3 is clean
        docs = spark.createDataFrame(
            [
                (1, "a0. s1. s2. s3. a4"),
                (2, "s1. s2. s3. b3. s1. s2. s3"),
                (3, "c0. c1. c2. c3"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in c4_sentence_span_dedup(docs, k=3).collect()
        }
        # doc 1 holds the first occurrence (pos 2) -> fully kept
        r1 = rows[1]
        assert (r1.n_sentences, r1.n_removed) == (5, 0)
        assert r1.clean_text == "a0. s1. s2. s3. a4"
        # doc 2: BOTH its occurrences are later than doc 1's -> both
        # removed; 'b3' survives between them
        r2 = rows[2]
        assert r2.n_sentences == 7
        assert r2.n_removed == 6
        assert r2.clean_text == "b3"
        # doc 3 untouched
        assert rows[3].n_removed == 0
        assert rows[3].clean_text == "c0. c1. c2. c3"

    def test_overlapping_spans_and_short_docs(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            c4_sentence_span_dedup,
        )

        # four identical consecutive sentences in doc 2 create
        # overlapping duplicate windows vs doc 1; doc 3 is shorter
        # than one window and passes through whole
        docs = spark.createDataFrame(
            [
                (1, "x. x. x"),
                (2, "x. x. x. x"),
                (3, "x. x"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in c4_sentence_span_dedup(docs, k=3).collect()
        }
        # doc 1 pos 1 is the global first 'x. x. x' -> kept whole
        assert rows[1].n_removed == 0
        # doc 2's two windows (pos 1, pos 2) are both later -> all 4
        # sentences covered
        assert rows[2].n_removed == 4
        assert rows[2].clean_text == ""
        # sub-window doc: no spans, fully kept
        assert rows[3].n_removed == 0
        assert rows[3].clean_text == "x. x"

    def test_within_doc_first_occurrence_wins(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            c4_sentence_span_dedup,
        )

        docs = spark.createDataFrame(
            [(5, "p. q. r. z. p. q. r")],
            "doc_id long, text string",
        )
        (r,) = c4_sentence_span_dedup(docs, k=3).collect()
        # first occurrence at pos 1 kept; repeat at pos 5 removed
        assert r.n_removed == 3
        assert r.clean_text == "p. q. r. z"

    def test_multiword_sentences_separator_is_literal(self, spark):
        """Regression: split() takes a regex, so an unescaped '. '
        separator matches ANY char + space — multi-word sentences
        (spaces not preceded by dots) must stay intact."""
        from linz_bde_uploader_spark.functions.dedup import (
            c4_sentence_span_dedup,
        )

        docs = spark.createDataFrame(
            [
                (1, "big red fox. tiny blue bird. old gray wolf. the end"),
                (2, "big red fox. tiny blue bird. old gray wolf. not end"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in c4_sentence_span_dedup(docs, k=3).collect()
        }
        assert rows[1].n_sentences == 4  # not one-per-token
        assert rows[1].n_removed == 0
        assert rows[2].n_removed == 3  # the shared 3-sentence span
        assert rows[2].clean_text == "not end"


class TestC4LineFilter:
    """text.c4_line_filter — the C4 line-and-page cleaning rules:
    terminal punctuation, >= 3 words, no 'javascript' per line;
    >= 5 kept lines, no 'lorem ipsum', no '{' per page."""

    def test_line_rules(self, spark):
        from linz_bde_uploader_spark.functions.text import c4_line_filter

        text = "\n".join(
            [
                "this line ends with a period.",     # kept
                "no terminal punctuation here",      # dropped: no punct
                "short one.",                        # dropped: 2 words
                'a quoted closing line here."',      # kept: quote ok
                "enable JavaScript to view this.",   # dropped: javascript
                "does this question line count?",    # kept
                "an exclamation ends this line!",    # kept
                "fifth good line to pass the page.", # kept
            ]
        )
        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        (r,) = c4_line_filter(docs).collect()
        assert (r.n_lines, r.n_kept_lines) == (8, 5)
        assert r.page_keep is True
        assert r.clean_text.split("\n")[0] == "this line ends with a period."
        assert "JavaScript" not in r.clean_text
        assert "no terminal punctuation here" not in r.clean_text

    def test_page_rules(self, spark):
        from linz_bde_uploader_spark.functions.text import c4_line_filter

        good = "\n".join(
            f"good clean line number {i} right here." for i in range(5)
        )
        docs = spark.createDataFrame(
            [
                (1, good),                                   # kept page
                (2, good + "\nsee lorem ipsum dolor sit."),  # lorem ipsum
                (3, good + "\nvar x = {a: 1} config here."), # curly brace
                (4, "only two good lines here.\nanother fine line here."),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in c4_line_filter(docs).collect()}
        assert rows[1].page_keep is True
        assert rows[2].page_keep is False  # phrase rule
        assert rows[3].page_keep is False  # curly bracket rule
        assert rows[4].page_keep is False  # < 5 kept lines
        # counts still explain the drop
        assert rows[4].n_kept_lines == 2
