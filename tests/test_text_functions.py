"""Text-analysis Column functions (engine extensions; SURVEY §2.7 notes
the reference has no data-plane text functions)."""

from __future__ import annotations

import re

import pytest

from linz_bde_uploader_spark.functions import text as X


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "Hello, world! 123 test"),
            (2, "a b c"),
            (3, "don't stop-me now2x"),
        ],
        ["id", "text"],
    )


def test_bpe_ish_token_count_matches_python_regex(spark, df):
    got = {
        r.id: r.n for r in df.select(
            "id", X.bpe_ish_token_count("text").alias("n")
        ).collect()
    }
    pat = re.compile(X.BPE_ISH_PATTERN)
    for rid, txt in [(1, "Hello, world! 123 test"), (2, "a b c"),
                     (3, "don't stop-me now2x")]:
        assert got[rid] == len(pat.findall(txt)), txt
    # "Hello, world! 123 test" -> Hello , world ! 123 test = 6
    assert got[1] == 6
    # "don't stop-me now2x" -> don ' t stop - me now 2 x = 9
    assert got[3] == 9


def test_whitespace_vs_bpe_counts_differ_on_punctuation(spark, df):
    rows = df.select(
        X.token_count("text").alias("ws"),
        X.bpe_ish_token_count("text").alias("bpe"),
    ).collect()
    ws = [r.ws for r in rows]
    bpe = [r.bpe for r in rows]
    assert ws == [4, 3, 3]
    assert bpe == [6, 3, 9]


def test_deterministic_split_and_sample(spark):
    from linz_bde_uploader_spark.functions import sampling as SP

    df = spark.createDataFrame([(i,) for i in range(1000)], ["id"])
    split = SP.with_split(df, "id")
    counts = {r.split: r.n for r in split.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # pure function of the id: recomputing gives identical assignment
    again = {r.id: r.split for r in SP.with_split(df, "id").collect()}
    first = {r.id: r.split for r in split.collect()}
    assert first == again
    # python recomputation matches the Column arithmetic
    for i in (0, 1, 7, 999):
        b = (i * 2654435761 % 2147483647) % 100
        expect = "train" if b < 90 else ("val" if b < 95 else "test")
        assert first[i] == expect, i

    # samples nest: 5% ⊂ 10%
    s5 = {r.id for r in SP.deterministic_sample(df, "id", 5).collect()}
    s10 = {r.id for r in SP.deterministic_sample(df, "id", 10).collect()}
    assert s5 <= s10 and len(s5) < len(s10)

    import pytest as _pt
    with _pt.raises(ValueError):
        SP.with_split(df, "id", {"train": 50, "val": 10})
    with _pt.raises(ValueError):
        SP.deterministic_sample(df, "id", 101)


def test_split_bucket_extreme_ids(spark):
    """Huge and negative ids must still land in a real bucket: the id is
    reduced mod 2^31-1 before the mix so the product never wraps 64 bits,
    and pmod keeps buckets non-negative — no NULL splits (r2 advice)."""
    from linz_bde_uploader_spark.functions import sampling as SP

    ids = [-5, -1, 0, 2**31, 10**15, 2**62, -(2**61)]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    rows = df.select("id", SP.split_bucket("id").alias("b")).collect()
    for r in rows:
        assert r.b is not None and 0 <= r.b < 100, r
        # python reference: same reduce-then-mix arithmetic
        expect = ((r.id % 2147483647) * 2654435761 % 2147483647) % 100
        assert r.b == expect, r
    split = SP.with_split(df, "id")
    assert all(r.split is not None for r in split.collect())


# ---------------------------------------------------------------------------
# Gopher quality rules / repetition / PII scrub (round 3)
# ---------------------------------------------------------------------------


def test_dup_ngram_fraction(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # trigrams: 7 total, 3 distinct
            (2, "one two three four"),  # 2 trigrams, both distinct
            (3, "x y"),                 # shorter than n -> 0.0
            (4, "solo"),                # 1 token -> 0.0
        ],
        ["id", "text"],
    )
    got = {
        r.id: r.f
        for r in df.select(
            "id", X.dup_ngram_fraction("text", 3).alias("f")
        ).collect()
    }
    assert got[1] == round(1 - 3 / 7, 6)
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 0.0


def test_gopher_signals_and_pass(spark):
    good = "the quick brown fox jumps over a lazy dog on the mat again"
    no_stop = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    symbols = "# # # the of # a # ..."
    df = spark.createDataFrame(
        [(1, good), (2, no_stop), (3, symbols)], ["id", "text"]
    )
    s = X.gopher_signals("text")
    rows = {
        r.id: r
        for r in df.select(
            "id",
            s["word_count"].alias("wc"),
            s["alpha_word_frac"].alias("af"),
            s["stop_hits"].alias("sh"),
            s["symbol_word_ratio"].alias("sr"),
            X.gopher_pass("text").alias("ok"),
        ).collect()
    }
    assert rows[1].wc == 13 and rows[1].ok            # healthy doc
    assert rows[2].sh == 0 and not rows[2].ok         # no stopwords
    assert rows[3].sr > 0.1 and not rows[3].ok        # symbol-heavy
    assert rows[1].af == 1.0


def test_scrub_pii_redacts_typed_tags(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "see https://a.example.com/path?q=1 there"),
            (3, "call 555-867-5309 today"),
            (4, "clean text stays clean"),
        ],
        ["id", "text"],
    )
    got = {
        r.id: r.s
        for r in df.select("id", X.scrub_pii("text").alias("s")).collect()
    }
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "see <URL> there"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "clean text stays clean"


def test_line_signals_fractions(spark):
    text = "alpha beta\n- bullet one\n- bullet one\nends with...\n\n  \ngamma"
    df = spark.createDataFrame([(1, text)], ["id", "text"])
    s = X.line_signals("text")
    row = df.select(
        s["n_lines"].alias("n"),
        s["dup_line_frac"].alias("d"),
        s["bullet_line_frac"].alias("b"),
        s["ellipsis_line_frac"].alias("e"),
    ).collect()[0]
    # 5 non-blank lines; '- bullet one' repeats once; 2 bullets; 1 ellipsis
    assert row["n"] == 5
    assert row["d"] == round(1 / 5, 6)
    assert row["b"] == round(2 / 5, 6)
    assert row["e"] == round(1 / 5, 6)


def test_line_signals_single_line_doc(spark):
    df = spark.createDataFrame([(1, "just one line")], ["id", "text"])
    s = X.line_signals("text")
    row = df.select(
        s["n_lines"].alias("n"), s["dup_line_frac"].alias("d")
    ).collect()[0]
    assert row["n"] == 1 and row["d"] == 0.0


def test_tfidf_topk_ranks_rare_terms_highest(spark):
    from linz_bde_uploader_spark.functions.tfidf import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "common common unique1"),
            (2, "common zebra zebra"),
            (3, "common plain words"),
        ],
        ["doc_id", "text"],
    )
    got = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["weight"]))
    # doc 1: 'unique1' df=1 -> weight 1*4/2=2.0 ; 'common' df=3 -> 2*4/4=2.0
    # tie broken by term: 'common' < 'unique1'
    assert [t[1] for t in sorted(by_doc[1])] == ["common", "unique1"]
    # doc 2: 'zebra' tf=2 df=1 -> 2*4/2=4.0 beats 'common' 1*4/4=1.0
    assert sorted(by_doc[2])[0][1] == "zebra"
    assert sorted(by_doc[2])[0][2] == 4.0


def test_char_pair_counts_exact_and_ordered(spark):
    # "abab" pairs: ab, ba, ab ; "ba" pairs: ba ; "x" and "" yield none
    df = spark.createDataFrame(
        [(1, "abab"), (2, "ba"), (3, "x"), (4, "")], ["doc_id", "text"]
    )
    got = [(r["pair"], r["cnt"]) for r in
           X.char_pair_counts(df, "text", k=10).collect()]
    # counts: ab=2, ba=2 -> tie broken by pair asc
    assert got == [("ab", 2), ("ba", 2)]
    # top-k truncates by (cnt desc, pair asc)
    top1 = [(r["pair"], r["cnt"]) for r in
            X.char_pair_counts(df, "text", k=1).collect()]
    assert top1 == [("ab", 2)]
    # non-ASCII is character-addressed (é is ONE symbol, not two bytes)
    df2 = spark.createDataFrame([(1, "héé")], ["doc_id", "text"])
    got2 = {r["pair"]: r["cnt"] for r in
            X.char_pair_counts(df2, "text", k=10).collect()}
    assert got2 == {"hé": 1, "éé": 1}


def _greedy_bpe_reference(texts, n):
    """Pure-Python Sennrich-2016 trainer: the semantics bpe_train must
    reproduce (greedy left-to-right non-overlapping merges, argmax tie
    broken by count desc then pair asc)."""
    segs = [list(t) for t in texts if len(t) >= 2]
    merges = []
    for step in range(1, n + 1):
        cnt: dict = {}
        for s in segs:
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] = cnt.get((s[i], s[i + 1]), 0) + 1
        if not cnt:
            break
        (l, r), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, c))
        out = []
        for s in segs:
            t, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    t.append(l + r)
                    i += 2
                else:
                    t.append(s[i])
                    i += 1
            out.append(t)
        segs = out
    return merges


def test_bpe_train_matches_greedy_reference(spark):
    texts = ["abab ab", "banana", "bananas are bananas", "x", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [tuple(r) for r in X.bpe_train(df, "text", n_merges=5).collect()]
    assert got == _greedy_bpe_reference(texts, 5)


def test_bpe_train_overlapping_runs_merge_greedily(spark):
    # "aaaa" + pair (a,a): greedy non-overlap yields [aa, aa], so round 2
    # must see the (aa, aa) pair — the classic off-by-one a naive
    # space-separated replace encoding gets wrong.
    df = spark.createDataFrame([(1, "aaaa")], ["doc_id", "text"])
    got = [tuple(r) for r in X.bpe_train(df, "text", n_merges=2).collect()]
    assert got == _greedy_bpe_reference(["aaaa"], 2)
    assert got[1][:2] == (2, "aa")  # round 2 merges (aa, aa)


def test_bpe_train_exhausts_early_and_handles_newlines(spark):
    # multi-line text segments across \n; corpus fully merged stops early
    df = spark.createDataFrame([(1, "ab\nab")], ["doc_id", "text"])
    got = [tuple(r) for r in X.bpe_train(df, "text", n_merges=10).collect()]
    assert got == _greedy_bpe_reference(["ab\nab"], 10)
    assert 0 < len(got) < 10  # exhausted before the merge budget


def test_countmin_upper_bound_and_exactness(spark):
    # est >= exact always; with few distinct tokens and width 256 there
    # are no collisions, so est == exact
    from linz_bde_uploader_spark.functions.sketches import (
        countmin_estimate,
        countmin_table,
        heavy_hitters_verified,
    )
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma beta alpha")],
        "doc_id long, text string",
    )
    hh = {r.tok: (r.exact_cnt, r.cms_est)
          for r in heavy_hitters_verified(d, k=10).collect()}
    assert hh["alpha"] == (3, 3)
    assert hh["beta"] == (3, 3)
    assert hh["gamma"] == (1, 1)
    # sketch state is bounded by depth x width regardless of input
    cms = countmin_table(d, width=16, depth=4)
    assert cms.count() <= 4 * 16
    # unseen key estimates 0 or a collision-inflated value, never less
    unseen = spark.createDataFrame([("zzz",)], "tok string")
    est = countmin_estimate(cms, unseen, width=16, depth=4).collect()[0]
    assert est.cms_est >= 0


def test_bpe_encode_applies_merges_greedily(spark):
    from linz_bde_uploader_spark.functions.text import bpe_encode, bpe_train

    d = spark.createDataFrame(
        [(1, "aaab"), (2, "ab"), (3, "zz")], "doc_id long, text string"
    )
    table = bpe_train(d, "text", n_merges=2)
    merges = [(r["lhs"], r["rhs"]) for r in table.orderBy("step").collect()]
    # most frequent pair is (a,a) -> 'aa'; then the table re-counts
    assert merges[0] == ("a", "a")
    enc = {r.doc_id: r.n_syms for r in bpe_encode(d, merges).collect()}
    # doc 1 'aaab': greedy left-to-right (a,a) merge gives [aa, a, b]
    # then step-2 merge applies wherever its pair occurs
    assert enc[1] <= 3
    assert enc[2] <= 2
    assert enc[3] <= 2
    # encoding with NO merges = character count
    enc0 = {r.doc_id: r.n_syms for r in bpe_encode(d, []).collect()}
    assert enc0 == {1: 4, 2: 2, 3: 2}


def test_token_fertility_exact_ratios(spark):
    rows = [
        (1, "abc def", "en"),        # 7 bytes, 2 bpe-ish tokens
        (2, "ab cd", "en"),          # 5 bytes, 2 tokens
        (3, "世界", "zh"),   # 6 UTF-8 bytes, 1 letter-run token
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    from linz_bde_uploader_spark.functions.text import token_fertility

    got = {
        r.group: (r.n_docs, r.total_bytes, r.total_tokens, r.bytes_per_token)
        for r in token_fertility(df).collect()
    }
    assert got["en"] == (2, 12, 4, 3.0)
    # CJK: the BPE-ish classes treat non-Latin marks as INDIVIDUAL
    # tokens (no letter-run class for them) — 2 tokens, 3 bytes each
    assert got["zh"] == (1, 6, 2, 3.0)


def test_oov_stats_against_hand_count(spark):
    from linz_bde_uploader_spark.functions.text import oov_stats

    df = spark.createDataFrame(
        [
            (1, "aa aa bb rare1"),      # aa x2, bb, rare1
            (2, "aa bb bb rare2 rare2"),
            (3, "aa bb"),
        ],
        "doc_id long, text string",
    )
    # corpus counts: aa=4, bb=4, rare1=1, rare2=2 -> top-2 = (aa, bb)
    got = {r.doc_id: r for r in oov_stats(df, vocab_size=2).collect()}
    assert (got[1].n_tokens, got[1].oov_tokens, got[1].oov_fraction) == (4, 1, 0.25)
    assert (got[2].n_tokens, got[2].oov_tokens, got[2].oov_fraction) == (5, 2, 0.4)
    assert (got[3].n_tokens, got[3].oov_tokens, got[3].oov_fraction) == (2, 0, 0.0)


def test_oov_vocab_ties_break_by_token_order(spark):
    """Equal-count tokens at the V boundary pick deterministically by
    token ascending — the oracle relies on it."""
    from linz_bde_uploader_spark.functions.text import oov_stats

    df = spark.createDataFrame(
        [(1, "zz yy"), (2, "zz yy"), (3, "zz yy")],
        "doc_id long, text string",
    )
    # counts: yy=3, zz=3; V=1 -> vocab = {yy} (asc tiebreak), zz is OOV
    got = {r.doc_id: r for r in oov_stats(df, vocab_size=1).collect()}
    assert all(r.oov_tokens == 1 for r in got.values())

    import pytest as _pytest
    with _pytest.raises(ValueError):
        oov_stats(df, vocab_size=0)


def test_bpe_wrap_matches_regex_form(spark):
    # the split-based wrapper must equal the per-character regex it
    # replaced, including surrogate pairs and stray wrapper characters
    from pyspark.sql import functions as F

    sos, eos = X.BPE_SOS, X.BPE_EOS
    texts = ["", None, "ab", "a\U0001F600b\U0001D11E", "é z", "ab" + sos,
             "x" + eos, sos + eos, sos + "q" + eos + sos]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    regex = F.regexp_replace(
        F.translate("t", sos + eos, ""), "(?s)(.)", sos + "$1" + eos
    )
    rows = df.select("t", X._bpe_wrap(F.col("t")).alias("got"),
                     regex.alias("want")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r.got == r.want, repr(r.t)
    by_text = {r.t: r.got for r in rows}
    assert by_text["a\U0001F600b\U0001D11E"] == "".join(
        sos + ch + eos for ch in "a\U0001F600b\U0001D11E"
    )
