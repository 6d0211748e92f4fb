"""Near-duplicate detection: banded SimHash pairs, embedding-cosine pairs,
and the staged doc-embedding column.

The reference has no dedup surface (SURVEY §2.7 lists only scalar SQL
functions); these are the large-scale pipeline extensions the engine adds.
Tests assert hand-computable invariants plus Python recomputations of the
deterministic hash arithmetic so any cross-engine drift is caught here
before the DuckDB oracle sees it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linz_bde_uploader_spark.functions import dedup as D
from linz_bde_uploader_spark.functions import similarity as S

HASH_MOD = 2147483647
HASH_MIX = 2654435761


def _tokval(t: str) -> int:
    return (len(t) * 17 + ord(t[0]) * 31) % HASH_MOD


def _shingle_hashes(text: str, n: int = 3) -> list[int]:
    toks = text.split(" ")
    m = len(toks)
    out = []
    for i in range(max(m - n + 1, 1)):
        # mirror dedup.shingle_value: Σ tokval_k · 961^(n-1-k)
        v = (
            _tokval(toks[min(i, m - 1)]) * 923521
            + _tokval(toks[min(i + 1, m - 1)]) * 961
            + _tokval(toks[min(i + 2, m - 1)])
        ) % HASH_MOD
        out.append((v * HASH_MIX) % HASH_MOD)
    return out


def _simhash(text: str, bits: int = 32) -> int:
    hs = _shingle_hashes(text)
    n = len(hs)
    sig = 0
    for j in range(bits):
        votes = sum(1 for h in hs if h & (1 << j))
        if 2 * votes > n:
            sig |= 1 << j
    return sig


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3, "completely different text talking about spark partitions and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_shingle_simhash_matches_python(spark, docs_df):
    got = {
        r.doc_id: r.sh
        for r in D.with_shingle_simhash(docs_df, "text", "sh", 32)
        .select("doc_id", "sh")
        .collect()
    }
    for doc_id, text in DOCS:
        assert got[doc_id] == _simhash(text), f"doc {doc_id}"


def test_simhash_pairs_exact_dup_and_near_dup(spark, docs_df):
    rows = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_candidate_pairs(
            docs_df, "doc_id", "text", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    # exact dup (1,4): hamming 0 always surfaces
    assert rows.get((1, 4)) == 0
    # unrelated doc 3 never pairs with anything
    assert not any(3 in p for p in rows)
    # every reported pair honors the budget and ordering contract
    assert all(a < b and h <= 3 for (a, b), h in rows.items())


def test_simhash_pairs_band_join_is_lossless(spark, docs_df):
    """The band join must return exactly the pairs an O(n²) scan finds
    (pigeonhole: ≤3 differing bits can't touch all 4 windows)."""
    sigs = {
        r.doc_id: r.sh
        for r in D.with_shingle_simhash(docs_df, "text", "sh", 32)
        .select("doc_id", "sh")
        .collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_candidate_pairs(
            docs_df, "doc_id", "text", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    assert got == brute


def test_simhash_pairs_rejects_bad_banding(spark, docs_df):
    with pytest.raises(ValueError):
        D.simhash_candidate_pairs(docs_df, "doc_id", "text", bits=32, bands=5)
    with pytest.raises(ValueError):
        D.simhash_candidate_pairs(
            docs_df, "doc_id", "text", bits=32, bands=4, max_hamming=4
        )


def test_doc_embedding_counts_shingle_bins(spark, docs_df):
    emb = {
        r.doc_id: r.e
        for r in D.with_doc_embedding(docs_df, "text", "e", 64)
        .select("doc_id", "e")
        .collect()
    }
    for doc_id, text in DOCS:
        hs = _shingle_hashes(text)
        expect = [float(sum(1 for h in hs if h % 64 == d)) for d in range(64)]
        assert emb[doc_id] == expect, f"doc {doc_id}"
        assert sum(emb[doc_id]) == len(hs)


def test_embedding_near_dup_pairs(spark, docs_df):
    emb = D.with_doc_embedding(docs_df, "text", "_emb", 64).select(
        "doc_id", "_emb"
    )
    rows = {
        (r.id_a, r.id_b): r.score
        for r in S.embedding_near_dup_pairs(
            emb, id_col="doc_id", vec_col="_emb", dims=64, threshold=0.9
        ).collect()
    }
    # identical docs → cosine exactly 1
    assert rows.get((1, 4)) == pytest.approx(1.0)
    # one-word-changed near-dup pairs with both copies
    assert (1, 2) in rows and rows[(1, 2)] >= 0.9
    assert (2, 4) in rows and rows[(2, 4)] >= 0.9
    # the unrelated doc stays out
    assert not any(3 in p for p in rows)


def test_band_keys_udf_matches_column_expression(spark):
    """The Arrow-vectorized band keys must equal the pure-Column reference
    implementation bit-for-bit (same hyperplanes, same fold order)."""
    vecs = [
        (i, [float((i * 31 + d * 7) % 13) - 6.0 for d in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, ["id", "v"])
    col_keys = {
        r.id: r.k
        for r in df.select(
            "id", S.banded_lsh_keys(F.col("v"), 64, 8, 12).alias("k")
        ).collect()
    }
    udf = S.lsh_band_keys_udf(64, 8, 12, center=False)
    udf_keys = {
        r.id: r.k for r in df.select("id", udf(F.col("v")).alias("k")).collect()
    }
    assert udf_keys == col_keys


def test_band_keys_centering_is_exact(spark):
    """center=True must equal manually pre-centered center=False keys
    (the mean is integer-exact / power-of-two divided)."""
    vecs = [(i, [float((i * 17 + d) % 9) for d in range(64)]) for i in range(10)]
    df = spark.createDataFrame(vecs, ["id", "v"])
    centered = [
        (i, [x - sum(v) / 64 for x in v]) for i, v in vecs
    ]
    dfc = spark.createDataFrame(centered, ["id", "v"])
    u_center = S.lsh_band_keys_udf(64, 8, 12, center=True)
    u_plain = S.lsh_band_keys_udf(64, 8, 12, center=False)
    got = {r.id: r.k for r in df.select("id", u_center(F.col("v")).alias("k")).collect()}
    want = {r.id: r.k for r in dfc.select("id", u_plain(F.col("v")).alias("k")).collect()}
    assert got == want


def test_banded_lsh_keys_match_python(spark):
    """Band keys recompute exactly from the hyperplane formula — the
    property the DuckDB oracle's literal-coefficient SQL relies on."""
    vec = [float(i % 7) - 3.0 for i in range(64)]
    df = spark.createDataFrame([(0, vec)], ["id", "v"])
    got = df.select(
        S.banded_lsh_keys(F.col("v"), 64, bands=4, planes_per_band=4).alias("k")
    ).first()["k"]
    expect = []
    for b in range(4):
        sig = 0
        for p in range(4):
            plane = b * 4 + p
            d = sum(
                ((((plane * 131 + i) * HASH_MIX) % HASH_MOD) / HASH_MOD - 0.5)
                * vec[i]
                for i in range(64)
            )
            if d > 0:
                sig |= 1 << p
        expect.append(sig)
    assert got == expect


def test_null_text_gets_deterministic_empty_embedding(spark):
    """NULL text hashes to the deterministic empty-doc shingle value [0]
    (the same convention the minhash/simhash Column paths use), so the
    Arrow histogram must not crash and null-text docs only ever pair
    with other null/empty docs."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    emb = D.with_doc_embedding(df, "text", "_emb", 64)
    rows = {r.doc_id: r._emb for r in emb.select("doc_id", "_emb").collect()}
    assert rows[2] == [1.0] + [0.0] * 63  # one shingle, hash 0 -> bin 0
    pairs = S.embedding_near_dup_pairs(
        emb.select("doc_id", "_emb"), id_col="doc_id", vec_col="_emb", dims=64
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 3)}


def test_null_vectors_propagate_through_udfs(spark):
    """A genuinely NULL vector column (possible via read_jsonl ingest)
    null-propagates through the Arrow key/cosine UDFs — no worker crash,
    no bucket, NULL score — matching Column-expression semantics."""
    vec = [float(d % 5) for d in range(64)]
    df = spark.createDataFrame(
        [(1, vec), (2, None), (3, vec)], "id long, v array<double>"
    )
    keys = S.lsh_band_keys_udf(64, 8, 12, center=True)
    got = {r.id: r.k for r in df.select("id", keys(F.col("v")).alias("k")).collect()}
    assert got[2] is None and got[1] == got[3] and got[1] is not None

    cos = S.pair_cosine_udf(64)
    j = (
        df.selectExpr("id AS id_a", "v AS va")
        .crossJoin(df.selectExpr("id AS id_b", "v AS vb"))
        .select("id_a", "id_b", cos(F.col("va"), F.col("vb")).alias("s"))
    )
    got = {(r.id_a, r.id_b): r.s for r in j.collect()}
    assert got[(1, 2)] is None and got[(2, 2)] is None
    assert got[(1, 3)] == pytest.approx(1.0)


def test_tracked_caches_released(spark, docs_df):
    """Pair generators persist intermediates via the tracked-cache
    registry; release_intermediates() must leave zero pinned RDDs in the
    session (r2 advice: persist() without unpersist() leaked)."""
    from linz_bde_uploader_spark import caching

    caching.release_intermediates()
    pairs = D.minhash_candidate_pairs(docs_df, "doc_id", "text")
    pairs.count()
    sh = D.simhash_candidate_pairs(docs_df, "doc_id", "text")
    sh.count()
    assert caching.tracked_count() > 0
    caching.release_intermediates()
    assert caching.tracked_count() == 0
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_duplicate_components_and_cluster_dedup(spark):
    """Connected components: a 4-chain (propagation needs >1 round), a
    separate pair, and the transitive-closure keep-set that pairwise
    dedup cannot produce."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in D.duplicate_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    # empty pair graph: no components
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.duplicate_components(empty).count() == 0
    from linz_bde_uploader_spark import caching

    caching.release_intermediates()


def test_duplicate_components_reliable_mode_matches_local(spark):
    """``reliable=True`` routes each round through fault-tolerant
    ``DataFrame.checkpoint`` (checkpoint-dir storage an executor loss
    cannot erase) instead of executor-local ``localCheckpoint``; results
    must be identical. The function provisions a local checkpoint dir
    when none is configured, so this also covers the fallback path."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    local = {r.id: r.component for r in D.duplicate_components(pairs).collect()}
    durable = {
        r.id: r.component
        for r in D.duplicate_components(pairs, reliable=True).collect()
    }
    assert durable == local == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # a checkpoint dir must now exist (set by the fallback or earlier)
    assert spark.sparkContext.getCheckpointDir() is not None
    from linz_bde_uploader_spark import caching

    caching.release_intermediates()


def test_duplicate_components_matches_union_find(spark):
    """Property check: the distributed min-label propagation equals a
    driver-side union-find on random graphs (incl. long chains, which
    force multiple propagation rounds past the checkpoint boundary)."""
    import random

    from linz_bde_uploader_spark import caching

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        if trial == 3:  # worst case: one long chain, diameter n-1
            n = 12  # 11 propagation rounds — crosses checkpoint boundaries
            edges = [(i, i + 1) for i in range(n - 1)]

        # reference: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expect = {v: find(v) for v in touched}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.id: r.component
            for r in D.duplicate_components(pairs, max_iter=100).collect()
        }
        assert got == expect, (trial, edges)
        caching.release_intermediates()


# ---------------------------------------------------------------------------
# batch k-NN join (round 3)
# ---------------------------------------------------------------------------


def test_batch_cosine_topk_matches_single_query(spark):
    import numpy as np
    from linz_bde_uploader_spark.functions import similarity as S
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    e = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = e.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    batch = {
        (r.q_id, r.rank): (r.vec_id, r.score)
        for r in S.batch_cosine_topk(e, q, k=4).collect()
    }
    # each query's block must equal the single-query operator's answer
    for q_id in (0, 13, 26, 39):
        qv = vecs[q_id][1]
        single = S.cosine_topk(e, qv, k=4, exclude_id=q_id).collect()
        for rank, row in enumerate(single, start=1):
            assert batch[(q_id, rank)] == (row.vec_id, row.score), (q_id, rank)
    # exactly 4 queries x 4 ranks
    assert len(batch) == 16


def test_scaled_band_params_law():
    """Banding must grow with corpus size: identity below the reference,
    then enough planes that the background rate falls as fast as n²
    grows, with bands restoring the recall product b·p^w."""
    from linz_bde_uploader_spark.functions.similarity import (
        scaled_band_params,
        sign_collision_prob,
    )

    # identity below the reference size (oracle exactness at sf0.01)
    assert scaled_band_params(500, 0.9, 8, 12) == (8, 12)
    assert scaled_band_params(4096, 0.9, 8, 12) == (8, 12)

    p = sign_collision_prob(0.9)
    for n, q in [(50_000, 0.5), (50_000, 0.65), (5_000_000, 0.65)]:
        b, w = scaled_band_params(n, 0.9, 8, 12, background_sign_prob=q)
        assert w > 12 and b >= 8
        # background candidate volume per-pair rate must shrink at least
        # as fast as n grows (the ~linear-candidates invariant)
        base_rate = 8 * q ** 12
        new_rate = b * q ** w
        assert new_rate <= base_rate * 4096 / n * 1.05  # ceil slack
        # recall product held within a factor ~p of the fixed params
        assert 8 * p ** 12 * p <= b * p ** w <= 8 * p ** 12 / p

    import pytest

    with pytest.raises(ValueError):
        # background at/above the threshold's collision prob: inseparable
        scaled_band_params(50_000, 0.9, 8, 12, background_sign_prob=0.9)


def test_embedding_near_dup_auto_scale_identical_below_reference(spark, docs_df):
    """auto_scale must be a no-op below the reference corpus size, so
    the sf0.01 oracle stays bit-identical."""
    from linz_bde_uploader_spark.functions import dedup as D
    from linz_bde_uploader_spark.functions import similarity as S

    emb = D.with_doc_embedding(docs_df, "text", "_emb", 64).select(
        "doc_id", "_emb"
    )
    fixed = S.embedding_near_dup_pairs(
        emb, id_col="doc_id", vec_col="_emb", dims=64, threshold=0.8
    )
    auto = S.embedding_near_dup_pairs(
        emb, id_col="doc_id", vec_col="_emb", dims=64, threshold=0.8,
        auto_scale=True, background_sign_prob=0.65,
    )
    assert sorted(map(tuple, fixed.collect())) == \
        sorted(map(tuple, auto.collect()))


def test_with_quantized_roundtrip_and_zero(spark):
    from linz_bde_uploader_spark.functions.similarity import (
        quantize_vector,
        with_quantized,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in with_quantized(df).collect()}
    # scale = 1/127; values quantize exactly to ±127, ±64 (0.5*127=63.5
    # rounds half away from zero), 32 (31.75 -> 32), 0
    assert rows[1].qvec == [127, -64, 32, 0]
    assert rows[1].qscale == pytest.approx(1.0 / 127.0)
    assert rows[2].qvec == [0, 0, 0, 0] and rows[2].qscale == 0.0
    # driver-side twin must agree element-for-element
    assert quantize_vector([1.0, -0.5, 0.25, 0.0]) == [127, -64, 32, 0]
    assert quantize_vector([0.0, 0.0]) == [0, 0]


def test_quantized_topk_matches_float_ranking(spark):
    from linz_bde_uploader_spark.functions.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )

    # well-separated directions: quantization must preserve the ranking
    data = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.5, 0.5]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    fp = [r.vec_id for r in cosine_topk(df, [1.0, 0.0], k=3, exclude_id=0).collect()]
    q8 = [r.vec_id for r in
          quantized_cosine_topk(df, [1.0, 0.0], k=3, exclude_id=0).collect()]
    assert fp == q8 == [1, 2, 3]


def test_jl_projection_deterministic_and_recall(spark):
    from linz_bde_uploader_spark.functions.similarity import (
        cosine_topk,
        project_vector,
        projected_cosine_topk,
    )

    # structured corpus: ids 1-10 are small perturbations of the query
    # direction (true neighbors, cosine ~0.99+); 11-50 are deterministic
    # pseudo-random noise (cosine ~0). (The sf fixtures are near-
    # orthogonal noise where top-10 ordering is itself noise — recall
    # there measures nothing.)
    dims = 64
    qv = [1.0] * dims
    rows = [(0, qv)]
    for i in range(1, 11):
        v = list(qv)
        v[i] += 0.3
        rows.append((i, v))
    for i in range(11, 51):
        rows.append((i, [((i * 131 + d) * 2654435761 % 97) / 97.0 - 0.5
                         for d in range(dims)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # driver twin matches the Spark column arithmetic: score of vec 0
    # against itself in projected space is exactly 1
    self_score = (
        projected_cosine_topk(df, qv, k=1, out_dims=16).collect()[0]
    )
    assert self_score.vec_id == 0 and self_score.pscore == pytest.approx(1.0)
    exact = {r.vec_id for r in cosine_topk(df, qv, k=10, exclude_id=0).collect()}
    assert exact == set(range(1, 11))
    approx = {r.vec_id for r in
              projected_cosine_topk(df, qv, k=10, out_dims=16,
                                    exclude_id=0).collect()}
    # JL distortion preserves genuinely-near neighbors
    assert len(exact & approx) >= 8
    assert project_vector(qv, 4) == project_vector(qv, 4)  # stable


class TestProductQuantization:
    @staticmethod
    def _vecs(spark, n=40, dims=16, seed_stride=7):
        # deterministic synthetic vectors (no RNG: value = f(id, dim))
        rows = [
            (i, [((i * seed_stride + j * 13) % 29 - 14) / 14.0
                 for j in range(dims)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_codebooks_shape_and_determinism(self, spark):
        from linz_bde_uploader_spark.functions.similarity import pq_codebooks

        df = self._vecs(spark)
        books = pq_codebooks(df, n_subspaces=4, n_codes=8)
        assert len(books) == 4
        assert all(len(b) == 8 for b in books)
        assert all(len(cv) == 4 for b in books for cv in b)
        assert books == pq_codebooks(df.repartition(5), n_subspaces=4, n_codes=8)

    def test_codebooks_reject_short_or_indivisible_input(self, spark):
        """Fewer qualifying rows than n_codes must be a loud ValueError,
        not a silently smaller codebook (ADVICE r6); same for an
        embedding dim that doesn't split into n_subspaces."""
        import pytest as _pytest

        from linz_bde_uploader_spark.functions.similarity import pq_codebooks

        df = self._vecs(spark, n=5)
        with _pytest.raises(ValueError, match="seed rows"):
            pq_codebooks(df, n_subspaces=4, n_codes=8)
        empty = self._vecs(spark, n=0)
        with _pytest.raises(ValueError, match="seed rows"):
            pq_codebooks(empty, n_subspaces=4, n_codes=8)
        with _pytest.raises(ValueError, match="divisible"):
            pq_codebooks(self._vecs(spark, dims=16), n_subspaces=5, n_codes=8)

    def test_encode_codes_in_range_and_self_is_nearest(self, spark):
        from linz_bde_uploader_spark.functions.similarity import (
            pq_codebooks, pq_encode,
        )

        df = self._vecs(spark)
        books = pq_codebooks(df, n_subspaces=4, n_codes=8)
        enc = {r.vec_id: r for r in pq_encode(df, books).collect()}
        for r in enc.values():
            for mi in range(4):
                assert 0 <= r[f"pq_c{mi}"] < 8
        # a codebook-seed vector's sub-vectors are exactly its own codes
        for vid in range(8):
            for mi in range(4):
                assert enc[vid][f"pq_c{mi}"] == vid

    def test_adc_topk_orders_by_quantized_distance(self, spark):
        from linz_bde_uploader_spark.functions.similarity import (
            cosine_topk, pq_codebooks, pq_topk,
        )

        df = self._vecs(spark, n=60)
        q = [float(x) for x in df.filter("vec_id = 0").first().embedding]
        books = pq_codebooks(df, n_subspaces=4, n_codes=8)
        got = pq_topk(df, q, books, k=10, exclude_id=0).collect()
        assert len(got) == 10
        dists = [r.approx_dist for r in got]
        assert dists == sorted(dists)
        # recall sanity: the ADC top-10 overlaps the exact cosine top-10
        exact = {r.vec_id for r in cosine_topk(df, q, k=10, exclude_id=0).collect()}
        assert len({r.vec_id for r in got} & exact) >= 3

    def test_adc_plan_is_map_only(self, spark):
        from linz_bde_uploader_spark.functions.similarity import (
            pq_codebooks, pq_topk,
        )

        df = self._vecs(spark)
        q = [float(x) for x in df.filter("vec_id = 0").first().embedding]
        books = pq_codebooks(df, n_subspaces=4, n_codes=8)
        plan = (
            pq_topk(df, q, books, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "EvalPython" not in plan
        assert "Exchange" not in plan  # map-only + final top-k gather


class TestParagraphDedup:
    def test_paragraphs_window_shapes_and_empty_doc(self, spark):
        from linz_bde_uploader_spark.functions.dedup import paragraphs

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(70))), (2, "a b"), (3, ""),
             (4, None)],
            "doc_id long, text string",
        )
        got = paragraphs(df, para_tokens=32).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, []).append(r)
        # 70 tokens -> windows of 32/32/6; 2 tokens -> one short window
        assert [len(r.para.split(" ")) for r in sorted(by_doc[1], key=lambda r: r.para_idx)] == [32, 32, 6]
        assert [r.para for r in by_doc[2]] == ["a b"]
        # empty text = one empty paragraph (tokens() split convention);
        # NULL text = none (and no [0,-1] downward-sequence trap)
        assert [r.para for r in by_doc[3]] == [""]
        assert 4 not in by_doc
        # windows tile the doc exactly
        rebuilt = " ".join(
            r.para for r in sorted(by_doc[1], key=lambda r: r.para_idx)
        )
        assert rebuilt == " ".join(f"w{i}" for i in range(70))

    def test_paragraph_dedup_stats_flags_cross_doc_only(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            paragraph_dedup_stats,
        )

        boiler = " ".join(f"nav{i}" for i in range(32))     # shared block
        uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(32))
        df = spark.createDataFrame(
            [
                # doc 1: boilerplate + unique  -> 1/2 duplicated
                (1, boiler + " " + uniq("alpha")),
                # doc 2: same boilerplate + unique -> 1/2 duplicated
                (2, boiler + " " + uniq("beta")),
                # doc 3: internal repetition ONLY -> 0 duplicated
                (3, uniq("gamma") + " " + uniq("gamma")),
                # doc 4: fully unique
                (4, uniq("delta")),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in paragraph_dedup_stats(df).collect()}
        assert (got[1].n_paras, got[1].dup_paras, got[1].dup_fraction) == (2, 1, 0.5)
        assert (got[2].n_paras, got[2].dup_paras, got[2].dup_fraction) == (2, 1, 0.5)
        # within-doc repetition is NOT corpus duplication
        assert got[3].dup_paras == 0
        assert got[4].dup_paras == 0

    def test_paragraph_packing_rejects_out_of_domain_ids(self, spark):
        """The composite-pid arithmetic is only valid for nonnegative
        ids < MAX_PACKED_DOC_ID — out-of-domain ids must raise at
        execution time, not silently misgroup (r7 advice)."""
        from linz_bde_uploader_spark.functions.dedup import (
            MAX_PACKED_DOC_ID, paragraph_dedup_stats,
        )

        txt = " ".join(f"w{i}" for i in range(40))
        for bad in (-1, MAX_PACKED_DOC_ID):
            df = spark.createDataFrame(
                [(bad, txt), (1, txt)], "doc_id long, text string"
            )
            with pytest.raises(Exception, match="paragraph id packing"):
                paragraph_dedup_stats(df).collect()

    def test_paragraph_stats_match_serial_twin(self, spark):
        """Full pipeline vs a Python twin on a small corpus (same
        shingle/minhash arithmetic via the module helpers)."""
        from linz_bde_uploader_spark.functions import dedup as D

        texts = {
            i: " ".join(
                f"w{(i * 7 + j * 3) % 11}" for j in range(48)
            )
            for i in range(8)
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in D.paragraph_dedup_stats(df).collect()}
        # twin: paragraphs
        paras = {}
        for i, t in texts.items():
            toks = t.split(" ")
            for p in range((len(toks) + 31) // 32):
                paras[i * D.PARA_STRIDE + p] = toks[p * 32:(p + 1) * 32]

        def shingle_strs(tk):
            m = len(tk)
            return {
                " ".join(
                    tk[min(k, m - 1)] for k in (j, j + 1, j + 2)
                )
                for j in range(max(m - 2, 1))
            }

        def shingle_vals(tk):
            m = len(tk)
            out = []
            for j in range(max(m - 2, 1)):
                v = 0
                for k in (j, j + 1, j + 2):
                    t_ = tk[min(k, m - 1)]
                    v = v * 961 + (len(t_) * 17 + ord(t_[0]) * 31) % 2147483647
                out.append(v % 2147483647)
            return out

        # candidates via band keys
        def band_keys(tk):
            vals = shingle_vals(tk)
            sig = [
                min((x * a + b) % 2147483647 for x in vals)
                for a, b in D.MINHASH_PARAMS[:8]
            ]
            return [
                ((b_ * 31 + sig[b_ * 2]) * 31 + sig[b_ * 2 + 1]) % 2147483647
                for b_ in range(4)
            ]

        keys = {pid: band_keys(tk) for pid, tk in paras.items()}
        dup = set()
        ids = sorted(paras)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if a // D.PARA_STRIDE == b // D.PARA_STRIDE:
                    continue
                if not any(keys[a][i] == keys[b][i] for i in range(4)):
                    continue
                sa, sb = shingle_strs(paras[a]), shingle_strs(paras[b])
                j = len(sa & sb) / len(sa | sb)
                if round(j, 6) >= 0.5:
                    dup.add(a)
                    dup.add(b)
        for i in texts:
            n_p = sum(1 for pid in paras if pid // D.PARA_STRIDE == i)
            d_p = sum(1 for pid in dup if pid // D.PARA_STRIDE == i)
            assert (got[i].n_paras, got[i].dup_paras) == (n_p, d_p), i


class TestContainment:
    def test_lifted_paragraph_detected_despite_tiny_jaccard(self, spark):
        """A small doc fully contained in a much larger one has tiny
        Jaccard but containment ~1.0 — the asymmetric statistic must
        catch it, directionally."""
        from linz_bde_uploader_spark.functions.dedup import (
            containment_pairs, ngram_jaccard,
        )

        para = " ".join(f"p{i}" for i in range(12))
        page = para + " " + " ".join(f"u{i}" for i in range(80))
        df = spark.createDataFrame(
            [(1, para), (2, page), (3, " ".join(f"z{i}" for i in range(20)))],
            "doc_id long, text string",
        )
        # sanity: symmetric Jaccard on the pair is small
        jac = df.filter(F.col("doc_id") == 1).select(
            ngram_jaccard(F.lit(para), F.lit(page)).alias("j")
        ).collect()[0].j
        assert jac < 0.2
        got = {
            (r.id_sub, r.id_super): r
            for r in containment_pairs(df, threshold=0.6).collect()
        }
        assert set(got) == {(1, 2)}  # only the sub->super direction
        r = got[(1, 2)]
        assert r.containment == 1.0 and r.n_shared == r.n_sub

    def test_mutual_containment_emits_both_directions(self, spark):
        from linz_bde_uploader_spark.functions.dedup import containment_pairs

        a = " ".join(f"w{i}" for i in range(30))
        df = spark.createDataFrame(
            [(1, a), (2, a + " extraz")], "doc_id long, text string"
        )
        got = {
            (r.id_sub, r.id_super): r.containment
            for r in containment_pairs(df, threshold=0.6).collect()
        }
        assert (1, 2) in got and (2, 1) in got
        assert got[(1, 2)] == 1.0 and got[(2, 1)] < 1.0

    def test_boilerplate_shingles_do_not_pair(self, spark):
        """A shingle run shared by more than max_doc_freq docs is
        boilerplate — docs sharing ONLY that run must not pair."""
        from linz_bde_uploader_spark.functions.dedup import containment_pairs

        # token_value hashes (length, first char) — per-doc tokens need
        # DISTINCT first letters to be distinct features
        boiler = " ".join(f"b{i}" for i in range(10))
        rows = [
            (i, boiler + " " + " ".join(
                f"{chr(99 + i)}{j}" for j in range(10)))
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert containment_pairs(
            df, threshold=0.3, max_doc_freq=8
        ).count() == 0

    def test_matches_python_twin(self, spark):
        from linz_bde_uploader_spark.functions.dedup import containment_pairs

        texts = {
            i: " ".join(f"w{(i * 5 + j) % 13}" for j in range(20 + i))
            for i in range(6)
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r.id_sub, r.id_super): (r.containment, r.n_sub, r.n_shared)
            for r in containment_pairs(
                df, threshold=0.0, min_shared=1, max_doc_freq=10
            ).collect()
        }
        sets = {i: set(_shingle_hashes(t)) for i, t in texts.items()}
        dfreq = {}
        for s in sets.values():
            for v in s:
                dfreq[v] = dfreq.get(v, 0) + 1
        expect = {}
        for i in sets:
            for j in sets:
                if i == j:
                    continue
                rare_shared = sum(
                    1 for v in sets[i] & sets[j] if dfreq[v] <= 10
                )
                if rare_shared >= 1:
                    inter = len(sets[i] & sets[j])
                    expect[(i, j)] = (
                        round(inter / len(sets[i]) + 1e-12, 4),
                        len(sets[i]),
                        inter,
                    )
        assert got == expect


class TestSnapshotNovelty:
    def test_three_way_classification(self, spark):
        from linz_bde_uploader_spark.functions.dedup import snapshot_novelty

        base = " ".join(f"w{i}" for i in range(20))
        prev = spark.createDataFrame(
            [(1, base), (2, " ".join(f"x{i}" for i in range(20)))],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (10, base, "a"),                       # exact dup of prev 1
                (11, base + " extraz", "a"),           # near dup (bands hit)
                (12, " ".join(f"z{i}" for i in range(20)), "b"),  # novel
                (13, " ".join(f"q{i}" for i in range(20)), "b"),  # novel
            ],
            "doc_id long, text string, src string",
        )
        out = {r.group: r for r in
               snapshot_novelty(new, prev, group_col="src").collect()}
        a, b = out["a"], out["b"]
        assert (a.n_docs, a.exact_dup, a.near_dup, a.novel) == (2, 1, 1, 0)
        assert a.novelty_rate == 0.0
        assert (b.n_docs, b.exact_dup, b.near_dup, b.novel) == (2, 0, 0, 2)
        assert b.novelty_rate == 1.0

    def test_overall_row_and_partition_invariance(self, spark):
        from linz_bde_uploader_spark.functions.dedup import snapshot_novelty

        prev = spark.createDataFrame(
            [(i, " ".join(f"p{i}x{j}" for j in range(15))) for i in range(6)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(100 + i, " ".join(f"n{i}y{j}" for j in range(15)))
             for i in range(4)],
            "doc_id long, text string",
        )
        r1 = snapshot_novelty(new, prev).collect()
        r2 = snapshot_novelty(new.repartition(5), prev.repartition(3)).collect()
        assert len(r1) == 1 and r1[0].group == "all"
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
        row = r1[0]
        assert row.exact_dup + row.near_dup + row.novel == row.n_docs

    def test_classes_partition_even_without_band_collision(self, spark):
        # r8 ADVICE: a doc whose fingerprint hits prev but whose bands
        # do NOT collide (hash collision, or an empty-token doc) must
        # count ONLY as exact_dup — never also as novel. Empty text
        # exercises the degenerate signature path deterministically.
        from linz_bde_uploader_spark.functions.dedup import snapshot_novelty

        prev = spark.createDataFrame(
            [(1, ""), (2, " ".join(f"p{j}" for j in range(15)))],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, ""), (11, " ".join(f"n{j}" for j in range(15)))],
            "doc_id long, text string",
        )
        row = snapshot_novelty(new, prev).collect()[0]
        assert row.exact_dup + row.near_dup + row.novel == row.n_docs == 2
        assert row.exact_dup == 1 and row.novel == 1


class TestWinnowing:
    def test_fingerprints_match_python_twin(self, spark):
        from linz_bde_uploader_spark.functions.dedup import (
            winnow_fingerprints,
        )

        text = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = df.select(
            winnow_fingerprints(F.split(F.col("text"), " "), 4, 3).alias("f")
        ).collect()[0].f
        hs = _shingle_hashes(text)
        wins = [
            min(hs[i:i + 4]) for i in range(max(len(hs) - 3, 1))
        ]
        expect = list(dict.fromkeys(wins))  # array_distinct keeps order
        assert got == expect

    def test_shared_run_guarantee_and_boilerplate_cap(self, spark):
        """Two docs sharing a long token run must pair (the w+n-1
        guarantee); a run shared by MORE than max_doc_freq docs is
        boilerplate and must NOT produce pairs."""
        from linz_bde_uploader_spark.functions.dedup import winnow_pairs

        shared = " ".join(f"copy{i}" for i in range(16))
        boiler = " ".join(f"nav{i}" for i in range(16))
        rows = [
            (1, shared + " " + "u1a u1b u1c u1d u1e"),
            (2, "u2a u2b u2c u2d u2e " + shared),
            (3, "solo3a solo3b solo3c solo3d solo3e solo3f"),
        ]
        # 10 docs sharing the same boilerplate run: df(fp) = 10 > 8
        rows += [
            (100 + i, boiler + f" tail{i}a tail{i}b tail{i}c")
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r.id_a, r.id_b): r.shared_fps
            for r in winnow_pairs(df).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2
        # no boilerplate-only pair survives the df cap
        assert all(a == 1 and b == 2 for (a, b) in pairs)

    def test_udf_fingerprints_equal_column_form(self, spark):
        """winnow_pairs' Arrow window-min must emit exactly the Column
        winnow_fingerprints set (same integer arithmetic)."""
        from linz_bde_uploader_spark.functions.dedup import (
            winnow_fingerprints, winnow_pairs,
        )

        texts = [
            (i, " ".join(f"w{(i * 5 + j) % 9}" for j in range(3 + i)))
            for i in range(12)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        col_pairs = None
        # column-form reference: rebuild the pair pipeline by hand
        ex = df.select(
            F.col("doc_id"),
            F.explode(
                winnow_fingerprints(F.split(F.col("text"), " "))
            ).alias("fp"),
        )
        freq = ex.groupBy("fp").count().filter(F.col("count") <= 8).select("fp")
        rare = ex.join(freq, "fp")
        l = rare.select("fp", F.col("doc_id").alias("id_a"))
        r = rare.select("fp", F.col("doc_id").alias("id_b"))
        col_pairs = {
            (x.id_a, x.id_b): x.n
            for x in l.join(r, ["fp"]).filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2).collect()
        }
        got = {
            (x.id_a, x.id_b): x.shared_fps
            for x in winnow_pairs(df).collect()
        }
        assert got == col_pairs


class TestAnnNdcg:
    def test_perfect_ranking_scores_one_and_twin(self, spark):
        """With lossless 'compression' (vectors already integer-scaled),
        the int8 ranking equals the exact ranking and nDCG must be
        exactly 1.0; a python twin checks the jl branch too."""
        import math as M

        from linz_bde_uploader_spark.functions.similarity import (
            ann_ndcg, cosine_topk, projected_cosine_topk,
        )

        rows = [(i, [float((i * 7 + j * 3) % 13 - 6) for j in range(64)])
                for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qv = rows[1][1]
        K = 10
        out = {r.method: r for r in
               ann_ndcg(df, qv, k=K, out_dims=8, exclude_id=1).collect()}
        assert set(out) == {"int8", "jl8"}
        assert all(0.0 <= r.ndcg <= 1.0 for r in out.values())

        # twin for the jl branch from the public rankers
        exact = [r.vec_id for r in
                 cosine_topk(df, qv, k=K, exclude_id=1).collect()]
        rel = {vid: K - r for r, vid in enumerate(exact)}
        approx = [r.vec_id for r in
                  projected_cosine_topk(df, qv, k=K, out_dims=8,
                                        exclude_id=1).collect()]

        def half_away(x):
            return M.floor(abs(x) + 0.5) * (1 if x >= 0 else -1)

        dcg = sum(half_away(rel.get(v, 0) / M.log2(i + 2) * 1e9)
                  for i, v in enumerate(approx))
        idcg = sum(half_away((K - r) / M.log2(r + 2) * 1e9)
                   for r in range(K))
        assert out["jl8"].ndcg == round(dcg * 1.0 / idcg + 1e-12, 4 + 2) or \
            abs(out["jl8"].ndcg - dcg / idcg) < 1e-6

    def test_scrambled_order_scores_below_one(self, spark):
        """A ranking with the right SET but inverted order must score
        strictly below 1 — the property recall@k cannot see."""
        import math as M

        K = 5
        rel = {v: K - r for r, v in enumerate([10, 11, 12, 13, 14])}
        inverted = [14, 13, 12, 11, 10]
        dcg = sum(rel[v] / M.log2(i + 2) for i, v in enumerate(inverted))
        idcg = sum((K - r) / M.log2(r + 2) for r in range(K))
        assert dcg / idcg < 1.0  # sanity of the metric itself
