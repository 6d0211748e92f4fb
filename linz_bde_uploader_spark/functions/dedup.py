"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — dedup is the classic 100-TB pipeline stage):

- **Exact**: hash-groupBy on the dedup key; one shuffle, map-side partial
  aggregation. Never collects; ties broken by min(id) so output is
  deterministic.
- **MinHash + LSH**: per-document K-term signature computed as array
  arithmetic (JVM, codegen — no Python), then *banded*: documents sharing a
  band bucket become join candidates. The candidate join is a self-equi-join
  on the band key — shuffle scales with bucket sizes, not O(n²).
- **SimHash**: one 16/32-bit value per document from token-hash bit votes;
  near-dups share simhash (or differ in ≤ hamming-k bits — the bucketed
  rotate trick extends it).
- **n-gram Jaccard**: exact verification pass for the candidate pairs the
  sketches surface (the standard two-phase candidate→verify design).

All hashes are deterministic arithmetic (no seed state), so results are
reproducible across runs/engines and oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linz_bde_uploader_spark.caching import memo_column, track

_CKPT_DIR: list[str] = []  # one per process, removed at exit


def _local_checkpoint_dir() -> str:
    """Process-wide local-mode checkpoint dir, registered for removal at
    interpreter exit — per-call ``mkdtemp`` leaked a directory of label
    files every invocation. (Checkpoint files must outlive this call:
    the returned labels DataFrame reads them on each later action, so
    eager cleanup inside the function would corrupt the result.)"""
    if not _CKPT_DIR:
        import atexit  # noqa: PLC0415 — local-mode fallback only
        import shutil  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        d = tempfile.mkdtemp(prefix="bde_components_ckpt_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _CKPT_DIR.append(d)
    return _CKPT_DIR[0]
from linz_bde_uploader_spark.functions.text import (
    HASH_MIX,
    HASH_MOD,
    token_value,
    tokens,
)

#: (a, b) parameters for the K minhash permutations h_k(x) = (a*x + b) % P.
#: Fixed primes — deterministic, engine-independent.
MINHASH_PARAMS = [
    (1000003, 12345),
    (1000033, 54321),
    (1000037, 2468),
    (1000039, 13579),
    (1000081, 97531),
    (1000099, 11111),
    (1000117, 77777),
    (1000121, 31415),
]


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a token-array column; documents shorter than n
    words yield their whole text as the single shingle.

    IMPORTANT for scale: pass a *staged attribute* (a real column holding
    the token array), not an inline ``split(...)`` expression — the lambda
    indexes the array once per shingle position, and an inline split would
    be re-evaluated per element (O(n²) per document)."""
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(sz - (n - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, F.least(i + j, sz)) for j in range(n)]
        ),
    )


def shingle_value(sh: Column) -> Column:
    """Deterministic shingle hash from its token values (3-term polynomial)."""
    parts = F.split(sh, " ")
    return F.aggregate(
        F.transform(parts, lambda t: token_value(t)),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 961 + v) % HASH_MOD,
    )


def with_minhash_signature(
    df: DataFrame, text_col: str, out_col: str = "_sig", k: int = 8
) -> DataFrame:
    """Attach the MinHash signature as a staged column.

    Two projections: shingle-values first, then the K permutation minima
    over that array. Referencing an *expensive* alias multiple times keeps
    Catalyst's CollapseProject from re-inlining it, so the shingle pipeline
    runs once per row instead of once per permutation — ~K× less work than
    one inlined expression that repeats the shingle pipeline per minimum.

    The staged sub-expressions reference only fixed attribute names, so
    their trees are built once and memoized (caching.memo_column — ~250 ms
    of py4j round trips per un-memoized call, r15 optimization, guide §5).
    """
    # Stage the token array as an attribute FIRST: the shingle lambda
    # indexes it per position, and an inline split would re-evaluate per
    # element (O(n²)/doc). Then stage the shingle values so the K
    # permutations each fold over the same computed array.
    staged = df.withColumn(
        "_toks",
        memo_column(("tokens", text_col), lambda: tokens(F.col(text_col))),
    )
    staged = staged.withColumn(
        "_sv",
        memo_column(
            ("minhash_sv",),
            lambda: F.transform(
                shingles_from_tokens(F.col("_toks")),
                lambda s: shingle_value(s),
            ),
        ),
    )
    sig = memo_column(
        ("minhash_sig", k),
        lambda: F.array(
            *[
                F.array_min(
                    F.transform(F.col("_sv"), lambda x: (x * a + b) % HASH_MOD)
                )
                for a, b in MINHASH_PARAMS[:k]
            ]
        ),
    )
    return staged.withColumn(out_col, sig).drop("_sv", "_toks")


def minhash_band_keys(sig: Column, bands: int = 4, rows_per_band: int = 2) -> Column:
    """Split the signature into bands; each band folds to one bucket key.
    Docs sharing any band key are LSH candidates. Returns array<long>."""
    keys = []
    for b in range(bands):
        parts = [F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
        key = F.lit(b).cast("long")
        for p in parts:
            key = (key * 31 + p) % HASH_MOD
        keys.append(key)
    return F.array(*keys)


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing ≥1 band bucket.

    Plan shape: project → explode band keys (narrow) → self-equi-join on
    (band_idx, band_key) → distinct pair. The join key is the bucket, so
    shuffle volume is O(n·bands), not O(n²); skewed buckets are split by
    AQE. This is the scale path for near-dup at 100 TB.

    The banded projection is persisted before the self-join: signature
    computation (shingle → K permutations) is the expensive part, and a
    bare self-alias would recompute it for both join sides. The cache is
    tracked — call ``caching.release_intermediates()`` after materializing
    the pairs. At cluster scale, checkpoint/write the signatures instead.
    """
    sigs = with_minhash_signature(df, text_col, "_sig", bands * rows_per_band)
    banded = track(sigs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(minhash_band_keys(F.col("_sig"), bands, rows_per_band)).alias(
            "_band", "_key"
        ),
    ))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._key") == F.col("r._key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "_simhash", bits: int = 16
) -> DataFrame:
    """SimHash as a staged column: the token-hash array is materialized as
    an attribute first, so the per-bit vote folds read a computed array
    instead of re-tokenizing the text once per bit."""
    hashes = F.transform(
        tokens(F.col(text_col)), lambda t: (token_value(t) * HASH_MIX) % HASH_MOD
    )
    staged = df.withColumn("_sh_hashes", hashes)
    h = F.col("_sh_hashes")
    n = F.size(h)

    def bit_votes(mask: int):
        return F.aggregate(
            h,
            F.lit(0).cast("long"),
            lambda acc, x: acc + (x.bitwiseAND(F.lit(mask)) != 0).cast("long"),
        )

    out = F.lit(0).cast("long")
    for j in range(bits):
        bit = (bit_votes(1 << j) * 2 > n.cast("long")).cast("long")
        out = out + bit * (1 << j)
    return staged.withColumn(out_col, out).drop("_sh_hashes")


def ngram_jaccard_from_tokens(toks_a: Column, toks_b: Column, n: int = 3) -> Column:
    """Exact Jaccard similarity of two token arrays' n-word shingle sets.
    Pass staged attribute columns (see ``shingles_from_tokens``)."""
    sa = F.array_distinct(shingles_from_tokens(toks_a, n))
    sb = F.array_distinct(shingles_from_tokens(toks_b, n))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.round(inter.cast("double") / union, 6)


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact Jaccard similarity of two texts' n-word shingle sets
    (tokenizes inline — stage tokens + use ``ngram_jaccard_from_tokens``
    in hot paths)."""
    return ngram_jaccard_from_tokens(tokens(a), tokens(b), n)


def exact_dedup(df: DataFrame, dedup_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per duplicate group. One shuffle on
    the dedup key with map-side combine; deterministic winner."""
    keep = df.groupBy(*dedup_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, dedup_cols + [id_col], "left_semi")


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """Connected components over a candidate-pair graph → ``(id,
    component)`` where component = the smallest id in the cluster, i.e.
    the canonical survivor for cluster-level dedup. Pairwise near-dup
    output (A~B, B~C) under-deletes if applied pairwise; components give
    the transitive closure (A,B,C are ONE cluster, keep only A).

    Min-label propagation: every round each node takes the minimum label
    among itself and its neighbors; fixpoint in O(cluster diameter)
    rounds. LSH-banded near-dup clusters are dense (members share band
    buckets), so the diameter is small; for adversarial long-chain
    graphs switch to large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014) — same join shapes.

    Scale: each round is one O(E) shuffle (edges ⋈ labels → min per
    node). Every round's label set (|V| rows, two columns — tiny next to
    the data it deduplicates) is materialized with an eager
    ``localCheckpoint``: without it round *k* would recompute rounds
    1..k-1 (quadratic lineage) and the caller's action would re-run the
    whole loop once more. Convergence is detected from
    ``sum(component)``, which strictly decreases until fixpoint — one
    scalar aggregate over the checkpointed labels per round, no
    driver-side data collect. Output covers ids that appear in ≥1 pair
    (everything else is trivially its own component).

    Durability: the default ``localCheckpoint`` stores label blocks on
    EXECUTOR storage — fastest, but on a real cluster losing one
    executor mid-loop kills the job un-recomputably (truncated
    lineage). Pass ``reliable=True`` on a cluster: each round then uses
    ``DataFrame.checkpoint``, writing labels to the fault-tolerant
    checkpoint directory (``spark.sparkContext.setCheckpointDir`` —
    HDFS/S3 in production; this function sets a local fallback if none
    is configured). Labels are |V| rows × 2 longs, so the per-round
    write is tiny next to the candidate-pair shuffle; executor loss
    then costs one round's recompute, not the job."""
    del checkpoint_every  # kept for API stability; every round checkpoints
    spark = pairs.sparkSession
    if reliable and spark.sparkContext.getCheckpointDir() is None:
        # A driver-local temp dir is only valid durable storage when the
        # driver IS the cluster (local mode). On a real cluster it would
        # silently defeat the fault tolerance `reliable=True` promises —
        # executors can't read the driver's filesystem — so demand a
        # configured shared checkpoint dir (HDFS/S3) there.
        if not spark.sparkContext.master.startswith("local"):
            raise ValueError(
                "reliable=True on a cluster requires "
                "spark.sparkContext.setCheckpointDir(<shared storage>); "
                "a driver-local fallback would not survive executor loss"
            )
        spark.sparkContext.setCheckpointDir(_local_checkpoint_dir())

    def materialize(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = track(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    # Size the loop's partitioning to the measured edge count (~100k
    # edges/partition): a candidate graph is usually orders of magnitude
    # smaller than its corpus, and re-joining a few thousand edges as 32
    # tasks × N rounds is pure scheduler overhead. The count is one pass
    # over the just-persisted edges (needed anyway for the first round);
    # at real scale the computed target equals the existing partition
    # count and this is a no-op. coalesce() not repartition(): no extra
    # shuffle, cached blocks are read as-is.
    n_edges = edges.count()
    # coalesce() to a target >= the current partition count is a no-op,
    # so the RDD-plan-compiling getNumPartitions() probe (~0.15 s per
    # call, paid twice here before r15) is unnecessary: ask for the
    # edge-count-derived target unconditionally.
    edges = edges.coalesce(max(1, n_edges // 100_000 + 1))
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    prev_sum = None
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("_nmin"))
        )
        labels = (
            labels.join(neigh_min, labels["id"] == neigh_min["src"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("component"), F.coalesce("_nmin", "component")
                ).alias("component"),
            )
        )
        labels = materialize(labels)
        s = labels.agg(F.sum("component")).first()[0]
        if s is None or s == prev_sum:
            break
        prev_sum = s
    return labels


def candidate_jaccard_verify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """The two-phase near-dup design: MinHash-LSH candidates → exact n-gram
    Jaccard verification on candidates only.

    This is the scale path — the exact Jaccard compare runs on O(candidates)
    pairs (two narrow id-equi-joins to fetch the texts), never on an
    intra-block cartesian.
    """
    pairs = minhash_candidate_pairs(df, id_col, text_col, bands, rows_per_band)
    # Tokenize once per side BEFORE the shingle expression references the
    # array per position (staged attribute — see shingles_from_tokens).
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    joined = pairs.join(
        toks.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_tka")), "id_a"
    ).join(
        toks.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_tkb")), "id_b"
    )
    sim = ngram_jaccard_from_tokens(F.col("_tka"), F.col("_tkb"), n)
    return (
        joined.withColumn("jaccard", sim)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_hashes_from_tokens(toks: Column, n: int = 3) -> Column:
    """Mixed hashes of the n-word shingle values — the feature set for
    shingle-grain sketches (SimHash, doc embeddings). Shingles carry far
    more entropy than unigram tokens on shared-vocabulary corpora: two
    unrelated docs share most *words* but almost no 3-grams, so sketches
    over shingles separate near-dups from background instead of hashing
    the whole corpus into one neighborhood.
    Pass a STAGED token attribute (see ``shingles_from_tokens``)."""
    return F.transform(
        shingles_from_tokens(toks, n),
        lambda s: (shingle_value(s) * HASH_MIX) % HASH_MOD,
    )


def with_shingle_simhash(
    df: DataFrame, text_col: str, out_col: str = "_simhash", bits: int = 32
) -> DataFrame:
    """SimHash over shingle hashes, staged: tokens → shingle-hash array as
    real attributes first, then ``bits`` per-bit majority votes fold over
    the one computed array (no re-tokenization per bit)."""
    staged = df.withColumn("_sh_toks", tokens(F.col(text_col)))
    staged = staged.withColumn(
        "_sh_hs", shingle_hashes_from_tokens(F.col("_sh_toks"))
    )
    h = F.col("_sh_hs")
    n = F.size(h)

    def bit_votes(mask: int):
        # Real closure over the Python int mask (a `j=j` default arg breaks
        # PySpark's higher-order-function arity binding).
        return F.aggregate(
            h,
            F.lit(0).cast("long"),
            lambda acc, x: acc + (x.bitwiseAND(F.lit(mask)) != 0).cast("long"),
        )

    out = F.lit(0).cast("long")
    for j in range(bits):
        bit = (bit_votes(1 << j) * 2 > n.cast("long")).cast("long")
        out = out + bit * (1 << j)
    return staged.withColumn(out_col, out).drop("_sh_toks", "_sh_hs")


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded-SimHash near-dup pairs (id_a < id_b, hamming ≤ max_hamming).

    Slice the B-bit signature into ``bands`` equal windows and self-equi-
    join on (band, window value). Because ``max_hamming < bands``, any
    pair within the Hamming budget differs in at most ``max_hamming``
    windows and therefore shares at least one intact window (pigeonhole) —
    the band join is a LOSSLESS candidate generator, and the exact
    ``bit_count(xor)`` filter runs on candidates only. Shuffle volume is
    O(n·bands) narrow rows; hot windows split across bands and AQE.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "max_hamming must be < bands for the band join to be lossless"
        )
    width = bits // bands
    sigs = with_shingle_simhash(df, text_col, "_sh", bits).select(
        F.col(id_col).alias("_id"), "_sh"
    )
    band_vals = F.array(
        *[
            F.shiftright(F.col("_sh"), b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for b in range(bands)
        ]
    )
    banded = track(sigs.select(
        "_id", "_sh", F.posexplode(band_vals).alias("_band", "_val")
    ))
    left, right = banded.alias("l"), banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._val") == F.col("r._val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sh").alias("_sa"),
            F.col("r._sh").alias("_sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def with_doc_embedding(
    df: DataFrame, text_col: str, out_col: str = "_emb", dims: int = 64
) -> DataFrame:
    """Deterministic document embedding: hashed-shingle count vector
    (array<double>, length ``dims``). Component d counts the shingles
    whose mixed hash lands in bin d — a bag-of-shingles vector whose
    cosine tracks n-gram overlap. Pure integer arithmetic: identical on
    any engine, so embedding-cosine dedup is oracle-checkable; swap in a
    model embedding behind the same (id, array<double>) contract.

    The shingle hashing stays JVM-side (staged attributes); the histogram
    runs as an Arrow-batched pandas UDF over ``np.bincount``. A pure
    Column formulation exists (transform over a bin sequence with a
    per-bin filter) but Spark evaluates higher-order-function lambdas
    interpreted, costing O(dims × shingles) lambda dispatches per doc
    (~4 ms/row measured) — the vectorized bincount is ~100× faster and
    bit-identical (integer arithmetic only; the doubles are exact counts).
    """
    staged = df.withColumn("_de_toks", tokens(F.col(text_col)))
    staged = staged.withColumn(
        "_de_hs", shingle_hashes_from_tokens(F.col("_de_toks"))
    )

    # Built lazily: a module-level @pandas_udf would need an active
    # SparkSession at import time (return-type DDL parse).
    @F.pandas_udf("array<double>")
    def _hist(hs: pd.Series) -> pd.Series:
        # NULL-propagate like the Column paths do (NULL text -> NULL hs
        # -> NULL embedding), instead of crashing the Arrow worker.
        return hs.map(
            lambda a: None
            if a is None
            else np.bincount(
                np.asarray(a, dtype=np.int64) % dims, minlength=dims
            ).astype(np.float64)
        )

    return staged.withColumn(out_col, _hist(F.col("_de_hs"))).drop(
        "_de_toks", "_de_hs"
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-shingle pruning (RefinedWeb/CCNet-style):
# drop documents mostly made of text that also appears in OTHER documents,
# without requiring whole-document near-duplication. Complements MinHash:
# MinHash finds pairs of similar docs; this finds docs assembled from
# corpus-common fragments (boilerplate mosaics) that pair-wise similarity
# never flags.


def duplicated_shingle_stats(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document cross-duplication statistics:
    ``(id, n_shingles, dup_shingles, dup_fraction)`` where
    ``dup_fraction`` is the share of the document's distinct shingles
    that appear in at least one OTHER document (rounded to 4 dp for
    engine-stable hashing).

    Two shuffles total: the doc-freq aggregation and the join of
    exploded doc-shingles back to it (AQE broadcasts the freq table
    when the shingle vocabulary is small). No all-pairs term anywhere —
    cost is linear in total shingle volume.

    The exploded (id, shingle-hash) set feeds BOTH sides of that join,
    and the shingle hashing (a fold per shingle) is the expensive part,
    so it is computed once and persisted via ``caching.track``
    (measured ~7x at sf0.1: 7 s -> ~1 s) — the same
    stage-the-candidates pattern as the banded LSH paths.
    """
    doc_sh = track(
        df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_toks")
        ).select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        shingles_from_tokens(F.col("_toks"), n),
                        lambda s: shingle_value(s),
                    )
                )
            ).alias("sv"),
        )
    )
    freq = doc_sh.groupBy("sv").agg(F.count(F.lit(1)).alias("doc_freq"))
    return doc_sh.join(freq, ["sv"]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("doc_freq") > 1).cast("long")).alias("dup_shingles"),
        F.round(
            F.sum((F.col("doc_freq") > 1).cast("double")) / F.count(F.lit(1)), 4
        ).alias("dup_fraction"),
    )


def prune_cross_duplicated(df: DataFrame, max_dup_fraction: float,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 3) -> DataFrame:
    """Keep documents whose cross-document duplicated-shingle fraction is
    at most ``max_dup_fraction`` (left-semi against the stats table)."""
    stats = duplicated_shingle_stats(df, id_col, text_col, n)
    keep = stats.filter(F.col("dup_fraction") <= max_dup_fraction).select(id_col)
    return df.join(keep, [id_col], "left_semi")


def scrub_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           min_doc_freq: int = 2) -> DataFrame:
    """ExactSubstr-style span scrubbing (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): REMOVE from each
    document every token covered by an n-gram shingle that also appears
    in at least ``min_doc_freq - 1`` OTHER documents, keeping the rest
    of the document. Complements :func:`prune_cross_duplicated` (which
    drops whole documents): boilerplate spans vanish, unique prose
    survives.

    Returns ``(id, n_removed, clean_text)``.

    Plan: the doc-frequency table comes from the staged distinct
    shingle set (one partial-agg shuffle); duplicated SPAN STARTS are
    the positional shingle list joined against it; covered positions
    explode map-side (≤ n per dup start, clamped to doc length for the
    padded short-doc shingle) into a per-doc position set; the rebuild
    is a pure array filter — no Python, no quadratic term, shuffle
    volume bounded by shingle volume.
    """
    staged = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_toks"),
    )
    # The positional shingle set feeds BOTH the doc-freq aggregation and
    # the dup-start join — stage it once (the crossdoc lesson). The
    # transform feeds posexplode INLINE: routing it through an aliased
    # intermediate column measured ~20x slower (the generator's child
    # projection re-evaluated the whole shingle pipeline), 7.5 s -> 0.4 s
    # at sf0.1.
    ex = track(
        staged.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    shingles_from_tokens(F.col("_toks"), n),
                    lambda s: shingle_value(s),
                )
            ).alias("_p0", "sv"),
        ).select(id_col, (F.col("_p0") + 1).alias("start"), "sv")
    )
    freq = (
        ex.select(id_col, "sv").distinct()
        .groupBy("sv").agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    # Covered positions are emitted UNCLAMPED (start .. start+n-1): the
    # only out-of-range positions come from the padded short-doc
    # shingle, and the rebuild's sequence(1, n_tokens) never selects
    # them — cheaper than carrying the doc length through the explode.
    dup_pos = (
        ex.join(freq.filter(F.col("doc_freq") >= min_doc_freq), ["sv"])
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_dups"))
    )
    joined = staged.join(dup_pos, [id_col], "left").withColumn(
        "_dups", F.coalesce(F.col("_dups"), F.array().cast("array<int>"))
    )
    # array_except is a one-pass hash build over _dups (order of the
    # left sequence preserved) — a per-token array_contains would be
    # O(tokens x dup-positions) per document
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("_toks")), F.col("_dups")
    )
    kept = F.transform(
        kept_pos, lambda p: F.element_at(F.col("_toks"), p)
    )
    return joined.select(
        F.col(id_col),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def incremental_minhash_filter(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental near-dup gate: drop NEW documents that LSH-collide
    with an EXISTING corpus — the operational shape of continuous
    ingestion (a crawl batch probed against the deduplicated corpus
    built so far), vs. :func:`minhash_candidate_pairs`' one-shot
    self-join. A new doc is dropped when ANY of its MinHash band keys
    matches any index band key.

    Scale: the index side reduces to its DISTINCT ``(band, key)`` set —
    O(corpus·bands) longs ONCE, reusable across batches (persist or
    write it; at 100 TB this is the thing you keep, not the text).
    The probe explodes the new batch's band keys and LEFT SEMI joins on
    ``(band, key)`` — shuffle volume O(batch·bands), never touching the
    index text. No pair materialization, nothing quadratic."""
    n_sig = bands * rows_per_band
    idx_keys = (
        with_minhash_signature(index_docs, text_col, "_sig", n_sig)
        .select(
            F.posexplode(
                minhash_band_keys(F.col("_sig"), bands, rows_per_band)
            ).alias("_band", "_key")
        )
        .distinct()
    )
    probe_keys = with_minhash_signature(
        new_docs, text_col, "_sig", n_sig
    ).select(
        F.col(id_col),
        F.posexplode(
            minhash_band_keys(F.col("_sig"), bands, rows_per_band)
        ).alias("_band", "_key"),
    )
    hits = (
        probe_keys.join(idx_keys, ["_band", "_key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return new_docs.join(hits, [id_col], "left_anti")


def keep_best_per_cluster(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curation-grade cluster dedup: keep the HIGHEST-``quality_col``
    member of each near-dup cluster (ties: lowest id) — what a real
    pipeline wants instead of :func:`duplicate_components`' arbitrary
    min-id canonical (the near-dups differ precisely in the junk the
    quality signal measures: truncation, boilerplate, mojibake).
    Documents absent from the pair graph are their own singleton
    cluster and always survive. Returns ``(id, component, quality)``
    for the survivors.

    Scale: one left join of the corpus against the component labels
    (|labels| ≤ |docs in pairs| ≪ corpus; AQE broadcasts when small)
    and one window shuffle keyed by component — no pair
    materialization here, the expensive part already happened in the
    components pass."""
    from pyspark.sql import Window

    lab = (
        docs.select(F.col(id_col), F.col(quality_col).alias("quality"))
        .join(
            components.select(
                F.col("id").alias(id_col), F.col("component")
            ),
            id_col,
            "left",
        )
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col(id_col))
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.col(id_col)
    )
    return (
        lab.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "component", "quality")
    )


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    threshold: float = 0.08,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Cross-source contamination matrix: how much near-duplicate mass
    each pair of sources shares — the datasheet statistic that tells a
    curation team which feeds are re-crawls/mirrors of each other
    before mixture weights are chosen. Built on the verified two-phase
    pipeline (:func:`candidate_jaccard_verify`: LSH candidates → exact
    n-gram Jaccard), then each surviving pair is attributed to its
    unordered source pair (diagonal = within-source duplication).

    Returns ``(source_a, source_b, n_pairs, mean_jaccard)`` with
    ``source_a <= source_b``. The mean is computed from 1e-6
    fixed-point integer sums, so it is exact in any aggregation order
    (the DSIR/entropy discipline).

    Scale: the pair volume is the verified near-dup set (already
    banded + verified, never all-pairs); attributing sources is two
    narrow id-equi-joins against the (id, source) projection; the final
    aggregate is bounded by |sources|² cells."""
    pairs = candidate_jaccard_verify(
        df, id_col, text_col, threshold, n, bands, rows_per_band
    )
    g = df.select(F.col(id_col), F.col(group_col))
    j = pairs.join(
        g.select(F.col(id_col).alias("id_a"), F.col(group_col).alias("_ga")),
        "id_a",
    ).join(
        g.select(F.col(id_col).alias("id_b"), F.col(group_col).alias("_gb")),
        "id_b",
    )
    return (
        j.select(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
            F.round(F.col("jaccard") * 1_000_000).cast("long").alias("_ji"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_ji").alias("_s"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(
                (F.col("_s") / F.lit(1_000_000.0)) / F.col("n_pairs"), 6
            ).alias("mean_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-grain near-dup (RefinedWeb/CCNet practice): real CC-scale
# pipelines dedup at paragraph granularity BEFORE document granularity —
# a page is rarely a whole-document duplicate, but its boilerplate
# paragraphs (navigation, footers, license blocks) are duplicated across
# thousands of pages. The paragraph layer reuses the banded MinHash
# machinery unchanged: a paragraph is just a shorter document with a
# composite id.

#: composite paragraph id stride: pid = doc_id * stride + para_idx.
#: A document would need >= 1e6 paragraphs before ids collide.
PARA_STRIDE = 1_000_000

#: id domain the arithmetic packing is valid over: doc_id must be a
#: NONNEGATIVE long < MAX_PACKED_DOC_ID. Negative ids would misgroup
#: (long DIV truncates toward zero, so -1 and +1 paragraphs both land
#: in doc "0"-adjacent buckets) and ids >= 2^63/stride overflow and
#: wrap silently in non-ANSI mode. ``_packed_pid`` enforces the domain
#: at execution time with ``raise_error`` instead of assuming it.
MAX_PACKED_DOC_ID = (1 << 63) // PARA_STRIDE  # ~9.22e12


def _packed_pid(id_col: str) -> Column:
    """``doc_id * PARA_STRIDE + para_idx`` guarded by a loud runtime
    domain check: any doc id outside ``[0, MAX_PACKED_DOC_ID)`` raises
    with the offending value rather than silently misgrouping
    (negative DIV) or wrapping (long overflow). The guard is one
    JVM-side comparison per row — free next to the shingle work.
    Hash-derived 64-bit ids exceed the domain: remap them (e.g.
    ``row_number`` or ``zipWithIndex``-style dense ids) before calling
    the paragraph-grain operators."""
    c = F.col(id_col)
    return F.when(
        (c >= 0) & (c < MAX_PACKED_DOC_ID),
        c.cast("long") * PARA_STRIDE + F.col("para_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "paragraph id packing requires 0 <= doc id < "
                    f"{MAX_PACKED_DOC_ID}; got "
                ),
                c.cast("string"),
            )
        ).cast("long")
    )


def paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 32,
) -> DataFrame:
    """Explode documents into fixed-token-window pseudo-paragraphs:
    ``(id, para_idx, para)`` — the chunking idiom (map-side posexplode,
    no shuffle). Corpora with real paragraph boundaries split on the
    separator upstream and feed the same ``(id, para_idx, para)``
    contract; the window form is what makes the operator total on
    boundary-free text. Empty text yields ONE empty paragraph (the
    single-space ``tokens()`` convention: split never returns an empty
    array); NULL text yields none."""
    if para_tokens <= 0:
        raise ValueError("para_tokens must be positive")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    n_para = F.ceil(n / F.lit(float(para_tokens))).cast("int")
    # Generator input INLINE (the scrub_duplicated_spans lesson); the
    # token array itself is a staged attribute, so each window's slice
    # reads a computed array. sequence() is guarded for NULL text
    # (size(NULL) is NULL -> otherwise-branch empty array); non-NULL
    # text always has size >= 1 under the split convention, so the
    # [0, -1] downward-sequence trap cannot trigger there.
    wins = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_para - 1),
            lambda i: F.array_join(
                F.slice(F.col("_toks"), i * para_tokens + 1, para_tokens),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select(
        F.col(id_col),
        F.posexplode(wins).alias("para_idx", "para"),
    )


def paragraph_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 32,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Per-document duplicated-PARAGRAPH fraction:
    ``(id, n_paras, dup_paras, dup_fraction)`` where a paragraph is
    "duplicated" when it survives the two-phase near-dup pipeline
    (banded MinHash-LSH candidates -> exact n-gram Jaccard >= threshold)
    against a paragraph of a DIFFERENT document. Within-document
    repetition is internal structure, not corpus duplication, and is
    excluded. ``dup_fraction`` at 4 dp (the duplicated_shingle_stats
    convention).

    Id domain: ``id_col`` must hold NONNEGATIVE longs below
    ``MAX_PACKED_DOC_ID`` (~9.22e12) — the composite-pid arithmetic is
    guarded by a runtime ``raise_error`` check (see ``_packed_pid``),
    so out-of-domain ids (negative, or hash-derived full-width 64-bit)
    fail loudly instead of silently misgrouping; densify such ids
    upstream.

    Scale: the paragraph explode is map-side; candidates come from the
    banded self-equi-join (O(paras x bands) shuffle, never all-pairs);
    the exact verify touches candidate pairs only; the rollup is one
    doc-keyed partial agg. Same posture as the document-grain pipeline
    — paragraphs just multiply the row count by ~docs_tokens/para_tokens.
    """
    pdf = paragraphs(df, id_col, text_col, para_tokens).select(
        _packed_pid(id_col).alias("pid"),
        F.col("para"),
    )
    pairs = candidate_jaccard_verify(
        pdf, "pid", "para", threshold, n, bands, rows_per_band
    )
    cross = pairs.filter(
        F.expr(f"id_a DIV {PARA_STRIDE}") != F.expr(f"id_b DIV {PARA_STRIDE}")
    )
    dup_pids = (
        cross.select(F.col("id_a").alias("pid"))
        .unionByName(cross.select(F.col("id_b").alias("pid")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        pdf.join(dup_pids, "pid", "left")
        .groupBy(F.expr(f"pid DIV {PARA_STRIDE}").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("long")
            .alias("dup_paras"),
            F.round(
                F.sum(F.coalesce(F.col("_dup"), F.lit(0)).cast("double"))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm): select the MINIMUM shingle hash from every sliding
# window of w consecutive shingles. The selection guarantee is positional,
# which MinHash cannot give: ANY shared token run of length >= w + n - 1
# shares at least one selected fingerprint, so partial copies (a lifted
# paragraph inside an otherwise-unique page) are detected even when
# whole-document similarity is negligible. Complements MinHash (whole-doc
# similarity) and the shingle-df scrubber (fragment frequency).


def winnow_fingerprints(toks: Column, w: int = 4, n: int = 3) -> Column:
    """Distinct winnowed fingerprints of a STAGED token array: min
    shingle hash per length-``w`` window (value-min — deterministic and
    engine-independent, unlike the paper's rightmost-tie rule which
    needs positions). Short docs (< w shingles) contribute their single
    global min. Pure array Column arithmetic — map-only."""
    hs = shingle_hashes_from_tokens(toks, n)
    m = F.size(hs)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return F.array_distinct(wins)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
) -> DataFrame:
    """Directional near-SUPERSET detection: ``(id_sub, id_super,
    containment, n_sub, n_shared)`` where ``containment = |S_sub ∩
    S_super| / |S_sub|`` over DISTINCT n-gram shingle-hash sets, kept
    when ``containment >= threshold``. Both directions of a pair can
    emit (mutual near-supersets ARE near-duplicates); ``containment``
    at 4 dp.

    Jaccard-based dedup misses this case by construction: a paragraph
    fully lifted into a 100× larger page has Jaccard ~ |sub|/|super|
    (tiny) but containment ~ 1.0 — the asymmetric statistic is the
    one that catches quote-expansion, scraped-and-padded, and
    aggregator pages (Broder's original resemblance/containment pair,
    SEQUENCES 1997).

    Candidates come from the RARE-shared-shingle inverted index (the
    winnow_pairs shape), NOT MinHash bands: banded LSH is tuned for
    symmetric Jaccard and under-recalls exactly the asymmetric pairs
    this operator exists for, while a contained doc shares ALL its
    shingles with its superset — any of its rare shingles co-keys the
    pair. Shingles in more than ``max_doc_freq`` docs are dropped
    before pairing (boilerplate; keeps the self-join linear — a shingle
    shared by k docs emits k² pairs otherwise); pairs must share
    >= ``min_shared`` rare shingles. The exact intersection then runs
    on candidate pairs only — as a (pair, shingle) equi-join over the
    same EXPLODED primitive table, not an ``array_intersect`` over
    staged arrays: everything this operator persists and shuffles is
    flat ``(doc, shingle)`` longs, which the columnar cache and the
    joins handle an order of magnitude faster than cached array rows
    (measured at sf0.1: persisting the array form cost ~9 s of a
    ~10 s wall; the exploded form materializes in ~1 s).
    """
    tk = memo_column(("tokens", text_col), lambda: tokens(F.col(text_col)))
    sh_hashes = memo_column(
        ("shingle_hashes_toks", n),
        lambda: shingle_hashes_from_tokens(F.col("_toks"), n),
    )
    ex = track(
        df.select(
            F.col(id_col), tk.alias("_toks")
        ).select(
            F.col(id_col),
            F.explode(F.array_distinct(sh_hashes)).alias("sv"),
        )
    )
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    rare = ex.join(
        ex.groupBy("sv")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("sv"),
        "sv",
    )
    # Bounded pair expansion instead of a self-join — see
    # _rare_key_pairs (r15): each rare sv's doc set is <= max_doc_freq.
    pairs = (
        _rare_key_pairs(rare, "sv", id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared_rare"))
        .filter(F.col("_shared_rare") >= min_shared)
    )
    # exact intersection on candidates only: fan each pair out to side
    # a's shingles (from the persisted flat table), hash-join side b's
    # (doc, shingle) rows, count matches
    inter = (
        pairs.join(ex.select(F.col(id_col).alias("id_a"), "sv"), "id_a")
        .join(ex.select(F.col(id_col).alias("id_b"), "sv"), ["id_b", "sv"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    joined = inter.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_na")),
        "id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_nb")),
        "id_b",
    )
    # Both directions from ONE pass over the verified pairs via a
    # generator explode of the two direction structs.
    both = joined.select(
        "_inter",
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_sub"),
                    F.col("id_b").alias("id_super"),
                    F.col("_na").alias("n_sub"),
                ),
                F.struct(
                    F.col("id_b").alias("id_sub"),
                    F.col("id_a").alias("id_super"),
                    F.col("_nb").alias("n_sub"),
                ),
            )
        ).alias("_d"),
    )
    return (
        both.select(
            F.col("_d.id_sub").alias("id_sub"),
            F.col("_d.id_super").alias("id_super"),
            F.round(
                F.col("_inter").cast("double") / F.col("_d.n_sub"), 4
            ).alias("containment"),
            F.col("_d.n_sub").cast("long").alias("n_sub"),
            F.col("_inter").cast("long").alias("n_shared"),
        )
        .filter(F.col("containment") >= threshold)
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 4,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints:
    ``(id_a, id_b, shared_fps)`` — the MOSS copy-detection report.

    Fingerprints appearing in more than ``max_doc_freq`` documents are
    dropped BEFORE pairing (the paper's own practice: ubiquitous
    fingerprints are boilerplate, and a fingerprint shared by k docs
    would emit k² pairs — the cap is what keeps the self-join linear at
    corpus scale, the same reason the LSH bands auto-scale). Shared
    counts are therefore counts of RARE shared fingerprints.

    Plan: map-side fingerprint explode (staged once, feeding both the
    frequency aggregate and the pair join — the crossdoc lesson), a
    bounded-df filter, then a fingerprint-keyed self-equi-join;
    shuffle volume O(docs · fingerprints/doc), never all-pairs. The
    window minima are an Arrow-vectorized numpy pass over the staged
    JVM shingle hashes (the with_doc_embedding precedent: a per-window
    ``array_min(slice(...))`` HOF lambda is interpreted per element —
    O(w · windows) lambda dispatches per doc dominated the wall; the
    numpy sliding-window min is integer arithmetic, bit-identical to
    the Column form, which the parity test pins)."""

    @F.pandas_udf("array<long>")
    def _fps(hs: pd.Series) -> pd.Series:
        def one(a):
            if a is None:
                return None
            arr = np.asarray(a, dtype=np.int64)
            if len(arr) <= w:
                mins = arr.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    arr, w
                ).min(axis=1)
            _, idx = np.unique(mins, return_index=True)
            return mins[np.sort(idx)]

        return hs.map(one)

    tk = memo_column(("tokens", text_col), lambda: tokens(F.col(text_col)))
    sh_hashes = memo_column(
        ("shingle_hashes_toks", n),
        lambda: shingle_hashes_from_tokens(F.col("_toks"), n),
    )
    ex = track(
        df.select(
            F.col(id_col), tk.alias("_toks")
        ).select(
            F.col(id_col),
            sh_hashes.alias("_hs"),
        ).select(
            F.col(id_col),
            F.explode(_fps(F.col("_hs"))).alias("fp"),
        )
    )
    rare = ex.join(
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("fp"),
        "fp",
    )
    # Bounded pair expansion instead of a self-join — see
    # _rare_key_pairs (r15): each rare fp's doc set is <= max_doc_freq.
    return (
        _rare_key_pairs(rare, "fp", id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def snapshot_novelty(
    new_docs: DataFrame,
    prev_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Crawl-over-crawl novelty accounting — the number a continuous
    web pipeline reports every snapshot (monthly Common Crawl cycles
    re-fetch most of the previous one): classify every NEW-snapshot
    document against the PREVIOUS snapshot as

    - ``exact_dup`` — positional fingerprint already present,
    - ``near_dup``  — some MinHash band key collides (the
      :func:`incremental_minhash_filter` criterion) but the
      fingerprint is new,
    - ``novel``     — neither,

    and report per ``group_col`` (or one ``'all'`` row):
    ``(group, n_docs, exact_dup, near_dup, novel, novelty_rate)`` with
    ``novelty_rate = novel / n_docs`` at 4 dp. The three classes
    partition the snapshot BY CONSTRUCTION: ``near`` requires
    ``no exact hit`` and ``novel`` requires ``no exact AND no near
    hit`` — so a fingerprint hash collision (or an empty-signature doc
    whose fingerprint matches) can never be double-counted as both
    exact and novel.

    Scale: the previous snapshot contributes two DISTINCT key sets —
    fingerprints (one long per doc) and band keys (``bands`` longs per
    doc) — the artifacts a production pipeline persists between
    snapshots instead of re-reading the old crawl; both joins are
    equi-joins against those bounded sets, the new side is map-only
    signature arithmetic, and the rollup is one bounded partial agg.
    """
    from linz_bde_uploader_spark.functions.text import fingerprint

    n_sig = bands * rows_per_band
    prev_fp = (
        prev_docs.select(fingerprint(F.col(text_col)).alias("_fp"))
        .distinct()
        .withColumn("_xhit", F.lit(1))
    )
    prev_bk = (
        with_minhash_signature(prev_docs, text_col, "_sig", n_sig)
        .select(
            F.posexplode(
                minhash_band_keys(F.col("_sig"), bands, rows_per_band)
            ).alias("_band", "_key")
        )
        .distinct()
    )
    grp = (
        F.col(group_col).cast("string")
        if group_col is not None
        else F.lit("all")
    )
    base = with_minhash_signature(new_docs, text_col, "_sig", n_sig).select(
        F.col(id_col),
        grp.alias("grp"),
        fingerprint(F.col(text_col)).alias("_fp"),
        F.col("_sig"),
    )
    near_ids = (
        base.select(
            F.col(id_col),
            F.posexplode(
                minhash_band_keys(F.col("_sig"), bands, rows_per_band)
            ).alias("_band", "_key"),
        )
        .join(prev_bk.select("_band", "_key"), ["_band", "_key"])
        .select(id_col)
        .distinct()
        .withColumn("_nhit", F.lit(1))
    )
    flagged = (
        base.join(prev_fp, "_fp", "left")
        .join(near_ids, [id_col], "left")
        .select(
            "grp",
            F.coalesce(F.col("_xhit"), F.lit(0)).alias("_x"),
            F.coalesce(F.col("_nhit"), F.lit(0)).alias("_n"),
        )
    )
    return flagged.groupBy(F.col("grp").alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_x").cast("long").alias("exact_dup"),
        F.sum(
            F.when((F.col("_n") == 1) & (F.col("_x") == 0), 1).otherwise(0)
        ).cast("long").alias("near_dup"),
        F.sum(
            F.when((F.col("_n") == 0) & (F.col("_x") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("novel"),
        F.round(
            F.sum(
                F.when(
                    (F.col("_n") == 0) & (F.col("_x") == 0), 1
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("novelty_rate"),
    )


def _rare_key_pairs(rare_rows: DataFrame, key_col: str,
                    id_col: str) -> DataFrame:
    """Ordered doc pairs from a rarity-bounded inverted index: one
    ``(id_a, id_b)`` row per (key, pair) with ``id_a < id_b``, given
    ``rare_rows`` = distinct (id, key) rows whose keys already passed a
    doc-freq <= k filter. r15 optimization (guide §3.4): the previous
    shape self-joined ``rare_rows`` on the key; because each key's doc
    set is bounded by the rarity filter, one collect_set aggregation
    (buffer <= k ids — never the hot-key skew bomb an UNfiltered
    collect would be) plus an in-array ordered pair expansion emits the
    identical pair multiset with ONE probe of the table instead of two
    and no join (measured: q_dedup_exact_spans 4.0 -> 3.0 s at sf0.1).
    sort_array makes id_a < id_b by construction, exactly the old
    ``filter(id_a < id_b)``."""
    ids = rare_rows.groupBy(key_col).agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("_ids")
    )
    return (
        ids.select(
            F.explode(
                F.flatten(F.transform(
                    F.col("_ids"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_ids"), i + F.lit(2), F.size("_ids")
                        ),
                        lambda b: F.struct(
                            a.alias("id_a"), b.alias("id_b")
                        ),
                    ),
                ))
            ).alias("_pr")
        )
        .select(F.col("_pr.id_a").alias("id_a"),
                F.col("_pr.id_b").alias("id_b"))
    )


def _staged_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stage the token array + its length as real attributes (the
    shingle lambdas index the array per position; an inline split
    would re-evaluate per element)."""
    tk = memo_column(("tokens", text_col), lambda: tokens(F.col(text_col)))
    return df.select(
        F.col(id_col), tk.alias("_toks")
    ).select(F.col(id_col), "_toks", F.size("_toks").alias("_nt"))


def _positional_shingles(staged: DataFrame, id_col: str, n: int) -> DataFrame:
    """Positional shingle table ``(id, _nt, start, sh, sv)`` — shingle
    STRINGS + their hash values (same arithmetic as
    scrub_duplicated_spans): the shingle array fed to posexplode
    INLINE (the staging rule), the hash computed per exploded row.
    The string rides along solely for the verify stage's exact
    token-level comparison; nomination's distinct/agg projections
    prune it, so only nominated pairs' positions shuffle it."""
    sh_arr = memo_column(
        ("shingles_toks", n), lambda: shingles_from_tokens(F.col("_toks"), n)
    )
    sv = memo_column(
        ("shingle_value_sh",), lambda: shingle_value(F.col("sh"))
    )
    return staged.select(
        F.col(id_col),
        F.col("_nt"),
        F.posexplode(sh_arr).alias("_p0", "sh"),
    ).select(
        id_col,
        "_nt",
        (F.col("_p0") + 1).alias("start"),
        "sh",
        sv.alias("sv"),
    )


def _cross_doc_span_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int = 6,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
):
    """Positional core of cross-document ExactSubstr span dedup:
    returns ``(staged_tokens, sized_spans)`` where ``sized_spans`` is
    ``(id_a, id_b, start_a, start_b, span_len)``. Split out (r15
    optimization, guide §2.2 project-early) so the APPLY face
    :func:`scrub_cross_doc_spans` — which only consumes positions —
    skips the span-text rebuild join and its extra document scan.
    Algorithm contract and scale notes live on the public face,
    :func:`cross_doc_exact_spans`.
    """
    staged = _staged_tokens(df, id_col, text_col)
    ex = track(_positional_shingles(staged, id_col, n))
    # exd feeds BOTH the doc-freq aggregation and the rare-anchored
    # pair expansion; persisting the distinct set saves its shuffle
    # being executed twice (measured ~20% of the 10x wall)
    exd = track(ex.select(id_col, "sv").distinct())
    rare = (
        exd.groupBy("sv")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("sv")
    )
    # Bounded pair expansion instead of a self-join — see
    # _rare_key_pairs (r15; measured 4.0 -> 3.0 s here).
    pairs = (
        _rare_key_pairs(exd.join(rare, "sv"), "sv", id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared_rare"))
        .filter(F.col("_shared_rare") >= min_shared)
        .select("id_a", "id_b")
    )
    m = (
        pairs.join(
            ex.select(
                F.col(id_col).alias("id_a"),
                F.col("_nt").alias("_nta"),
                F.col("start").alias("_sa"),
                "sv",
                F.col("sh").alias("_sha"),
            ),
            "id_a",
        )
        .join(
            ex.select(
                F.col(id_col).alias("id_b"),
                F.col("_nt").alias("_ntb"),
                F.col("start").alias("_sb"),
                "sv",
                F.col("sh").alias("_shb"),
            ),
            ["id_b", "sv"],
        )
        # token-level verify: tokens carry no spaces (single-space
        # tokenization), so string equality of the space-joined
        # n-grams IS token-sequence equality — a run of equal n-grams
        # makes the whole r+n-1 span exact, token for token
        .filter(F.col("_sha") == F.col("_shb"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    diag = F.col("_sa") - F.col("_sb")
    isl = F.col("_sa") - F.row_number().over(
        Window.partitionBy("id_a", "id_b", diag).orderBy("_sa")
    )
    runs = m.select(
        "id_a", "id_b", "_sa", "_sb", "_nta", "_ntb",
        diag.alias("_diag"), isl.alias("_isl"),
    )
    # _nta/_ntb are constant within a (pair, diagonal, island) group
    # (one document per side); MIN is used anyway so no aggregate in
    # the plan is order-sensitive even in principle (mirrors the
    # oracle's min())
    spans = runs.groupBy("id_a", "id_b", "_diag", "_isl").agg(
        F.min("_sa").alias("start_a"),
        F.min("_sb").alias("start_b"),
        F.min("_nta").alias("_nta"),
        F.min("_ntb").alias("_ntb"),
        (F.count(F.lit(1)) + F.lit(n - 1)).alias("_raw"),
    )
    span_len = F.least(
        F.col("_raw"),
        F.col("_nta") - F.col("start_a") + 1,
        F.col("_ntb") - F.col("start_b") + 1,
    )
    sized = spans.select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        span_len.cast("long").alias("span_len"),
    ).filter(F.col("span_len") >= min_span_tokens)
    return staged, sized


def cross_doc_exact_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int = 6,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
) -> DataFrame:
    """Cross-document ExactSubstr span dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") —
    BOUNDED: the published recipe builds a corpus-wide suffix array;
    this is the rare-shingle-anchored relational re-expression that
    never goes all-pairs and never materializes suffixes. Finds every
    maximal token span of length >= ``min_span_tokens`` shared EXACTLY
    (token-for-token) between two documents, the primitive that
    complements within-doc :func:`scrub_duplicated_spans` (which
    removes corpus-frequent fragments without saying WHO shares them)
    and doc-level :func:`containment_pairs` (which scores set overlap
    without positions).

    Two stages, the VERDICT-r9 shape:

    1. **Nominate** — candidate doc pairs must share at least
       ``min_shared`` RARE positional n-gram values (corpus doc-freq
       <= ``max_doc_freq``, the :func:`containment_pairs` inverted-
       index trick). A genuinely shared >= min_span span of fresh
       prose contains rare n-grams almost surely; boilerplate-only
       overlap (every n-gram frequent) is deliberately out of
       contract — that mass is :func:`scrub_duplicated_spans`'s job.
    2. **Verify** — for nominated pairs ONLY, equi-join the FULL
       positional n-gram tables of both sides (no frequency filter, so
       spans that CONTAIN frequent n-grams are still recovered whole),
       keep only positions whose n-gram STRINGS are equal
       token-for-token (the hash equi-join is the shuffle key; the
       string filter makes the match EXACT — ``shingle_value`` is
       built from ``token_value``'s (length, first-char) features, so
       hash collisions are common, and without the filter a colliding
       position adjacent to a genuine run would extend or fabricate a
       span; with it, a collision merely breaks the run and any
       genuine sub-runs survive as their own islands), then detect
       maximal runs per alignment diagonal ``d = start_a - start_b``:
       consecutive match positions collapse via the islands idiom
       (``start - row_number()`` per ``(pair, d)``), each island of
       ``r`` consecutive verified matches being a shared span of
       ``r + n - 1`` tokens, clamped to both documents' lengths (the
       padded short-doc shingle never overstates: a sub-``n`` document
       has one position, so its max span is ``n`` < min_span).

    Returns ``(id_a, id_b, start_a, start_b, span_len, span_text)``
    with ``id_a < id_b``, 1-based token offsets, and the span's text
    rebuilt from side a — one row per (pair, alignment); a span
    repeated within a document reports once per distinct alignment.
    Deterministic by construction: integer hashes, integer windows over
    unique (pair, diagonal, position) keys — no floats, no ties.

    Scale: the positional n-gram table is one map-side posexplode
    (linear in token volume), persisted FLAT (the containment lesson:
    exploded longs cache ~10x cheaper than array rows); nomination
    expands pairs from per-rare-shingle bounded doc sets only, each
    emitting <= C(max_doc_freq, 2) pairs; verification shuffles matches
    for nominated pairs only — linear in truly-shared content; the
    islands window partitions by (pair, diagonal), never globally.
    Reference parity anchor: the reference dedupes at row grain via
    table_version diffs (sql/02-bde_control_functions.sql.in:1576-1814);
    span-grain text dedup is the LLM-corpus extension of the same
    detect-then-apply contract.
    """
    staged, sized = _cross_doc_span_positions(
        df, id_col, text_col, min_span_tokens, n, min_shared, max_doc_freq
    )
    return (
        sized.join(
            staged.select(F.col(id_col).alias("id_a"), "_toks"), "id_a"
        )
        .select(
            "id_a", "id_b", "start_a", "start_b", "span_len",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_toks"),
                    F.col("start_a").cast("int"),
                    F.col("span_len").cast("int"),
                ),
            ).alias("span_text"),
        )
    )


def scrub_cross_doc_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int = 6,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
) -> DataFrame:
    """The APPLY face of :func:`cross_doc_exact_spans` — Lee et al.
    2022's actual ExactSubstr dedup step: every maximal cross-document
    shared span keeps its EARLIEST occurrence (the lowest-id document)
    and every LATER occurrence is removed token-for-token, leaving the
    surrounding unique prose intact. The pair-local keep-lowest rule
    composes transitively: for a span shared by docs a < b < c, b's
    copy is removed via (a,b) and c's via (a,c)/(b,c), so exactly one
    copy — a's — survives corpus-wide.

    Contrast with :func:`scrub_duplicated_spans`, which removes
    corpus-frequent fragments from EVERY document (no surviving copy,
    no pairing): this operator preserves one canonical occurrence and
    only needs the bounded pair nomination, making it the right tool
    when the duplicated mass is real content (syndicated articles,
    quoted passages) rather than boilerplate.

    Returns ``(id, n_removed, clean_text)``.

    Scale: inherits :func:`cross_doc_exact_spans`' bounds (rare-shingle
    nomination, per-pair verification linear in truly-shared content);
    the apply side is one span-bounded position explode into a per-doc
    set and the same one-pass ``array_except`` rebuild as
    :func:`scrub_duplicated_spans` — no Python, no quadratic term.
    r15 optimization (guide §2.2): only span POSITIONS are consumed
    here, so this rides :func:`_cross_doc_span_positions` and skips the
    detect face's span-text rebuild join (one fewer document scan +
    tokenize + join; removed-token sets identical by construction).
    """
    spans_staged, spans = _cross_doc_span_positions(
        df, id_col, text_col, min_span_tokens, n, min_shared, max_doc_freq
    )
    dup_pos = (
        spans.select(
            F.col("id_b").alias(id_col),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("span_len") - F.lit(1),
                )
            ).alias("pos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_dups"))
    )
    staged = spans_staged.select(F.col(id_col), F.col("_toks"))
    joined = staged.join(dup_pos, [id_col], "left").withColumn(
        "_dups", F.coalesce(F.col("_dups"), F.array().cast("array<bigint>"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1).cast("long"), F.size("_toks").cast("long")),
        F.col("_dups"),
    )
    kept = F.transform(
        kept_pos, lambda p: F.element_at(F.col("_toks"), p.cast("int"))
    )
    return joined.select(
        F.col(id_col),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def incremental_exact_span_mass(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int = 6,
    n: int = 3,
    min_shared: int = 2,
    max_doc_freq: int = 8,
) -> DataFrame:
    """Incremental ExactSubstr ingestion gate — the batch-vs-corpus
    face of :func:`cross_doc_exact_spans`, answering the ingestion
    question "is this NEW document a verbatim copy of something the
    corpus already holds, and how much of it?" — the span-grain
    sibling of :func:`incremental_minhash_filter` (which answers the
    same question at whole-document Jaccard grain) and the continuous-
    ingestion shape of Lee et al. 2022's ExactSubstr dedup. Reference
    parity anchor: the reference's incremental loads diff each arriving
    dataset against the standing table rather than re-diffing the
    corpus (sql/02-bde_control_functions.sql.in:1576-1814); this is
    that detect-against-standing-state contract at token-span grain.

    Same three bounded stages as the cross-doc operator, with the
    corpus side playing the role of the persisted standing index:

    1. **Nominate** — rarity is a property of the STANDING corpus
       (doc-freq over index documents <= ``max_doc_freq`` — the
       reusable statistic a production pipeline persists with the
       index); a (new, index) pair is nominated when it shares at
       least ``min_shared`` rare shingle values. A new-batch shingle
       absent from the index can nominate nothing, so the probe's
       join volume is bounded by genuinely shared content.
    2. **Verify** — nominated pairs equi-join their FULL positional
       shingle tables on the hash AND the shingle STRING (the
       token-level exactness guarantee; a hash collision breaks a run
       instead of extending it), and maximal runs per alignment
       diagonal collapse via the islands window, clamped to both
       document lengths, kept at >= ``min_span_tokens``.
    3. **Aggregate** — per NEW document: ``n_spans`` (maximal spans
       found), ``n_partners`` (distinct index documents sharing a
       span), ``covered_tokens`` (DISTINCT new-doc token positions
       inside any span — overlapping spans never double-count),
       ``max_span``, and ``copy_ratio = covered_tokens / n_tokens``
       rounded to 4 dp. Every new document gets a row (zeros when
       nothing matched) — an ingestion gate must emit a decision per
       arrival, not only per hit.

    Scale: the index-side positional table and its doc-freq statistic
    are computed once per standing corpus (persist them with the
    index; at 100 TB they are the artifact you keep); the probe
    explodes only the new batch (O(batch tokens)), nomination joins
    on rare values only, verification shuffles nominated pairs'
    positions only, and the final agg is keyed by the new batch's
    ids. Nothing rescans corpus text except the nominated partners'
    positional rows.
    """
    staged_new = _staged_tokens(new_docs, id_col, text_col)
    ex_new = track(_positional_shingles(staged_new, id_col, n))
    staged_idx = _staged_tokens(index_docs, id_col, text_col)
    ex_idx = track(_positional_shingles(staged_idx, id_col, n))
    # rarity over the STANDING corpus only
    idx_d = track(ex_idx.select(id_col, "sv").distinct())
    rare = (
        idx_d.groupBy("sv")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("sv")
    )
    new_d = ex_new.select(id_col, "sv").distinct()
    # The cross_doc_exact_spans bounded pair expansion was tried here
    # too (pre-group the standing side's rare shingles into per-sv doc
    # sets, explode partners in-row) and REGRESSED 3.3 -> 4.5 s at
    # sf0.1: the pre-group adds a full exchange on sv, while this
    # two-join chain probes the cached distinct tables with broadcasts
    # only. Kept as the measured-faster shape (r15).
    pairs = (
        new_d.select(F.col("sv"), F.col(id_col).alias("id_new"))
        .join(rare, "sv")
        .join(
            idx_d.select(F.col("sv"), F.col(id_col).alias("id_idx")), "sv"
        )
        .groupBy("id_new", "id_idx")
        .agg(F.count(F.lit(1)).alias("_shared_rare"))
        .filter(F.col("_shared_rare") >= min_shared)
        .select("id_new", "id_idx")
    )
    m = (
        pairs.join(
            ex_new.select(
                F.col(id_col).alias("id_new"),
                F.col("_nt").alias("_ntn"),
                F.col("start").alias("_sn"),
                "sv",
                F.col("sh").alias("_shn"),
            ),
            "id_new",
        )
        .join(
            ex_idx.select(
                F.col(id_col).alias("id_idx"),
                F.col("_nt").alias("_nti"),
                F.col("start").alias("_si"),
                "sv",
                F.col("sh").alias("_shi"),
            ),
            ["id_idx", "sv"],
        )
        .filter(F.col("_shn") == F.col("_shi"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    diag = F.col("_sn") - F.col("_si")
    isl = F.col("_sn") - F.row_number().over(
        Window.partitionBy("id_new", "id_idx", diag).orderBy("_sn")
    )
    runs = m.select(
        "id_new", "id_idx", "_sn", "_si", "_ntn", "_nti",
        diag.alias("_diag"), isl.alias("_isl"),
    )
    spans = runs.groupBy("id_new", "id_idx", "_diag", "_isl").agg(
        F.min("_sn").alias("start_new"),
        F.min("_si").alias("start_idx"),
        F.min("_ntn").alias("_ntn"),
        F.min("_nti").alias("_nti"),
        (F.count(F.lit(1)) + F.lit(n - 1)).alias("_raw"),
    )
    span_len = F.least(
        F.col("_raw"),
        F.col("_ntn") - F.col("start_new") + 1,
        F.col("_nti") - F.col("start_idx") + 1,
    )
    sized = track(
        spans.select(
            "id_new",
            "id_idx",
            F.col("start_new").cast("long").alias("start_new"),
            span_len.cast("long").alias("span_len"),
        ).filter(F.col("span_len") >= min_span_tokens)
    )
    per_doc = (
        sized.select(
            "id_new",
            F.explode(
                F.sequence(
                    F.col("start_new"),
                    F.col("start_new") + F.col("span_len") - F.lit(1),
                )
            ).alias("pos"),
        )
        .distinct()
        .groupBy("id_new")
        .agg(F.count(F.lit(1)).cast("long").alias("covered_tokens"))
    )
    stats = sized.groupBy("id_new").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct("id_idx").cast("long").alias("n_partners"),
        F.max("span_len").cast("long").alias("max_span"),
    )
    return (
        staged_new.select(F.col(id_col), F.col("_nt"))
        .join(stats.withColumnRenamed("id_new", id_col), id_col, "left")
        .join(per_doc.withColumnRenamed("id_new", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias(
                "n_spans"
            ),
            F.coalesce(F.col("n_partners"), F.lit(0)).cast("long").alias(
                "n_partners"
            ),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
            F.coalesce(F.col("max_span"), F.lit(0)).cast("long").alias(
                "max_span"
            ),
            F.round(
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.greatest(F.col("_nt"), F.lit(1)),
                4,
            ).alias("copy_ratio"),
        )
    )


def lsh_scurve(t: float, rows_per_band: int, bands: int) -> float:
    """The MinHash-LSH s-curve P(candidate | jaccard = t) =
    1 - (1 - t^r)^b (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets ch. 3), evaluated with REPEATED MULTIPLICATION so both
    engines consume bit-identical doubles when the value is embedded
    as a plan-build-time literal (pow() can differ in the last ulp
    across libm implementations; chained IEEE multiplies cannot)."""
    tr = 1.0
    for _ in range(rows_per_band):
        tr *= t
    y = 1.0 - tr
    yb = 1.0
    for _ in range(bands):
        yb *= y
    return 1.0 - yb


def lsh_band_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 2,
    verify_threshold: float = 0.5,
    grid: "tuple[float, ...] | None" = None,
) -> DataFrame:
    """Band-planning datasheet for the MinHash-LSH family — the tuning
    story behind every banded dedup operator here: for the configured
    ``(bands, rows_per_band)``, the theoretical s-curve
    ``P(candidate | jaccard=t) = 1 - (1 - t^r)^b`` over a threshold
    grid, joined with the MEASURED operating point of this corpus —
    candidate-pair count, verified count at ``verify_threshold``, and
    candidate precision. Reading the sheet answers "are my bands
    catching the duplicates I verify, and how much verify work does a
    candidate cost" — the audit a pipeline runs before trusting a
    (b, r) choice at 100 TB (the reference's analog is its row-count
    tolerance audit gating uploads, tables.conf row_tol_error — a
    measured-vs-expected sanity sheet before an expensive apply).

    Returns one row per grid threshold:
    ``(t, p_candidate, n_candidates, n_verified, precision)`` —
    the measured columns are corpus-level constants repeated across
    the grid (a flat datasheet beats a ragged union for the driver
    surface; no NULLs, no arrays).

    Scale: the s-curve is |grid| plan-build-time literals; the
    measured half reuses the audited banded candidate join (shuffle
    O(n·bands), never all-pairs) + the exact verify on candidates
    only, reduced to ONE scalar row; the grid attaches by EXPLODING a
    literal struct array inside that one-row aggregate — no join of
    any kind (a literal-key equi-join constant-folds back into a
    nested-loop cross; the generator shape sidesteps it)."""
    if grid is None:
        grid = tuple((i + 1) / 20.0 for i in range(19))  # 0.05 .. 0.95
    curve = [
        (float(t), lsh_scurve(float(t), rows_per_band, bands))
        for t in grid
    ]
    curve_lit = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"), F.lit(p).alias("p_candidate")
            )
            for t, p in curve
        ]
    )
    pairs = minhash_candidate_pairs(df, id_col, text_col, bands, rows_per_band)
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    sim = (
        pairs.join(
            toks.select(
                F.col(id_col).alias("id_a"), F.col("_toks").alias("_tka")
            ),
            "id_a",
        )
        .join(
            toks.select(
                F.col(id_col).alias("id_b"), F.col("_toks").alias("_tkb")
            ),
            "id_b",
        )
        .select(
            ngram_jaccard_from_tokens(
                F.col("_tka"), F.col("_tkb")
            ).alias("_j")
        )
    )
    meas = sim.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        # coalesce: sum over ZERO candidate rows is NULL, but the
        # datasheet (and its oracle twin) reports 0 verified on the
        # empty operating point
        F.coalesce(
            F.sum(
                F.when(F.col("_j") >= verify_threshold, 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_verified"),
    ).select(
        "n_candidates",
        "n_verified",
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("n_verified") / F.col("n_candidates"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
    )
    return (
        meas.select(
            F.explode(curve_lit).alias("_g"),
            "n_candidates",
            "n_verified",
            "precision",
        )
        .select(
            F.col("_g.t").alias("t"),
            F.col("_g.p_candidate").alias("p_candidate"),
            "n_candidates",
            "n_verified",
            "precision",
        )
        .orderBy("t")
    )


def c4_sentence_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    sep: str = ". ",
) -> DataFrame:
    """The literal published C4 dedup step (Raffel et al. 2020 §2.2:
    "we removed all but one of any three-sentence span occurring more
    than once in the data set") — corpus-wide KEEP-FIRST at sentence
    grain, a different contract from every other span operator here:
    :func:`scrub_duplicated_spans` removes frequent fragments from
    EVERY document (no survivor), :func:`scrub_cross_doc_spans` keeps
    the earliest copy but needs pairwise nomination; this one is the
    global hash-keyed keep-first C4 actually ran — no pair join at
    all.

    Sentences are ``sep``-delimited (C4 splits on sentence
    punctuation; the separator is a parameter because the engine's
    tokenization contract is exact-string, not linguistic). Every
    ``k``-consecutive-sentence window is a span; the span's FIRST
    corpus occurrence (lowest (doc id, position)) survives, every
    later occurrence has its ``k`` sentences removed; a sentence
    covered by ANY removed span is dropped (distinct positions, no
    double-count). Documents with fewer than ``k`` sentences emit no
    spans and pass through whole.

    Returns ``(id, n_sentences, n_removed, clean_text)`` — every
    document emits.

    Deterministic: the winner per span STRING is the exact struct-min
    over (doc id, position) — integer totals, no hashes in the
    decision path (the span text itself is the key, so there are no
    collision semantics to reason about).

    Scale: sentence explode is map-side; ONE shuffle keyed by the
    span string (partial-agg min is map-side combined; key cardinality
    = distinct spans); removed occurrences flow back through a
    doc-keyed aggregation bounded by duplicated mass; the rebuild is
    the one-pass ``array_except`` idiom. No self-join, no pair table —
    the cheapest of the span family, which is exactly why C4 could
    run it at web scale."""
    if k <= 0:
        raise ValueError("k must be positive")
    staged = df.select(
        F.col(id_col),
        # split() takes a REGEX — escape the literal separator ('. '
        # would otherwise match any-char + space)
        F.split(F.col(text_col), re.escape(sep), -1).alias("_sents"),
    ).select(
        id_col, "_sents", F.size("_sents").alias("_ns")
    )
    # k-sentence windows, 1-based start positions; sequence(1, 0) is
    # DESCENDING in Spark (the word_ngrams gotcha), so the window
    # count is clamped to >= 1 and the sub-window case owns the empty
    # array explicitly
    cnt = F.col("_ns") - (k - 1)
    wins = F.when(cnt <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(sep, F.slice(F.col("_sents"), i, k)),
        )
    )
    spans = staged.select(
        F.col(id_col),
        F.posexplode(wins).alias("_p0", "_span"),
    ).select(
        id_col, (F.col("_p0") + 1).alias("pos"), "_span"
    )
    # corpus-wide first occurrence per span string: ONE window pass
    # over the spans table (a groupBy + join-back would re-execute
    # the sentence-split/window/explode lineage twice — the window
    # keeps the documented one-span-keyed-shuffle claim literally
    # true)
    from pyspark.sql import Window  # noqa: PLC0415

    wspan = Window.partitionBy("_span")
    marked = spans.select(
        F.col(id_col),
        "pos",
        F.min(F.struct(F.col(id_col), F.col("pos")))
        .over(wspan)
        .alias("_first"),
        F.count(F.lit(1)).over(wspan).alias("_n"),
    )
    removed = (
        marked.filter(
            (F.col("_n") > 1)
            & (
                (F.col(id_col) != F.col(f"_first.{id_col}"))
                | (F.col("pos") != F.col("_first.pos"))
            )
        )
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("_cover"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("_cover").alias("_drop"))
    )
    joined = staged.join(removed, [id_col], "left").withColumn(
        "_drop",
        F.coalesce(F.col("_drop"), F.array().cast("array<bigint>")),
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1).cast("long"), F.col("_ns").cast("long")),
        F.col("_drop"),
    )
    kept = F.transform(
        kept_pos, lambda p: F.element_at(F.col("_sents"), p.cast("int"))
    )
    return joined.select(
        F.col(id_col),
        F.col("_ns").cast("long").alias("n_sentences"),
        F.size("_drop").cast("long").alias("n_removed"),
        F.concat_ws(sep, kept).alias("clean_text"),
    )


def soft_dedup(
    docs: DataFrame,
    prefix_tokens: int = 8,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SoftDeDup — duplicate REWEIGHTING instead of removal (He et al.
    2024, "SoftDedup: an Efficient Data Reweighting Method for
    Speeding Up Language Model Pre-training"): every document stays in
    the corpus, but its sampling weight shrinks with the measured
    "commonness" of its content, so the trainer sees duplicated mass
    less often without the hard gate's information loss (the paper's
    motivation: hard dedup deletes the tail of legitimately-common
    content along with the spam).

    The commonness signal here is the document's duplicate-CLUSTER
    size under a head-prefix key — the first ``prefix_tokens``
    whitespace tokens joined back to a string, the template-page
    signature (same boilerplate lead, differing tails) that exact
    whole-text hashing misses. One implementation, two dedup drivers:
    ``keep_hard`` carries the hard-gate baseline (min-id winner, the
    :func:`exact_dedup` rule) beside the soft weight, so the datasheet
    prices both policies off one pass.

    Per document: ``soft_weight = round(1 / dup_count, 6)`` and
    ``effective_tokens = round(n_tokens / dup_count, 4)`` — each ONE
    double division of exact integer counts (no float fold order);
    a cluster of one keeps weight 1.0 exactly. Every document emits
    its row (both sides of the hard gate — the no-silent-drop rule).

    Returns ``(doc_id, source, n_tokens, dup_count, soft_weight,
    effective_tokens, keep_hard)``.

    Scale: ONE shuffle on the prefix key (the :func:`exact_dedup`
    key shape with a bounded-length key instead of the whole text),
    then a count/min window inside each cluster partition — cluster
    sizes are the duplicate mass itself, never the corpus. Map-only
    otherwise; no collect, no iteration.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    from linz_bde_uploader_spark.functions.text import (  # noqa: PLC0415
        token_count,
        tokens,
    )

    if prefix_tokens <= 0:
        raise ValueError("prefix_tokens must be positive")
    key = F.concat_ws(
        " ", F.slice(tokens(F.col(text_col)), 1, int(prefix_tokens))
    )
    staged = docs.select(
        F.col(id_col),
        F.col(group_col).cast("string").alias("source"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        key.alias("_k"),
    )
    w = Window.partitionBy("_k")
    return staged.select(
        id_col,
        "source",
        "n_tokens",
        F.count(F.lit(1)).over(w).cast("long").alias("dup_count"),
        F.min(id_col).over(w).alias("_keeper"),
    ).select(
        id_col,
        "source",
        "n_tokens",
        "dup_count",
        F.round(F.lit(1.0) / F.col("dup_count"), 6).alias("soft_weight"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("dup_count"), 4
        ).alias("effective_tokens"),
        (F.col(id_col) == F.col("_keeper")).cast("int").alias("keep_hard"),
    )
