"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023) over hashed unigram features, as two declarative Spark jobs.

Given a raw corpus and a TARGET predicate (rows that look like the
distribution you want more of — a wiki/book slice, a high-quality
subset), DSIR:

1. fits two bag-of-hashed-ngram multinomials over ``dim`` feature
   buckets — one from the target rows, one from the whole corpus —
   with add-one smoothing;
2. weights every document by its log-likelihood ratio
   ``log w(d) = Σ_t  [ log p_target(b(t)) − log p_raw(b(t)) ]``
   summed over the document's tokens; and
3. resamples ``n`` documents WITHOUT replacement with probability
   ∝ exp(log w) via the Gumbel-top-k trick.

Everything is deterministic and oracle-expressible:

- the feature hash is the engine-standard :func:`token_value`
  (length/first-char mix — swap in a real hash behind the same column
  contract) reduced mod ``dim``;
- the per-bucket log-ratio is computed in double from exact integer
  counts (IEEE-identical on any engine) and then frozen to a 1e-6
  fixed-point BIGINT, so the per-document sum is an INTEGER sum —
  fold-order-free, no float drift between Spark's partial aggregates
  and a serial oracle;
- the Gumbel perturbation uses a hashed uniform (the same pre-reduced
  Knuth mix as ``sampling.es_key``; u ∈ (0,1], so ``-ln(-ln u)`` is
  finite) instead of ``rand()`` — re-runs, engines, and partitionings
  select the SAME documents, and a different ``salt`` is a fresh draw.

Scale (100 TB): two passes over the tokenized corpus — one to count
bucket frequencies (map-side explode, partial-agg shuffle whose state
is ``dim`` rows), one to score documents (broadcast the ``dim``-row
log-ratio table — model state, never a data-plane collect — then one
doc-keyed partial-agg shuffle). The totals needed for smoothing are an
unpartitioned window over the ``dim``-row aggregate, not a driver
round-trip. The final selection is a TakeOrderedAndProject top-n, not a
global sort. Nothing grows super-linearly: state is O(dim), work is
O(corpus tokens).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linz_bde_uploader_spark.functions.text import (
    HASH_MIX,
    HASH_MOD,
    token_value,
    tokens,
)

#: hashed-feature dimensionality for the importance model. Small enough
#: that the log-ratio table is a trivially broadcastable model (dim
#: rows), large enough that frequent tokens spread over distinct
#: buckets. The published recipe uses 10k buckets of word bigrams; the
#: knob scales without a plan change.
DSIR_DIM = 256

#: fixed-point scale freezing the per-bucket log-ratio to integers so
#: per-document sums are exact in any aggregation order.
_FP = 1_000_000


def _feature_stream(
    docs: DataFrame,
    target: Column,
    id_col: str,
    text_col: str,
    dim: int,
    ngram: int,
) -> DataFrame:
    """One row per hashed n-gram feature occurrence:
    ``(_id, _t, _b)``. ``ngram=1`` hashes single tokens; ``ngram=2``
    hashes adjacent pairs (zip the token array against itself shifted
    by one — the ``lm.doc_bigrams`` idiom: map-side explode, no
    shuffle), which is the published DSIR feature set. Bigram docs
    need >= 2 tokens; shorter ones carry no bigram evidence."""
    if ngram == 1:
        return docs.select(
            F.col(id_col).alias("_id"),
            target.cast("int").alias("_t"),
            F.explode(tokens(F.col(text_col))).alias("_tok"),
        ).withColumn("_b", F.pmod(token_value(F.col("_tok")), F.lit(dim)))
    if ngram != 2:
        raise ValueError("ngram must be 1 or 2")
    toks = docs.select(
        F.col(id_col).alias("_id"),
        target.cast("int").alias("_t"),
        tokens(F.col(text_col)).alias("_toks"),
    ).filter(F.size("_toks") >= 2)
    sz = F.size("_toks")
    pairs = F.arrays_zip(
        F.slice(F.col("_toks"), 1, sz - 1).alias("p"),
        F.slice(F.col("_toks"), 2, sz - 1).alias("c"),
    )
    ex = toks.select(
        "_id", "_t", F.explode(pairs).alias("_pr")
    )
    bv = F.pmod(
        token_value(F.col("_pr.p")) * 31 + token_value(F.col("_pr.c")),
        F.lit(HASH_MOD),
    )
    return ex.withColumn("_b", F.pmod(bv, F.lit(dim))).drop("_pr")


def _lam_table(feats: DataFrame, dim: int, with_default: bool = False) -> DataFrame:
    """The frozen per-bucket log-ratio table ``(_b, _li)`` — ONE plan
    shared by the batch scorer and the offline model fit, so both sides
    round the SAME JVM ``ln`` (a driver-side ``math.log`` twin could
    disagree by an ulp exactly at a 1e-6 rounding boundary — ADVICE r6).

    Smoothing totals via an unpartitioned window over the dim-row
    aggregate: tiny by construction, and it keeps the whole model fit
    inside one declarative plan (no scalar-subquery BNLJ, no collect).
    ``with_default`` unions one all-zero sentinel row (``_b = -1``):
    zero counts leave the window totals unchanged, so its ratio IS the
    all-smoothing default for unseen buckets — through the same ``ln``."""
    counts = feats.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_raw"),
        F.sum("_t").cast("long").alias("_tgt"),
    )
    if with_default:
        counts = counts.unionByName(
            feats.sparkSession.createDataFrame(
                [(-1, 0, 0)], "_b long, _raw long, _tgt long"
            )
        )
    whole = Window.partitionBy()
    ratio = (
        F.log((F.col("_tgt") + F.lit(1.0))
              / (F.sum("_tgt").over(whole) + F.lit(float(dim))))
        - F.log((F.col("_raw") + F.lit(1.0))
                / (F.sum("_raw").over(whole) + F.lit(float(dim))))
    )
    return counts.select(
        "_b", F.round(ratio * _FP).cast("long").alias("_li")
    )


def dsir_logratio(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DSIR_DIM,
    ngram: int = 1,
) -> DataFrame:
    """Per-document DSIR importance weight: ``(id, n_tokens, logw)``
    where ``logw`` is the hashed-n-gram log-likelihood ratio of the
    target model over the raw model (add-one smoothed), rounded to 6 dp
    (``n_tokens`` counts the FEATURES scored — tokens for ``ngram=1``,
    adjacent pairs for ``ngram=2``, the published recipe's feature
    set). Documents with zero features carry no evidence and are
    omitted (they can never be meaningfully up-weighted)."""
    toks = _feature_stream(docs, target, id_col, text_col, dim, ngram)
    lam = _lam_table(toks, dim)

    scored = (
        toks.join(F.broadcast(lam), "_b")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_li").alias("_s"),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("_s") / F.lit(float(_FP)), 6).alias("logw"),
    )


def dsir_select(
    docs: DataFrame,
    n: int,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DSIR_DIM,
    salt: int = 0,
    ngram: int = 1,
) -> DataFrame:
    """Gumbel-top-k importance resampling: the ``n`` documents with the
    largest ``logw + Gumbel(hash(id, salt))`` are a sample without
    replacement with inclusion probability ∝ exp(logw) — the standard
    reduction, with the noise drawn from a deterministic hashed uniform
    so the selection is reproducible. Returns
    ``(id, n_tokens, logw, score)`` ordered by the perturbed score."""
    w = dsir_logratio(docs, target, id_col, text_col, dim, ngram)
    u = (
        F.pmod(
            F.pmod(F.col(id_col).cast("long") + F.lit(salt),
                   F.lit(HASH_MOD)) * HASH_MIX,
            F.lit(HASH_MOD),
        )
        + 1
    ) / (HASH_MOD + 1.0)
    score = F.round(F.col("logw") + (-F.log(-F.log(u))), 6)
    return (
        w.withColumn("score", score)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(n)
    )


def logratio_model(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DSIR_DIM,
    ngram: int = 1,
) -> list[int]:
    """Freeze the DSIR importance model: the per-bucket fixed-point
    log-ratios as a dense ``dim``-length list (buckets with no corpus
    occurrences get the all-smoothing ratio ``ln((0+1)/(T+dim)) −
    ln((0+1)/(R+dim))``, so unseen features still score consistently).
    This is model state — O(dim) scalars, the IVF-centroid/BPE-merge
    collect pattern — that :func:`score_with_model` folds into a
    map-only plan: train offline on the corpus, score new documents
    without a join.

    The frozen λ is collected from the SAME :func:`_lam_table` plan the
    batch scorer joins against (one JVM ``ln`` + one rounding for both
    faces — exact parity by construction, not by libm agreement)."""
    feats = _feature_stream(docs, target, id_col, text_col, dim, ngram)
    rows = _lam_table(feats, dim, with_default=True).collect()
    default = next(int(r._li) for r in rows if r._b == -1)
    lam = [default] * dim
    for r in rows:
        if r._b >= 0:
            lam[int(r._b)] = int(r._li)
    return lam


def score_with_model(
    df: DataFrame,
    lam: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents against a FROZEN model from
    :func:`logratio_model` — map-only: the λ table is a literal array
    folded into codegen (element_at per feature, sequential integer
    fold), so there is no join, no shuffle, and the plan attaches to a
    STREAM unchanged (the quality-gate pattern). Returns
    ``(id, n_tokens, logw)``; zero-feature documents score logw 0.0
    with n_tokens 0 (they carry no evidence either way).

    Exactly matches :func:`dsir_logratio` on the same corpus the model
    was fit on — the parity test pins it."""
    if ngram not in (1, 2):
        raise ValueError("ngram must be 1 or 2")
    dim = len(lam)
    lam_lit = F.array(*[F.lit(int(x)) for x in lam])
    toks = tokens(F.col(text_col))
    if ngram == 1:
        feats = F.transform(
            toks,
            lambda t: F.element_at(
                lam_lit, (F.pmod(token_value(t), F.lit(dim)) + 1).cast("int")
            ),
        )
        n = F.size(toks)
    else:
        sz = F.size(toks)
        pairs = F.arrays_zip(
            F.slice(toks, 1, sz - 1).alias("p"),
            F.slice(toks, 2, sz - 1).alias("c"),
        )
        feats = F.transform(
            pairs,
            lambda pr: F.element_at(
                lam_lit,
                (
                    F.pmod(
                        F.pmod(
                            token_value(pr["p"]) * 31 + token_value(pr["c"]),
                            F.lit(HASH_MOD),
                        ),
                        F.lit(dim),
                    )
                    + 1
                ).cast("int"),
            ),
        )
        n = F.when(sz >= 2, sz - 1).otherwise(F.lit(0))
    s = F.aggregate(
        feats, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    # passthrough: extra input columns carried through (gate-chain
    # composition — see text.quality_classifier for the same knob).
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n.cast("long").alias("n_tokens"),
        F.when(
            n > 0, F.round(s / F.lit(float(_FP)), 6)
        ).otherwise(F.lit(0.0)).alias("logw"),
    )
