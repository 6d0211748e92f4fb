"""Bounded-memory sketches — the estimator family a 100-TB pipeline
uses where exact computation's key space or sort volume is unbounded:
count-min (frequency), fixed-bin histograms (quantiles), and
HyperLogLog (distinct cardinality). Each sketch's state is a fixed
cell count regardless of cardinality, every update is a partial-agg
increment (one shuffle whose key space IS the sketch), and merges are
cell-wise adds/maxes — the property that makes them streamable and
cluster-scalable for free.

All hashing is the engine's deterministic integer-mixing family
(``text.token_value`` composed with fixed affine permutations — the
MinHash parameter style), so the sketch table is exactly reproducible
in ANSI SQL and across engines: the correctness harness hash-matches
the full estimator output against DuckDB.

Estimates are upper bounds: est >= true count always (only hash
collisions inflate, never deflate) — the property the verified
heavy-hitters query pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from linz_bde_uploader_spark.functions.litexpr import lit_double_array

from linz_bde_uploader_spark.functions.text import token_value, tokens

#: affine permutation parameters for the depth hash rows (prime
#: multipliers, fixed — deterministic, engine-independent).
CMS_PARAMS = [
    (1000003, 17),
    (1000033, 257),
    (1000037, 5),
    (1000039, 65537),
]

HASH_MOD = 2147483647


def _bucket(val, a: int, b: int, width: int):
    return ((val * a + b) % HASH_MOD) % width


def countmin_table(
    df: DataFrame,
    text_col: str = "text",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Build the sketch: ``(row, bucket, cnt)`` — depth·width cells at
    most, regardless of token cardinality. One explode + one partial-agg
    shuffle whose key space is the sketch itself (map-side combine does
    almost all the work; reducers see ≤ depth·width keys)."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).select(
        token_value(F.col("tok")).alias("_tv")
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _bucket(F.col("_tv"), a, b, width).alias("bucket"),
            )
            for i, (a, b) in enumerate(CMS_PARAMS[:depth])
        ]
    )
    return (
        toks.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str = "tok",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point estimates for every row of ``keys``: min over the depth
    cells each key hashes to. The sketch is broadcast (≤ depth·width
    rows by construction), so estimation is map-only over the keys."""
    kv = keys.withColumn("_tv", token_value(F.col(key_col)))
    out = kv
    for i, (a, b) in enumerate(CMS_PARAMS[:depth]):
        cell = cms.filter(F.col("row") == i).select(
            F.col("bucket").alias(f"_b{i}"), F.col("cnt").alias(f"_c{i}")
        )
        out = out.join(
            F.broadcast(cell),
            _bucket(F.col("_tv"), a, b, width) == F.col(f"_b{i}"),
            "left",
        ).drop(f"_b{i}")
    est = F.least(*[F.coalesce(F.col(f"_c{i}"), F.lit(0)) for i in range(depth)])
    return out.withColumn("cms_est", est).drop(
        "_tv", *[f"_c{i}" for i in range(depth)]
    )


def heavy_hitters_verified(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Top-k tokens by EXACT count, annotated with their count-min
    estimate — the sketch-accuracy audit a pipeline runs before trusting
    the sketch on keys too numerous to count exactly. Output
    ``(tok, exact_cnt, cms_est)``; the est >= exact invariant holds by
    construction."""
    from linz_bde_uploader_spark.caching import track  # noqa: PLC0415

    exact = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("tok"))
        .limit(k)
    )
    # track(): countmin_estimate probes the sketch once PER DEPTH ROW
    # (four broadcast cell joins), and untracked each probe re-ran the
    # whole sketch build — explode + partial agg over the corpus — so
    # the audit scanned documents 10x (4 sketch + 1 exact, doubled by
    # the oracle-side-identical plan; plan dump committed). The sketch
    # is <= depth*width = 1,024 rows — bounded model state, the LM
    # family's track convention (guide §2.4/§5). Controlled alternating
    # A/B at sf0.1 (6 reps): min 2.29 -> 2.05 s, median 3.63 -> 3.20;
    # corpus scans in the plan 10 -> 4 (the dump's remaining "Scan"
    # lines are the cached relation's printed lineage).
    cms = track(countmin_table(df, text_col, width, depth))
    return countmin_estimate(cms, exact, "tok", width, depth).select(
        "tok", "exact_cnt", "cms_est"
    )


def _bin_of(score, lo: float, hi: float, n_bins: int):
    """Histogram bin of a score: clamped floor((x-lo)/w) — out-of-range
    values land in the edge bins (documented clamp, never dropped)."""
    w = (hi - lo) / n_bins
    raw = F.floor((score - F.lit(float(lo))) / F.lit(w)).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def histogram_sketch(
    df: DataFrame,
    score_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    stratum_col: str | None = None,
) -> DataFrame:
    """Fixed-bin histogram sketch — the mergeable quantile estimator for
    score distributions whose range is known up front (lengths, quality
    probabilities, perplexities): state is ``n_bins`` counters per
    stratum regardless of row count, merges are counter adds (so any
    split of the same rows merges to the same sketch), and
    any quantile reads as a cumulative-sum scan with error bounded by
    one bin width. The GK/t-digest trade (adaptive bins, no range
    assumption) buys accuracy the pipeline's bounded, pre-rounded
    scores don't need — and costs the cross-engine exactness every
    estimator here keeps.

    Returns ``(stratum?, bin, cnt)``; NULL scores are dropped (no rank).

    Scale: one map-side bin projection + one partial-agg shuffle whose
    key space IS the sketch (≤ |strata|·n_bins keys — reducers see the
    sketch, not the data)."""
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    keys = ([stratum_col] if stratum_col else []) + ["bin"]
    return (
        df.filter(F.col(score_col).isNotNull())
        .select(
            *([stratum_col] if stratum_col else []),
            _bin_of(F.col(score_col), lo, hi, n_bins).alias("bin"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def sketch_quantiles(
    sketch: DataFrame,
    qs: "list[float] | tuple[float, ...]",
    lo: float,
    hi: float,
    n_bins: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Quantile estimates from a :func:`histogram_sketch`: for each q,
    the UPPER EDGE of the first bin whose cumulative count reaches rank
    ``ceil(q·N)`` — a deterministic, engine-exact read (no float
    interpolation), over-estimating by at most one bin width.

    Returns ``(stratum?, q, est)``.

    Scale: the input is already ≤ |strata|·n_bins rows; one window
    cumsum + one bounded agg over it — driver-free and constant-cost
    at any corpus size."""
    from pyspark.sql import Window  # noqa: PLC0415

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError("each q must be in (0, 1]")
    w = (hi - lo) / n_bins
    part = [stratum_col] if stratum_col else []
    win = Window.partitionBy(*part).orderBy("bin")
    tot = Window.partitionBy(*part)
    cum = sketch.select(
        *part,
        "bin",
        F.sum("cnt").over(win).alias("_cum"),
        F.sum("cnt").over(tot).alias("_n"),
    )
    qlit = F.explode(lit_double_array(qs)).alias("q")
    per_q = cum.select(*part, "bin", "_cum", "_n", qlit)
    hit = F.when(
        F.col("_cum") >= F.ceil(F.col("q") * F.col("_n")), F.col("bin")
    )
    return (
        per_q.groupBy(*part, "q")
        .agg(
            (F.lit(float(lo)) + F.lit(w) * (F.min(hit) + F.lit(1)))
            .alias("est")
        )
    )


#: HyperLogLog bit mixer multiplier (the 32-bit xorshift-multiply
#: finalizer constant, 0x45d9f3b — the published "hash32/lowbias"
#: family): HLL needs UNIFORM BITS, which the affine MinHash maps
#: cannot provide (an affine image of sequential ids never reaches
#: the high range, so leading-zero ranks aren't geometric — measured:
#: est 30× off on sequential user ids). Two xorshift-multiply rounds
#: masked to 31 bits are exact int64 work on both engines (max
#: intermediate 2^31·0x45d9f3b < 2^58).
HLL_MIX = 0x45D9F3B
_M31 = 0x7FFFFFFF


def _hll_mix(key):
    """31-bit xorshift-multiply hash of a long column — uniform bits,
    engine-exact (&, ^, >> and int64 · are identical in Spark and
    ANSI SQL; no overflow: every intermediate < 2^58). The full 64-bit
    key participates: the HIGH half is passed through one
    xorshift-multiply round of its own and XOR-folded into the low
    half FIRST, so key families congruent mod 2^31 land on distinct
    inputs to the main mix (a plain ``key ^ (key >> 31)`` fold is NOT
    enough — it maps ``k + 2^31`` onto ``k ^ 1``, a structured
    pairwise collision with the low family, and the raw mask was
    worse: full identity. Either biases estimates low over wide id
    spaces). ``mix(0) = 0``, so the fold is the identity for keys
    already inside [0, 2^31) — narrow-domain hashes are unchanged.
    The high half is read with a LOGICAL shift (shiftrightunsigned):
    an arithmetic shift would sign-extend every negative key to a
    hi0 whose self-fold ``(-1) ^ ((-1) >> 31)`` collapses to 0 — the
    same family as hi0=0, colliding ``-k`` with ``2^31 - k`` (they
    share low halves). With the logical shift, hi0 carries the key's
    bits 31-63 verbatim (33 bits, non-negative). The 33→31-bit
    reduction is necessarily 4:1, but HOW it collides matters: the
    ``· MIX & M31`` step annihilates input bits >= 31, so any SINGLE
    xorshift spread leaves id-stride-aligned whole-family collisions
    (a plain ``hi0 ^ (hi0 >> 31)`` fold collided ``2^62 + k`` with
    ``2^31 + k`` for EVERY k — bit 62 landed exactly on bit 31's
    spread target). The DOUBLE xorshift (``>> 16`` then ``>> 8``)
    copies bits 31-32 into three surviving low positions before the
    multiply, so collision partners require inverting the xorshift
    chain instead of adding a power-of-two stride — pattern-free,
    which is all a 4:1 reduction can promise."""
    hi0 = F.shiftrightunsigned(key, 31)
    hx = hi0.bitwiseXOR(F.shiftright(hi0, 16))
    hx = hx.bitwiseXOR(F.shiftright(hx, 8))
    hi = (hx * HLL_MIX).bitwiseAND(F.lit(_M31))
    hi1 = (hi.bitwiseXOR(F.shiftright(hi, 16)) * HLL_MIX).bitwiseAND(
        F.lit(_M31)
    )
    h0 = key.bitwiseAND(F.lit(_M31)).bitwiseXOR(hi1)
    h1 = (h0.bitwiseXOR(F.shiftright(h0, 16)) * HLL_MIX).bitwiseAND(
        F.lit(_M31)
    )
    h2 = (h1.bitwiseXOR(F.shiftright(h1, 16)) * HLL_MIX).bitwiseAND(
        F.lit(_M31)
    )
    return h2.bitwiseXOR(F.shiftright(h2, 16))

#: Standard HLL bias constants (Flajolet et al. 2007, "HyperLogLog:
#: the analysis of a near-optimal cardinality estimation algorithm").
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_w_bits(m: int) -> int:
    """Bit width of the rank word w = h div m for h < 2^31 - 1."""
    p = m.bit_length() - 1
    return 31 - p


def hll_sketch(
    df: DataFrame,
    key_col: str,
    m: int = 64,
    stratum_col: str | None = None,
) -> DataFrame:
    """HyperLogLog register table over a NUMERIC key column — the
    bounded-memory distinct counter (Flajolet et al. 2007): state is
    ``m`` 5-bit registers per stratum regardless of cardinality, and
    the merge of two sketches is the register-wise MAX (so incremental
    crawls, per-shard sketches, and streamed updates all compose
    without rescanning — the reason a 100-TB pipeline sketches
    distinct users/URLs instead of re-running count(distinct)).

    The key column must be NUMERIC and this is ENFORCED at plan-build
    time: a non-numeric column would ``cast("long")`` to NULL after
    the NULL filter and silently vanish from the sketch (an
    undercount, not an error), so the constructor raises instead.

    Relational, engine-exact form: ``h = 31-bit xorshift-multiply
    mix of the key`` (uniform bits over the FULL 64-bit key domain —
    the high half is folded in before the 31-bit mask, see
    :func:`_hll_mix`); register
    index ``h mod m``; rank ``ρ = position of the leading 1-bit of
    w = h div m`` read as ``W_BITS - length(bin(w)) + 1``
    (binary-string length is exact integer work in both Spark and
    ANSI SQL — no float log2 at bucket boundaries). Duplicate keys
    hash to the same (register, ρ) and dissolve in the MAX, so the
    sketch needs no pre-distinct pass.

    Returns ``(stratum?, bucket, rho)`` — ≤ |strata|·m rows.

    Scale: one map-side hash projection + one partial-agg shuffle
    whose key space IS the sketch; reducers see registers, not rows.
    """
    if m not in _HLL_ALPHA:
        raise ValueError(f"m must be one of {sorted(_HLL_ALPHA)}")
    from pyspark.sql.types import NumericType  # noqa: PLC0415

    dt = df.schema[key_col].dataType
    if not isinstance(dt, NumericType):
        raise TypeError(
            f"hll_sketch key column {key_col!r} must be numeric, got "
            f"{dt.simpleString()}: a failed cast would become a NULL "
            "hash and silently undercount — hash string keys to a "
            "long (e.g. text.token_value) first"
        )
    wb = _hll_w_bits(m)
    keys = ([stratum_col] if stratum_col else []) + ["bucket"]
    h = _hll_mix(F.col(key_col).cast("long"))
    proj = df.filter(F.col(key_col).isNotNull()).select(
        *([stratum_col] if stratum_col else []), h.alias("_h")
    )
    w = F.floor(F.col("_h") / m).cast("long")
    rho = F.when(w == 0, F.lit(wb + 1)).otherwise(
        F.lit(wb) - F.length(F.bin(w)) + F.lit(1)
    )
    return (
        proj.select(
            *([stratum_col] if stratum_col else []),
            (F.col("_h") % m).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*keys)
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame,
    m: int = 64,
    stratum_col: str | None = None,
) -> DataFrame:
    """Cardinality estimates from a :func:`hll_sketch`: the HLL
    harmonic mean ``α_m · m² / Σ_j 2^(-M_j)`` with absent registers
    counting as zero (contributing ``2^0 = 1``), plus the standard
    small-range correction — when the raw estimate falls under
    ``2.5·m`` and zero registers exist, linear counting
    ``m · ln(m/V)`` takes over (Flajolet et al. 2007, fig. 3).

    Engine-exact by construction: every ``2^(-ρ)`` is a dyadic
    rational with ``ρ ≤ W_BITS+1 ≤ 28`` and the Σ of ≤ m of them
    stays under 2^53's mantissa, so the float sum is EXACT and
    order-independent. The one libm term in the algorithm —
    linear counting's ``ln(m/V)`` — has only ``m`` possible inputs,
    so it is evaluated ONCE at plan-build time in Python and embedded
    as a literal lookup table in both the Spark plan and the SQL
    oracle (:func:`hll_lc_terms`): no per-engine libm call survives
    into execution, and the 4-dp output round sits on identical
    doubles.

    Returns ``(stratum?, m, zeros, est)``; ``est`` rounded to 4 dp.

    Scale: input is ≤ |strata|·m rows; one bounded agg over it."""
    if m not in _HLL_ALPHA:
        raise ValueError(f"m must be one of {sorted(_HLL_ALPHA)}")
    part = [stratum_col] if stratum_col else []
    alpha = _HLL_ALPHA[m]
    agg = sketch.groupBy(*part).agg(
        F.count(F.lit(1)).cast("long").alias("_np"),
        # Coalesce: a global (no-stratum) estimate over an EMPTY
        # sketch aggregates zero rows, where sum() is NULL — without
        # the 0.0 floor the whole CASE would fall through to est=NULL
        # instead of the correct 0 (all m registers zero → linear
        # counting gives m·ln(m/m) = 0).
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)
        ).alias("_sp"),
    )
    s = F.col("_sp") + (F.lit(m) - F.col("_np"))
    zeros = (F.lit(m) - F.col("_np")).cast("long")
    raw = F.lit(alpha * m * m) / s
    lc = F.element_at(
        F.array(*[F.lit(t) for t in hll_lc_terms(m)]), zeros.cast("int")
    )
    est = F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)
    return agg.select(
        *part,
        F.lit(m).alias("m"),
        zeros.alias("zeros"),
        F.round(est, 4).alias("est"),
    )


def hll_lc_terms(m: int) -> "list[float]":
    """Linear-counting lookup ``[m·ln(m/V) for V in 1..m]`` — the one
    transcendental in HLL, pre-evaluated so both engines consume the
    same double literals (``repr`` round-trips exactly)."""
    import math  # noqa: PLC0415

    return [m * math.log(m / v) for v in range(1, m + 1)]
