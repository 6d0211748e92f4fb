"""Deterministic sampling / dataset splitting for training pipelines.

``df.sample()`` is seed-dependent per partition layout and not stable
across engines or re-runs with different partitioning; training-data
splits must be a pure function of the ROW, not of the execution. These
operators hash the row id through the engine's integer-mixing constants,
so the same row lands in the same split on any engine, any partition
count, any day — and the assignment is oracle-expressible in ANSI SQL.

Scale: a split/sample is a stateless filter — codegen, no shuffle, and
the hash predicate pushes down past column pruning like any other
filter. Downsampling 100 TB to an eval slice never moves data that
doesn't pass the filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linz_bde_uploader_spark.functions.text import (
    HASH_MIX,
    HASH_MOD,
    token_count,
)

#: granularity of split percentages (hash buckets per row id)
SPLIT_BUCKETS = 100


def split_bucket(id_col: Column | str) -> Column:
    """Stable per-row bucket in [0, SPLIT_BUCKETS): mixed id hash mod
    100. Pure integer arithmetic — identical everywhere.

    The id is reduced mod ``HASH_MOD`` (< 2^31) BEFORE the ``HASH_MIX``
    (< 2^32) multiply, so the product stays below 2^63: no silent 64-bit
    wrap in Spark, no hugeint overflow error in an ANSI engine. ``pmod``
    keeps every step non-negative, so negative ids get a real bucket in
    [0, 100) instead of a negative one."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    mixed = F.pmod(F.pmod(c.cast("long"), F.lit(HASH_MOD)) * HASH_MIX,
                   F.lit(HASH_MOD))
    return F.pmod(mixed, F.lit(SPLIT_BUCKETS))


def with_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a named split by cumulative bucket ranges.

    ``splits`` maps name → percentage (must sum to 100); insertion order
    defines the bucket ranges, e.g. ``{"train": 90, "val": 5,
    "test": 5}`` → buckets [0,90) / [90,95) / [95,100).
    """
    if splits is None:
        splits = {"train": 90, "val": 5, "test": 5}
    if sum(splits.values()) != SPLIT_BUCKETS:
        raise ValueError(f"split percentages must sum to {SPLIT_BUCKETS}")
    b = split_bucket(id_col)
    expr = None
    lo = 0
    names = list(splits.items())
    for name, pct in names[:-1]:
        hi = lo + pct
        cond = b < hi if expr is None else (b >= lo) & (b < hi)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
        lo = hi
    # buckets are total over [0, 100), so the last range is the otherwise
    # branch — no row can ever land unassigned (NULL)
    last = F.lit(names[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, int],
    default_rate: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ``rates[stratum]``% of
    each stratum's rows (``default_rate``% for unlisted strata).

    The workhorse of corpus mixing — e.g. keep 100% of a scarce language
    and 10% of an over-represented crawl source. Still a stateless
    codegen filter (one CASE over the stratum + the same mixed-id hash
    as :func:`split_bucket`), so it composes with nesting: the kept set
    at rate r is a subset of the kept set at any rate > r, per stratum.
    """
    for name, pct in rates.items():
        if not 0 <= pct <= SPLIT_BUCKETS:
            raise ValueError(f"rate for {name!r} must be within [0, 100]")
    if not 0 <= default_rate <= SPLIT_BUCKETS:
        raise ValueError("default_rate must be within [0, 100]")
    s = F.col(strata_col)
    rate = None
    for name, pct in rates.items():
        rate = (
            F.when(s == name, F.lit(pct))
            if rate is None
            else rate.when(s == name, F.lit(pct))
        )
    rate = F.lit(default_rate) if rate is None else rate.otherwise(default_rate)
    return df.filter(split_bucket(id_col) < rate)


def mixture_weights(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Source-weighted corpus mixing with UP-sampling — the data-recipe
    primitive training pipelines run over raw corpora: weight ``w`` for
    a stratum means every row appears ``floor(w)`` times, plus once more
    for the stable ``frac(w)`` fraction of ids (the same mixed-id hash
    as :func:`split_bucket`, so the extra-copy set is deterministic,
    nested, and engine-independent). ``w < 1`` downsamples (some rows
    appear zero times), ``w = 2.5`` shows every row twice and half the
    rows a third time. Output rows carry ``epoch_col`` (1..n_copies) so
    a data loader can interleave epochs.

    Scale: one map-side ``explode`` of a per-row sequence — codegen, no
    shuffle, and rows with zero copies vanish in the same stage. The
    output is ``sum(w_s · |stratum_s|)`` rows; nothing materializes on
    the driver. Weights are resolved to 2-dp (floor + integer percent)
    so the fractional gate is exact integer arithmetic, never a float
    compare. Rows with a NULL id hash to no bucket, so they never join
    the fractional extra-copy set — they still receive their stratum's
    ``floor(w)`` integral copies."""

    def resolve(name: str, w: float) -> tuple[int, int]:
        if w < 0:
            raise ValueError(f"weight for {name!r} must be >= 0")
        base = int(w)
        frac_pct = round((w - base) * SPLIT_BUCKETS)
        if frac_pct == SPLIT_BUCKETS:  # e.g. 1.999 → treat as 2.0
            base, frac_pct = base + 1, 0
        return base, frac_pct

    # The default is resolved separately (not merged under a magic dict
    # key), so an explicit weight for an empty-string stratum is honored.
    resolved = {name: resolve(name, w) for name, w in weights.items()}
    d_base, d_frac = resolve("<default>", default_weight)

    s = F.col(strata_col)
    base_e, frac_e = None, None
    for name, (b, p) in resolved.items():
        base_e = (F.when(s == name, b) if base_e is None
                  else base_e.when(s == name, b))
        frac_e = (F.when(s == name, p) if frac_e is None
                  else frac_e.when(s == name, p))
    base_c = F.lit(d_base) if base_e is None else base_e.otherwise(d_base)
    frac_c = F.lit(d_frac) if frac_e is None else frac_e.otherwise(d_frac)
    # A NULL id makes split_bucket NULL; coalesce the gate to 0 so such a
    # row keeps its integral copies instead of silently exploding to zero.
    n = base_c + F.coalesce(
        (split_bucket(id_col) < frac_c).cast("int"), F.lit(0)
    )
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of being empty —
    # gate on n >= 1 and explode an empty array for dropped rows.
    copies = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(epoch_col, F.explode(copies))


def per_group_cap(
    df: DataFrame,
    group_col: str,
    order_col: str,
    n: int,
    tiebreak_col: str | None = None,
    ascending: bool = True,
) -> DataFrame:
    """Keep at most ``n`` rows per group — the domain-cap primitive of
    web-corpus curation (limit any one domain/source's share of the
    training set). Selection is deterministic: rows are ranked by
    ``order_col`` (then ``tiebreak_col``) inside each group and the
    first ``n`` survive, so the kept set is a pure function of the data.

    Scale: one hash-partition shuffle on ``group_col`` with a per-group
    sort — no global sort, no driver involvement. Skew note: a single
    monster domain serializes into one task's local sort; cap pathology
    at the source (pre-filter) or salt-prefilter to ~n per salt before
    the exact pass.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def quantile_filter(
    df: DataFrame,
    stratum_col: str,
    score_col: str,
    q: float,
    keep: str = "top",
) -> DataFrame:
    """Keep each stratum's top (1−q) quality slice — e.g. drop the worst
    30 % of documents PER LANGUAGE (``q=0.3``), so a high-resource
    language's score distribution doesn't set the bar for a low-resource
    one. ``keep="top"`` retains rows with ``percent_rank >= q``;
    ``keep="bottom"`` retains ``percent_rank <= q`` (for audits of the
    rejected slice). Exact and engine-independent: ``percent_rank`` is
    rank arithmetic, no float quantile interpolation.

    Scale: one hash-partition shuffle + per-stratum sort. For 100-TB
    strata where the full sort is the bottleneck, use
    :func:`quantile_filter_approx` — same contract, two scan passes, no
    sort.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be within [0, 1]")
    if keep not in ("top", "bottom"):
        raise ValueError("keep must be 'top' or 'bottom'")
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(stratum_col).orderBy(F.col(score_col).asc())
    out = df.withColumn("_pr", F.percent_rank().over(w))
    cond = F.col("_pr") >= q if keep == "top" else F.col("_pr") <= q
    return out.filter(cond).drop("_pr")


def quantile_filter_approx(
    df: DataFrame,
    stratum_col: str,
    score_col: str,
    q: float,
    accuracy: int = 10_000,
) -> DataFrame:
    """Sort-free variant of :func:`quantile_filter` for strata too large
    to sort: pass 1 computes each stratum's approximate q-quantile
    threshold (``percentile_approx``, a fixed-size sketch with map-side
    merge), pass 2 is a stateless broadcast-joined filter. Two scans,
    zero sorts, threshold error bounded by ``1/accuracy`` of the rank —
    the right trade at 100 TB where the exact window's per-stratum sort
    dominates.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be within [0, 1]")
    thresholds = df.groupBy(stratum_col).agg(
        F.percentile_approx(score_col, q, accuracy).alias("_thr")
    )
    from pyspark.sql.functions import broadcast  # noqa: PLC0415

    out = df.join(broadcast(thresholds), stratum_col, "left")
    return out.filter(F.col(score_col) >= F.col("_thr")).drop("_thr")


def deterministic_sample(
    df: DataFrame, id_col: str, percent: int
) -> DataFrame:
    """Keep a stable ``percent``% of rows (bucket < percent). Re-runs,
    engines, and partitionings all select the SAME rows — subsets nest
    (a 5% sample ⊂ the 10% sample), which makes scaling studies
    comparable."""
    if not 0 <= percent <= SPLIT_BUCKETS:
        raise ValueError("percent must be within [0, 100]")
    return df.filter(split_bucket(id_col) < percent)


def es_key(id_col: Column | str, weight_col: Column | str,
           salt: int = 0) -> Column:
    """Efraimidis–Spirakis sampling key: ln(u)/w with u a deterministic
    uniform hash of the id — the largest-n keys ARE a weighted sample
    without replacement. Rounded to 6 dp (ties broken by id downstream)
    so libm ulp differences can't flip the order across engines."""
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # u in (0, 1]: never exactly 0, so ln(u) is finite. The salt adds
    # BEFORE the multiply so it permutes the id->u map (a post-multiply
    # offset would only shift every u by the same amount — "fresh draw"
    # in name only). Same overflow discipline as split_bucket: pre-reduce
    # mod HASH_MOD (< 2^31) before the HASH_MIX (< 2^32) multiply so the
    # product stays below 2^63, and pmod (not %) so negative ids still
    # land in [0, HASH_MOD) — otherwise u <= 0, ln(u) is NULL, and those
    # rows silently vanish from the sample.
    u = (
        F.pmod(
            F.pmod(i.cast("long") + F.lit(salt), F.lit(HASH_MOD)) * HASH_MIX,
            F.lit(HASH_MOD),
        )
        + 1
    ) / (HASH_MOD + 1.0)
    # + 0.0 normalizes IEEE negative zero: when u == 1 (one id per
    # HASH_MOD draws — first seen at sf0.1) the key is ±0.0 and the
    # engines disagree on the SIGN of the zero, which a repr-based
    # canonicalizer treats as a real difference. -0.0 + 0.0 = +0.0 on
    # every IEEE engine; the oracle SQL carries the same + 0.0.
    return F.round(F.log(u) / w.cast("double"), 6) + F.lit(0.0)


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id", salt: int = 0) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: take the n
    largest ES keys (each row's inclusion probability is proportional
    to its weight, exactly the A-ES reservoir semantics, but as a
    stateless top-n — TakeOrderedAndProject, no reservoir state, no
    shuffle beyond the final n-row gather). Non-positive and NULL
    weights are excluded (they have no sampling mass). Deterministic in
    (id, weight, salt): reruns, engines, and partitionings select the
    SAME rows, and a different ``salt`` is a fresh draw."""
    keyed = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("skey", es_key(id_col, weight_col, salt))
    return keyed.orderBy(F.desc("skey"), F.col(id_col)).limit(n)


def shuffle_key(id_col: Column | str, salt: int = 0) -> Column:
    """Deterministic permutation key: the same pre-reduced Knuth mix as
    :func:`split_bucket` / :func:`es_key` (overflow-safe, pmod-positive),
    with a salt for fresh epoch orders."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.pmod(c.cast("long") + F.lit(salt), F.lit(HASH_MOD)) * HASH_MIX,
        F.lit(HASH_MOD),
    )


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Reproducible global shuffle + sharding — the last step before a
    training run: every row gets a ``shard`` in ``[0, n_shards)`` and a
    ``pos_in_shard`` (0-based), and the induced global order
    ``(shard, pos_in_shard)`` is a pure function of ``(id, salt)`` —
    identical on any engine, partitioning, or day, unlike
    ``df.orderBy(rand())``. A different ``salt`` is a fresh epoch
    permutation. Ties (hash collisions) break by id, so the order is
    total.

    Scale: ONE shuffle — the window's hash-partition on ``shard`` —
    then a per-shard sort for ``row_number``; no global sort, no driver
    collect. Shard sizes are balanced in expectation (the key is
    uniform); each shard sorts independently, so the peak per-task
    state is one shard's keys, which ``n_shards`` directly controls.
    A writer partitions output by ``shard`` and streams rows in
    ``pos_in_shard`` order."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = shuffle_key(id_col, salt)
    w = Window.partitionBy("shard").orderBy("_skey", id_col)
    return (
        df.withColumn("_skey", key)
        .withColumn("shard", F.pmod(F.col("_skey"), F.lit(n_shards)))
        .withColumn(
            "pos_in_shard", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("_skey")
    )


def weighted_sample_per_group(
    df: DataFrame,
    n: int,
    weight_col: str,
    group_col: str,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Per-stratum Efraimidis-Spirakis sampling: the ``n`` largest ES
    keys WITHIN each group — "sample N documents per language, weighted
    by quality/length" — with exactly :func:`weighted_sample`'s
    stateless determinism (same rows on any engine/partitioning; a
    different salt is a fresh draw; non-positive/NULL weights excluded).

    Scale: ONE shuffle — the window's hash-partition on the group — and
    a per-group sort; no global sort, no reservoir state, no per-group
    driver loop. Contrast :func:`per_group_cap`, which keeps the top-n
    BY a column value; this keeps a weighted random sample."""
    from pyspark.sql import Window

    keyed = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("skey", es_key(id_col, weight_col, salt))
    w = Window.partitionBy(group_col).orderBy(
        F.desc("skey"), F.col(id_col)
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def negative_samples(
    df: DataFrame,
    k: int,
    n_total: int | None = None,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each row gets ``k`` pseudo-random OTHER ids —
    ``(anchor id, j, neg_id)`` with ``neg_id = (id + 1 + mix(id, j,
    salt) mod (n-1)) mod n``, so a negative can never equal its anchor
    and the draw is a pure function of ``(id, j, salt)`` (engine- and
    partitioning-independent; a new salt is a fresh draw).

    Assumes the DENSE ``0..n-1`` id space a sharded corpus has after
    :func:`deterministic_shuffle` (compose: shuffle first, sample
    negatives over the positional ids). ``n_total`` is collected once
    when not supplied — one count action, model-state scalar.

    Scale: map-only — an inline ``explode`` of the k-sequence plus
    integer arithmetic; no join against the corpus, no shuffle. The
    standard cheap-negative generator for embedding/contrastive
    training (hard negatives come from the BM25/ANN operators)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    n = df.count() if n_total is None else n_total
    if n < 2:
        raise ValueError("need at least 2 rows to sample negatives")
    i = F.col(id_col).cast("long")
    j = F.col("j")
    mix = F.pmod(
        F.pmod(i + F.lit(salt) + j * 131, F.lit(HASH_MOD)) * HASH_MIX,
        F.lit(HASH_MOD),
    )
    neg = F.pmod(i + 1 + F.pmod(mix, F.lit(n - 1)), F.lit(n))
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    ).select(
        id_col,
        F.col("j").cast("int").alias("j"),
        neg.alias("neg_id"),
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture PLANNING — the step before :func:`mixture_weights`:
    given desired mixture proportions and a total token budget, measure
    what each source can supply and derive the per-source sampling
    plan. For each source s with available ``tokens_s`` and normalized
    proportion ``p_s``:

        target_tokens   = round(B · p_s)
        sample_fraction = min(1, target / tokens_s)   (subsample when
                                                       over-supplied)
        epochs          = ceil(target / tokens_s)     (repeat when
                                                       under-supplied —
                                                       the value fed to
                                                       mixture_weights)

    The no-silent-caps rule holds in BOTH directions: sources absent
    from ``weights`` get proportion 0 (reported, not dropped), and
    sources named in ``weights`` but EMPTY in ``docs`` still emit a row
    (n_docs=0, tokens=0, their nonzero ``target_tokens`` visible) so an
    under-supplied source never silently vanishes from the budget.
    Returns ``(source, n_docs, tokens, target_tokens, sample_fraction,
    epochs)``.

    Scale: one map-side token-count projection + one bounded partial-agg
    shuffle (|sources| rows); the plan arithmetic is constant-folded
    per-row Column math over that tiny table. Fully deterministic:
    integer token sums, weights normalized to exact Python floats
    before entering the plan."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("at least one weight must be positive")
    norm = {k: w / total_w for k, w in weights.items()}

    # Source is reported as STRING regardless of group_col's type: the
    # weights dict keys are strings, and the seed rows below union in
    # string values — an implicit unionByName coercion would silently
    # change the output schema (or fail under strict ANSI resolution),
    # so cast explicitly here.
    per = docs.select(
        F.col(group_col).cast("string").alias("source"),
        token_count(F.col(text_col)).cast("long").alias("_t"),
        F.lit(1).cast("long").alias("_one"),
    )
    # Seed a zero row per weight key BEFORE the agg so an empty source
    # still surfaces (n_docs counts only real rows via the _one marker);
    # |weights| literal rows, same single partial-agg shuffle.
    spark = docs.sparkSession
    seed = spark.createDataFrame(
        [(k, 0, 0) for k in sorted(norm)], "source string, _t long, _one long"
    )
    agg = per.unionByName(seed).groupBy("source").agg(
        F.sum("_one").alias("n_docs"),
        F.sum("_t").alias("tokens"),
    )
    p = F.lit(0.0)
    for name, w in sorted(norm.items()):
        p = F.when(F.col("source") == name, F.lit(w)).otherwise(p)
    target = F.round(F.lit(float(budget_tokens)) * p).cast("long")
    frac = F.when(F.col("tokens") > 0,
                  F.round(F.least(F.lit(1.0),
                                  target / F.col("tokens")), 6)
                  ).otherwise(F.lit(0.0))
    epochs = F.when(
        (F.col("tokens") > 0) & (target > 0),
        F.ceil(target / F.col("tokens")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return agg.select(
        "source", "n_docs", "tokens",
        target.alias("target_tokens"),
        frac.alias("sample_fraction"),
        epochs.alias("epochs"),
    )


def split_leakage_audit(
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    splits: dict[str, int] | None = None,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Quantify evaluation contamination BEFORE it happens: how many
    near-duplicate pairs straddle the train/val/test boundary under

    - ``doc_hash``   — the naive per-document hash split, and
    - ``group_hash`` — the group-aware split (every document of a
      group — host, source, author — inherits the GROUP id's split, so
      a group can never straddle the boundary).

    Returns one row per policy: ``(policy, n_pairs, cross_pairs,
    leak_rate)`` over the corpus's near-dup pairs (two-phase banded
    MinHash candidates -> exact n-gram Jaccard >= ``threshold``, the
    :func:`dedup.candidate_jaccard_verify` scale shape). A near-dup
    pair crossing the boundary IS leakage: the test member is a
    paraphrase of a training member, and reported test loss lies. The
    standard mitigation — split by the unit that correlates with
    duplication — is exactly what ``group_hash`` measures; the gap
    between the two rows is the audit's deliverable.

    ``group_col`` must be an integer column identifying the leakage
    unit (map hosts/sources to dense ids upstream — the split hash is
    integer arithmetic shared with the oracle engine).

    Scale: the pair work IS the dedup pipeline (banded, never
    all-pairs); split assignment is map-side integer hashing; the
    audit itself is two id-keyed joins of the pair list against the
    per-doc split table and ONE aggregate, unpivoted to a policy row
    pair by a generator ``stack`` — no extra shuffle, no BNLJ."""
    from linz_bde_uploader_spark.functions.dedup import (
        candidate_jaccard_verify,
    )

    pairs = candidate_jaccard_verify(
        docs, id_col, text_col, threshold, n, bands, rows_per_band
    ).select("id_a", "id_b")
    spl = with_split(
        docs.select(F.col(id_col), F.col(group_col)), id_col, splits,
        "nsplit",
    )
    spl = with_split(spl, group_col, splits, "gsplit").select(
        id_col, "nsplit", "gsplit"
    )
    j = pairs.join(
        spl.select(
            F.col(id_col).alias("id_a"),
            F.col("nsplit").alias("_na"),
            F.col("gsplit").alias("_ga"),
        ),
        "id_a",
    ).join(
        spl.select(
            F.col(id_col).alias("id_b"),
            F.col("nsplit").alias("_nb"),
            F.col("gsplit").alias("_gb"),
        ),
        "id_b",
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum((F.col("_na") != F.col("_nb")).cast("long")).alias("_xd"),
        F.sum((F.col("_ga") != F.col("_gb")).cast("long")).alias("_xg"),
    )
    out = agg.select(
        F.expr(
            "stack(2, 'doc_hash', _xd, 'group_hash', _xg)"
            " as (policy, cross_pairs)"
        ),
        F.col("_n").alias("n_pairs"),
    )
    return out.select(
        "policy",
        "n_pairs",
        F.coalesce(F.col("cross_pairs"), F.lit(0)).alias("cross_pairs"),
        F.when(
            F.col("n_pairs") > 0,
            F.round(
                F.coalesce(F.col("cross_pairs"), F.lit(0)).cast("double")
                / F.col("n_pairs"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("leak_rate"),
    )


def curriculum_schedule(
    scores: DataFrame,
    id_col: str = "doc_id",
    difficulty_col: str = "difficulty",
    n_phases: int = 4,
    n_shards: int = 8,
    salt: int = 0,
) -> DataFrame:
    """Curriculum-learning schedule: split the corpus into
    ``n_phases`` easy-to-hard phases by exact difficulty percentiles
    and give every row a deterministic position within its phase —
    the materialized form of "train on the easy quarter first"
    (Bengio et al. 2009; the data-side half of every curriculum
    recipe). Returns ``scores`` + ``(phase, shard, pos_in_shard)``:
    a loader streams phase 0's shards first, each shard already in
    its reproducible shuffled order.

    ``scores`` is ``(id, difficulty)`` — any per-document scalar
    (LM cross-entropy, length, quality) works; compose with
    :func:`lm.kn_score_documents` for the standard perplexity
    curriculum. Phase boundaries are EXACT interpolated percentiles
    (two-pass: one percentile aggregate collected to the driver —
    the RangePartitioner shape — then a map-side threshold chain);
    a row exactly on a boundary goes to the EASIER phase. Within a
    phase, ordering is the :func:`deterministic_shuffle` contract:
    ``(phase, shard, pos_in_shard)`` is a pure function of
    ``(id, salt)`` and the boundaries — same schedule on any engine,
    partitioning, or day; a new salt is a fresh epoch permutation.

    Scale: the percentile agg is one pass (exact percentile holds
    per-partition sorted runs — swap for approx_percentile at
    extreme cardinalities and accept boundary jitter); the ranking
    window hash-partitions on (phase, shard), so peak per-task state
    is one shard of one phase — ``n_shards`` controls it directly.
    No global sort anywhere."""
    from pyspark.sql import Window

    from linz_bde_uploader_spark.caching import track

    if n_phases < 1:
        raise ValueError("n_phases must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    # The boundary pass is an ACTION over the scores — persist them so
    # an expensive upstream difficulty signal (an LM train+score) runs
    # once, not once per pass (the two-pass RangePartitioner shape
    # always stages its input).
    scores = track(scores)
    bounds: list[float] = []
    if n_phases > 1:
        ps = ", ".join(repr(i / n_phases) for i in range(1, n_phases))
        row = scores.agg(
            F.expr(f"percentile({difficulty_col}, array({ps}))").alias("b")
        ).collect()[0]
        bounds = [float(x) for x in row.b]
    phase = F.lit(0)
    for b in bounds:
        phase = phase + (F.col(difficulty_col) > F.lit(b)).cast("int")
    w = Window.partitionBy("phase", "shard").orderBy("_skey", id_col)
    return (
        scores.withColumn("phase", phase.cast("long"))
        .withColumn("_skey", shuffle_key(id_col, salt))
        .withColumn("shard", F.pmod(F.col("_skey"), F.lit(n_shards)))
        .withColumn(
            "pos_in_shard", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("_skey")
    )


def alpha_mixture_plan(
    docs: DataFrame,
    alpha: float,
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled (α-)sampling — the multilingual mixture
    recipe published with XLM-R / mBERT (Conneau et al. 2020,
    "Unsupervised Cross-lingual Representation Learning at Scale",
    §3.1): measured token shares ``p_s = tokens_s / N`` are
    renormalized as ``q_s = p_s^α / Σ_t p_t^α``, flattening the head
    and up-weighting the tail as ``α → 0`` (``α = 1`` keeps natural
    proportions, ``α = 0`` is uniform). This is the data-derived
    complement of :func:`mixture_plan`'s explicit weights, completing
    the mixture family; the no-silent-drop rule carries over — a
    source present in ``docs`` but with zero tokens still emits its
    row (``p = q = 0``, ``boost = 0``), never vanishing from the plan.
    (Edge case, IEEE on both engines: at exactly ``α = 0``,
    ``pow(0, 0) = 1`` — a zero-token source then shares the uniform
    split like everyone else.)

    Returns per source: ``(source, n_docs, tokens, p, q, boost,
    target_tokens, sample_fraction, epochs)`` where ``boost = q/p``
    (the per-row up/down-sampling factor :func:`mixture_weights`
    consumes) and target/fraction/epochs mirror ``mixture_plan``'s
    budget arithmetic with the DERIVED ``q`` as the proportion.

    Determinism contract: shares are rounded to 9 dp before the
    ``pow``; the renormalization sums FIXED-POINT longs
    (``round(p^α · 1e9)``) so the Σ is order-independent and
    engine-exact; outputs round to 6 dp.

    Scale: one map-side token-count projection + one bounded
    |sources|-key partial-agg shuffle; the temperature arithmetic is
    window math OVER the bounded per-source table (no one-row
    broadcast, no BNLJ, no driver collect).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")

    per = _per_source_tokens(docs, group_col, text_col)
    # |sources|-row table: a GLOBAL window over it is bounded work
    # (the per-day growth-table pattern), and keeps the totals out of
    # a one-row broadcast plan node.
    win = Window.partitionBy()
    total = F.sum("tokens").over(win)
    p9 = F.round(F.col("tokens").cast("double") / total, 9)
    qfp = F.round(
        F.pow(p9, F.lit(float(alpha))) * F.lit(1_000_000_000.0)
    ).cast("long")
    staged = per.select(
        "source", "n_docs", "tokens",
        p9.alias("_p9"), qfp.alias("_qfp"),
    )
    sumq = F.sum("_qfp").over(win)
    q9 = F.round(F.col("_qfp").cast("double") / sumq, 9)
    target = F.round(F.lit(float(budget_tokens)) * q9).cast("long")
    frac = F.when(
        F.col("tokens") > 0,
        F.round(F.least(F.lit(1.0), target / F.col("tokens")), 6),
    ).otherwise(F.lit(0.0))
    epochs = F.when(
        (F.col("tokens") > 0) & (target > 0),
        F.ceil(target / F.col("tokens")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return staged.select(
        "source", "n_docs", "tokens",
        F.round("_p9", 6).alias("p"),
        F.round(q9, 6).alias("q"),
        F.when(
            F.col("_p9") > 0, F.round(q9 / F.col("_p9"), 6)
        ).otherwise(F.lit(0.0)).alias("boost"),
        target.alias("target_tokens"),
        frac.alias("sample_fraction"),
        epochs.alias("epochs"),
    )


def cluster_consistent_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: "dict[str, int] | None" = None,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Leakage-proof train/val/test assignment — the mitigation
    :func:`split_leakage_audit` measures the need for: every document
    inherits the split of its near-dup CLUSTER's canonical
    (minimum-id) member, so by construction no pair RECALLED by the
    configured banding can straddle a split boundary (the audit's
    ``cross_pairs`` is zero over this assignment, which the test
    pins). The guarantee is leakage-proof W.R.T. THE LSH-RECALLED
    PAIR SET, not all true near-dup pairs: banded MinHash recall is
    below 1 near the threshold (at ``bands=4, rows_per_band=2`` a
    j=0.08 pair is recalled with probability ≪ 1), so a true pair
    the bands miss can still straddle — tune ``bands``/
    ``rows_per_band`` for high recall at the chosen ``threshold``
    (s-curve datasheet: :func:`dedup.lsh_band_plan`) when a stronger
    guarantee is needed. Group-hash splitting (by host/source) only
    prevents leakage WITHIN the group unit; paraphrases syndicated
    across sources still straddle — clustering by the near-dup graph
    itself closes exactly that gap.

    Pipeline: banded-LSH candidates → exact n-gram Jaccard verify
    (:func:`dedup.candidate_jaccard_verify`, never all-pairs) →
    connected components (:func:`dedup.duplicate_components`,
    min-label propagation — transitive closure, so chains A~B~C land
    together even when A and C are not themselves a pair) → the
    engine-shared integer split hash applied to the COMPONENT id.
    Documents in no pair are their own singleton component and hash
    by their own id — identical to the naive split for the clean
    majority.

    Returns ``(id, component, split)`` — one row per document, no
    NULLs (singletons carry their own id as component).

    Scale: the pair work IS the audited dedup pipeline; components
    iterate O(E) joins over the PAIR graph only (tiny next to the
    corpus); the final label join is one broadcast-size left join +
    map-side hash arithmetic."""
    from linz_bde_uploader_spark.functions.dedup import (  # noqa: PLC0415
        candidate_jaccard_verify,
        duplicate_components,
    )

    pairs = candidate_jaccard_verify(
        docs, id_col, text_col, threshold, n, bands, rows_per_band
    ).select("id_a", "id_b")
    comp = duplicate_components(pairs)
    lab = (
        docs.select(F.col(id_col))
        .join(
            comp.select(F.col("id").alias(id_col), "component"),
            [id_col],
            "left",
        )
        .withColumn(
            "component",
            F.coalesce(F.col("component"), F.col(id_col)).cast("long"),
        )
    )
    return with_split(lab, "component", splits, "split").select(
        id_col, "component", "split"
    )


def _per_source_tokens(
    docs: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-source ``(source, n_docs, tokens)`` measurement shared by
    the data-derived mixture planners (:func:`alpha_mixture_plan`,
    :func:`unimax_plan`) so they can never measure different corpora
    — one map-side token-count projection + one bounded
    |sources|-key partial-agg shuffle. (:func:`mixture_plan`'s
    variant differs DELIBERATELY: it seeds a zero row per explicit
    weight key before the agg so an empty source still surfaces.)"""
    return docs.select(
        F.col(group_col).cast("string").alias("source"),
        token_count(F.col(text_col)).cast("long").alias("_t"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_t").cast("long").alias("tokens"),
    )


def unimax_plan(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): allocate a token budget as UNIFORMLY as possible
    across sources subject to a per-source repeat cap — no source may
    be sampled past ``max_epochs`` passes over its data. The published
    fix for temperature sampling's failure mode: α-scaling either
    starves the tail or forces hundreds of epochs over tiny languages;
    UniMax gives every source an equal share EXCEPT those whose entire
    ``max_epochs``-epoch corpus is smaller than that share, which
    contribute everything they have and return the difference to the
    pool.

    Semantics (the sorted prefix-scan waterfilling — deterministic and
    engine-exact): sort sources by ``cap = tokens·max_epochs``
    ascending (ties by source name); source ``k`` of ``L`` is CAPPED
    iff ``cap_k · (L − k + 1) <= B − Σ_{j<k} cap_j`` (an all-integer
    comparison, so no float round-trip can flip it — the classical
    waterfilling prefix rule, whose capped set is always a prefix of
    this order). Capped sources get ``alloc = cap``; the rest split
    the remaining budget evenly, ``(B − Σ_capped cap) div
    n_uncapped`` each — integer division, so the share too is exact
    past 2^53 tokens (the sub-token remainder is deliberately left
    unallocated rather than silently rounded up past the budget).

    Returns per source: ``(source, n_docs, tokens, cap_tokens,
    alloc_tokens, epochs, capped)`` — ``epochs = alloc/tokens`` at
    4 dp (capped rows show ``max_epochs`` exactly; a zero-token
    source emits ``cap = alloc = 0``, capped, never vanishing — the
    mixture family's no-silent-drop rule).

    Scale: one map-side token-count projection + one bounded
    |sources|-key partial-agg shuffle; the waterfilling is window
    math over the bounded per-source table (the documented
    bounded-global-window pattern) — no iteration, no driver loop,
    no collect.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")

    per = _per_source_tokens(docs, group_col, text_col)
    cap = (F.col("tokens") * F.lit(int(max_epochs))).cast("long")
    ordered = Window.partitionBy().orderBy(cap.asc(), F.col("source"))
    glob = Window.partitionBy()
    staged = per.select(
        "source",
        "n_docs",
        "tokens",
        cap.alias("cap_tokens"),
        F.row_number().over(ordered).alias("_k"),
        F.coalesce(
            F.sum(cap).over(
                ordered.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_prefix"),
        F.count(F.lit(1)).over(glob).alias("_L"),
    )
    b = F.lit(int(budget_tokens))
    capped = (
        F.col("cap_tokens") * (F.col("_L") - F.col("_k") + 1)
        <= b - F.col("_prefix")
    )
    flagged = staged.withColumn("_capped", capped).select(
        "source",
        "n_docs",
        "tokens",
        "cap_tokens",
        "_capped",
        F.coalesce(
            F.sum(F.when(F.col("_capped"), F.col("cap_tokens"))).over(
                glob
            ),
            F.lit(0),
        ).alias("_csum"),
        F.sum((~F.col("_capped")).cast("long")).over(glob).alias("_nu"),
    )
    alloc = F.when(F.col("_capped"), F.col("cap_tokens")).otherwise(
        # Integer `div`, not floor(double-division): beyond 2^53 tokens
        # a double round-trip could shift the share by a token, and the
        # docstring promises the WHOLE plan is integer-exact.
        # INVARIANT: budget - _csum >= 0 always. _csum sums cap_tokens
        # over the capped prefix, and a source is capped only while
        # cap·(remaining sources) <= remaining budget, so the prefix sum
        # can never exceed the budget. That non-negativity is what makes
        # Spark's truncate-toward-zero `div` equal to the DuckDB twin's
        # flooring `//`; a negative remainder would diverge (-1 vs 0).
        F.expr(
            f"(CAST({int(budget_tokens)} AS BIGINT) - _csum)"
            " div GREATEST(_nu, CAST(1 AS BIGINT))"
        )
    )
    return flagged.select(
        "source",
        "n_docs",
        "tokens",
        "cap_tokens",
        alloc.alias("alloc_tokens"),
        F.round(
            alloc / F.greatest(F.col("tokens"), F.lit(1)).cast("double"),
            4,
        ).alias("epochs"),
        F.col("_capped").cast("int").alias("capped"),
    )


def doremi_plan(
    docs: DataFrame,
    budget_tokens: int,
    eta: float = 1.0,
    smoothing: float = 1e-3,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One Group-DRO exponentiated-gradient step of DoReMi (Xie et al.
    2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining") — the mixture family's fourth face, and the
    published alternative to hand-tuned domain weights: upweight the
    domains where a uniform-mixture model underfits most.

    The measured excess-loss signal, built from the two audited LM
    scorers (one implementation, two mixture drivers):

    - **reference loss** ``ce_uniform`` — per-domain mean
      cross-entropy under the GLOBAL add-one bigram LM
      (:func:`~linz_bde_uploader_spark.functions.lm.train_bigram_lm`
      over the whole corpus — literally the model trained on the
      uniform mixture);
    - **in-domain loss** ``ce_domain`` — the same documents under
      their OWN domain's model (:func:`~linz_bde_uploader_spark.
      functions.lm.train_stratified_bigram_lm`), the best-achievable
      in-domain baseline standing in for the paper's reference model;
    - ``excess = max(0, ce_uniform − ce_domain)`` — the paper's
      clamped excess loss: how much the uniform model underfits the
      domain (its headroom), 0 where uniform already matches it.

    The EG step from uniform initial weights (the per-step update the
    paper iterates; α₀ uniform makes the 1/k factor cancel):
    ``w_d = exp(η · excess_d)``, then the paper's smoothed
    normalization ``α_d = (1 − c) · w_d / Σ w + c / k`` with
    ``c = smoothing`` and ``k = |domains|``.

    Determinism (the α-mixture fixed-point discipline): per-domain
    means aggregate 1e-4 fixed-point LONGS of the scorers' 4-dp
    cross-entropies (fold-order-free), the excess is a difference of
    two 4-dp values re-rounded at 4 dp (exact), each weight is frozen
    to a 1e-9 fixed-point LONG at its single ``exp`` site (the
    q_mixture_alpha ``pow`` convention), so the normalization sums
    INTEGERS and α is one double expression of exact integers, rounded
    at 6 dp. ``target_tokens = round(α · budget)`` from the rounded α.

    A domain with no scoreable document (< 2 tokens everywhere) gets
    ``excess = 0`` — uniform treatment, never a dropped row (the
    mixture family's no-silent-drop rule).

    Returns one row per domain, ordered by name: ``(source, n_docs,
    tokens, ce_uniform, ce_domain, excess, doremi_weight,
    target_tokens)``.

    Scale: two LM train+score passes (the measured global and
    stratified plans — count tables bounded by bigram vocab, scoring
    an equi-join on (domain,) prev, cur), two bounded |domains|-key
    aggs, and window math over the |domains| table. No iteration here:
    one call is one EG step; the paper's loop re-measures losses under
    a retrained proxy between steps, which is a driver-level loop over
    this bounded plan, not a data-plane one.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    from linz_bde_uploader_spark.functions.lm import (  # noqa: PLC0415
        score_documents,
        score_documents_stratified,
        train_bigram_lm,
        train_stratified_bigram_lm,
    )

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if not 0.0 <= smoothing < 1.0:
        raise ValueError("smoothing must be in [0, 1)")

    d2 = docs.select(
        F.col(id_col),
        F.col(group_col).cast("string").alias("source"),
        F.col(text_col).alias("_text"),
    )
    per = _per_source_tokens(docs, group_col, text_col)
    # ONE tracked bigram explode feeds all four LM passes (uniform
    # train/score, stratified train/score) — the rho_select r16 fold
    # (guide §2.4/§5): untracked, each pass re-tokenized and
    # re-exploded the corpus. Corpus-sized frame — at 100 TB write the
    # explode to storage once instead of a memory persist. Controlled
    # alternating A/B at sf0.1 (5 reps): median 6.59 -> 5.82 s, min a
    # wash (5.62 vs 5.66) — weaker than rho_select's win on the same
    # shape but same direction; kept for the two removed corpus
    # explodes, which is the dominant term at 100 TB.
    from linz_bde_uploader_spark.caching import track  # noqa: PLC0415
    from linz_bde_uploader_spark.functions.lm import (  # noqa: PLC0415
        doc_bigrams,
    )

    bi_src = track(doc_bigrams(d2, id_col, "_text", extra_cols=("source",)))
    bi_uni = bi_src.select(id_col, "prev", "cur")
    ref = score_documents(
        d2, train_bigram_lm(d2, id_col, "_text", _bi=bi_uni),
        id_col, "_text", _bi=bi_uni,
    ).select(id_col, F.col("cross_entropy").alias("_cer"))
    dom = score_documents_stratified(
        d2,
        train_stratified_bigram_lm(d2, id_col, "_text", "source",
                                   _bi=bi_src),
        id_col,
        "_text",
        "source",
        _bi=bi_src,
    ).select(id_col, "source", F.col("cross_entropy").alias("_ced"))
    mus = (
        dom.join(ref, [id_col])
        .groupBy("source")
        .agg(
            F.sum(F.round(F.col("_cer") * 1e4).cast("long")).alias("_sr"),
            F.sum(F.round(F.col("_ced") * 1e4).cast("long")).alias("_sd"),
            F.count(F.lit(1)).cast("long").alias("_ns"),
        )
    )
    ce_u = F.when(
        F.col("_ns") > 0, F.round(F.col("_sr") / (F.lit(1e4) * F.col("_ns")), 4)
    ).otherwise(F.lit(0.0))
    ce_d = F.when(
        F.col("_ns") > 0, F.round(F.col("_sd") / (F.lit(1e4) * F.col("_ns")), 4)
    ).otherwise(F.lit(0.0))
    staged = per.join(mus, ["source"], "left").select(
        "source",
        "n_docs",
        "tokens",
        ce_u.alias("ce_uniform"),
        ce_d.alias("ce_domain"),
    )
    exc = F.round(
        F.greatest(F.col("ce_uniform") - F.col("ce_domain"), F.lit(0.0)), 4
    )
    weighted = staged.select(
        "*",
        exc.alias("excess"),
        F.round(F.exp(F.lit(float(eta)) * exc) * 1e9).cast("long").alias(
            "_w"
        ),
    )
    glob = Window.partitionBy()
    c = float(smoothing)
    alpha = F.round(
        F.lit(1.0 - c) * F.col("_w") / F.sum("_w").over(glob)
        + F.lit(c) / F.count(F.lit(1)).over(glob),
        6,
    )
    return (
        weighted.select(
            "source",
            "n_docs",
            "tokens",
            "ce_uniform",
            "ce_domain",
            "excess",
            alpha.alias("doremi_weight"),
        )
        .withColumn(
            "target_tokens",
            F.round(F.col("doremi_weight") * F.lit(int(budget_tokens)))
            .cast("long"),
        )
        .orderBy("source")
    )


def mixture_materialize(
    docs: DataFrame,
    plan: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alloc_col: str = "alloc_tokens",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Close the plan→execution loop: materialize the sampled corpus a
    mixture PLANNER prescribed — the step a production pipeline runs
    after planning, which every planner face (:func:`mixture_plan`,
    :func:`alpha_mixture_plan`, :func:`unimax_plan`,
    :func:`doremi_plan`) previously stopped short of. ``plan`` is any
    frame carrying ``(source, tokens, alloc_col)``; its per-source
    sampling rate ``alloc/tokens`` drives :func:`mixture_weights`'
    audited epoch machinery — every doc appears ``floor(rate)`` times
    plus once more for the stable ``frac(rate)``-fraction of ids (the
    same :func:`split_bucket` gate, so the extra-copy set is
    deterministic, nested, and engine-independent).

    The rate is resolved to integer percent with EXACT integer
    arithmetic (the plan family's integer-exact discipline —
    ``base = alloc div tokens``; ``frac_pct`` = HALF-UP of
    ``100·rem/tokens`` as ``(200·rem + tokens) div (2·tokens)``, every
    operand non-negative so truncating ``div`` ≡ the oracle's flooring
    ``//``; a ``frac_pct`` of 100 carries into ``base`` exactly as
    :func:`mixture_weights`' resolve does), never a float round-trip:
    a capped UniMax source (``alloc = tokens·max_epochs``) realizes
    EXACTLY ``max_epochs`` copies of every doc, rem 0.

    Returns the materialized corpus: ``docs``' columns plus
    ``epoch_col`` (1..n_copies per surviving row — a rate < 1 drops
    the complement of the fractional id set in the same stage).

    Scale: the plan side is a bounded |sources| table broadcast onto
    the corpus (equi-join, no shuffle of the big side); the copy gate
    and explode are map-side codegen. Persist the plan with
    ``caching.track`` when the SAME plan also feeds the realization
    audit, or Catalyst will duplicate the planner's measurement scan
    per consumer (the snapshot-ablation lesson)."""
    rates = plan.select(
        F.col("source").alias("_plan_src"),
        F.col("tokens").cast("long").alias("_pt"),
        F.col(alloc_col).cast("long").alias("_pa"),
    ).select(
        "_plan_src",
        F.when(
            F.col("_pt") > 0, F.expr("_pa div _pt")
        ).otherwise(F.lit(0)).cast("long").alias("_base0"),
        F.when(
            F.col("_pt") > 0,
            F.expr("(200 * (_pa - (_pa div _pt) * _pt) + _pt)"
                   " div (2 * _pt)"),
        ).otherwise(F.lit(0)).cast("long").alias("_frac0"),
    ).select(
        "_plan_src",
        F.when(F.col("_frac0") == SPLIT_BUCKETS, F.col("_base0") + 1)
        .otherwise(F.col("_base0")).alias("_base"),
        F.when(F.col("_frac0") == SPLIT_BUCKETS, F.lit(0).cast("long"))
        .otherwise(F.col("_frac0")).alias("_frac"),
    )
    joined = docs.join(
        F.broadcast(rates),
        docs[group_col].cast("string") == rates["_plan_src"],
        "inner",
    ).drop("_plan_src")
    n = F.col("_base") + F.coalesce(
        (split_bucket(id_col) < F.col("_frac")).cast("long"), F.lit(0)
    )
    copies = F.when(n >= 1, F.sequence(F.lit(1), n.cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    return joined.withColumn(epoch_col, F.explode(copies)).drop(
        "_base", "_frac"
    )


def mixture_realization_audit(
    docs: DataFrame,
    plan: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alloc_col: str = "alloc_tokens",
) -> DataFrame:
    """The realized-vs-target datasheet over a materialized mixture —
    the audit row a training-data pipeline publishes beside the
    sampled corpus: per source, what the planner ordered
    (``target_tokens``), what :func:`mixture_materialize` delivered
    (``realized_docs``/``realized_tokens``), the 4-dp
    ``realized_ratio``, and the epoch histogram
    (``"1:n₁,2:n₂,…"`` — how many docs appear at each repeat depth,
    the shape UniMax's epoch caps exist to control).

    Every plan row surfaces (LEFT join — the mixture family's
    no-silent-drop rule): a source whose rate resolved to zero copies
    shows ``realized_* = 0``, ratio 0, empty histogram; a zero-target
    source that (necessarily) realized nothing shows ratio 1.0 —
    nothing owed, nothing delivered.

    Scale: one (source, epoch)-key partial agg over the materialized
    corpus, then a bounded |sources|-key rollup; the histogram is a
    collect_list over ≤max_epochs+1 epochs per source — model-sized.
    Pass the SAME (tracked) plan frame given to
    :func:`mixture_materialize`."""
    mat = mixture_materialize(
        docs, plan, group_col=group_col, text_col=text_col,
        id_col=id_col, alloc_col=alloc_col,
    )
    per_epoch = (
        mat.select(
            F.col(group_col).cast("string").alias("_s"),
            F.col("epoch"),
            token_count(F.col(text_col)).cast("long").alias("_t"),
        )
        .groupBy("_s", "epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_t").cast("long").alias("_tok"),
        )
    )
    return realization_datasheet_from_counters(
        plan, per_epoch, alloc_col=alloc_col
    )


def realization_datasheet_from_counters(
    plan: DataFrame,
    per_epoch: DataFrame,
    alloc_col: str = "alloc_tokens",
) -> DataFrame:
    """Assemble the realized-vs-target datasheet from per-(source,
    epoch) counters ``(_s, epoch, _n, _tok)`` — the tail of
    :func:`mixture_realization_audit`. The counters are additive, so
    partial counts from any split of the corpus sum to the same
    datasheet."""
    realized = per_epoch.groupBy("_s").agg(
        F.sum("_n").cast("long").alias("_rdocs"),
        F.sum("_tok").cast("long").alias("_rtoks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("epoch", "_n"))),
                lambda s: F.concat_ws(
                    ":",
                    s["epoch"].cast("string"),
                    s["_n"].cast("string"),
                ),
            ),
            ",",
        ).alias("_hist"),
    )
    target = F.col(alloc_col).cast("long")
    return (
        plan.join(realized, plan["source"] == realized["_s"], "left")
        .select(
            "source",
            F.col("n_docs"),
            F.col("tokens"),
            target.alias("target_tokens"),
            F.coalesce(F.col("_rdocs"), F.lit(0)).cast("long").alias(
                "realized_docs"
            ),
            F.coalesce(F.col("_rtoks"), F.lit(0)).cast("long").alias(
                "realized_tokens"
            ),
            F.when(
                target > 0,
                F.round(
                    F.coalesce(F.col("_rtoks"), F.lit(0)).cast("double")
                    / target.cast("double"),
                    4,
                ),
            ).otherwise(F.lit(1.0)).alias("realized_ratio"),
            F.coalesce(F.col("_hist"), F.lit("")).alias("epoch_hist"),
        )
        .orderBy("source")
    )


#: Muennighoff et al. 2023 ("Scaling Data-Constrained Language
#: Models"), table 3 fit: the decay constant of repeated-data value —
#: the k-th repetition of a token is worth e^(−k/RD_STAR) of a fresh
#: one, so ~4 epochs are still near-fresh and value is mostly gone
#: after ~16 (the paper's headline guidance).
RD_STAR = 15.39


def data_constrained_value(
    plan: DataFrame,
    rd_star: float = RD_STAR,
    alloc_col: str = "alloc_tokens",
) -> DataFrame:
    """Evaluate an allocation under the data-constrained scaling law
    (Muennighoff et al. 2023): given each source's UNIQUE token supply
    ``tokens`` and its allocation ``alloc_col``, the effective token
    count is

        D″ = U + U·R*·(1 − e^(−R/R*)),   R = epochs − 1 (repetitions)

    — fresh tokens count fully (``alloc ≤ unique`` ⟹ effective =
    alloc), repeated tokens decay exponentially with repeat depth.
    This is the mixture family's missing face for the epoch'd regime
    UniMax caps create: it prices what those repeats are worth.

    Per source: ``(source, n_docs, tokens, alloc_tokens, epochs,
    repeats, repeat_value, effective_tokens, efficiency)`` —
    ``repeats`` = max(epochs − 1, 0) (4-dp arithmetic on the plan's
    4-dp epochs, exact), ``repeat_value`` = the marginal worth
    e^(−R/R*) of the NEXT epoch, ``effective_tokens`` the law's D″,
    ``efficiency`` = effective/alloc at 4 dp (1.0 in the fresh
    regime).

    Determinism (the α-mixture fixed-point discipline): ``exp`` — the
    one transcendental — is frozen to a 1e-9 fixed-point LONG at its
    single site; ``effective_tokens`` is then ONE double expression of
    exact integers, rounded to a long (the DoReMi convention), so no
    fold order or re-association can flip a row.

    Scale: pure window-free column math over the bounded |sources|
    plan frame — no corpus pass at all (the measurement already
    happened in the planner).

    ``epochs`` is DERIVED here as ``round(alloc/max(tokens,1), 4)`` —
    the exact expression :func:`unimax_plan` publishes — rather than
    read from the plan, so any planner frame carrying ``(source,
    n_docs, tokens, alloc_col)`` works (DoReMi's ``target_tokens``
    included), and a UniMax plan's own column agrees to the bit."""
    epochs = F.round(
        F.col(alloc_col).cast("long")
        / F.greatest(F.col("tokens"), F.lit(1)).cast("double"),
        4,
    )
    r4 = F.greatest(epochs - F.lit(1.0), F.lit(0.0))
    w = F.round(
        F.exp(-r4 / F.lit(float(rd_star))) * 1e9
    ).cast("long")
    alloc = F.col(alloc_col).cast("long")
    staged = plan.select(
        "source",
        "n_docs",
        "tokens",
        alloc.alias("alloc_tokens"),
        epochs.alias("epochs"),
        F.round(r4, 4).alias("repeats"),
        w.alias("_w"),
    )
    effective = F.when(F.col("epochs") <= 1.0, F.col("alloc_tokens")).otherwise(
        F.round(
            F.col("tokens")
            * (
                F.lit(1.0)
                + F.lit(float(rd_star))
                * (F.lit(1.0) - F.col("_w") / F.lit(1e9))
            )
        ).cast("long")
    )
    return (
        staged.select(
            "source",
            "n_docs",
            "tokens",
            "alloc_tokens",
            "epochs",
            "repeats",
            (F.col("_w") / F.lit(1e9)).alias("repeat_value"),
            effective.alias("effective_tokens"),
        )
        .withColumn(
            "efficiency",
            F.round(
                F.col("effective_tokens").cast("double")
                / F.greatest(F.col("alloc_tokens"), F.lit(1)).cast(
                    "double"
                ),
                4,
            ),
        )
        .orderBy("source")
    )


def data_constrained_plan(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    rd_star: float = RD_STAR,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """UniMax allocation priced under the data-constrained scaling law:
    :func:`unimax_plan` (VERBATIM — the measurement stage and the
    all-integer waterfilling) composed with
    :func:`data_constrained_value`. Capped sources repeat their corpus
    and pay the repeat decay (epochs = max_epochs, repeats > 0);
    uncapped sources below one epoch stay in the fresh regime
    (effective = alloc, efficiency 1.0) — both law branches live in
    one plan whenever the waterfilling splits. Bounded |sources| math
    end to end after the planner's one corpus measurement."""
    return data_constrained_value(
        unimax_plan(
            docs,
            budget_tokens,
            max_epochs=max_epochs,
            group_col=group_col,
            text_col=text_col,
        ),
        rd_star=rd_star,
    )


#: Chinchilla (Hoffmann et al. 2022) approach-3 fitted constants:
#: L(N, D) = E + A/N^alpha + B/D^beta, compute C = 6·N·D.
CHIN_ALPHA = 0.34
CHIN_BETA = 0.28
CHIN_A = 406.4
CHIN_B = 410.7
#: derived closed-form allocation exponents/coefficient (module-level
#: so the oracle SQL can inline repr() of the EXACT same doubles):
#: N* = G·(C/6)^EXP_N, D* = (C/6)^EXP_D / G.
CHIN_EXP_N = CHIN_BETA / (CHIN_ALPHA + CHIN_BETA)
CHIN_EXP_D = CHIN_ALPHA / (CHIN_ALPHA + CHIN_BETA)
CHIN_G = (CHIN_ALPHA * CHIN_A / (CHIN_BETA * CHIN_B)) ** (
    1.0 / (CHIN_ALPHA + CHIN_BETA)
)
CHINCHILLA_EXPS = (9, 11, 13, 15, 17, 19)


def chinchilla_plan(
    docs: DataFrame,
    exps: tuple = CHINCHILLA_EXPS,
    rd_star: float = RD_STAR,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Compute-optimal training plan (Hoffmann et al. 2022,
    "Training Compute-Optimal Large Language Models") priced against
    the MEASURED corpus supply under the data-constrained repeat law
    (Muennighoff et al. 2023) — the scaling family's procurement
    datasheet: for each compute budget, how big a model, how many
    tokens, and whether THIS corpus can feed it fresh or must repeat
    (and what those repeats are worth).

    Per compute budget ``C = 10^e`` (one row per exponent in
    ``exps``), the paper's closed-form optimum of
    ``L = E + A·N^−α + B·D^−β`` subject to ``C = 6·N·D``:

        N* = G·(C/6)^(β/(α+β)),   D* = (C/6)^(α/(α+β)) / G,
        G  = (αA / βB)^(1/(α+β))

    with the approach-3 fitted constants (α = 0.34, β = 0.28,
    A = 406.4, B = 410.7) — the fit that yields the published
    ~20-tokens-per-param rule at real budgets (the ``tokens_per_param``
    column shows the drift: the rule of thumb is budget-dependent,
    not a constant). The optimal token demand ``D*`` is then priced
    against the corpus's measured unique supply by
    :func:`data_constrained_value` VERBATIM (``alloc = D*`` over the
    one-row total-supply frame): a budget the corpus covers fresh
    shows ``efficiency = 1.0``; past supply, epochs/repeats and the
    law's decayed ``effective_tokens`` quantify the repeat regime.

    Determinism: the supply measurement is
    :func:`_per_source_tokens`'s exact-integer fold; the two ``pow``
    sites freeze to LONGs at their single use (``N*``, ``D*`` —
    the α-mixture convention), the compute literal is an exact
    ``1e<exp>`` parse on both engines, and everything downstream is
    the data-constrained law's audited fixed-point math.

    Returns ``(source, compute_flops, n_params, alloc_tokens,
    tokens_per_param, n_docs, tokens, epochs, repeats, repeat_value,
    effective_tokens, efficiency)``, one row per budget ordered by
    ``compute_flops``; ``source`` is the budget label ``C1e<exp>``
    (the law frame's key), ``tokens`` the measured corpus supply.

    Scale: ONE corpus measurement pass (map-side token counts into a
    bounded |sources|-key agg, then a one-row total), broadcast
    cross-joined into the |budgets| literal table (the TF-IDF
    scalar-subquery shape); all remaining math is window-free column
    arithmetic over |budgets| rows.
    """
    spark = docs.sparkSession
    per = _per_source_tokens(docs, group_col, text_col)
    sup = per.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("tokens"),
    )
    budgets = spark.createDataFrame(
        [(f"C1e{int(e)}", float(f"1e{int(e)}")) for e in exps],
        "source string, compute_flops double",
    )
    m = F.col("compute_flops") / F.lit(6.0)
    staged = (
        budgets.crossJoin(F.broadcast(sup))
        .select(
            "source",
            "compute_flops",
            "n_docs",
            "tokens",
            F.round(F.lit(CHIN_G) * F.pow(m, F.lit(CHIN_EXP_N)))
            .cast("long")
            .alias("n_params"),
            F.round(F.pow(m, F.lit(CHIN_EXP_D)) / F.lit(CHIN_G))
            .cast("long")
            .alias("alloc_tokens"),
        )
    )
    val = data_constrained_value(staged, rd_star=rd_star)
    return (
        val.join(
            staged.select("source", "compute_flops", "n_params"), ["source"]
        )
        .select(
            "source",
            "compute_flops",
            "n_params",
            "alloc_tokens",
            F.round(
                F.col("alloc_tokens").cast("double")
                / F.greatest(F.col("n_params"), F.lit(1)).cast("double"),
                2,
            ).alias("tokens_per_param"),
            "n_docs",
            "tokens",
            "epochs",
            "repeats",
            "repeat_value",
            "effective_tokens",
            "efficiency",
        )
        .orderBy("compute_flops")
    )
