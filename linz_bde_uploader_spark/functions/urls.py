"""URL canonicalization and host-level corpus rollups — the link
between the dedup stack and the centrality/quality priors.

Web-corpus pipelines (C4, RefinedWeb, Common Crawl derivatives) dedup
and sample BY URL and BY HOST, but raw crawl URLs are noisy: scheme and
host case varies, ``www.``/``m.`` mirrors split one host into three,
default ports and trailing slashes split one resource into several, and
tracking query parameters (``utm_*``, click ids) make every fetch of
the same page a distinct string. Canonicalization collapses those
variants FIRST, so exact-URL dedup, host frequency caps, and host-level
quality/centrality datasheets count the real thing.

Everything here is a chain of ``regexp_replace``/``regexp_extract``
Column expressions — map-only, whole-stage codegen, no UDF, no shuffle
until the final bounded per-host aggregate — and each step is mirrored
1:1 in the DuckDB oracle (same regexes, ``\\1`` instead of ``$1``).

Canonical form produced (documented contract, deliberately simple —
swap in a full WHATWG parser behind the same column if ever needed):

- fragment removed;
- scheme and host lowercased (path/query case is preserved — it is
  significant on most servers);
- default ports ``:80`` (http) / ``:443`` (https) removed;
- ``www.`` / ``m.`` host prefix removed;
- tracking query parameters removed (``utm_*``, ``ref``, ``session``,
  ``fbclid``, ``gclid``), with separator cleanup so no dangling
  ``?``/``&`` survives;
- trailing slash removed (also before a surviving query string).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: scheme + authority prefix of an absolute URL (everything before the
#: first /, ? or # after the ``://``).
_SCHEME_HOST = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"

#: query parameters that never identify content (trackers / session ids).
_TRACKING = r"([?&])(utm_[^&#=]*|ref|session|fbclid|gclid)=[^&#]*"


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of an absolute URL (see module docstring for the
    exact contract). Pure regexp Column arithmetic; every step mirrors
    one DuckDB ``regexp_replace`` in the oracle."""
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")
    sh = F.lower(F.regexp_extract(u, _SCHEME_HOST, 0))
    rest = F.regexp_replace(u, _SCHEME_HOST, "")
    sh = F.regexp_replace(sh, r"^(http://.*):80$", "$1")
    sh = F.regexp_replace(sh, r"^(https://.*):443$", "$1")
    sh = F.regexp_replace(sh, r"^(https?://)(www\.|m\.)", "$1")
    rest = F.regexp_replace(rest, _TRACKING, "$1")
    rest = F.regexp_replace(rest, r"\?&+", "?")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"/\?", "?")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return F.concat(sh, rest)


def url_host(col: Column | str) -> Column:
    """Host of a CANONICAL url (run :func:`canonicalize_url` first —
    this does no case folding or mirror stripping of its own)."""
    u = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(u, r"://([^/?#:]*)", 1)


def host_datasheet(
    docs: DataFrame,
    url_col: str = "url",
    quality_col: str = "prob",
    ranks: DataFrame | None = None,
    node_col: str = "node",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-host corpus datasheet: document count, DISTINCT canonical
    URLs (the post-canonicalization dedup denominator), mean quality
    score, and — when a ``(node, rank)`` centrality table is supplied
    (:func:`graph.pagerank` over the host link graph) — the host's
    rank, the Common Crawl-style "host quality prior" join. Hosts with
    no rank row report 0.0 (sentinel, not NULL — the driver-surface
    rule).

    Determinism: ``quality_col`` is expected pre-rounded (6 dp, e.g.
    ``text.quality_classifier``'s prob); the mean is computed over
    1e-6 fixed-point integers so partial-aggregation fold order cannot
    drift the result between engines.

    Scale: canonicalization is map-only; one bounded partial-agg
    shuffle keyed by host (|hosts| rows — web-scale is ~1e7 hosts, a
    small aggregate); the rank join is a broadcast of the equally
    bounded rank table."""
    canon = canonicalize_url(F.col(url_col))
    per = docs.select(
        url_host(canon).alias("host"),
        canon.alias("_cu"),
        F.round(F.col(quality_col) * 1e6).cast("long").alias("_q"),
    )
    out = per.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("_cu").cast("long").alias("n_urls"),
        F.round(
            F.sum("_q") / (F.count(F.lit(1)) * F.lit(1e6)), 6
        ).alias("mean_quality"),
    )
    if ranks is not None:
        r = ranks.select(
            F.col(node_col).alias("host"),
            F.col(rank_col).alias("host_rank"),
        )
        out = out.join(F.broadcast(r), "host", "left").withColumn(
            "host_rank", F.coalesce(F.col("host_rank"), F.lit(0.0))
        )
    return out


def host_suffixes(col: Column | str) -> Column:
    """All label-boundary suffixes of a host, longest first:
    ``files.src3.example.com`` → ``[files.src3.example.com,
    src3.example.com, example.com, com]``. Label-boundary matching is
    what makes blocklists correct: ``src10.example.com`` is NOT a
    subdomain of ``src1.example.com``, substring/endswith-without-dot
    checks get that wrong. Pure array arithmetic (split + transform +
    slice), map-only."""
    h = F.col(col) if isinstance(col, str) else col
    labels = F.split(h, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )


def blocklist_filter(
    docs: DataFrame,
    blocked_hosts,
    blocked_patterns: "tuple[str, ...] | list[str]" = (),
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """URL blocklist gate — the first filter a web-corpus pipeline runs
    (C4 and RefinedWeb both open with a domain blocklist before any
    content heuristic; the reference pipeline's analog is its
    dataset-level include/exclude gate, `bin/linz_bde_uploader.pl`
    table-subset options). Canonicalizes ``url_col``
    (:func:`canonicalize_url`), extracts the host, and labels every
    document:

    - ``'host'``    — the host IS a blocked host or a subdomain of one
      (label-boundary suffix match via :func:`host_suffixes`);
    - ``'pattern'`` — the canonical URL matches one of
      ``blocked_patterns`` (Java-regex; a robots.txt ``Disallow:
      /prefix`` rule is the anchored pattern ``://host/prefix``);
    - ``'ok'``      — neither. Host beats pattern when both hit.

    ``blocked_hosts`` is either a small Python sequence — compiled to a
    constant-folded boolean chain, zero joins, the right shape for a
    hand-curated list — or a ``DataFrame`` with ``host_col`` (the
    UT1-style millions-of-hosts case): the doc host's suffix array is
    exploded (×~4, map-side) and broadcast-hash-joined against the
    distinct blocklist, then distinct hit ids rejoin the corpus. No
    row ever leaves as NULL: ``block_reason`` is a 3-value sentinel
    column (driver-surface rule).

    Returns ``docs`` + ``(canon_url, host, block_reason)``.

    Scale: list path is map-only. DataFrame path adds one explode +
    broadcast join + two id-keyed shuffles (distinct + rejoin), all
    equi-joins — no BNLJ; the blocklist broadcast is bounded by the
    curated list size, not the corpus.
    """
    canon = canonicalize_url(F.col(url_col))
    base = docs.withColumn("canon_url", canon).withColumn(
        "host", url_host(F.col("canon_url"))
    )
    pat_hit = F.lit(False)
    for p in blocked_patterns:
        pat_hit = pat_hit | F.col("canon_url").rlike(p)

    # The canonical host is lowercased by canonicalize_url, so blocklist
    # entries must be compared case-folded too — an entry with any
    # uppercase would otherwise never match anything.
    if isinstance(blocked_hosts, DataFrame):
        bl = blocked_hosts.select(
            F.lower(F.col(host_col)).alias("_bhost")
        ).distinct()
        hit_ids = (
            base.select(
                F.col(id_col),
                F.explode(host_suffixes("host")).alias("_suf"),
            )
            .join(F.broadcast(bl), F.col("_suf") == F.col("_bhost"))
            .select(id_col)
            .distinct()
            .withColumn("_host_hit", F.lit(True))
        )
        out = base.join(hit_ids, [id_col], "left")
        host_hit = F.coalesce(F.col("_host_hit"), F.lit(False))
    else:
        host_hit = F.lit(False)
        for h in blocked_hosts:
            h = h.lower()
            host_hit = host_hit | (F.col("host") == F.lit(h)) | F.col(
                "host"
            ).endswith("." + h)
        out = base
    return out.withColumn(
        "block_reason",
        F.when(host_hit, F.lit("host"))
        .when(pat_hit, F.lit("pattern"))
        .otherwise(F.lit("ok")),
    ).drop("_host_hit")


def url_path(col: Column | str) -> Column:
    """Path of a CANONICAL url: everything after the authority, query
    string excluded; the root path surfaces as ``/`` (canonicalization
    strips the trailing slash, so the bare-host form maps back)."""
    u = F.col(col) if isinstance(col, str) else col
    rest = F.regexp_replace(u, _SCHEME_HOST, "")
    path = F.regexp_replace(rest, r"[?#].*$", "")
    return F.when(path == "", F.lit("/")).otherwise(path)


def robots_gate(
    docs: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Robots-exclusion gate over a parsed rules table — the crawl-
    compliance filter a web pipeline runs alongside the blocklist.

    ``rules`` is ``(host, directive, path_prefix)`` with directive
    ``allow`` / ``disallow`` (other rows are ignored) — the parsed form
    of per-host ``robots.txt`` files for the crawler's user-agent.
    Precedence follows the robots-exclusion RFC 9309 / Google
    semantics: the MOST SPECIFIC (longest path-prefix) matching rule
    wins; on a length tie, allow beats disallow; a URL matching no
    rule is allowed. Prefixes are literal (no ``*``/``$`` wildcards —
    the overwhelmingly common case; a wildcard rule set compiles to
    patterns upstream if ever needed).

    Returns ``docs`` + ``(canon_url, host, path, robots_allowed,
    matched_rule)``; ``matched_rule`` is ``directive:prefix`` or the
    ``''`` sentinel (no NULL surfaces).

    Scale: rules tables are tiny (curated per-host) — the match is one
    BROADCAST hash equi-join on host with the prefix test as a join
    residual, then a doc-keyed partial agg takes the winner as a
    struct-max (score = 2·len(prefix) + is_allow, ties broken on the
    prefix string — fully deterministic), and one id-keyed rejoin.
    Everything else is map-side regexp arithmetic.
    """
    base = docs.withColumn(
        "canon_url", canonicalize_url(F.col(url_col))
    ).withColumn("host", url_host(F.col("canon_url"))).withColumn(
        "path", url_path(F.col("canon_url"))
    )
    r = rules.select(
        F.lower(F.col("host")).alias("_rhost"),
        F.lower(F.col("directive")).alias("_dir"),
        F.col("path_prefix").alias("_pfx"),
    ).filter(F.col("_dir").isin("allow", "disallow"))
    score = (
        F.length("_pfx") * 2 + F.when(F.col("_dir") == "allow", 1).otherwise(0)
    )
    matches = (
        base.select(F.col(id_col), F.col("host"), F.col("path"))
        .join(
            F.broadcast(r),
            (F.col("host") == F.col("_rhost"))
            & F.col("path").startswith(F.col("_pfx")),
        )
        .groupBy(id_col)
        .agg(
            F.max(F.struct(score.alias("s"), F.col("_pfx").alias("p"),
                           F.col("_dir").alias("d"))).alias("_w")
        )
    )
    return (
        base.join(matches, [id_col], "left")
        .withColumn(
            "robots_allowed",
            F.coalesce(F.col("_w.d") == "allow", F.lit(True)),
        )
        .withColumn(
            "matched_rule",
            F.coalesce(
                F.concat(F.col("_w.d"), F.lit(":"), F.col("_w.p")),
                F.lit(""),
            ),
        )
        .drop("_w")
    )


def extract_links(
    df: DataFrame,
    html_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """CONTRACT: extracts ``<a ...>`` tags whose ``href`` attribute is
    single- or double-QUOTED, in any attribute position but preceded
    by a delimiter (whitespace or a closing quote — so href-suffixed
    attributes like ``data-href`` are NOT hrefs), with PLAIN-TEXT
    anchor content (no nested tags, no ``>`` inside attribute values,
    no unquoted ``href=x``) — the regex grammar of a sanitized/
    HTML-ish corpus, not a browser parser; tags outside the contract
    are dropped, and ``tests/test_urls.py`` pins both the matched
    variants and the documented non-matches.

    Hyperlink extraction from HTML-ish document bodies — the first
    step of the Common Crawl host-graph recipe (extract hrefs → host
    edge list → centrality prior; the reference's analog is its
    dataset-discovery directory scan, `lib/LINZ/BdeUpload.pm` listing,
    re-expressed for web corpora). One row per anchor tag:
    ``(id, href, anchor)``.

    Shape: one JVM ``regexp_extract_all`` over the body pulls whole
    tags, an array ``transform`` splits each tag into (href, anchor)
    — still codegen, no Python — and the generator ``explode`` is fed
    the transform INLINE (the staging rule: generators take their
    input expression directly). Map-only; no shuffle.
    """
    # a delimiter (whitespace or a closing quote) is REQUIRED
    # immediately before ``href`` in both the tag and extraction
    # regexes — without it ``data-href="x"`` (any href-suffixed
    # attribute) would match as a real href, and a double-quoted
    # data-href would even steal the dispatch from a single-quoted
    # real href. Character class, not lookbehind: the DuckDB mirror
    # (`_link_graph_ctes`) is RE2, which has no lookbehind.
    tags = F.regexp_extract_all(
        F.col(html_col),
        F.lit(
            r"""<a\s(?:[^>]*[\s"'])?href\s*=\s*("[^"]*"|'[^']*')[^>]*>[^<]*</a>"""
        ),
        0,
    )

    def _href(t):
        # quote-style dispatch: the tag regex guarantees exactly one
        # DELIMITED quoted href value is present, so whichever style
        # rlike sees (with the same boundary) is the one that matched.
        dq = F.regexp_extract(t, r'[\s"\']href\s*=\s*"([^"]*)"', 1)
        sq = F.regexp_extract(t, r"[\s\"']href\s*=\s*'([^']*)'", 1)
        return F.when(t.rlike(r'[\s"\']href\s*=\s*"'), dq).otherwise(sq)

    pairs = F.transform(
        tags,
        lambda t: F.struct(
            _href(t).alias("href"),
            F.regexp_extract(t, r">([^<]*)</a>$", 1).alias("anchor"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("_l")
    ).select(
        id_col,
        F.col("_l.href").alias("href"),
        F.col("_l.anchor").alias("anchor"),
    )


def host_edges(
    links: DataFrame,
    src_host_col: str = "src_host",
    href_col: str = "href",
) -> DataFrame:
    """Distinct host→host edge list from extracted links: keep only
    ABSOLUTE ``http(s)`` hrefs (relative links and fragments never
    leave the page's own host — emitting them as edges would self-link
    every document), canonicalize each href (:func:`canonicalize_url`:
    case, mirrors, ports, trackers), take its host, and drop
    self-loops. Returns ``(src, dst)``.

    Scale: the filter + canonicalization is the map-only regexp chain;
    ``distinct`` is one shuffle on the (src, dst) pair whose key space
    is the HOST graph (tiny next to the link volume feeding it).
    """
    absolute = links.filter(F.col(href_col).rlike(r"^(?i)https?://"))
    dst = url_host(canonicalize_url(F.col(href_col)))
    return (
        absolute.select(
            F.col(src_host_col).alias("src"), dst.alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def link_spam_audit(edges: DataFrame) -> DataFrame:
    """Link-spam signals over a host edge list — the graph-shape audit
    a host-rank prior needs before anyone trusts it (link farms and
    reciprocal-exchange rings inflate PageRank; flagging them is the
    standard companion to computing it). Per host:

    - ``out_deg`` / ``in_deg`` — distinct-neighbor degrees,
    - ``n_reciprocal`` — out-edges whose reverse edge exists,
    - ``reciprocity`` — n_reciprocal / out_deg at 6 dp (0.0 for a
      host with no out-edges: sinks aren't exchanges).

    Scale: the edge list is already distinct and host-granular; the
    reciprocal probe is one self-equi-join on the reversed pair key,
    and both degree rollups are bounded |hosts|-key aggs.
    """
    e = edges.select("src", "dst")
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("_r", F.lit(1))
    marked = e.join(rev, ["src", "dst"], "left")
    outd = marked.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg"),
        F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("long")
        .alias("n_reciprocal"),
    )
    ind = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    return (
        outd.join(ind, "host", "full_outer")
        .select(
            "host",
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
            F.coalesce(F.col("in_deg"), F.lit(0)).alias("in_deg"),
            F.coalesce(F.col("n_reciprocal"), F.lit(0))
            .alias("n_reciprocal"),
            F.when(
                F.coalesce(F.col("out_deg"), F.lit(0)) > 0,
                F.round(
                    F.col("n_reciprocal").cast("double")
                    / F.col("out_deg"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("reciprocity"),
        )
    )


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical-URL dedup — the FIRST dedup stage of the published
    web-corpus recipes (C4 and RefinedWeb both dedupe by URL before
    any content hash touches the text): canonicalize every document's
    URL (:func:`canonicalize_url` — case, www./m. mirrors, default
    ports, tracker params, trailing slashes) and keep ONE capture per
    canonical URL — the longest text (the fullest capture of the same
    page), ties broken by lowest id. Returns the survivors as
    ``(id, canon_url, n_copies)`` where ``n_copies`` counts how many
    raw documents collapsed onto the canonical URL. Deterministic: the
    window key and both tiebreaks are exact.

    Reference parity anchor: the reference's level-0 loads replace a
    table keyed by its unique index rather than appending duplicates
    (`lib/LINZ/BdeUpload.pm` level-0 path); this is that keep-one-per-
    key contract with the KEY being the canonicalized URL and the
    winner chosen by capture quality instead of arrival order.

    Scale: canonicalization is the map-only regexp chain; the dedup is
    ONE window shuffle keyed by canonical URL (key cardinality = the
    distinct-page count, the quantity this stage exists to reveal).
    Text length is computed map-side — the window compares a long,
    never shuffles text order twice."""
    from pyspark.sql import Window  # noqa: PLC0415

    base = docs.select(
        F.col(id_col),
        canonicalize_url(F.col(url_col)).alias("canon_url"),
        F.length(F.col(text_col)).cast("long").alias("_len"),
    )
    w = Window.partitionBy("canon_url").orderBy(
        F.desc("_len"), F.col(id_col)
    )
    grp = Window.partitionBy("canon_url")
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(grp))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            "canon_url",
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )
