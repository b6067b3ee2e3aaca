"""URL canonicalization for web-corpus curation.

Crawl dedup starts at the URL: the same page is fetched as
``HTTP://Example.COM:80/a?utm_source=feed#top`` and
``http://example.com/a`` — exact text dedup never sees them as one
document until the key is canonical. ``url_normalize_col`` is a pure
Catalyst expression chain (regexp_extract / regexp_replace / lambda
array-filter — whole-stage codegen, no Python, no UDF), so at crawl
scale it runs inside the scan projection and the groupBy key it feeds
is computed map-side.

Normalization rules (the conservative, loss-free subset every
canonicalizer agrees on):
  * drop the fragment (``#...`` never reaches the server)
  * lowercase the scheme and host (case-insensitive per RFC 3986)
  * drop default ports (``:80`` for http, ``:443`` for https)
  * drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``,
    ``msclkid``) — preserving the order of the rest, since servers
    may be order-sensitive (param SORTING is deliberately not done;
    ``ref`` is deliberately NOT stripped — see _TRACKING_PREFIXES)
  * collapse a bare root path: ``http://x.com/`` == ``http://x.com``

Every step sticks to the Spark/DuckDB common SQL subset (no regex
backreferences — the replacement syntax differs between engines
($1 vs \\1); no LIKE with ``_`` wildcards; regexp with empty
replacement, substr on literals, array lambdas only), so the DuckDB
oracle in __spark_entry__ evaluates the very same algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# query params that identify a campaign, not a resource. 'ref=' is
# deliberately NOT here: despite its referral use on some sites, it
# widely names real resources (git refs, pagination cursors, API
# version selectors) — stripping it would merge distinct documents,
# and a dedup on the canonical URL would then drop real pages, not
# just mis-count them
_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "msclkid=")

_HEAD_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*"
_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
_USERINFO_RE = "^[^/@]*@"


def _is_tracking(param: Column) -> Column:
    cond = F.lit(False)
    for p in _TRACKING_PREFIXES:
        cond = cond | (F.substring(param, 1, len(p)) == F.lit(p))
    return cond


def url_normalize_col(url: Column) -> Column:
    """Canonical form of a URL column (see module docstring for the
    rule set). URLs without a ``scheme://host`` prefix pass through
    with only fragment/tracking-param cleanup. The authority is split
    as scheme :// [userinfo @] hostport — only scheme and hostport are
    case-insensitive per RFC 3986; userinfo is preserved verbatim."""
    no_frag = F.regexp_replace(url, "#.*", "")
    head_raw = F.regexp_extract(no_frag, _HEAD_RE, 0)
    tail = F.regexp_replace(no_frag, _HEAD_RE, "")
    scheme = F.lower(F.regexp_extract(head_raw, _SCHEME_RE, 0))
    auth = F.regexp_replace(head_raw, _SCHEME_RE, "")
    userinfo = F.regexp_extract(auth, _USERINFO_RE, 0)
    hostport = F.lower(F.regexp_replace(auth, _USERINFO_RE, ""))
    hostport = (
        F.when(
            (scheme == F.lit("http://")) & hostport.endswith(":80"),
            F.substring(hostport, F.lit(1), F.length(hostport) - 3),
        )
        .when(
            (scheme == F.lit("https://")) & hostport.endswith(":443"),
            F.substring(hostport, F.lit(1), F.length(hostport) - 4),
        )
        .otherwise(hostport)
    )
    head = F.concat(scheme, userinfo, hostport)
    path = F.regexp_extract(tail, "^[^?]*", 0)
    query = F.regexp_replace(tail, "^[^?]*[?]?", "")
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~_is_tracking(p),
    )
    query = F.array_join(kept, "&")
    path = F.when(
        (path == F.lit("/")) & (query == F.lit("")), F.lit("")
    ).otherwise(path)
    return F.concat(
        head,
        path,
        F.when(query == F.lit(""), F.lit("")).otherwise(
            F.concat(F.lit("?"), query)
        ),
    )


def url_normalize(df: DataFrame) -> DataFrame:
    """df plus a ``url_norm`` column, the canonical form of ``url``."""
    return df.withColumn("url_norm", url_normalize_col(F.col("url")))


def url_dedup(df: DataFrame, id_col: str) -> DataFrame:
    """URL-level dedup decision: one hash-shuffle on the canonical URL
    (the key is computed map-side in the scan projection), keeping the
    smallest id per canonical URL. Returns
    (url_norm, keep_id, dup_count)."""
    norm = url_normalize(df)
    return norm.groupBy("url_norm").agg(
        F.min(F.col(id_col)).cast("long").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


_HOST_RE = "^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)"


def url_host_col(url: Column) -> Column:
    """Lowercased host of an absolute URL ('' for scheme-less input);
    userinfo ('user:pass@') and the port are not part of the host.
    Group-indexed regexp_extract — identical semantics in Spark and
    DuckDB (group CAPTURE indices are dialect-stable; only REPLACEMENT
    backreferences differ; (?:...) non-capturing groups are common to
    Java regex and RE2)."""
    return F.regexp_extract(F.lower(url), _HOST_RE, 1)


def host_stats(df: DataFrame) -> DataFrame:
    """Per-domain corpus stats: (host, n_urls, n_canonical). The
    n_urls/n_canonical gap is the crawl-dup pressure of a domain —
    link-farm and mirror hosts show many URLs collapsing onto few
    canonical keys, a standard domain-level filter signal. One
    hash-shuffle on host; both keys are computed map-side in the scan
    projection."""
    norm = url_normalize(df).withColumn("host", url_host_col(F.col("url")))
    return norm.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("url_norm").alias("n_canonical"),
    )


def latest_snapshot(df: DataFrame) -> DataFrame:
    """Crawl-snapshot dedup: the same page is re-fetched in every
    crawl; keep only the NEWEST capture of each canonical URL (the
    Common-Crawl "latest revision wins" policy), ties broken by the
    highest id so the choice is deterministic.

    One groupBy on the canonical key with a single max(struct(ts, id))
    aggregate — lexicographic struct ordering gives argmax-by-(ts, id)
    with full map-side partial aggregation and no Window operator (no
    per-key row_number sort, no low-cardinality window key; cf. the
    events_last_max plan test). At 10^12 rows this is exactly one
    linear shuffle on the canonical-url key; the canonical key itself
    is computed map-side in the scan projection."""
    return (
        df.select(
            F.col("doc_id").cast("long").alias("_id"),
            url_normalize_col(F.col("url")).alias("canonical_url"),
            F.col("ts").cast("long").alias("_ts"),
        )
        .groupBy("canonical_url")
        .agg(
            F.max(F.struct(F.col("_ts").alias("ts"),
                           F.col("_id").alias("id"))).alias("_m"),
            F.count(F.lit(1)).cast("long").alias("n_versions"),
        )
        .select(
            "canonical_url",
            F.col("_m.id").alias("kept_id"),
            F.col("_m.ts").alias("kept_ts"),
            "n_versions",
        )
    )


def url_blocklist_filter(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Domain-blocklist filtering (the UT1/adult-blocklist hygiene
    pass every crawl pipeline runs first): a page is blocked when its
    host OR ANY PARENT DOMAIN is listed — ads.tracker.example.com
    matches a blocklist entry 'example.com'.

    Spark shape: ONE scan — the host explodes into its <=~5
    dot-suffixes projection-side, a broadcast LEFT join marks hits,
    and one groupBy(id, host) with max(hit) folds the suffixes back
    (map-side partials; no second read of the input, no join-back
    shuffle). The blocklist is broadcast (UT1-size lists, ~10^6-10^7
    hosts, fit comfortably); for a larger list drop the hint and AQE
    falls back to a shuffled hash join on the same key. Blocklist
    entries are normalized (lowercase, trailing dot stripped) so a
    mixed-case list cannot silently never match the lowercased host
    side. Output is TOTAL over input rows: (id, host, blocked) —
    callers keep ~blocked or route blocked rows to a quarantine
    sink."""
    host = url_host_col(F.col("url"))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(parts, i, n)),
    )
    bl = F.broadcast(
        blocklist.select(
            F.rtrim(F.lower(F.col("host")), F.lit(".")).alias("suffix"),
            F.lit(True).alias("_hit"),
        ).distinct()
    )
    exploded = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        host.alias("host"),
        F.explode(sufs).alias("suffix"),
    )
    return (
        exploded.join(bl, "suffix", "left")
        .groupBy("doc_id", "host")
        .agg(
            F.max(F.coalesce(F.col("_hit"), F.lit(False))).alias(
                "blocked"
            )
        )
    )


def robots_filter(df: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-exclusion (REP, RFC 9309) rule evaluation for a crawl
    frontier: `rules` holds one row per (host, allow, prefix) — the
    already-parsed Allow/Disallow lines for the crawler's user-agent
    (empty-prefix Disallow lines mean "no restriction" per the RFC
    and must be dropped upstream). A URL's verdict is the MOST
    SPECIFIC (longest-prefix) matching rule; on a length tie Allow
    wins; no matching rule means allowed.

    The argmax is a plain integer max: score = 2*len(prefix) + allow,
    so longer prefixes dominate and the +1 breaks ties toward Allow —
    one broadcast join on host (robots tables are host-cardinality;
    drop the hint past ~10^7 hosts), one startswith filter, one
    map-side-combined groupBy max, one join back for totality. Output
    (id, host, path, allowed) over ALL input rows."""
    host = url_host_col(F.col("url"))
    raw_path = F.regexp_extract(
        F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/.*)?$", 1
    )
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    base = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        host.alias("host"),
        path.alias("path"),
    )
    rl = F.broadcast(
        rules.select(
            F.lower(F.col("host")).alias("host"),
            (
                F.length("prefix") * 2
                + F.when(F.col("allow"), 1).otherwise(0)
            ).cast("long").alias("_score"),
            F.col("prefix"),
        )
    )
    verdicts = (
        base.join(rl, "host")
        .filter(F.col("path").startswith(F.col("prefix")))
        .groupBy("doc_id")
        .agg(F.max("_score").alias("_best"))
    )
    return base.join(verdicts, "doc_id", "left").select(
        "doc_id",
        "host",
        "path",
        F.coalesce(F.pmod(F.col("_best"), F.lit(2)) == 1, F.lit(True))
        .alias("allowed"),
    )


def host_link_edges(df: DataFrame, links_col: str = "links") -> DataFrame:
    """Host-level web-graph edge list from extracted page links (the
    pipeline's `content_links` column): one (src_host, dst_host) edge
    row per link with a count — the primitive behind domain authority
    signals, spam-cluster detection, and crawl frontier expansion.
    Scheme-less (relative) links stay on the source host and count as
    internal.

    Shape: two host projections + one explode + one groupBy on the
    (src, dst) pair — map-side partials absorb the within-page
    repetition (nav bars emit the same edge hundreds of times per
    page), so the shuffle carries one row per page-edge, not per
    anchor. Linear at 10^12 pages."""
    src = url_host_col(F.col("url"))
    edges = df.select(
        src.alias("src_host"),
        F.explode(F.col(links_col)).alias("_dst"),
    ).select(
        "src_host",
        F.coalesce(
            F.nullif(url_host_col(F.col("_dst")), F.lit("")),
            F.col("src_host"),
        ).alias("dst_host"),
    )
    return (
        edges.groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
        .select(
            "src_host",
            "dst_host",
            "n_links",
            (F.col("src_host") == F.col("dst_host")).alias("internal"),
        )
    )


def _robots_groups(df: DataFrame, agent: str):
    """Shared REP front half: split bodies into (host, pos, field,
    value) lines, assign RFC 9309 groups, and select the group set the
    given agent obeys (longest-prefix UA token, '*' fallback). Returns
    (flagged_lines, selected_groups) for parse_robots /
    robots_directives to project."""
    from pyspark.sql.window import Window

    lines = df.select(
        "host",
        F.posexplode(
            F.split(F.col("body"), r"\r\n|\r|\n")
        ).alias("pos", "raw"),
    )
    parsed = lines.select(
        "host", "pos",
        F.trim(F.regexp_replace(F.col("raw"), "#.*", "")).alias("line"),
    ).select(
        "host", "pos",
        F.lower(
            F.trim(F.regexp_extract(F.col("line"), "^([^:]+):", 1))
        ).alias("field"),
        F.trim(
            F.regexp_extract(F.col("line"), "^[^:]+:(.*)$", 1)
        ).alias("value"),
    )
    w = Window.partitionBy("host").orderBy("pos")
    flagged = (
        parsed.withColumn("is_ua", F.col("field") == "user-agent")
        .withColumn(
            "starts",
            F.col("is_ua")
            & ~F.coalesce(F.lag("is_ua", 1).over(w), F.lit(False)),
        )
        .withColumn(
            "grp",
            F.sum(F.when(F.col("starts"), 1).otherwise(0)).over(w),
        )
    )
    # RFC 9309 §2.2.1 group selection: the crawler obeys the group(s)
    # whose user-agent token is the LONGEST prefix of its own product
    # token (case-insensitive); '*' groups apply only when no token
    # matches at all. match_len encodes that: length of the longest
    # matching UA value per group, 0 for none.
    agent_l = agent.lower()
    ua_val = F.lower(F.col("value"))
    match_len = F.when(
        F.lit(agent_l).startswith(ua_val), F.length(ua_val)
    ).otherwise(F.lit(0))
    uas = (
        flagged.filter(F.col("is_ua"))
        .groupBy("host", "grp")
        .agg(
            F.max(match_len).alias("match_len"),
            F.max(F.col("value") == "*").alias("star"),
        )
    )
    host_best = uas.groupBy("host").agg(
        F.max("match_len").alias("best")
    )
    selected = (
        uas.join(host_best, "host")
        .filter(
            F.when(F.col("best") > 0,
                   F.col("match_len") == F.col("best"))
            .otherwise(F.col("star"))
        )
        .select("host", "grp")
    )
    return flagged, selected


def parse_robots(df: DataFrame, agent: str = "*") -> DataFrame:
    """Parse raw robots.txt bodies into the (host, allow, prefix)
    rules table that :func:`robots_filter` evaluates — the missing
    front half of the REP pipeline (fetching gives you bodies; this
    turns them into decisions).

    RFC 9309 grouping semantics, pure Catalyst; see _robots_groups for
    the line/group machinery. Empty-value rules ("Disallow:" =
    unrestricted) are dropped — exactly the precondition robots_filter
    documents. Non-rule fields (crawl-delay, sitemap) are surfaced by
    :func:`robots_directives`, not here.

    Scale shape: the two per-host ordered windows (lag for
    group-start, running sum for group id) partition on host — a
    robots body is capped at ~500 KB by the RFC, so per-host work is
    bounded and the shuffle key is the natural host key the rest of
    the URL layer already uses. Everything else is projections and
    one semi-join of rule lines against the selected group set.
    """
    flagged, selected = _robots_groups(df, agent)
    return (
        flagged.filter(
            F.col("field").isin("allow", "disallow")
            & (F.col("value") != "")
        )
        .join(selected, ["host", "grp"], "semi")
        .select(
            "host",
            (F.col("field") == "allow").alias("allow"),
            F.col("value").alias("prefix"),
        )
        .distinct()
    )


def robots_directives(df: DataFrame, agent: str = "*") -> DataFrame:
    """The de-facto REP extensions a polite crawler consumes beyond
    allow/disallow: ``Crawl-delay`` (per selected user-agent group —
    the minimum numeric value across the obeyed groups, conservative
    under ties) and ``Sitemap`` (file-global per sitemaps.org,
    group-independent). Long form so the two kinds hash cleanly:
    (host, directive, value_str, value_num) with directive
    'crawl_delay' (value_num set) or 'sitemap' (value_str set).

    Same scale shape as parse_robots (shared _robots_groups front
    half): host-keyed windows over RFC-bounded bodies, then one
    bounded agg per host.
    """
    flagged, selected = _robots_groups(df, agent)
    delay = (
        flagged.filter(
            (F.col("field") == "crawl-delay")
            & F.col("value").rlike(r"^[0-9]+(\.[0-9]+)?$")
        )
        .join(selected, ["host", "grp"], "semi")
        .groupBy("host")
        .agg(F.min(F.col("value").cast("double")).alias("value_num"))
        .select(
            "host",
            F.lit("crawl_delay").alias("directive"),
            F.lit(None).cast("string").alias("value_str"),
            "value_num",
        )
    )
    # Sitemap keeps the ORIGINAL case: the line parse lowercases only
    # the field name; URLs are case-sensitive past the host
    sitemaps = (
        flagged.filter(
            (F.col("field") == "sitemap") & (F.col("value") != "")
        )
        .select(
            "host",
            F.lit("sitemap").alias("directive"),
            F.col("value").alias("value_str"),
            F.lit(None).cast("double").alias("value_num"),
        )
        .distinct()
    )
    return delay.unionByName(sitemaps)


def host_quota_sample(df: DataFrame, max_per_host: int) -> DataFrame:
    """Domain balancing: cap each host's contribution at ~``max_per_
    host`` documents (the anti-SEO-farm / anti-mirror step — without
    it one blog platform is 10% of the corpus). A document is kept
    with probability min(1, quota / host_count), decided by a
    deterministic salted-md5 draw, so the kept count per host is
    quota in expectation (binomial concentration; for quota >= ~100
    the deviation is a few percent) — the price of needing NO
    per-host ordering: an exact top-N would need a rank per host,
    i.e. a window sort on a Zipf-skewed key, exactly the shape this
    module avoids.

    Integer-exact keep rule (bit-identical on any engine and
    partitioning): 40-bit md5 draw < (quota << 40) div host_count —
    no float boundary, quota safe to 2^23. Shape: one count agg on
    host + one join back on host; the host key is Zipf-skewed, so on
    the probe side AQE skew-split applies — or pre-aggregate by
    (host, bucket) upstream. Output (id, host, kept) total over
    input."""
    base = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url_host_col(F.col("url")).alias("host"),
    )
    counts = base.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("_hc")
    )
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hq1:"),
                           F.col("doc_id").cast("string"))),
            1, 10,
        ),
        16, 10,
    ).cast("long")  # 40-bit uniform draw
    threshold = F.expr(
        f"(CAST({int(max_per_host)} AS BIGINT)"
        f" * CAST({1 << 40} AS BIGINT)) div _hc"
    )
    return base.join(counts, "host").select(
        "doc_id",
        "host",
        (draw < threshold).alias("kept"),
    )


def schedule_fetches(frontier: DataFrame, directives: DataFrame) -> DataFrame:
    """Politeness scheduler: assign every frontier URL a per-host fetch
    slot and an earliest-start offset honoring Crawl-delay — the last
    leg of the REP composition (parse_robots gates WHAT may be
    fetched, robots_directives says HOW FAST, this says WHEN).

    ``directives`` is robots_directives output (only its
    directive='crawl_delay' rows are read); hosts without a delay wait
    one second between fetches. Output (url, host, slot, not_before_ms):
    slot is the 0-based position of the url within its host (ordered
    by url — deterministic under any partitioning) and
    not_before_ms = slot * delay_ms with delay_ms a rounded integer,
    so the schedule is bit-stable cross-engine.

    Scale shape: one row_number window partitioned on host — the one
    place a per-host window is the honest shape, because politeness is
    inherently per-host sequential; host fan-in is bounded upstream
    (host_quota_sample), so the window key is not unbounded-skewed.
    The delay table joins as a broadcast (one row per host with a
    robots file).
    """
    from pyspark.sql.window import Window

    delays = (
        directives.filter(F.col("directive") == "crawl_delay")
        .select(
            "host",
            F.round(F.col("value_num") * 1000).cast("long")
            .alias("delay_ms"),
        )
    )
    urls = frontier.select("url", url_host_col(F.col("url")).alias("host"))
    w = Window.partitionBy("host").orderBy("url")
    return (
        urls.withColumn("slot", F.row_number().over(w) - 1)
        .join(F.broadcast(delays), "host", "left")
        .select(
            "url", "host",
            F.col("slot").cast("long").alias("slot"),
            (
                F.col("slot")
                * F.coalesce(F.col("delay_ms"), F.lit(1000))
            ).cast("long").alias("not_before_ms"),
        )
    )
