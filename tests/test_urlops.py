"""URL canonicalization: rule-table tests + plan shape."""

import pytest

from dce_spark.functions.urlops import url_dedup, url_normalize

pytestmark = pytest.mark.spark

CASES = [
    # case noise + default port + tracking params + fragment
    ("HTTP://WWW.Example.COM:80/a/b?utm_source=feed&id=7&fbclid=xyz#frag",
     "http://www.example.com/a/b?id=7"),
    ("https://Example.com:443/x", "https://example.com/x"),
    # root slash and no-slash collapse to one key
    ("HTTPS://EXAMPLE.com/", "https://example.com"),
    ("https://example.com", "https://example.com"),
    # param ORDER of survivors is preserved (no sorting); ref= is NOT
    # a tracking param (git refs / pagination name real resources)
    ("http://Site.org/p?gclid=1&q=2&ref=rss", "http://site.org/p?q=2&ref=rss"),
    ("http://a.com/p?b=2&a=1", "http://a.com/p?b=2&a=1"),
    # non-default port survives; tracking still stripped
    ("http://a.com:8080/x?utm_campaign=1", "http://a.com:8080/x"),
    # :80 is only a default for http, :443 only for https
    ("ftp://Host.Net:80/f", "ftp://host.net:80/f"),
    ("http://a.com:443/f", "http://a.com:443/f"),
    # scheme-less input: fragment/param cleanup only
    ("relative/path?utm_source=x&k=v#z", "relative/path?k=v"),
    # query that empties out drops its '?'; root path then collapses
    ("http://a.com/?utm_source=o", "http://a.com"),
    # directory trailing slash on a NON-root path is kept
    ("http://a.com/dir/?x=1", "http://a.com/dir/?x=1"),
    # empty params are dropped
    ("http://a.com/a?&&k=v", "http://a.com/a?k=v"),
    # utm prefix must match exactly 'utm_', not 'utmX'
    ("http://a.com/a?utmx=1", "http://a.com/a?utmx=1"),
    # userinfo is not host: preserved verbatim (case-sensitive), while
    # host behind it still lowercases and sheds its default port
    ("http://UserA:Pw@Host.COM:80/x", "http://UserA:Pw@host.com/x"),
    ("https://token@API.net/v1", "https://token@api.net/v1"),
]


def test_url_normalize_rule_table(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], ["id", "url"]
    )
    got = {r.id: r.url_norm for r in url_normalize(df).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_url_dedup_collapses_equivalent_urls(spark):
    rows = [
        (3, "HTTPS://EXAMPLE.com/"),
        (7, "https://example.com"),
        (9, "https://example.com:443/?utm_source=x"),
        (5, "https://other.com/p"),
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    out = {r.url_norm: (r.keep_id, r.dup_count)
           for r in url_dedup(df, "id").collect()}
    assert out["https://example.com"] == (3, 3)
    assert out["https://other.com/p"] == (5, 1)


def test_url_normalize_plan_is_single_codegen_projection(spark):
    """The chain must stay a pure projection: no exchange, no Python
    eval — at crawl scale it runs inside the scan stage."""
    df = spark.createDataFrame([(1, "http://a.com/x")], ["id", "url"])
    plan = url_normalize(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_host_stats_counts_canonical_pressure(spark):
    from dce_spark.functions.urlops import host_stats

    rows = [
        (1, "HTTP://Farm.com:80/a?utm_source=1"),
        (2, "http://farm.com/a"),           # same canonical as 1
        (3, "http://farm.com/b"),
        (4, "https://solo.net/x"),
        (5, "no-scheme/path"),               # host '' bucket
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    out = {r.host: (r.n_urls, r.n_canonical)
           for r in host_stats(df).collect()}
    assert out["farm.com"] == (3, 2)  # dup pressure: 3 urls, 2 canonical
    # userinfo must not split a domain into phantom hosts
    ui = spark.createDataFrame(
        [(9, "http://admin@farm.com/a"), (10, "http://Farm.com/a")],
        ["id", "url"],
    )
    got = {r.host: r.n_urls for r in host_stats(ui).collect()}
    assert got == {"farm.com": 2}
    assert out["solo.net"] == (1, 1)
    assert out[""] == (1, 1)


def test_latest_snapshot_keeps_newest_then_highest_id(spark):
    from dce_spark.functions.urlops import latest_snapshot

    rows = [
        # three captures of the same canonical page across "crawls"
        (1, "HTTP://Farm.com:80/a?utm_source=x", 100),
        (2, "http://farm.com/a", 300),              # newest -> wins
        (3, "http://farm.com/a#frag", 200),
        # ts tie: the higher doc_id wins deterministically
        (4, "https://solo.net/x", 50),
        (5, "https://Solo.net:443/x", 50),
        # single capture passes through
        (6, "http://one.org/p", 7),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "ts"])
    out = {r.canonical_url: r for r in latest_snapshot(df).collect()}
    assert len(out) == 3
    farm = out["http://farm.com/a"]
    assert farm.kept_id == 2 and farm.kept_ts == 300
    assert farm.n_versions == 3
    solo = out["https://solo.net/x"]
    assert solo.kept_id == 5 and solo.kept_ts == 50
    assert out["http://one.org/p"].n_versions == 1


def test_url_blocklist_suffix_matching(spark):
    from dce_spark.functions.urlops import url_blocklist_filter

    rows = [
        (1, "http://bad.example.net/x"),        # parent listed
        (2, "http://deep.ads.bad.example.net/y"),  # grandparent listed
        (3, "http://example.net/z"),            # apex listed? no - only bad.example.net
        (4, "http://goodsite.org/a"),
        (5, "http://notbad.example.net.evil.com/b"),  # suffix is evil.com, not listed
        (6, "no-scheme-url"),                   # host '' -> never blocked
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    bl = spark.createDataFrame([("bad.example.net",)], ["host"])
    out = {r.doc_id: r for r in url_blocklist_filter(df, bl).collect()}
    assert out[1].blocked and out[2].blocked
    assert not out[3].blocked            # listing a subdomain must not
    assert not out[4].blocked            # block the parent domain
    assert not out[5].blocked            # substring != suffix
    assert not out[6].blocked and out[6].host == ""
    assert len(out) == 6                 # decision table is total


def test_robots_filter_longest_match_and_ties(spark):
    from dce_spark.functions.urlops import robots_filter

    rules = spark.createDataFrame(
        [
            ("a.test", False, "/private"),
            ("a.test", True, "/private/ok"),     # longer Allow wins
            ("a.test", False, "/tie"),
            ("a.test", True, "/tie"),            # equal length: Allow
            ("b.test", False, "/"),              # whole host closed
        ],
        ["host", "allow", "prefix"],
    )
    rows = [
        (1, "http://a.test/private/secret"),     # disallow /private
        (2, "http://a.test/private/ok/page"),    # allow overrides
        (3, "http://a.test/tie/x"),              # tie -> allow
        (4, "http://a.test/open"),               # no rule matches
        (5, "http://A.TEST/private/y"),          # host case-folded
        (6, "http://b.test"),                    # no path -> '/'
        (7, "http://unlisted.net/whatever"),     # host without rules
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r.doc_id: r for r in robots_filter(df, rules).collect()}
    assert not out[1].allowed
    assert out[2].allowed
    assert out[3].allowed
    assert out[4].allowed
    assert not out[5].allowed
    assert not out[6].allowed and out[6].path == "/"
    assert out[7].allowed
    assert len(out) == 7  # verdict table is total


def test_host_link_edges_internal_and_relative(spark):
    from dce_spark.functions.urlops import host_link_edges

    rows = [
        (1, "http://a.test/p1",
         ["http://b.test/x", "/relative/nav", "http://a.test/self",
          "http://b.test/y"]),
        (2, "http://a.test/p2", ["HTTPS://B.TEST/z"]),  # case-folded
        (3, "http://c.test/p", []),                     # no links
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "links"])
    out = {(r.src_host, r.dst_host): r
           for r in host_link_edges(df).collect()}
    # a.test -> b.test: 2 from page 1 + 1 case-folded from page 2
    assert out[("a.test", "b.test")].n_links == 3
    assert not out[("a.test", "b.test")].internal
    # relative link + explicit self-link both stay on a.test
    assert out[("a.test", "a.test")].n_links == 2
    assert out[("a.test", "a.test")].internal
    # a page with no links contributes no edges
    assert not any(s == "c.test" for s, _ in out)


def test_host_link_edges_composes_with_extraction(spark):
    """The operator runs directly on the extraction pipeline's output
    (content_links) — the real producer of the links column."""
    from dce_spark.functions.urlops import host_link_edges
    from dce_spark.spark.corpus import build_pages_df
    from dce_spark.spark.udf import attach_extraction

    pages = build_pages_df(spark, n_synthetic=6, include_fixtures=False,
                           partitions=2)
    extracted = attach_extraction(pages, mode="both")
    edges = host_link_edges(
        extracted.filter("content_links is not null"),
        links_col="content_links",
    )
    # runs and returns the edge schema; synthetic pages may or may
    # not contain anchors, so assert shape rather than counts
    assert edges.columns == ["src_host", "dst_host", "n_links",
                             "internal"]
    edges.collect()


_ROBOTS_BODY = """# demo file
User-agent: googlebot
Disallow: /google-only

User-agent: *
User-agent: otherbot
Disallow: /private/
Allow: /private/ok
Disallow:
Crawl-delay: 10

User-agent: databot
Disallow: /exact
"""


def test_parse_robots_group_semantics(spark):
    from dce_spark.functions.urlops import parse_robots

    df = spark.createDataFrame(
        [("a.test", _ROBOTS_BODY), ("b.test", "User-agent: *\nDisallow: /x\n")],
        ["host", "body"],
    )
    # exact-agent group present -> ONLY its rules apply on that host
    exact = sorted(
        map(tuple, parse_robots(df, agent="databot").collect())
    )
    assert exact == [("a.test", False, "/exact"), ("b.test", False, "/x")]
    # unknown agent falls back to the '*' group; the multi-UA header
    # groups rules correctly; empty Disallow and crawl-delay dropped
    star = sorted(map(tuple, parse_robots(df, agent="nobody").collect()))
    assert star == [
        ("a.test", False, "/private/"),
        ("a.test", True, "/private/ok"),
        ("b.test", False, "/x"),
    ]
    # agent matching is case-insensitive on the UA token
    assert sorted(
        map(tuple, parse_robots(df, agent="DataBot").collect())
    )[0] == ("a.test", False, "/exact")
    # RFC 9309 longest-prefix selection: a versioned product token
    # still obeys its vendor group, and the longest token wins
    assert sorted(
        map(tuple, parse_robots(df, agent="databot-news/1.0").collect())
    )[0] == ("a.test", False, "/exact")
    longest = spark.createDataFrame(
        [("h.test",
          "User-agent: data\nDisallow: /short\n"
          "User-agent: databot\nDisallow: /long\n")],
        ["host", "body"],
    )
    assert sorted(map(tuple, parse_robots(
        longest, agent="databot-x").collect())) == [
        ("h.test", False, "/long")]


def test_parse_robots_feeds_robots_filter(spark):
    """End-to-end REP: raw body -> parse_robots -> robots_filter."""
    from dce_spark.functions.urlops import parse_robots, robots_filter

    bodies = spark.createDataFrame(
        [("a.test", "User-agent: *\nDisallow: /priv\nAllow: /priv/pub\n")],
        ["host", "body"],
    )
    urls = spark.createDataFrame(
        [(1, "https://a.test/priv/x"), (2, "https://a.test/priv/pub/y"),
         (3, "https://a.test/open")],
        ["doc_id", "url"],
    )
    rules = parse_robots(bodies, agent="crawler")
    out = {r.doc_id: r.allowed for r in robots_filter(urls, rules).collect()}
    assert out == {1: False, 2: True, 3: True}


def test_host_quota_sample_caps_heavy_host(spark):
    from dce_spark.functions.urlops import host_quota_sample

    rows = [(i, "https://megafarm.net/p/%d" % i) for i in range(2000)]
    rows += [(10000 + i, "https://tiny.org/%d" % i) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = host_quota_sample(df, max_per_host=100)
    kept = {h: 0 for h in ("megafarm.net", "tiny.org")}
    total = {h: 0 for h in kept}
    for r in out.collect():
        total[r.host] += 1
        kept[r.host] += int(r.kept)
    assert total == {"megafarm.net": 2000, "tiny.org": 3}  # total output
    # under-quota host: keep probability 1 (threshold > 2^40)
    assert kept["tiny.org"] == 3
    # heavy host capped near the quota (binomial: 100 +- ~30 at 3 sigma)
    assert 60 <= kept["megafarm.net"] <= 140
    # deterministic under partitioning
    again = sorted(map(tuple, host_quota_sample(
        df.repartition(13), max_per_host=100).collect()))
    assert again == sorted(map(tuple, out.collect()))


def test_parse_robots_total_on_garbage(spark):
    """Arbitrary junk bodies never raise and never leak non-rule
    fields; output schema is stable."""
    from dce_spark.functions.urlops import parse_robots

    bodies = [
        "",
        "\n\n\n",
        "no colons here at all",
        ":::: weird :::",
        "Disallow: /orphan-before-any-group\n",
        "User-agent: *",                      # group with no rules
        "User-agent: *\nDisallow /missing-colon\nAllow: ok\n",
        "Sitemap: https://x/s.xml\nCrawl-delay: 9\n",
        "User-agent: *\r\nDisallow: /crlf\r\n",   # CRLF endings
        "\x00\x01\x02User-agent: *\nDisallow: /bin\n",
    ]
    df = spark.createDataFrame(
        [(f"h{i}.test", b) for i, b in enumerate(bodies)],
        ["host", "body"],
    )
    out = parse_robots(df, agent="anybot").collect()
    assert all(r.prefix != "" for r in out)
    got = {(r.host, r.allow, r.prefix) for r in out}
    # rules outside any group are ignored; missing-colon lines too
    assert ("h4.test", False, "/orphan-before-any-group") not in got
    assert ("h8.test", False, "/crlf") in got
    assert ("h6.test", True, "ok") in got


def test_robots_directives(spark):
    """Crawl-delay obeys RFC 9309 group selection (min across the
    obeyed group's numeric lines; non-numeric rejected); Sitemap is
    file-global per sitemaps.org and keeps URL case."""
    from dce_spark.functions.urlops import robots_directives

    body_a = (
        "User-agent: googlebot\nCrawl-delay: 1\nDisallow: /g\n\n"
        "User-agent: *\nCrawl-delay: fast\nCrawl-delay: 2.5\n"
        "Disallow: /x\n"
        "Sitemap: https://a.test/SiteMap.xml\n"
    )
    body_b = (  # exact group supersedes *, min of its two delays
        "User-agent: *\nCrawl-delay: 1\n\n"
        "User-agent: databot\nCrawl-delay: 9\nCrawl-delay: 4\n"
        "Disallow: /d\n"
        "Sitemap: https://b.test/s1.xml\nSitemap: https://b.test/s2.xml\n"
    )
    body_c = "User-agent: *\nDisallow: /\n"  # no directives at all
    df = spark.createDataFrame(
        [("a.test", body_a), ("b.test", body_b), ("c.test", body_c)],
        ["host", "body"],
    )
    rows = robots_directives(df, agent="databot").collect()
    delays = {r.host: r.value_num for r in rows
              if r.directive == "crawl_delay"}
    maps = sorted((r.host, r.value_str) for r in rows
                  if r.directive == "sitemap")
    assert delays == {"a.test": 2.5, "b.test": 4.0}
    assert maps == [
        ("a.test", "https://a.test/SiteMap.xml"),
        ("b.test", "https://b.test/s1.xml"),
        ("b.test", "https://b.test/s2.xml"),
    ]


def test_schedule_fetches(spark):
    """Per-host slots are url-ordered and 0-based; not_before honors
    the host's crawl-delay (ms-integer), default where absent."""
    from dce_spark.functions.urlops import schedule_fetches

    frontier = spark.createDataFrame(
        [("https://a.test/2",), ("https://a.test/1",),
         ("https://b.test/only",)], ["url"])
    directives = spark.createDataFrame(
        [("a.test", "crawl_delay", None, 2.5),
         ("a.test", "sitemap", "https://a.test/s.xml", None)],
        ["host", "directive", "value_str", "value_num"])
    out = {r.url: r for r in schedule_fetches(
        frontier, directives).collect()}
    assert (out["https://a.test/1"].slot,
            out["https://a.test/1"].not_before_ms) == (0, 0)
    assert (out["https://a.test/2"].slot,
            out["https://a.test/2"].not_before_ms) == (1, 2500)
    assert (out["https://b.test/only"].slot,
            out["https://b.test/only"].not_before_ms) == (0, 0)
    two_b = spark.createDataFrame(
        [("https://b.test/x",), ("https://b.test/y",)], ["url"])
    out2 = {r.url: r.not_before_ms for r in schedule_fetches(
        two_b, directives).collect()}
    assert out2["https://b.test/y"] == 1000  # default delay fallback
