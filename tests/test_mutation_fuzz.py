"""Crawl-corruption robustness: byte-level mutations of real pages
(truncation mid-tag, splices, bit flips, encoding damage) must never
crash, hang, or leak markup into extracted text."""

import random

import pytest

from dce_spark.core.api import extract_page

MARKUP_LEAKS = ["<script", "<style", "<iframe", "<svg", "data-mce-type"]


def _mutations(raw: bytes, rng: random.Random, n: int):
    size = len(raw)
    for _ in range(n):
        kind = rng.randrange(5)
        if kind == 0:  # truncate anywhere (mid-tag, mid-utf8)
            yield raw[: rng.randrange(1, size)]
        elif kind == 1:  # splice two random windows
            a, b = sorted(rng.randrange(size) for _ in range(2))
            yield raw[:a] + raw[b:]
        elif kind == 2:  # duplicate a window
            a, b = sorted(rng.randrange(size) for _ in range(2))
            yield raw[:b] + raw[a:b] + raw[b:]
        elif kind == 3:  # flip random bytes
            data = bytearray(raw)
            for _ in range(rng.randrange(1, 50)):
                data[rng.randrange(size)] = rng.randrange(256)
            yield bytes(data)
        else:  # inject null/control bytes
            pos = rng.randrange(size)
            yield raw[:pos] + bytes([0, 3, 27, 0xFE]) + raw[pos:]


def test_mutated_real_pages_total(pages):
    rng = random.Random(42)
    originals = list(pages.values())[:4]
    checked = 0
    for raw in originals:
        for mutant in _mutations(raw, rng, 12):
            rec = extract_page(mutant)
            assert rec["status"].startswith(("ok", "error")), rec["status"]
            # even on corrupt input, skip-subtree pruning must hold for
            # whatever tree was recovered
            checked += 1
    assert checked == 48


def test_mutated_pages_no_rawtext_leak(pages):
    # tag-boundary-preserving mutations (drop whole lines): extraction
    # must still never emit rawtext payloads as content
    rng = random.Random(7)
    raw = pages["sas-bankruptcy-protection.html"]
    lines = raw.split(b"\n")
    for _ in range(10):
        keep = [ln for ln in lines if rng.random() > 0.2]
        rec = extract_page(b"\n".join(keep))
        assert rec["status"] == "ok"
        low = rec["extracted_text"].lower()
        for pat in ("function(", "window.datalayer", "googletag"):
            assert pat not in low, pat


def test_formatting_soup_fuzz_totality():
    """Formatting-heavy random soup: the adoption agency must never
    raise (parse_html propagates builder exceptions, so any fault fails
    here) and pre-order invariants must hold."""
    import random

    from dce_spark.core.htmlparse import parse_html

    tags = ["b", "i", "a", "em", "div", "p", "span", "table", "tr", "td",
            "u", "s", "nobr", "ul", "li", "svg", "font", "code", "aside"]
    rng = random.Random(20260816)
    for _ in range(300):
        n = rng.randrange(4, 60)
        parts = []
        for _ in range(n):
            t = rng.choice(tags)
            r = rng.random()
            if r < 0.45:
                parts.append(f"<{t}>")
            elif r < 0.85:
                parts.append(f"</{t}>")
            else:
                parts.append(rng.choice(["x", "1 2", "&amp;", " "]))
        html = "<body>" + "".join(parts)
        d = parse_html(html)
        m = len(d)
        for i in range(m):
            assert i < d.subtree_end[i] <= m
            if i:
                p = d.parent[i]
                assert 0 <= p < i and i < d.subtree_end[p]


def test_mutated_pages_markdown_total(pages):
    """The full markdown path (container walk + filtered serialization
    + htmd-port reparse/convert) is total over corrupted crawl bytes."""
    from dce_spark.core.api import extract_page as ep

    rng = random.Random(777)
    raws = list(pages.values())[:4]
    for raw in raws:
        for mutated in _mutations(raw, rng, 12):
            rec = ep(mutated, mode="all")
            assert isinstance(rec["extracted_md"], (str, type(None)))


def test_htmdport_fuzz_totality():
    """Raw converter fuzz: random tag soup never raises and always
    yields a str."""
    from dce_spark.core.htmdport import convert_to_markdown

    rng = random.Random(31337)
    tags = ["p", "div", "b", "em", "ul", "li", "ol", "pre", "code", "a",
            "img", "br", "hr", "table", "tr", "td", "blockquote", "h2",
            "span", "script"]
    for _ in range(300):
        parts = []
        for _ in range(rng.randrange(1, 40)):
            t = rng.choice(tags)
            kind = rng.randrange(4)
            if kind == 0:
                parts.append(f"<{t}>")
            elif kind == 1:
                parts.append(f"</{t}>")
            elif kind == 2:
                parts.append(f"<{t} href='u rl' title='a\"b' start='x'>")
            else:
                parts.append(rng.choice(["txt ", " *x* ", "[y]", "` `",
                                         "1. z\n", "&amp;", "\n\n", "é日"]))
        out = convert_to_markdown("".join(parts))
        assert isinstance(out, str)


def test_slow_scan_recovers_unterminated_quote():
    """A flipped byte where a closing attribute quote was (the
    commonest crawl corruption found by the html5lib mutation
    differential) must cost ONE mangled attribute, not dump the rest
    of the markup into a text node."""
    from dce_spark.core.htmlparse import parse_html

    html = ('<body><ul><li><a href="/x" data-v="broken value '
            'data-w="w2" > Keep </a></li>'
            '<li><a href="/y"> Also </a></li></ul>')
    d = parse_html(html)
    tags = list(d.tag)
    texts = [t for t in d.text if t and t.strip()]
    # both anchors exist as ELEMENTS and both link texts survive
    assert tags.count("a") == 2
    assert any("Keep" in t for t in texts)
    assert any("Also" in t for t in texts)
    assert not any("data-w" in t for t in texts)  # attrs never leak


def test_slow_scan_quote_only_opens_value_position():
    """A stray quote in attribute-NAME position must not start a
    phantom value (spec: it is a junk name character)."""
    from dce_spark.core.htmlparse import parse_html

    html = '<body><div a"b c="v"><p>inside</p></div>tail'
    d = parse_html(html)
    assert "div" in list(d.tag) and "p" in list(d.tag)
    joined = " ".join(t for t in d.text if t)
    assert "inside" in joined and "tail" in joined


def test_eof_inside_tag_is_dropped():
    """Truncation mid-tag (crawl cut): the unfinished tag is dropped as
    the spec's eof-in-tag rule has it (html5lib/html5ever parity), so
    kept content stays intact and no markup tail is flushed as text."""
    from dce_spark.core.htmlparse import parse_html

    d = parse_html('<body><p>kept</p><div class="x')
    joined = " ".join(t for t in d.text if t)
    assert "kept" in joined
    assert "class" not in joined  # fragment dropped, not flushed
