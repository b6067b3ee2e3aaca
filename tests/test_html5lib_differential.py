"""Differential fuzz of the tree builder against html5lib.

SURVEY §7.3 names hand-built tree construction the top parser risk;
this suite diffs dce_spark.core.htmlparse against html5lib 1.1 (the
reference spec implementation that ships vendored inside older pip
distributions — pure Python, importable without network access; the
suite skips when no vendored copy exists).

Comparison levels, from strict to semantic:

* STRICT canon: full body tree, with only inherently-incomparable
  details normalized (template elements dropped — spec puts their
  contents in a separate fragment and CETD skips them; whitespace-only
  text dropped — head/body boundary placement differs; SVG namespace
  prefixes stripped).
* CONTENT projection: additionally drops extraction-skipped subtrees
  (script/style/noscript/iframe/link/meta/svg/math) and EMPTY
  formatting elements — the only tree regions where the two parsers
  legitimately disagree (deep adoption-agency wrapper nesting; both
  sides deviate from the current spec in known, text-free ways).
* TEXT sequence: document-order non-ws text. The load-bearing
  property: our parser must NEVER lose text that html5lib keeps
  (html5lib 1.1 itself loses fostered text in several patterns — e.g.
  '<b><section><table><section>x</table>' drops the 'x'; those count
  against html5lib, not us).

Triaged known divergences (all verified against the WHATWG spec by
hand-minimization, round 5):
  ours-correct: <table><ul><table> (table-in-table closes; was OUR bug,
    fixed this round via the reset-insertion-mode walk), fostered
    element text retention, fostered <li> before table (html5lib
    inserts it INSIDE the table), reconstruction into fostered
    elements (in-body character rule applies when the current node is
    not a table context).
  ours-correct (current spec vs html5lib's pre-2013 algorithm): deep
    adoption-agency chains with >3 formatting elements between the
    subject and a special-category furthest block (~0.5% of random
    soup). Hand-trace of <i><b><em><s><em><section></i>x: the CURRENT
    WHATWG inner loop removes the 4th node (b) from the active
    formatting list when the counter exceeds 3, so the following text
    is NOT re-wrapped in b — our behavior, and html5ever's (the
    reference's parser). html5lib 1.1 keeps b (older algorithm) and
    re-wraps. Since the reference inherits the current spec via
    html5ever, these cases count as parity WITH the reference even
    though they diff against html5lib.
"""

from __future__ import annotations

import random
import zipfile
from pathlib import Path

import pytest

from dce_spark.core.htmlparse import parse_html

_VENDOR_CANDIDATES = (
    "/root/.pyenv/versions/3.7.16/lib/python3.7/site-packages/pip/_vendor",
    "/root/.pyenv/versions/3.6.15/lib/python3.6/site-packages/pip/_vendor",
)


def _load_html5lib():
    try:
        import html5lib  # noqa: F401

        return html5lib
    except ImportError:
        pass
    import sys

    for p in _VENDOR_CANDIDATES:
        if Path(p, "html5lib").is_dir():
            sys.path.insert(0, p)
            try:
                import html5lib

                return html5lib
            except ImportError:  # pragma: no cover
                sys.path.remove(p)
    return None


html5lib = _load_html5lib()
pytestmark = pytest.mark.skipif(
    html5lib is None, reason="no html5lib (vendored or installed)"
)

FORMATTING = frozenset(
    "a b i em s u font code strong small big tt strike nobr".split()
)
SKIPPED = frozenset(
    "script style noscript iframe link meta svg math".split()
)
PAGES_ZIP = Path("/root/reference/html/pages.zip")


def _merge_text(kids):
    out = []
    for k in kids:
        if k[0] == "#t" and out and out[-1][0] == "#t":
            out[-1] = ("#t", out[-1][1] + k[1])
        else:
            out.append(k)
    return tuple(
        k for k in out if k[0] != "#t" or k[1].strip() != ""
    )


def ours_canon(html):
    d = parse_html(html)
    ch = [[] for _ in range(len(d))]
    for i in range(1, len(d)):
        ch[d.parent[i]].append(i)

    def rec(i):
        if d.tag[i] == "":
            return ("#t", d.text[i] or "")
        if d.tag[i] == "template":
            return None
        kids = tuple(k for k in (rec(c) for c in ch[i]) if k is not None)
        return (d.tag[i], _merge_text(kids))

    return rec(0)


def h5_canon(html):
    # scripting=True: noscript parses as RAWTEXT, the scripting-enabled
    # behavior of browsers and html5ever (scraper's default — i.e. the
    # reference's semantics). html5lib's default scripting=False parses
    # noscript content as elements, a divergence class that is not a
    # bug on either side but is NOISE for reference-parity testing.
    tree = html5lib.parse(
        html, namespaceHTMLElements=False, scripting=True
    )
    body = tree.find(".//body")
    if body is None:  # pragma: no cover
        body = tree

    def rec(el):
        kids = []
        if el.text:
            kids.append(("#t", el.text))
        for c in el:
            if isinstance(c.tag, str):
                r = rec(c)
                if r is not None:
                    kids.append(r)
            if c.tail:
                kids.append(("#t", c.tail))
        tag = el.tag.lower()
        if "}" in tag:
            tag = tag.rsplit("}", 1)[1]
        if tag == "template":
            return None
        return (tag, _merge_text(tuple(kids)))

    return rec(body)


def project(node):
    """Content projection: drop extraction-skipped subtrees and empty
    formatting elements (the only legitimate-disagreement regions)."""
    if node is None:
        return None
    tag, kids = node
    if tag == "#t":
        return node
    if tag in SKIPPED:
        return None
    out = []
    for k in kids:
        p = project(k)
        if p is None:
            continue
        if p[0] in FORMATTING and not p[1]:
            continue
        out.append(p)
    return (tag, _merge_text(tuple(out)))


def text_seq(node, acc=None):
    if acc is None:
        acc = []
    if node is None:
        return acc
    tag, kids = node
    if tag == "#t":
        acc.append(kids)
        return acc
    for k in kids:
        if k[0] == "#t":
            acc.append(k[1])
        else:
            text_seq(k, acc)
    return [t for t in (x.strip() for x in acc) if t]


def _soup_cases(n_cases: int):
    tags = ["b", "i", "a", "em", "div", "p", "span", "table", "tr", "td",
            "u", "s", "ul", "li", "font", "code", "aside", "section"]
    rng = random.Random(20260817)
    for _ in range(n_cases):
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
                parts.append(rng.choice(["x", "1 2", "&amp;", " ", "y z w"]))
        yield "<body>" + "".join(parts)


def test_pages_zip_content_projection_parity():
    """All real regression pages build the identical content-relevant
    tree under both parsers."""
    zf = zipfile.ZipFile(PAGES_ZIP)
    names = [n for n in zf.namelist()
             if n.endswith(".html") and "._" not in n]
    assert names
    for n in names:
        raw = zf.read(n).decode("utf-8", errors="replace")
        assert project(ours_canon(raw)) == project(h5_canon(raw)), n


def test_soup_differential_rates_and_no_text_loss():
    """Random formatting soup: (a) content-projection parity holds on
    >= 95% of cases, (b) our parser NEVER drops text html5lib keeps
    (the reverse happens — html5lib loses fostered text), (c) text
    order divergence (deep adoption-agency wrapper ordering) stays
    rare."""
    cases = struct_mism = order_mism = 0
    for html in _soup_cases(800):
        cases += 1
        a, b = project(ours_canon(html)), project(h5_canon(html))
        if a != b:
            struct_mism += 1
        ta, tb = text_seq(a), text_seq(b)
        if ta != tb:
            if sorted(ta) == sorted(tb):
                order_mism += 1
            else:
                # any text html5lib kept but we lost is OUR data loss
                lost_by_us = [t for t in tb if tb.count(t) > ta.count(t)]
                assert not lost_by_us, (html, ta, tb)
    assert struct_mism / cases <= 0.05, (struct_mism, cases)
    assert order_mism <= cases // 100, (order_mism, cases)


@pytest.mark.parametrize("pool", [
    ["ul", "ol", "li", "dl", "dd", "dt", "p", "div", "span", "b"],
    ["h1", "h2", "h3", "p", "div", "section", "article", "header",
     "footer", "b", "em"],
    ["select", "option", "optgroup", "p", "div", "input", "button",
     "label"],
    ["dl", "dd", "dt", "li", "p", "a", "button", "form", "fieldset"],
    ["details", "summary", "figure", "figcaption", "blockquote", "pre",
     "hr", "br", "address", "main", "nav"],
], ids=["lists", "headings", "select", "definition", "misc"])
def test_construct_family_exact_parity(pool):
    """Lists, headings, select, definition/form and sectioning soup:
    EXACT content-projection parity with html5lib — these families
    have no known spec-version gap, so any mismatch is a regression.
    (Ruby soup is excluded: html5lib 1.1 predates the rb/rtc rules —
    all its mismatches involve those tags; our implied-end handling
    follows the current spec and is pinned below.)"""
    rng = random.Random(sum(map(ord, pool[0])))
    for _ in range(300):
        n = rng.randrange(4, 50)
        parts = []
        for _ in range(n):
            t = rng.choice(pool)
            r = rng.random()
            if r < 0.45:
                parts.append(f"<{t}>")
            elif r < 0.85:
                parts.append(f"</{t}>")
            else:
                parts.append(rng.choice(["x", "1 2", " ", "y z"]))
        html = "<body>" + "".join(parts)
        assert project(ours_canon(html)) == project(h5_canon(html)), html


@pytest.mark.parametrize("frags", [
    ["&amp;", "&lt;", "&gt;", "&quot;", "&#65;", "&#x41;", "&nbsp;",
     "&notanentity;", "&amp", "&#xZZ;", "&", "&&amp;;", "&eacute;",
     "<p>", "</p>", "<b>", "</b>", "text "],
    ["<!-- c -->", "<!-->", "<!---->", "<!-- <p> -->",
     "<!doctype html>", "<![CDATA[x]]>", "<?pi?>", "<!- bad>", "<p>",
     "</p>", "x ", "<b>"],
    ['<div class="a b">', "<div class='c'>", "<div class=d>",
     "<div hidden>", '<a href="/x" href="/y">', "<div = >",
     '<div "quoted">', "<div a=b c>", "</div>",
     "<span style='color:red'>", "</span>", "x ",
     '<input type="text">'],
    ["<textarea>", "</textarea>", "<title>", "</title>", "<xmp>",
     "</xmp>", "<pre>", "</pre>", "x <b>&amp;</b> ", "</plaintext>",
     "<p>", "</p>"],
    ["<p/>", "<br/>", "<div/>", "<P>", "</P>", "<DiV>", "</dIv>",
     "<foo>", "</foo>", "<foo-bar>", "</foo-bar>", "<1abc>", "< p>",
     "x ", "<b>", "</b>"],
], ids=["entities", "comments", "attrs", "rawtext", "weird-tags"])
def test_tokenizer_family_exact_parity(frags):
    """Entity references (named/numeric/malformed), comment/bogus
    markup, attribute syntax soup, rawtext boundaries and tag-name
    edge cases: exact content-projection parity with html5lib."""
    rng = random.Random(sum(map(ord, frags[0])))
    for _ in range(300):
        n = rng.randrange(3, 30)
        html = "<body>" + "".join(rng.choice(frags) for _ in range(n))
        assert project(ours_canon(html)) == project(h5_canon(html)), html


def test_in_select_content_restrictions():
    """Pinned WITHOUT html5lib: spec 'in select' ignores stray start
    and end tags, pops sibling optgroups only inside select, and the
    in-select-in-table family closes the select first."""
    assert ours_canon("<body><select><p>x") == (
        "body", (("select", (("#t", "x"),)),))
    assert ours_canon("<body><select><option>a<option>b") == (
        "body",
        (("select", (("option", (("#t", "a"),)),
                     ("option", (("#t", "b"),)))),),
    )
    # sibling optgroup pop is select-only; in body optgroups nest
    assert ours_canon("<body><select><optgroup><optgroup>") == (
        "body", (("select", (("optgroup", ()), ("optgroup", ()))),))
    assert ours_canon("<body><optgroup><optgroup>") == (
        "body", (("optgroup", (("optgroup", ()),)),))
    # table part while in a table-cell select: select closes
    c = ours_canon("<body><table><tr><td><select><tr>")
    assert "select" in str(c) and c[1][0][0] == "table"


def test_ruby_implied_end_tags_current_spec():
    """Pinned WITHOUT html5lib (html5lib 1.1 predates rb/rtc): with a
    ruby in scope, rb/rtc generate implied end tags and rt/rp generate
    them except for rtc — annotation parts are SIBLINGS."""
    assert ours_canon("<body><ruby><rp><rt>") == (
        "body", (("ruby", (("rp", ()), ("rt", ()))),))
    assert ours_canon("<body><ruby><rt><rtc>") == (
        "body", (("ruby", (("rt", ()), ("rtc", ()))),))
    assert ours_canon("<body><ruby><rtc><rt>") == (
        "body", (("ruby", (("rtc", (("rt", ()),)),)),))  # rt spares rtc


def test_form_element_pointer_not_flag():
    """Pinned WITHOUT html5lib: </form> is ignored when the pointed-at
    form is no longer open, and a duplicate <form> is ignored BEFORE
    any p-closing side effect."""
    # form popped with the enclosing button; </form> must not close <p>
    c = ours_canon("<body><button><form><button><p></form>x")
    assert c == ("body", (("button", (("form", ()),)),
                          ("button", (("p", (("#t", "x"),)),))))
    # duplicate <form> ignored entirely — the open <p> survives
    c = ours_canon("<body><form><p><form><button>")
    assert c == ("body", (("form", (("p", (("button", ()),)),)),))


def test_button_reconstructs_formatting():
    """Pinned WITHOUT html5lib: <button> reconstructs active
    formatting elements (an <a> left active re-wraps it)."""
    c = ours_canon("<body><fieldset><a></fieldset><button>x")
    assert c == ("body", (("fieldset", (("a", ()),)),
                          ("a", (("button", (("#t", "x"),)),))))


def test_table_in_table_closes_after_fostering():
    """Pinned WITHOUT html5lib: a <table> start tag while a table is
    open must close it even when the current node is a fostered
    element (spec reset-insertion-mode; the html5lib differential
    found the old current-node-only check nesting the second table
    inside the fostered <ul>)."""
    c = ours_canon("<body><table><ul><table>")
    assert c == ("body", (("ul", ()), ("table", ()), ("table", ())))
    # inside a cell the nested table NESTS (in-cell mode)
    c = ours_canon("<body><table><tr><td><table></table></td></tr></table>")
    assert c == (
        "body",
        (("table", (("tbody", (("tr", (("td", (("table", ()),)),)),)),)),),
    )


def test_fostered_element_keeps_its_text():
    """Pinned WITHOUT html5lib: text inside an element fostered out of
    a table survives (html5lib 1.1 drops it; we follow the spec —
    once the fostered element is current, insertion is normal)."""
    c = ours_canon("<body><b><section><table><section>x</table></b>")
    assert text_seq(c) == ["x"]


def test_mutated_real_pages_never_lose_text():
    """Byte-level mutations of every real page (truncation, splices,
    window dups, bit flips, control injection — the crawl-corruption
    battery from test_mutation_fuzz): under the content projection our
    parser NEVER keeps less text than html5lib. Round-6 burn-down of
    what this battery used to find: trailing EOF tag fragments now
    drop spec-identically (shared pre-pass), `</`+non-alpha is a bogus
    comment, and the fast tag regex pairs quotes only in value
    position. Two adjudicated divergence classes are excluded by
    CONSTRUCTION, not by filtering — they surface as equal-or-more
    text on our side: noscript is rawtext for us (scripting-enabled,
    as in html5ever/the reference; html5lib parses scripting-disabled)
    and numeric charrefs resolving to C0 controls are sanitized by the
    stdlib html.unescape (html5lib keeps the raw control char)."""
    sys = __import__("sys")
    from pathlib import Path as _P

    sys.path.insert(0, str(_P(__file__).resolve().parent))
    from test_mutation_fuzz import _mutations

    import re as _re

    rng = random.Random(20260842)
    zf = zipfile.ZipFile(PAGES_ZIP)
    names = [n for n in zf.namelist()
             if n.endswith(".html") and "._" not in n]
    checked = 0
    for name in names:
        raw = zf.read(name)
        for mutant in _mutations(raw, rng, 6):
            html = mutant.decode("utf-8", errors="replace")
            # unbalanced <template>: the spec routes everything after
            # it into the template CONTENTS fragment (outside the body
            # tree — html5ever drops it, we drop it); html5lib leaks
            # the tail back into the body, so the comparison is not
            # meaningful there (pinned ours-correct in
            # test_unterminated_template_tail_stays_out_of_body)
            if len(_re.findall(r"<template[\s>]", html, _re.I)) > len(
                _re.findall(r"</template", html, _re.I)
            ):
                continue
            try:
                ta = text_seq(project(ours_canon(html)))
                tb = text_seq(project(h5_canon(html)))
            except RecursionError:  # pragma: no cover
                continue
            checked += 1
            # C0-control sanitization: compare modulo control chars
            # html5lib retained (we drop them via stdlib unescape)
            strip = str.maketrans("", "", "".join(
                chr(c) for c in range(1, 32) if chr(c) not in "\t\n\r"
            ))
            ta_n = [t.translate(strip) for t in ta]
            tb_n = [t.translate(strip) for t in tb]
            lost = [t for t in set(tb_n) if tb_n.count(t) > ta_n.count(t)]
            assert not lost, (name, lost[:3])
    assert checked >= 50


def test_eof_spec_parity():
    """End of input follows the spec (html5lib parity): a tag cut by
    EOF drops, including chained raw `<`s, bogus end-tag tails and a
    quoted value that swallows the last `>`; a lone `<`, `</` or `< x`
    tail stays character data; EOF inside RCDATA or plaintext keeps
    the `<y` tail as text; an unterminated value swallows the rest of
    the page."""
    for frag in ("x <a", "x <a href=\"/y", "x <sp<", "x </s<li",
                 "x </\x7fp", "x <meta dat", "x <!doctyp", "x <?p",
                 "x <a href=\"foo > bar", "x <div title=\"a>b>c"):
        assert text_seq(ours_canon("<body>" + frag)) == \
            text_seq(h5_canon("<body>" + frag)), frag
        assert text_seq(ours_canon("<body>" + frag)) == ["x"], frag
    for keep in ("x <", "x </", "x < p"):
        assert text_seq(ours_canon("<body>" + keep)) == \
            text_seq(h5_canon("<body>" + keep)), keep
    for html, want in (
        ("<title>A < B and x<y", ["A < B and x<y"]),
        ("<plaintext>z <y", ["z <y"]),
        ('<p>a<a href="x >\n<p>more</p>', ["a"]),
    ):
        html = "<body>" + html
        assert ours_canon(html) == h5_canon(html), html
        assert text_seq(ours_canon(html)) == want, html


@pytest.mark.parametrize("tag", ["a", "nobr"])
def test_afe_cap_ignores_scope_markers(tag):
    """The active-formatting cap counts formatting entries only: inside
    a table cell (whose marker sits on the list) an <a> or <nobr>
    followed by 63 more formatting elements is still listed, so a
    second one closes it and the two stay siblings, as in html5lib."""
    many = "".join(f'<i id="{k}">' for k in range(63))
    html = (f'<body><table><tr><td><div><{tag} href="1">x' + many
            + f'<{tag} href="2">y')
    assert ours_canon(html) == h5_canon(html)


def test_bogus_end_tag_is_comment_not_text():
    """`</` + non-alpha is a bogus comment consumed through `>` (or a
    dropped missing-end-tag-name for `</>`) — never character data."""
    for html in ("<body>a</=>b", "<body>a</>b", "<body>a</ x>b",
                 "<body>a</\x7fxyz>b"):
        assert text_seq(ours_canon(html)) == ["ab"], html
        assert text_seq(ours_canon(html)) == text_seq(h5_canon(html))


def test_quote_pairs_only_in_value_position():
    """A stray quote after attribute-NAME characters must not open a
    phantom value that swallows the rest of the markup (the fast-path
    regex used to pair it across `>`): the tag ends at the first `>`
    outside a genuine value quote, and following text survives."""
    cases = [
        '<body><link rel="a" junkname"></div> kept" x="">B',
        '<body><div class="c"junk-2">text keeps going</div>',
        "<body><div class=\"m media=\"(x's-y-intcmp=\"\">o's Street</a>",
    ]
    for html in cases:
        assert text_seq(project(ours_canon(html))) == \
            text_seq(project(h5_canon(html))), html


def test_unterminated_template_tail_stays_out_of_body():
    """A <template> with no end tag swallows the rest of the input
    into its CONTENTS — which the spec keeps in a separate fragment
    OUTSIDE the body tree (html5ever, the reference's parser, drops it
    from the document; so do we via rawtext handling + canon template
    drop). html5lib 1.1 leaks post-template elements back into the
    body — adjudicated as its artifact, excluded from the retention
    battery by construction."""
    c = ours_canon(
        '<body><div id="w"><div></div><template id="t">x</div>'
        '<p>leak</p>'
    )
    assert text_seq(c) == []
    # well-formed template: content dropped, following text kept, and
    # the two parsers agree exactly
    html = "<body>a<template><b>x</b></template>c"
    assert ours_canon(html) == h5_canon(html)
    assert text_seq(ours_canon(html)) == ["ac"]  # merged around the dropped template
