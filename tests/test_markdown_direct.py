"""Markdown converted straight from the page's node table against the
reference dataflow it replaces: serialize the pruned container
(filtered_inner_html) and convert the reparsed string. Both routes
must give byte-identical markdown; the shapes whose reparse builds a
different tree must take the reparse route."""

import random
import sys

import pytest

from dce_spark.core import markdown
from dce_spark.core.api import decode_html, extract_page
from dce_spark.core.cetd import DensityTree
from dce_spark.core.htmdport import convert_subtree, convert_to_markdown
from dce_spark.core.htmlparse import KIND_TEXT, parse_html
from dce_spark.core.markdown import (
    _pruned,
    filtered_inner_html,
    render_markdown,
)
from dce_spark.spark.corpus import fixture_rows, synth_page
from perfbench.gen import _sentence, article_page, page_sizes


def _routes(doc, root):
    """(direct markdown or None when routed to the reparse, reparse
    markdown)."""
    reparsed = convert_to_markdown(filtered_inner_html(doc, root))
    return convert_subtree(doc, root, _pruned), reparsed


def _containers(html, monkeypatch):
    """(doc, container) pairs extract_content_as_markdown converts."""
    seen = []
    monkeypatch.setattr(
        markdown, "render_markdown", lambda doc, c: seen.append((doc, c)) or ""
    )
    dtree = DensityTree.from_html(decode_html(html))
    dtree.calculate_density_sum()
    markdown.extract_content_as_markdown(dtree)
    monkeypatch.undo()
    return seen


def _differential(pages, monkeypatch, capsys, corpus, every_element=False):
    """Assert both routes agree on every page's markdown container (and,
    with ``every_element``, at every element of the page); report and
    return the share of roots routed to the reparse."""
    roots = reparsed = 0
    for html in pages:
        for doc, container in _containers(html, monkeypatch):
            targets = [container]
            if every_element:
                targets += [
                    i for i in range(len(doc)) if doc.kind[i] != KIND_TEXT
                ]
            for root in targets:
                direct, via_reparse = _routes(doc, root)
                roots += 1
                if direct is None:
                    reparsed += 1
                else:
                    assert direct == via_reparse, (corpus, html[:300], root)
    rate = reparsed / max(roots, 1)
    with capsys.disabled():
        print(f"\n[markdown routes] {corpus}: {roots} roots, "
              f"{reparsed} reparsed ({rate:.1%})")
    return rate


def _perfbench_pages(n, seed):
    rng = random.Random(f"warc:{seed}")
    pool = [_sentence(rng, rng.randrange(8, 30)) for _ in range(1500)]
    sizes = page_sizes(rng, n)
    return [article_page(rng, i, pool, sizes[i])[1] for i in range(n)]


def test_routes_agree_on_fixture_and_synth_rows(monkeypatch, capsys):
    fixtures = [r["html"] for r in fixture_rows()]
    _differential(fixtures, monkeypatch, capsys, "fixture rows",
                  every_element=True)
    synth = [synth_page(i)["html"] for i in range(32)]
    # the article pages the benchmark measures all take the direct route
    assert _differential(synth, monkeypatch, capsys, "synth pages") == 0.0


def test_routes_agree_on_perfbench_pages(monkeypatch, capsys):
    pages = _perfbench_pages(600, seed=3)
    assert _differential(pages, monkeypatch, capsys, "perfbench pages") == 0.0


# tag soup: the reparse-sensitive shapes plus formatting, list, heading
# and pre/code tags, misnested and unclosed at random
_SOUP_TAGS = (
    "p div span b i em strong a code pre ul ol li h1 h2 h3 blockquote br "
    "hr img table tr td th tbody caption select option optgroup textarea "
    "title xmp plaintext noembed noframes svg math nobr form listing meta "
    "link base script style noscript article section button object u s "
    "font dd dt dl sub sup input"
).split()
_SOUP_COMMON = "p div span b i em a code pre ul ol li h1 h2 br img".split()
_SOUP_TEXT = [
    "hello", " world ", "\n", "  ", "a*b", "_x_", "- item", "1. one",
    "# hd", "&amp;", "&lt;b&gt;", "&#13;", "x&#0;y", "\n\nlead", "`tick`",
    "[br]", "> q", "tab\tsep", "&nbsp;", "　", "=== ", "\\back", "\x0c",
    "\r\n",
]
_SOUP_ATTRS = [
    "", "", "", ' href="/x"', ' href="/y" title="t&#13;x"', ' class="hidden"',
    ' data-mce-type="b"', ' src="data:image/png;base64,x"',
    ' src="a.png" alt="A"', ' start="3"', ' style="display:none"',
    ' title="a\nb"', " hidden", ' href="a&#13;b"',
]


def _soup(rng):
    out = []
    for _ in range(rng.randrange(3, 40)):
        r = rng.random()
        tag = rng.choice(_SOUP_COMMON if rng.random() < 0.6 else _SOUP_TAGS)
        if r < 0.35:
            out.append(rng.choice(_SOUP_TEXT))
        elif r < 0.75:
            out.append(f"<{tag}{rng.choice(_SOUP_ATTRS)}>")
        elif r < 0.97:
            out.append(f"</{tag}>")
        else:
            out.append(rng.choice(["<!-- c -->", "<br/>", "<p/>", "<", "&"]))
    html = "".join(out)
    return f"<article>{html}</article>" if rng.random() < 0.5 else html


def test_routes_agree_on_tag_soup(monkeypatch, capsys):
    rng = random.Random(20261018)
    pages = [_soup(rng) for _ in range(3000)]
    rate = _differential(pages, monkeypatch, capsys, "tag soup",
                         every_element=True)
    assert 0.0 < rate < 0.5  # both routes exercised


def test_routes_agree_on_pages_zip(pages, monkeypatch, capsys):
    _differential(list(pages.values()), monkeypatch, capsys, "pages.zip")


_CAPPED = "".join(f'<i id="{k}">' for k in range(64))

# (shape, html, tag of the converted root or None for body, markdown)
REPARSED = [
    ("table", "<div><table><tr><td>a</td><td>b</td></tr></table></div>",
     "div", "a\n\nb"),
    ("table cells", "<table><tr><td>a</td><td>b</td></tr></table>", "tr",
     "ab"),
    ("hidden table", '<p><code>a<table class="hidden"><ol><li>b</ol>'
     "</table>c</code></p>", None, "`a`\n\n1.  `b`\n\n`c`"),
    ("select", "<div>x<select><option>a</option><option>b</option>"
     "</select></div>", "div", "xab"),
    ("option", "<div><option>a</option>b</div>", "div", "ab"),
    ("optgroup", "<div><optgroup>a</optgroup>b</div>", "div", "ab"),
    ("leading meta", '<div><meta itemprop="x"><p>a</p></div>', "div", "a"),
    ("leading link", '<div> <link rel="x">a</div>', "div", "a"),
    ("leading base", '<div><base href="/">a</div>', "div", "a"),
    ("leading title", "<div><title>T</title><p>a</p></div>", "div", "a"),
    ("pre newline", "<div><pre>\n\nx</pre></div>", "div", "x"),
    ("listing newline", "<div><listing>\n\nx</listing></div>", "div", "x"),
    ("pre newline after pruned element",
     "<div><pre><script>s</script>\n\nx</pre></div>", "div", "x"),
    ("xmp", "<div>a<xmp><b>x</b></xmp></div>", "div",
     "a&lt;b&gt;x&lt;/b&gt;"),
    ("textarea", "<div>a<textarea>&lt;b&gt;</textarea></div>", "div",
     "a<b>"),
    ("noembed", "<div>a<noembed><b>x</b></noembed></div>", "div",
     "a&lt;b&gt;x&lt;/b&gt;"),
    ("noframes", "<div>a<noframes>x</noframes></div>", "div", "a\n\nx"),
    ("plaintext", "<div>a<plaintext>x</plaintext></div>", "div",
     "ax&lt;/plaintext&gt;&lt;/div&gt;</plaintext>"),
    ("math", "<div><p>a</p><math><mi>x</mi></math></div>", "div",
     "a\n\nx"),
    ("root in math", "<div><math><mi>x</mi><input>- item</math></div>",
     "math", "x"),
    ("void with children", '<b class="hidden"><p><math><input>x</b>y',
     "p", ""),
    ("text CR", "<div><pre>a&#13;b</pre></div>", "div", "a\nb"),
    ("href CR", '<div><a href="x&#13;y">l</a></div>', "div", "[l](x\ny)"),
    ("alt CR", '<div><img src="s.png" alt="a&#13;&#13;b"></div>', "div",
     "![a\nb](s.png)"),
    ("nested form", "<form><div>a</form><form>b</form>c</div>", None, "abc"),
    ("nested a", '<table><tr><td><div><a href="1">x' + _CAPPED
     + '<a href="2">y</a></div>', "div", None),
    ("nested nobr", "<table><tr><td><div><nobr>x" + _CAPPED
     + "<nobr>y</nobr></div>", "div", None),
    ("heading in heading", "<h1><b>a<h2>b</b>c", None,
     "# **a**\n\n## **b**c"),
    ("depth cap", "<blockquote>" * 600 + "x", None, None),
]


def _root(doc, tag):
    if tag is None:
        return 0
    return next(i for i in range(len(doc)) if doc.tag[i] == tag)


@pytest.mark.parametrize("shape,html,tag,md", REPARSED,
                         ids=[c[0] for c in REPARSED])
def test_reparse_route_shapes(shape, html, tag, md):
    doc = parse_html(html)
    root = _root(doc, tag)
    direct, via_reparse = _routes(doc, root)
    assert direct is None, shape
    got = render_markdown(doc, root)
    assert got == via_reparse.strip()
    if md is not None:
        assert got == md


# shapes near the reparse ones that keep the direct route
DIRECT = [
    ("late meta", '<div><p>a</p><meta itemprop="x"></div>', "div", "a"),
    ("nul reference", "<div>x&#0;y</div>", "div", "x�y"),
    ("form in form root", "<form><div>a</form><form>b</form>c</div>",
     "form", "a\n\nb\n\nc"),
    ("pruned svg", "<div>a<svg><text>x</text></svg>b</div>", "div", "ab"),
    ("merged text", "<div>- a<script>s</script>- b</div>", "div",
     "\\- a- b"),
]


@pytest.mark.parametrize("shape,html,tag,md", DIRECT,
                         ids=[c[0] for c in DIRECT])
def test_direct_route_shapes(shape, html, tag, md):
    doc = parse_html(html)
    root = _root(doc, tag)
    direct, via_reparse = _routes(doc, root)
    assert direct is not None, shape
    assert direct == via_reparse
    if md is not None:
        assert render_markdown(doc, root) == md


def test_mode_all_parses_each_page_once(monkeypatch):
    """The markdown route must not fall back to a second parse on an
    ordinary article page; no output check would notice if it did."""
    from dce_spark.core import htmlparse

    real = htmlparse.parse_html
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("dce_spark") and getattr(
            mod, "parse_html", None
        ) is real:
            monkeypatch.setattr(mod, "parse_html", counting)
    rec = extract_page(_perfbench_pages(1, seed=11)[0], mode="all")
    assert rec["status"] == "ok" and rec["extracted_md"]
    assert len(calls) == 1


@pytest.mark.parametrize("tag", ["div", "span", "b"])
@pytest.mark.parametrize("depth", [330, 331, 511])
def test_deep_container_converts(tag, depth):
    """A markdown container holding a chain nested up to the parser's
    depth cap converts without recursion; the text fields equal the
    mode without markdown."""
    para = "<p>" + " ".join(["word"] * 20) + "</p>"
    html = (
        "<article>" + para * 30 + f"<{tag}>" * depth + f"</{tag}>" * depth
        + "</article>"
    )
    full = extract_page(html, mode="all")
    both = extract_page(html, mode="both")
    assert full["status"] == "ok"
    assert full["extracted_md"].count("word") == 600
    for key in ("extracted_text", "article_text", "content_node_spans",
                "node_count", "primary_script", "content_links"):
        assert full[key] == both[key], key
