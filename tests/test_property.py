"""Property-based hardening: random markup never crashes and always
builds a valid pre-order tree, and the vectorized f32 density math
equals a scalar reference-order evaluation."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dce_spark.core.api import extract_page
from dce_spark.core.cetd import DensityTree
from dce_spark.core.htmlparse import parse_html

_TAGS = ["div", "p", "a", "span", "li", "ul", "table", "tr", "td", "script",
         "style", "svg", "b", "i", "h1", "br", "img", "textarea", "form",
         "select", "option", "iframe", "article", "pre", "button"]

_chunk = st.one_of(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
    ),
    st.sampled_from(
        ["<", ">", "&amp;", "&notreal;", "&#65;", "<!--x-->", "<!-- unclosed",
         "<!doctype html>", "</p>", "</div>", "<?pi?>", "<![CDATA[x]]>"]
    ),
    st.builds(
        lambda t, a: f"<{t}{a}>",
        st.sampled_from(_TAGS),
        st.sampled_from(
            ["", " class='x y'", ' id="z"', " hidden", " style='display:none'",
             ' href="/l"', " data-content=webR", " aria-hidden='TRUE'",
             " a='1' a='2'", " /"]
        ),
    ),
    st.builds(lambda t: f"</{t}>", st.sampled_from(_TAGS)),
)

_html = st.lists(_chunk, max_size=40).map("".join)


def _assert_preorder(d):
    assert len(d) >= 1 and d.tag[0] == "body" and d.parent[0] == -1
    m = len(d)
    for i in range(m):
        assert i < d.subtree_end[i] <= m
        if i:
            assert 0 <= d.parent[i] < i


@settings(max_examples=200, deadline=None)
@given(_html)
def test_parse_total_and_preorder(html):
    _assert_preorder(parse_html(html))


@settings(max_examples=100, deadline=None)
@given(_html)
def test_extract_page_total(html):
    rec = extract_page(html.encode("utf-8", "surrogatepass"), mode="all")
    assert rec["status"].startswith(("ok", "error"))
    assert isinstance(rec["extracted_text"], str)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, 10_000),  # char_count
    st.integers(0, 500),  # tag_count
    st.integers(0, 12_000),  # link_char_count (may exceed char_count)
    st.integers(0, 300),  # link_tag_count
    st.integers(1, 10**6),  # body char
    st.integers(0, 10**5),  # body link char
)
def test_density_vector_equals_scalar_reference_order(
    cc, tc, lcc, ltc, body_cc, body_lcc
):
    """The vectorized formula must equal a literal scalar transcription
    of the reference's f32 operation order (src/cetd.rs:79-115)."""
    dt = DensityTree.from_html("<body></body>")
    dt.char_count = np.array([body_cc, cc], dtype=np.int64)
    dt.tag_count = np.array([1, tc], dtype=np.int64)
    dt.link_char_count = np.array([body_lcc, lcc], dtype=np.int64)
    dt.link_tag_count = np.array([0, ltc], dtype=np.int64)
    dt._calculate_density()
    got = dt.density[1]

    f = np.float32
    if cc == 0:
        expected = f(0.0)
    else:
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            ci = f(cc)
            ti = f(tc) if tc else f(1.0)
            nlci_i = max(cc - lcc, 0)
            nlci = f(nlci_i) if nlci_i else f(1.0)
            lci = f(lcc)
            cb = f(body_cc) if body_cc else f(1.0)
            lcb = f(body_lcc)
            lti = f(ltc) if ltc else f(1.0)
            density = ci / ti
            ln_1 = (ci / nlci) * lci
            ln_2 = (lcb / cb) * ci
            e = f(math.e)
            log_base = np.log(ln_1 + ln_2 + e)
            value = (ci / lcb) * (ti / lti)
            expected = (np.log(value) / np.log(log_base)) * density

    if math.isnan(float(expected)):
        assert math.isnan(float(got))
    else:
        assert float(got) == float(expected)


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
        max_size=400,
    )
)
def test_parse_and_extract_total_on_arbitrary_text(raw):
    """parse_html and the full extraction stack are TOTAL on arbitrary
    unicode input (hypothesis shrinks any counterexample): never raise,
    always yield a body-rooted tree with valid pre-order invariants."""
    _assert_preorder(parse_html(raw))
    rec = extract_page(raw, mode="all")
    assert rec["status"] == "ok" or rec["status"].startswith("error:")
