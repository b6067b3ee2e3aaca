"""CETD density tree + content selection over the pre-order node table.

Implements Composite Text Density (Sun, Song & Liao, SIGIR 2011) with the
exact semantics of the reference crate (studied at /root/reference), but
columnar: instead of a pointer tree, each document is a set of parallel
NumPy arrays in pre-order document order, and the bottom-up metric rollup
is a per-depth segmented sum (``np.add.at``). All density arithmetic is
float32 with the reference's operation order (src/cetd.rs:79-115).

Semantics cloned exactly (each load-bearing for output parity):

* build filter: comments/doctype dropped, ``should_skip_element``
  subtrees pruned, whitespace-only text nodes KEPT as zero-char nodes
  (src/cetd.rs:183-198);
* leaf metrics: grapheme counts for content text, tag/link-tag counts
  for elements with link tags {a, button, select} (src/cetd.rs:200-222);
* link-char attribution fires after the subtree rollup, adding the
  child's subtree-inclusive char_count when the parent is <a>
  (src/cetd.rs:224-231);
* density-sum = sum of direct children's densities in child order, f32
  (src/cetd.rs:252-262);
* max-density-sum node: Rust ``max_by`` keeps the LAST maximum, with
  NaN comparing Equal (src/cetd.rs:283-290);
* threshold = f32 mean of the max node's ancestor densities, walking
  parent -> root; own density if no ancestors (src/cetd.rs:324-333);
* largest contiguous pre-order run with density >= threshold and
  density_sum > 0; FIRST longest run wins ties (src/cetd.rs:335-352);
* per-node text via skip-filtered DFS, exact-string dedup preserving
  order, join with ' ', NFC + whitespace collapse (src/cetd.rs:354-365,
  src/utils.rs:43-52, 241-268).
"""

from __future__ import annotations

import math

import numpy as np

from dce_spark.core.htmlparse import KIND_TEXT, Document, parse_html
from dce_spark.core.predicates import is_non_content_text, should_skip_element
from dce_spark.core.textnorm import (
    count_graphemes,
    normalize_text,
    rust_trim,
)

__all__ = ["DensityTree", "CONTAINER_TAGS", "LINK_TAGS"]

LINK_TAGS = frozenset(("a", "button", "select"))
CONTAINER_TAGS = frozenset(("article", "main", "section", "div", "content"))

_F32_E = np.float32(math.e)  # std::f32::consts::E


class DensityTree:
    """Per-document density node table (pre-order, node 0 = body)."""

    __slots__ = (
        "doc",
        "dom_index",
        "parent",
        "depth",
        "char_count",
        "tag_count",
        "link_char_count",
        "link_tag_count",
        "density",
        "density_sum",
        "_dom_to_density",
        "_frag_dom",
        "_frag_text",
        "_head_frags",
    )

    def __init__(self, doc: Document):
        self.doc = doc
        self._build(doc)
        self._calculate_density()
        self.density_sum = None

    # ------------------------------------------------------------------
    @classmethod
    def from_html(cls, html: str) -> "DensityTree":
        return cls(parse_html(html))

    # ------------------------------------------------------------------
    def _build(self, doc: Document) -> None:
        n = len(doc)
        kind = doc.kind
        tags = doc.tag
        attrs = doc.attrs
        texts = doc.text
        parents = doc.parent

        # Map DOM pre-order index -> density node index (-1 = pruned).
        dom_to_density = [-1] * n
        dom_index: list[int] = []
        d_parent: list[int] = []
        d_depth: list[int] = []
        own_char: list[int] = []
        own_tag: list[int] = []
        own_link_tag: list[int] = []
        parent_is_a: list[bool] = []
        frag_dom: list[int] = []
        frag_text: list[str] = []

        # hot loop: every name it touches per node is a local (method
        # and global lookups cost ~20% of the build on real pages), and
        # the parent tag is read once through par_dom instead of
        # re-indexing parents[i] — all semantically identical
        append_idx = dom_index.append
        append_par = d_parent.append
        append_dep = d_depth.append
        append_char = own_char.append
        append_tag = own_tag.append
        append_link = own_link_tag.append
        append_pa = parent_is_a.append
        append_fd = frag_dom.append
        append_ft = frag_text.append
        _trim = rust_trim
        _nct = is_non_content_text
        _cg = count_graphemes
        _skip = should_skip_element
        _KT = KIND_TEXT
        link_tags = LINK_TAGS

        for i in range(n):
            if i == 0:
                par_d = -1
                depth = 0
                pa = False
            else:
                par_dom = parents[i]
                par_d = dom_to_density[par_dom]
                if par_d < 0:
                    continue  # inside a pruned subtree
                depth = d_depth[par_d] + 1
                pa = tags[par_dom] == "a"

            if kind[i] == _KT:
                clean = _trim(texts[i])
                if _nct(clean):
                    cc = 0
                else:
                    cc = _cg(clean)
                    append_fd(i)
                    append_ft(clean)
                dom_to_density[i] = len(dom_index)
                append_idx(i)
                append_par(par_d)
                append_dep(depth)
                append_char(cc)
                append_tag(0)
                append_link(0)
                append_pa(pa)
            else:
                t = tags[i]
                if i != 0 and _skip(t, attrs[i]):
                    continue
                dom_to_density[i] = len(dom_index)
                append_idx(i)
                append_par(par_d)
                append_dep(depth)
                append_char(0)
                append_tag(1)
                append_link(1 if t in link_tags else 0)
                append_pa(pa)

        m = len(dom_index)
        self.dom_index = np.asarray(dom_index, dtype=np.int64)
        self.parent = np.asarray(d_parent, dtype=np.int64)
        self.depth = np.asarray(d_depth, dtype=np.int64)
        self._dom_to_density = dom_to_density
        self._frag_dom = np.asarray(frag_dom, dtype=np.int64)
        self._frag_text = [normalize_text(t) for t in frag_text]
        # <title> fragments, processed exactly like body text fragments
        # (collect_text_filtered trims + content-filters each text node):
        # used only when the article walk escapes above <body>.
        head_frags: list[str] = []
        for raw in doc.head_text:
            clean = rust_trim(raw)
            if not is_non_content_text(clean):
                head_frags.append(normalize_text(clean))
        self._head_frags = head_frags

        char_sub = np.asarray(own_char, dtype=np.int64)
        tag_sub = np.asarray(own_tag, dtype=np.int64)
        link_tag_sub = np.asarray(own_link_tag, dtype=np.int64)

        # Bottom-up rollup: per depth level, deepest first, segmented add
        # into parents (the in-UDF analogue of a partial+final agg).
        levels: list[np.ndarray] = []
        if m > 1:
            max_depth = int(self.depth.max())
            order = np.argsort(self.depth, kind="stable")
            bounds = np.searchsorted(self.depth[order], np.arange(max_depth + 2))
            for lev in range(max_depth, 0, -1):
                idx = order[bounds[lev] : bounds[lev + 1]]
                levels.append(idx)
                np.add.at(char_sub, self.parent[idx], char_sub[idx])
                np.add.at(tag_sub, self.parent[idx], tag_sub[idx])
                np.add.at(link_tag_sub, self.parent[idx], link_tag_sub[idx])

        # Link-char attribution (src/cetd.rs:224-231): a node whose DOM
        # parent is <a> contributes its subtree-inclusive char_count;
        # contributions then roll up like any other metric.
        link_own = np.where(np.asarray(parent_is_a), char_sub, 0)
        link_char_sub = link_own.astype(np.int64)
        for idx in levels:
            np.add.at(link_char_sub, self.parent[idx], link_char_sub[idx])

        self.char_count = char_sub
        self.tag_count = tag_sub
        self.link_char_count = link_char_sub
        self.link_tag_count = link_tag_sub

    # ------------------------------------------------------------------
    def _calculate_density(self) -> None:
        """Composite text density per node vs body totals, f32 math in the
        reference's operation order (src/cetd.rs:79-115)."""
        cc = self.char_count
        f32 = np.float32

        def norm_denom(arr_or_scalar):
            # normalize_denominator: 0 -> 1.0 (src/cetd.rs:10-16)
            a = np.asarray(arr_or_scalar, dtype=np.float32)
            return np.where(a == 0.0, f32(1.0), a)

        ci = cc.astype(np.float32)
        ti = norm_denom(self.tag_count)
        nlci = norm_denom(
            np.maximum(cc - self.link_char_count, 0)  # saturating_sub
        )
        lci = self.link_char_count.astype(np.float32)
        cb = norm_denom(self.char_count[0])
        lcb = f32(self.link_char_count[0])  # NOT normalized: /0 -> inf
        lti = norm_denom(self.link_tag_count)

        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            density = ci / ti
            ln_1 = (ci / nlci) * lci
            ln_2 = (lcb / cb) * ci
            log_base = np.log(ln_1 + ln_2 + _F32_E)
            value = (ci / lcb) * (ti / lti)
            # Rust value.log(log_base) == value.ln() / log_base.ln(),
            # and log_base is itself ln(ln_1 + ln_2 + e).
            result = (np.log(value) / np.log(log_base)) * density

        self.density = np.where(cc == 0, f32(0.0), result).astype(np.float32)

    # ------------------------------------------------------------------
    def calculate_density_sum(self) -> None:
        """density_sum[i] = sum of direct children's densities, f32, in
        child order (src/cetd.rs:252-262)."""
        ds = np.zeros(len(self.density), dtype=np.float32)
        if len(self.density) > 1:
            np.add.at(ds, self.parent[1:], self.density[1:])
        self.density_sum = ds

    # ------------------------------------------------------------------
    def sorted_nodes(self) -> np.ndarray:
        """Density-node indices with density > 0, ascending by density,
        stable (ties keep document order) — src/cetd.rs:65-77."""
        mask = self.density > 0.0
        idx = np.flatnonzero(mask)
        order = np.argsort(self.density[idx], kind="stable")
        return idx[order]

    # ------------------------------------------------------------------
    def get_max_density_sum_node(self) -> int:
        """Last-max argmax with Rust max_by semantics: NaN compares Equal,
        ties keep the later element (src/cetd.rs:283-290)."""
        ds = self.density_sum
        if ds is None or len(ds) == 0:
            return -1
        if np.isnan(ds).any():
            # Faithful fold: acc = x unless cmp(acc, x) == Greater; NaN
            # comparisons yield Equal, i.e. the later element wins.
            best = 0
            for i in range(1, len(ds)):
                a, b = ds[best], ds[i]
                if not a > b:  # Greater only when a > b and both non-NaN
                    best = i
            return best
        rev = ds[::-1]
        return len(ds) - 1 - int(np.argmax(rev))

    # ------------------------------------------------------------------
    def node_text(self, density_idx: int) -> str:
        """Skip-filtered subtree text of a density node's DOM node
        (src/utils.rs:43-52 + collect_text_filtered)."""
        return self._dom_node_text(int(self.dom_index[density_idx]))

    def _dom_node_text(self, dom_idx: int) -> str:
        lo = np.searchsorted(self._frag_dom, dom_idx)
        hi = np.searchsorted(self._frag_dom, self.doc.subtree_end[dom_idx])
        frags = self._frag_text[lo:hi]
        if not frags:
            return ""
        if len(frags) == 1:
            return frags[0]
        # fragments are pre-normalized; joining them with single spaces
        # equals normalize_text of the raw fragments joined by spaces
        # (reference src/unicode.rs:99-102)
        return " ".join(frags)

    # ------------------------------------------------------------------
    def _selection_threshold(self, max_idx: int, default=None) -> np.float32:
        """f32 mean of ancestor densities walking parent -> root
        (src/cetd.rs:324-333). ``default`` is returned when the max node
        has no ancestors: the text path uses the node's own density,
        the markdown path uses 0.0 (src/markdown.rs:30-34)."""
        acc = np.float32(0.0)
        count = 0
        p = int(self.parent[max_idx])
        while p >= 0:
            acc = np.float32(acc + self.density[p])
            count += 1
            p = int(self.parent[p])
        if count == 0:
            return self.density[max_idx] if default is None else np.float32(default)
        return np.float32(acc / np.float32(count))

    def walk_to_container(self, dom_idx: int) -> int:
        """Walk up <=5 DOM parents to the nearest container element
        (src/cetd.rs:421-433 / src/markdown.rs:84-105), then wrap up to
        the nearest element (src/markdown.rs:107-114)."""
        doc = self.doc
        current = dom_idx
        for _ in range(5):
            parent = doc.parent[current]
            if parent < 0:
                break
            current = parent
            if doc.kind[current] != KIND_TEXT and doc.tag[current] in CONTAINER_TAGS:
                break
        while current >= 0 and doc.kind[current] == KIND_TEXT:
            current = doc.parent[current]
        return max(current, 0)

    def content_node_indices(self) -> np.ndarray:
        """Largest contiguous pre-order block with density >= threshold
        and density_sum > 0; first-longest wins (src/cetd.rs:335-352)."""
        max_idx = self.get_max_density_sum_node()
        if max_idx < 0:
            return np.empty(0, dtype=np.int64)
        threshold = self._selection_threshold(max_idx)
        with np.errstate(invalid="ignore"):
            mask = (self.density >= threshold) & (self.density_sum > 0.0)
        if not mask.any():
            return np.empty(0, dtype=np.int64)
        # gaps-and-islands over the boolean mask
        padded = np.concatenate(([False], mask, [False]))
        edges = np.flatnonzero(padded[1:] != padded[:-1])
        starts, ends = edges[0::2], edges[1::2]
        lengths = ends - starts
        best = int(np.argmax(lengths))  # np.argmax keeps the FIRST max
        return np.arange(starts[best], ends[best], dtype=np.int64)

    # ------------------------------------------------------------------
    def extract_content(self, with_spans: bool = False):
        """Main-content extraction (src/cetd.rs:319-369)."""
        if self.density_sum is None:
            self.calculate_density_sum()
        selected = self.content_node_indices()
        seen: set[str] = set()
        parts: list[str] = []
        spans: list[tuple[int, int, int]] = []
        pos = 0
        for i in selected:
            t = self.node_text(int(i))
            if t in seen:
                continue
            seen.add(t)
            if t:
                parts.append(t)
                if with_spans:
                    spans.append((int(i), pos, pos + len(t)))
                    pos += len(t) + 1
        text = " ".join(parts)
        if with_spans:
            return text, spans
        return text

    # ------------------------------------------------------------------
    def extract_article(self) -> str:
        """Anchor at the max-density-sum node, walk up <=5 DOM parents to
        the nearest container element, extract its text
        (src/cetd.rs:404-438).

        The reference walks the scraper tree, whose parent chain
        continues body -> html -> document; neither html nor document is
        a container, so on shallow trees with walk budget left at <body>
        the anchor lands above it and get_node_text covers the WHOLE
        document — including <title> text (head is kept by scraper and
        title is not in should_skip_element's skip set). This node table
        is rooted at body, so that escape is emulated: remaining budget
        at body => title fragments + body fragments."""
        if self.density_sum is None:
            self.calculate_density_sum()
        max_idx = self.get_max_density_sum_node()
        if max_idx < 0:
            return ""
        doc = self.doc
        current = int(self.dom_index[max_idx])
        escaped = False
        for _ in range(5):
            parent = doc.parent[current]
            if parent < 0:
                # current is <body>; the reference's next step is <html>
                # (not a container), then document — both yield the
                # document-level text, so one remaining step suffices
                escaped = True
                break
            current = parent
            if doc.kind[current] != KIND_TEXT and doc.tag[current] in CONTAINER_TAGS:
                break
        if escaped:
            body_text = self._dom_node_text(0)
            if self._head_frags:
                head_text = " ".join(self._head_frags)
                return f"{head_text} {body_text}" if body_text else head_text
            return body_text
        return self._dom_node_text(current)

    # ------------------------------------------------------------------
    def node_links(self, density_idx: int) -> list[str]:
        """All href attributes in the subtree (src/utils.rs:407-421).
        Unlike text collection this does NOT apply skip filters."""
        doc = self.doc
        dom_idx = int(self.dom_index[density_idx])
        out: list[str] = []
        for j in range(dom_idx, doc.subtree_end[dom_idx]):
            if doc.kind[j] != KIND_TEXT:
                a = doc.attrs[j]
                if a is not None and "href" in a:
                    out.append(rust_trim(a["href"]))
        return out

    # ------------------------------------------------------------------
    def node_count(self) -> int:
        return len(self.dom_index)

    # ------------------------------------------------------------------
    def debug_format(self) -> str:
        """Reference Debug formatting (src/cetd.rs:441-460): one line per
        non-root node, 2-space indent per depth level, wrapped in braces.
        test_2 prints 18 lines (src/cetd.rs:541-549)."""
        lines = ["DensityTree {"]
        for i in range(1, self.node_count()):
            indent = "  " * int(self.depth[i])
            if self.density_sum is None:
                ds = "None"
            else:
                ds = f"{float(self.density_sum[i]):.5g}"
            lines.append(
                f"{indent}DensityNode {{ node_id: {int(self.dom_index[i])}, "
                f"char_count: {int(self.char_count[i])}, "
                f"tag_count: {int(self.tag_count[i])}, "
                f"link_char_count: {int(self.link_char_count[i])}, "
                f"link_tag_count: {int(self.link_tag_count[i])}, "
                f"density: {float(self.density[i]):.5g}, "
                f"density_sum: {ds} }}"
            )
        lines.append("}")
        return "\n".join(lines)
