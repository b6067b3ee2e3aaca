"""Markdown extraction path (reference src/markdown.rs, feature-gated
there behind `markdown`).

Semantics mirrored:
* threshold = mean of max-node ancestor densities, but 0.0 (not the
  node's own density) when there are no ancestors (markdown.rs:30-34 —
  deliberately different from the text path);
* if no node passes (density >= threshold AND density_sum > 0), fall
  back to converting the max node's nearest element ancestor
  (markdown.rs:47-50, 129-160);
* else: walk up <=5 DOM parents from the max node to the nearest
  {article, main, section, div, content} container (markdown.rs:84-105),
  then wrap up to the nearest element (markdown.rs:107-114);
* pruning during serialization: should_skip_element subtrees,
  <img>/<source>/<picture> with data: URIs, and <span data-mce-type>
  editor bookmarks (utils.rs:290-369). Text nodes are NOT content-
  filtered here (matching filtered_inner_html).

The reference serializes the pruned container and has htmd parse that
string again (markdown.rs:117-126). This implementation converts the
pruned container straight from the node table the page was parsed
into (htmdport.convert_subtree builds the tree that reparse would
give), and serializes and reparses (filtered_inner_html ->
htmdport.convert_to_markdown) only a container holding a shape whose
reparse differs: table-family, select/option, rawtext, svg/math and
the other cases htmdport._reparse_mask and _build_tree name. Both
routes feed the vendored htmd port and Unicode-trim its output, so
the markdown tracks htmd's default rule table either way.
"""

from __future__ import annotations

from dce_spark.core.cetd import DensityTree
from dce_spark.core.htmlparse import KIND_TEXT, Document
from dce_spark.core.predicates import should_skip_element
from dce_spark.core.textnorm import RUST_WHITESPACE, ascii_lower

def _has_data_uri_media(tag: str, attrs) -> bool:
    """reference src/utils.rs:354-369 (trim_start is Unicode ws)."""
    if tag not in ("img", "source", "picture"):
        return False
    if not attrs:
        return False
    src = attrs.get("src")
    if src is not None and ascii_lower(
        src.lstrip(RUST_WHITESPACE)
    ).startswith("data:"):
        return True
    srcset = attrs.get("srcset")
    return srcset is not None and "data:" in srcset


def _is_editor_artifact_span(tag: str, attrs) -> bool:
    """reference src/utils.rs:347-349: ANY element carrying a
    data-mce-type attribute (the doc comment says span, the code does
    not restrict the tag)."""
    return attrs is not None and "data-mce-type" in attrs


def _pruned(tag: str, attrs) -> bool:
    """The subtrees filtered_inner_html drops (src/utils.rs:290-342)."""
    return (
        should_skip_element(tag, attrs)
        or _is_editor_artifact_span(tag, attrs)
        or _has_data_uri_media(tag, attrs)
    )


def render_markdown(doc: Document, container_idx: int) -> str:
    """Markdown of the container's pruned inner content, as the
    reference's dataflow gives it (src/markdown.rs:117-126: serialize,
    reparse and convert, then trim with Rust str::trim = Unicode
    White_Space). Converted from ``doc`` directly; serialized and
    reparsed only when the reparse would build a different tree."""
    from dce_spark.core.htmdport import convert_subtree, convert_to_markdown

    md = convert_subtree(doc, container_idx, _pruned)
    if md is None:
        md = convert_to_markdown(filtered_inner_html(doc, container_idx))
    return md.strip(RUST_WHITESPACE)


def extract_content_as_markdown(dtree: DensityTree) -> str:
    """reference src/markdown.rs:17-68."""
    import numpy as np

    if dtree.density_sum is None:
        dtree.calculate_density_sum()
    max_idx = dtree.get_max_density_sum_node()
    if max_idx < 0:
        return ""

    # threshold: mean ancestor density, 0.0 when no ancestors
    # (markdown.rs:30-34 — deliberately not the text path's fallback)
    threshold = dtree._selection_threshold(max_idx, default=0.0)

    with np.errstate(invalid="ignore"):
        mask = (dtree.density >= threshold) & (dtree.density_sum > 0.0)

    doc = dtree.doc
    max_dom = int(dtree.dom_index[max_idx])

    if not mask.any():
        # single-node fallback: nearest element ancestor of the max node
        i = max_dom
        while i >= 0 and doc.kind[i] == KIND_TEXT:
            i = doc.parent[i]
        return render_markdown(doc, max(i, 0))

    return render_markdown(doc, dtree.walk_to_container(max_dom))


# ---------------------------------------------------------------------
# filtered_inner_html — the reference's markdown-path serializer
# (src/utils.rs:290-342): pruned inner HTML of a node, with non-content
# subtrees (skip filters, data:-URI media, editor-artifact elements)
# removed and text/attrs escaped exactly like escape_html_text /
# escape_attr_value (src/utils.rs:372-392).
# ---------------------------------------------------------------------

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track "
    "wbr".split()
)


def escape_html_text(s: str) -> str:
    """reference src/utils.rs:372-381 (& < > only)."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def escape_attr_value(s: str) -> str:
    """reference src/utils.rs:384-392 (& and double quote only)."""
    return s.replace("&", "&amp;").replace('"', "&quot;")


def filtered_inner_html(doc: Document, dom_idx: int = 0) -> str:
    """Serialize the inner HTML of ``dom_idx`` (default: body) with
    non-content subtrees pruned — what the reference feeds into htmd."""
    kind = doc.kind
    tags = doc.tag
    attrs = doc.attrs
    texts = doc.text
    sub_end = doc.subtree_end
    out: list[str] = []
    close_at: list[tuple[int, str]] = []  # (subtree_end, tag) stack
    end = sub_end[dom_idx]
    i = dom_idx + 1  # inner HTML: children only, not the node itself
    while i < end:
        while close_at and close_at[-1][0] <= i:
            out.append(f"</{close_at.pop()[1]}>")
        if kind[i] == KIND_TEXT:
            out.append(escape_html_text(texts[i]))
            i += 1
            continue
        tag = tags[i]
        a = attrs[i]
        if _pruned(tag, a):
            i = sub_end[i]  # prune the whole subtree
            continue
        out.append("<" + tag)
        if a:
            for name, value in a.items():
                out.append(f' {name}="{escape_attr_value(value)}"')
        out.append(">")
        if tag in _VOID_TAGS:
            i = sub_end[i]  # void: no children serialized, no end tag
            continue
        close_at.append((sub_end[i], tag))
        i += 1
    while close_at:
        out.append(f"</{close_at.pop()[1]}>")
    return "".join(out)
