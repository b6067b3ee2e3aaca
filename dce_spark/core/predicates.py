"""Non-content filtering predicates.

Exact semantic ports of the reference crate's hardening layer
(behavior studied at /root/reference/src/utils.rs:54-238). These run
identically in density-tree build and text collection, so they live in
one module used by both paths.
"""

from __future__ import annotations

import numpy as _np
import regex as _regex

from dce_spark.core.textnorm import _NONWS_RUN, ascii_lower, rust_trim

# --- should_skip_element constants (reference src/utils.rs:125-186) ---

SKIP_TAGS = frozenset(
    ("script", "noscript", "style", "svg", "template", "canvas", "iframe")
)

HIDDEN_CLASS_TOKENS = frozenset(("hidden", "invisible", "sr-only"))

NON_CONTENT_MARKERS = (
    "robots-nocontent",
    "sharedaddy",
    "sd-sharing",
    "jetpack-likes-widget",
    "jp-relatedposts",
    "ads__",
    "adfox",
    "yatag",
)

# --- is_non_content_text constants (reference src/utils.rs:54-123) ---

_JS_API_MARKERS = (
    "window.",
    "document.",
    "queryselector",
    "getelement",
    "createelement",
    "addeventlistener",
    "settimeout(",
    "datalayer",
    "gtag(",
)
_AD_SCRIPT_MARKERS = ("yacontextcb", "adfox", "xboost", "cartsettings")

_LONG_ENCODED_RUN = _regex.compile(r"[A-Za-z0-9+/_\-=]{96}")

# f64 images of the reference's f32 threshold literals, so `ratio > THR`
# on the (exact) f64 image of an f32 ratio reproduces Rust f32 compares.
_THR_012 = float(_np.float32(0.12))
_THR_016 = float(_np.float32(0.16))
_THR_018 = float(_np.float32(0.18))


_PUNCT_DELETE = str.maketrans("", "", "{}[]();=<>:/\\\"'")


def punctuation_ratio(text: str) -> float:
    """Share of machine-punctuation chars (reference src/utils.rs:192-223).

    Returns a float32-rounded ratio to keep threshold comparisons
    (> 0.12 / 0.16 / 0.18) consistent with the reference's f32 math.
    """
    total = len(text)
    if total == 0:
        return 0.0
    punct = total - len(text.translate(_PUNCT_DELETE))
    return float(_np.float32(punct) / _np.float32(total))


def has_long_encoded_token(text: str) -> bool:
    """Run of >=96 chars from [A-Za-z0-9+/_-=] (reference src/utils.rs:225-238)."""
    return _LONG_ENCODED_RUN.search(text) is not None


def is_non_content_text(text: str) -> bool:
    """Machine-text classifier (reference src/utils.rs:54-123), exact port:
    CSS-block shape, JS-blob evidence and config-blob rules with the
    thresholds 80 code points / 0.12 / 0.16 / 0.18 / 96-char token."""
    trimmed = rust_trim(text)
    if not trimmed:
        return True

    length = len(trimmed)  # code points, not graphemes (utils.rs:60)

    # CSS-block prefix test: only the first 7 chars need case folding,
    # and it can only fire when the first char is . # or @ — so the
    # full-string ascii_lower is deferred past the length<80 early-out
    # (the dominant path for real text nodes).
    looks_like_css_block = False
    if trimmed[0] in ".#@" and "{" in trimmed and "}" in trimmed:
        head = ascii_lower(trimmed[:7])
        looks_like_css_block = (
            head.startswith(".")
            or head.startswith("#")
            or head.startswith("@media")
            or head.startswith("@import")
        )
    if looks_like_css_block and (
        length >= 80 or punctuation_ratio(trimmed) > _THR_018
    ):
        return True

    if length < 80:
        return False

    # Prose fast path (dominant for article text): when the
    # punctuation ratio is at or below the 0.12 floor, every branch
    # below that could still return True requires a code delimiter —
    # looks_like_js_blob degenerates to (ad_script_count >= 2 AND
    # has_code_delimiters), and the config-blob gate degenerates to
    # has_js_assignment, which also requires has_code_delimiters. So
    # plain text with no { } ; is classified False after one
    # translate pass + three C-level scans, skipping the full-string
    # ascii_lower and the ~10 marker counts.
    p_ratio = punctuation_ratio(trimmed)
    if (
        p_ratio <= _THR_012
        and "{" not in trimmed
        and "}" not in trimmed
        and ";" not in trimmed
    ):
        return False

    lower = ascii_lower(trimmed)
    assignment_count = (
        lower.count(" = ")
        + lower.count('="')
        + lower.count("='")
        + lower.count("={")
        + lower.count("=[")
    )
    call_count = (
        lower.count("function(")
        + lower.count("function (")
        + lower.count("=>")
        + lower.count(");")
        + lower.count("});")
    )
    js_api_count = sum(1 for marker in _JS_API_MARKERS if marker in lower)
    ad_script_count = sum(1 for marker in _AD_SCRIPT_MARKERS if marker in lower)

    has_code_delimiters = "{" in trimmed or "}" in trimmed or ";" in trimmed
    has_js_assignment = (
        "window." in lower and assignment_count > 0 and has_code_delimiters
    )
    looks_like_js_blob = (
        p_ratio > _THR_012
        and (
            (js_api_count >= 2 and call_count > 0)
            or (js_api_count >= 1 and assignment_count >= 2)
            or (ad_script_count >= 1 and (call_count > 0 or assignment_count > 0))
        )
    ) or (ad_script_count >= 2 and has_code_delimiters)
    if looks_like_js_blob:
        return True
    # config blob: the 96-char-token regex scan is the expensive part —
    # only run it when the cheap preconditions already hold
    if (
        p_ratio > _THR_016 and (assignment_count > 0 or "window." in lower)
    ) or has_js_assignment:
        return has_long_encoded_token(trimmed)
    return False


# Memo for the attrs-dependent part of should_skip_element: attr dicts
# are interned/shared by htmlparse._attrs_dict, so identical markup hits
# the same dict object across a whole corpus. Keyed by id() with the
# dict itself pinned in the value (id reuse is impossible while the key
# object is referenced); bounded like the upstream intern cache.
_SKIP_MEMO: dict[int, tuple[dict, bool]] = {}
_SKIP_MEMO_MAX = 65536


def should_skip_element(tag: str, attrs: dict[str, str] | None) -> bool:
    """Subtree-drop predicate (reference src/utils.rs:125-186), exact port.

    ``tag`` must be lowercase; ``attrs`` maps lowercase attr name ->
    value ('' for valueless attributes), first occurrence wins.
    """
    if tag in SKIP_TAGS:
        return True
    if not attrs:
        return False
    hit = _SKIP_MEMO.get(id(attrs))
    if hit is not None and hit[0] is attrs:
        return hit[1]
    out = _should_skip_attrs(attrs)
    if len(_SKIP_MEMO) < _SKIP_MEMO_MAX:
        _SKIP_MEMO[id(attrs)] = (attrs, out)
    return out


def _should_skip_attrs(attrs: dict[str, str]) -> bool:
    """The attrs-only portion of the predicate (tag-independent)."""
    if "hidden" in attrs:
        return True
    aria = attrs.get("aria-hidden")
    if aria is not None and ascii_lower(aria) == "true":
        return True

    style = attrs.get("style")
    if style is not None:
        style = ascii_lower(style).replace(" ", "")
        if "display:none" in style or "visibility:hidden" in style:
            return True

    class_attr = attrs.get("class")
    if class_attr is not None:
        # Token-based (Rust split_whitespace), case-sensitive.
        for tok in _NONWS_RUN.findall(class_attr):
            if tok in HIDDEN_CLASS_TOKENS:
                return True

    cls = attrs.get("class", "")
    ident = attrs.get("id", "")
    marker_source = ascii_lower(f"{cls} {ident}")
    for marker in NON_CONTENT_MARKERS:
        if marker in marker_source:
            return True

    dc = attrs.get("data-content")
    return dc is not None and ascii_lower(dc) == "webr"
