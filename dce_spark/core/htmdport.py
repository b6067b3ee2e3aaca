"""Vendored port of the htmd crate's default HTML -> Markdown
conversion.

The reference converts the pruned container HTML with
``htmd::HtmlToMarkdown::new()`` — all-default options — and trims the
result (reference src/markdown.rs:119-126, 160-166; htmd 0.5 per
Cargo.toml:39). htmd is a public Rust converter in the turndown
lineage (its handlers mirror turndown's COMMONMARK rule set), built on
an html5ever parse of the input string. This module ports that
pipeline:

1. the element tree. ``convert_to_markdown`` parses an HTML string
   with the WHATWG tree builder (:mod:`dce_spark.core.htmlparse` — the
   same html5ever tree-building semantics htmd inherits, including
   fragment reparse quirks like table foster-parenting).
   ``convert_subtree`` builds the tree straight from a node table the
   caller already parsed: the tree that serializing a pruned subtree
   and parsing that string again would give. It returns None for the
   few shapes whose reparse differs from the parsed subtree (see
   ``_reparse_mask``), so the caller takes the string route for those;
2. browser-style whitespace collapse, applied while the tree is built
   (turndown's collapse-whitespace algorithm: runs of ``[ \\t\\r\\n]``
   become one space, block boundaries swallow edge spaces, ``<pre>``
   subtrees are untouched);
3. conversion in one iterative post-order walk, with per-element
   handlers, flanking-whitespace hoisting for inline elements, the
   blank-element rule, and newline-aware chunk joining (max one blank
   line). Nothing recurses per tree level, so a container at the
   parser's depth cap converts like a shallow one;
4. markdown escaping of text content outside code contexts;
5. post-processing: leading newlines and trailing whitespace trimmed.

Option defaults ported (htmd ``Options::default()``): ATX headings
(``# h``), inlined links, two-space ``<br>``, indented code blocks
(``pre > code`` -> 4-space indent), ``*`` bullet markers with
turndown's ``*   `` / ``1.  `` item prefixes, ``* * *`` rules for
``<hr>``, ``**`` strong and ``*`` emphasis delimiters. The crate is
not runnable in this sandbox, so where htmd's default diverges from
turndown's the choice is documented at the handler; golden fixtures
(testdata/golden_cetd_markdown.parquet) are recorded from this port,
and an INDEPENDENT conformance corpus
(tests/fixtures/markdown_conformance.json — expectations hand-
transcribed from the documented turndown rule semantics before ever
running the port) locks the rule table externally.
"""

from __future__ import annotations

import re

from dce_spark.core.htmlparse import (
    _HEAD_ONLY,
    _MAX_DEPTH,
    _RAWTEXT_ELEMENTS,
    KIND_TEXT,
    VOID_ELEMENTS,
    parse_html,
)

# turndown block-elements list (is_block)
_BLOCK = frozenset(
    "address article aside audio blockquote body canvas center dd dir "
    "div dl dt fieldset figcaption figure footer form frameset h1 h2 h3 "
    "h4 h5 h6 header hgroup hr html isindex li main menu nav noframes "
    "noscript ol output p pre section table tbody td tfoot th thead tr "
    "ul".split()
)
_VOID = frozenset(
    "area base br col command embed hr img input keygen link meta param "
    "source track wbr".split()
)
# elements kept even when their text content is blank
_MEANINGFUL_WHEN_BLANK = frozenset(
    "a table thead tbody tfoot th td iframe script audio video".split()
)
_KEEP_WHEN_BLANK = _VOID | _MEANINGFUL_WHEN_BLANK

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

# turndown COMMONMARK escape table, applied to text nodes outside code
_ESCAPES = [
    (re.compile(r"\\"), r"\\\\"),
    (re.compile(r"\*"), r"\\*"),
    (re.compile(r"^-", re.M), r"\\-"),
    (re.compile(r"^\+ ", re.M), r"\\+ "),
    (re.compile(r"^(=+)", re.M), r"\\\1"),
    (re.compile(r"^(#{1,6}) ", re.M), r"\\\1 "),
    (re.compile(r"`"), r"\\`"),
    (re.compile(r"^~~~", re.M), r"\\~~~"),
    (re.compile(r"\["), r"\\["),
    (re.compile(r"\]"), r"\\]"),
    (re.compile(r"^>", re.M), r"\\>"),
    (re.compile(r"_"), r"\\_"),
    (re.compile(r"^(\d+)\. ", re.M), r"\1\\. "),
]

# a run of [ \t\r\n] other than one lone space: the runs the collapse
# rewrites to one space (matching every inter-word space made prose
# slow)
_WS_RUN = re.compile(r"[\t\r\n][ \t\r\n]*| [ \t\r\n]+")
_ATTR_CLEAN = re.compile(r"(\n+\s*)+")

# whitespace the parser drops before the first tag or text of a document
_PRE_BODY_WS = "\t\n\x0c\r "


class _El:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict | None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []


class _Tx:
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.data = data


# ---------------------------------------------------------------------
# tree build
# ---------------------------------------------------------------------

# Table-family elements: their parse foster-parents content out of
# the table (to before it, so also past a pruned table), implies
# tbody/tr and keeps a quirks-mode <table> inside <p>.
_TABLE_FAMILY = frozenset(
    "table caption colgroup col tbody thead tfoot tr td th".split()
)
# Elements whose serialization the parser rebuilds differently: the
# table family, select/option/optgroup (in-select token rules),
# rawtext/RCDATA elements and plaintext (their escaped text reparses
# as raw text), svg/math (foreign content).
_REPARSE_TAGS = _TABLE_FAMILY | _RAWTEXT_ELEMENTS | frozenset(
    "select option optgroup plaintext svg math".split()
)
# Open-tag bits: an a, nobr or form start tag inside an open element
# of its own tag closes that element or is dropped. A parse nests
# them only after a </form> that cleared the form pointer but left
# its form open, or where formatting entries from outside the subtree
# pushed the outer a/nobr off the capped active-formatting list.
_OPEN_BIT = {"a": 1, "nobr": 2, "form": 4}
# the converter reads attributes of these elements only
_ATTR_READERS = frozenset(("a", "img", "ol"))
_CHECKED = (
    _REPARSE_TAGS | frozenset(_OPEN_BIT) | frozenset(_HEADINGS) | _ATTR_READERS
    | VOID_ELEMENTS
)


class _Reparse(Exception):
    """The subtree holds a shape its reparse would rebuild differently."""


def _reparse_mask(tag: str, attrs: dict, parent: str, mask: int,
                  has_children: bool) -> int:
    """Open-tag mask for the children of a ``tag`` element under
    ``parent`` whose ancestors' open tags are ``mask``; raises _Reparse
    where parsing the serialized element would not rebuild it here."""
    if tag in _REPARSE_TAGS:
        raise _Reparse
    # a void-named element with children is foreign content (possibly
    # moved out of its svg/math by the adoption agency); the reparse
    # makes it void
    if has_children and tag in VOID_ELEMENTS:
        raise _Reparse
    bit = _OPEN_BIT.get(tag, 0)
    if bit & mask:
        raise _Reparse
    # a heading start tag closes a heading that is the current node
    if tag in _HEADINGS and parent in _HEADINGS:
        raise _Reparse
    # the reparse turns a character-reference CR into LF
    if tag in _ATTR_READERS and attrs and any(
        "\r" in v for v in attrs.values()
    ):
        raise _Reparse
    return mask | bit


def _build_tree(doc, root: int = 0, prune=None) -> _El:
    """Whitespace-collapsed element tree of the inner content of node
    ``root`` of ``doc``.

    Without ``prune``, ``doc`` is the parse of the string under
    conversion. With it, the tree is the one the parser builds from
    the subtree serialized without every element ``prune(tag, attrs)``
    accepts (markdown.filtered_inner_html): text that pruning makes
    adjacent is one text node, and whitespace before the first tag or
    text is dropped as the parser's pre-body phase drops it. Raises
    _Reparse on a shape that parse would build differently."""
    kind = doc.kind
    tags = doc.tag
    attrs = doc.attrs
    texts = doc.text
    sub_end = doc.subtree_end
    direct = prune is not None
    body = _El("body", None)
    end = sub_end[root]
    # open elements: (subtree end, element, inside <pre>, open-tag mask)
    stack = [(end, body, False, 0)]
    parent, in_pre, mask = body, False, 0
    # collapse-whitespace.js state
    prev_text: _Tx | None = None
    prev_parent = body
    keep_leading_ws = False
    # reparse state: past the pre-body phase; the element whose start
    # tag is the last token (a newline right after <pre> is dropped)
    in_body = False
    opened: _El | None = None
    kept = -1  # element that already passed prune
    if direct:
        # foreign content parses by other rules (void-named elements
        # hold children there)
        j = root
        while j >= 0:
            if tags[j] in ("svg", "math"):
                raise _Reparse
            j = doc.parent[j]
    i = root + 1
    while True:
        if i >= end:
            stack.pop()
            if not stack:
                break
            end, parent, in_pre, mask = stack[-1]
            opened = None
            continue
        if kind[i] == KIND_TEXT:
            data = texts[i]
            i += 1
            if direct:
                run = None
                while i < end:
                    if kind[i] == KIND_TEXT:
                        if run is None:
                            run = [data]
                        run.append(texts[i])
                        i += 1
                    elif prune(tags[i], attrs[i]):
                        if tags[i] in _TABLE_FAMILY:
                            raise _Reparse
                        i = sub_end[i]
                    else:
                        kept = i
                        break
                if run is not None:
                    data = "".join(run)
                if not in_body:
                    data = data.lstrip(_PRE_BODY_WS)
                    if not data:
                        continue
                    in_body = True
                # the reparse turns a character-reference CR into LF
                # and drops a newline right after a <pre> start tag
                # (the parser strips NUL, and &#0; decodes to U+FFFD)
                if "\r" in data or (
                    opened is not None
                    and data[0] == "\n"
                    and opened.tag in ("pre", "listing")
                ):
                    raise _Reparse
                opened = None
            if in_pre:
                parent.children.append(_Tx(data))
                continue
            text = data
            if "\n" in text or "  " in text or "\t" in text or "\r" in text:
                text = _WS_RUN.sub(" ", text)
            if (
                text[0] == " "
                and not keep_leading_ws
                and (prev_text is None or prev_text.data.endswith(" "))
            ):
                text = text[1:]
            if text:
                prev_text = _Tx(text)
                prev_parent = parent
                parent.children.append(prev_text)
            continue
        tag = tags[i]
        a = attrs[i]
        child_mask = mask
        if direct:
            if i != kept and prune(tag, a):
                if tag in _TABLE_FAMILY:
                    raise _Reparse
                i = sub_end[i]
                continue
            if not in_body:
                if tag in _HEAD_ONLY:
                    raise _Reparse  # dropped in the pre-body phase
                in_body = True
            if len(stack) >= _MAX_DEPTH:
                raise _Reparse  # the reparse stops nesting here
            if tag in _CHECKED:
                child_mask = _reparse_mask(tag, a, parent.tag, mask,
                                           sub_end[i] > i + 1)
        el = _El(tag, a)
        parent.children.append(el)
        if not in_pre:
            # block boundaries (and <br>) swallow one trailing space of
            # the previous text; void elements protect the next text's
            # leading space
            if tag in _BLOCK or tag == "br":
                if prev_text is not None and prev_text.data.endswith(" "):
                    prev_text.data = prev_text.data[:-1]
                prev_text = None
                keep_leading_ws = False
            elif tag in _VOID:
                prev_text = None
                keep_leading_ws = True
            elif prev_text is not None:
                keep_leading_ws = False
        opened = el
        end = sub_end[i]
        parent, in_pre, mask = el, in_pre or tag == "pre", child_mask
        stack.append((end, el, in_pre, mask))
        i += 1
    if prev_text is not None and prev_text.data.endswith(" "):
        prev_text.data = prev_text.data[:-1]
        if not prev_text.data:
            prev_parent.children.remove(prev_text)
    return body


# ---------------------------------------------------------------------
# conversion
# ---------------------------------------------------------------------


# a marker character the escape table can touch at a line start
_LINE_MARKER = re.compile(r"^[-+=#>~0-9]", re.M)
_MARKER_CHARS = frozenset("-+=#>~0123456789")


def _escape_md(text: str) -> str:
    # fast path: most prose holds none of the characters the table
    # escapes anywhere, nor a marker at a line start (substring tests
    # are far cheaper than one regex scan)
    if not (
        "\\" in text or "*" in text or "`" in text or "[" in text
        or "]" in text or "_" in text
        or text[:1] in _MARKER_CHARS
        or ("\n" in text and _LINE_MARKER.search(text))
    ):
        return text
    for pat, rep in _ESCAPES:
        text = pat.sub(rep, text)
    return text


def _clean_attribute(value: str | None) -> str:
    return _ATTR_CLEAN.sub("\n", value) if value else ""


def _text_content(el: _El) -> str:
    todo = el.children[::-1]
    out = []
    while todo:
        node = todo.pop()
        if type(node) is _Tx:
            out.append(node.data)
        else:
            todo.extend(node.children[::-1])
    return "".join(out)


class _Frame:
    """An element being converted: the markdown of the children seen so
    far (chunks, plus the newlines pending at the end), the position of
    the next child, and a summary of the text content — its first and
    last characters, whether it holds non-whitespace (``ink``), and
    whether the subtree has a void or meaningful-when-blank element
    (``keep``), which together decide the blank rule and flanking."""

    __slots__ = ("el", "in_code", "pos", "n_el", "parts", "trail",
                 "first", "last", "ink", "keep", "last_el")

    def __init__(self, el: _El, in_code: bool):
        self.el = el
        self.in_code = in_code
        self.pos = 0
        self.n_el = 0  # element children seen
        self.parts: list[str] = []
        self.trail = 0
        self.first = self.last = ""
        self.ink = False
        self.keep = el.tag in _KEEP_WHEN_BLANK
        self.last_el: _El | bool | None = False  # False: not looked up

    def last_element(self) -> _El | None:
        """The element's last element child (looked up once: a scan
        per list child made wide lists quadratic)."""
        if self.last_el is False:
            self.last_el = next(
                (c for c in reversed(self.el.children) if type(c) is _El),
                None,
            )
        return self.last_el

    def add(self, rep: str) -> None:
        """Join one child's markdown: the newlines at the seam are the
        larger of the two sides' runs, at most two (turndown's join,
        linear-time over wide sibling lists)."""
        if rep and rep[0] != "\n" and rep[-1] != "\n":
            if self.trail:
                self.parts.append("\n" * min(self.trail, 2))
                self.trail = 0
            self.parts.append(rep)
            return
        s2 = rep.lstrip("\n")
        sep = min(max(self.trail, len(rep) - len(s2)), 2)
        if not s2:
            self.trail = sep  # empty chunk: newlines stay pending
            return
        if sep:
            self.parts.append("\n" * sep)
        body = s2.rstrip("\n")
        self.parts.append(body)
        self.trail = len(s2) - len(body)


def _convert(root: _El) -> str:
    frames = [_Frame(root, False)]
    while True:
        f = frames[-1]
        kids = f.el.children
        if f.pos < len(kids):
            node = kids[f.pos]
            f.pos += 1
            if type(node) is _Tx:
                d = node.data
                if d:
                    if not f.first:
                        f.first = d[0]
                    f.last = d[-1]
                    if not f.ink and not d.isspace():
                        f.ink = True
                # only <code> ancestry exempts text from markdown
                # escaping (pre-without-code text IS escaped, matching
                # turndown); the pre>code block handler reads raw
                # textContent directly anyway
                f.add(d if f.in_code else _escape_md(d))
            else:
                f.n_el += 1
                frames.append(_Frame(node, f.in_code or node.tag == "code"))
            continue
        frames.pop()
        content = "".join(f.parts) + "\n" * f.trail
        if not frames:
            # turndown postProcess: strip leading newlines/tabs/CRs and
            # ALL trailing whitespace
            return content.lstrip("\t\r\n").rstrip()
        p = frames[-1]
        if f.first:
            if not p.first:
                p.first = f.first
            p.last = f.last
        p.ink = p.ink or f.ink
        p.keep = p.keep or f.keep
        p.add(_replacement(f, content, p))


def _replacement(f: _Frame, content: str, p: _Frame) -> str:
    """Markdown of the element of frame ``f``, a child of ``p.el``."""
    tag = f.el.tag
    if not f.ink and not f.keep:
        # blank rule: pure-whitespace subtrees collapse to a block
        # break (or nothing inline) — this is what keeps empty
        # <p></p> / <div>\n</div> out of the output
        return "\n\n" if tag in _BLOCK else ""

    # flanking whitespace: hoisted out of inline elements so
    # "<b> x </b>" renders " **x** ", with doubled spaces against
    # an already-whitespace neighbor suppressed
    leading = trailing = ""
    if tag not in _BLOCK and tag not in _VOID:
        sibs = p.el.children
        j = p.pos - 1  # this element's index among its siblings
        if f.first == " ":
            prev = sibs[j - 1] if j > 0 else None
            flanked = type(prev) is _Tx and prev.data.endswith(" ")
            leading = "" if flanked else " "
        if f.last == " ":
            nxt = sibs[j + 1] if j + 1 < len(sibs) else None
            flanked = type(nxt) is _Tx and nxt.data.startswith(" ")
            trailing = "" if flanked else " "
    if leading or trailing:
        content = content.strip()
    return leading + _handle(f.el, content, p) + trailing


# -- element handlers (htmd element_handler/* <- turndown rules) --


def _handle(node: _El, content: str, p: _Frame) -> str:
    tag = node.tag
    parent = p.el
    if tag == "p":
        return f"\n\n{content}\n\n"
    if tag in _HEADINGS:
        # htmd default HeadingStyle::Atx
        return f"\n\n{'#' * _HEADINGS[tag]} {content}\n\n"
    if tag == "blockquote":
        inner = content.strip("\n")
        quoted = re.sub(r"^", "> ", inner, flags=re.M)
        return f"\n\n{quoted}\n\n"
    if tag in ("ul", "ol"):
        # a list that is its <li>'s last element child hangs off it
        if parent.tag == "li" and p.last_element() is node:
            return "\n" + content
        return f"\n\n{content}\n\n"
    if tag == "li":
        return _list_item(content, p)
    if tag == "pre":
        first = node.children[0] if node.children else None
        if type(first) is _El and first.tag == "code":
            # htmd default CodeBlockStyle::Indented (turndown's
            # default; fenced is opt-in in both)
            raw = _text_content(first)
            return "\n\n    " + raw.replace("\n", "\n    ") + "\n\n"
        return f"\n\n{content}\n\n" if content else ""
    if tag == "code":
        if parent.tag == "pre" and len(parent.children) == 1:
            return content  # handled by the pre rule
        return _inline_code(node)
    if tag == "br":
        return "  \n"  # htmd default BrStyle::TwoSpaces
    if tag == "hr":
        # turndown default '* * *'; htmd exposes HrStyle with the
        # same asterisks variant — ported as the default here
        return "\n\n* * *\n\n"
    if tag in ("strong", "b"):
        return f"**{content}**" if content.strip() else ""
    if tag in ("em", "i"):
        # '*' emphasis (CommonMark-canonical; htmd's emphasis
        # handler, vs turndown's '_' default)
        return f"*{content}*" if content.strip() else ""
    if tag == "a":
        href = node.attrs.get("href")
        if href:  # inlined link (htmd default LinkStyle::Inlined)
            href = href.replace("(", "\\(").replace(")", "\\)")
            title = _clean_attribute(node.attrs.get("title"))
            tpart = ' "' + title.replace('"', '\\"') + '"' if title else ""
            return f"[{content}]({href}{tpart})"
        return content  # no href: default passthrough
    if tag == "img":
        alt = _clean_attribute(node.attrs.get("alt"))
        src = node.attrs.get("src") or ""
        title = _clean_attribute(node.attrs.get("title"))
        tpart = f' "{title}"' if title else ""
        return f"![{alt}]({src}{tpart})" if src else ""
    # default rule: block -> paragraph break, inline -> transparent
    if tag in _BLOCK:
        return f"\n\n{content}\n\n"
    return content


def _list_item(content: str, p: _Frame) -> str:
    content = content.lstrip("\n")
    body = content.rstrip("\n")
    if body != content:
        content = body + "\n"
    content = content.replace("\n", "\n    ")
    parent = p.el
    if parent.tag == "ol":
        start = parent.attrs.get("start")
        # index among the parent's ELEMENT children (turndown uses
        # parent.children, the element-only collection)
        idx = p.n_el - 1
        try:
            num = int(start) + idx if start else idx + 1
        except ValueError:
            num = idx + 1
        prefix = f"{num}.  "
    else:
        prefix = "*   "  # htmd default BulletListMarker::Asterisk
    has_next = p.pos < len(parent.children)
    tail = "\n" if has_next and not content.endswith("\n") else ""
    return prefix + content + tail


def _inline_code(node: _El) -> str:
    content = _text_content(node)
    if not content:
        return ""
    content = re.sub(r"\r?\n|\r", " ", content)
    extra = (
        " "
        if re.search(r"^`|^ .*?[^ ].* $|`$", content)
        else ""
    )
    delim = "`"
    runs = re.findall(r"`+", content)
    while delim in runs:
        delim += "`"
    return delim + extra + content + extra + delim


def convert_to_markdown(html: str) -> str:
    """htmd-default conversion of an HTML string to markdown."""
    return _convert(_build_tree(parse_html(html)))


def convert_subtree(doc, root: int, prune) -> str | None:
    """``convert_to_markdown`` of the inner HTML of node ``root`` of the
    parsed ``doc`` with every element ``prune(tag, attrs)`` accepts
    removed (markdown.filtered_inner_html), without serializing and
    reparsing it; None when that reparse would build a different tree
    (``_reparse_mask``, ``_build_tree``)."""
    try:
        tree = _build_tree(doc, root, prune)
    except _Reparse:
        return None
    return _convert(tree)
