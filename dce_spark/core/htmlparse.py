"""HTML -> pre-order node-table parser.

A pragmatic WHATWG-HTML5 tokenizer and tree builder producing the
columnar per-document "node table" the CETD dataflow consumes: parallel
arrays in pre-order document order (kind, tag, attrs, text, parent,
subtree_end) rooted at ``<body>``.

The reference implementation parses with html5ever (spec-compliant error
recovery); no spec parser exists in this environment, so this module
implements the subset of the tree-construction algorithm that determines
body-subtree shape on real-world pages:

* implicit <html>/<head>/<body>; head-only elements dropped (only the
  body subtree is observable by the extraction dataflow);
* implied end tags (p closed by block starts; li/dd/dt; option/optgroup;
  headings; generate-implied-end-tags on explicit closes);
* the "any other end tag" algorithm with the SPECIAL-category abort;
* the full adoption agency algorithm for misnested formatting end tags
  (spec 13.2.6.4.7 "in body": outer/inner loops, furthest block,
  bookmark, cloning), matching html5ever's tree shapes on cases like
  ``<b>1<p>2</b>3`` and ``<a>..<div>..</a>``;
* </p> with no open p inserting an empty p; </br> acting as <br>;
* rawtext elements (script/style/xmp/iframe/noembed/noframes/noscript)
  and RCDATA (title/textarea, entity-decoded);
* void elements; self-closing honored only in foreign content;
* table synthesis (implied tbody/tr/colgroup) and foster parenting of
  non-table content out of table contexts;
* foreign content (svg/math) with HTML breakout tags and integration
  points;
* input preprocessing: CRLF/CR -> LF, NUL stripped from character data;
* end of input as the spec tokenizer has it: a tag cut by EOF is
  dropped, an unterminated comment or ``<!``/``<?`` bogus comment runs
  to EOF, and an unterminated rawtext/RCDATA element keeps the rest as
  its text;
* text-node coalescing (one text node per run, like html5ever).

Parity is validated against the reference's own golden fixtures (node
counts, densest-node identity, extraction output) and against html5lib
in tests/.
"""

from __future__ import annotations

import html as _htmllib
import re

__all__ = ["parse_html", "Document", "KIND_ELEMENT", "KIND_TEXT"]

KIND_ELEMENT = 0
KIND_TEXT = 1

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)

# Elements dropped while no body content has started (head phase).
_HEAD_ONLY = frozenset(
    "head base basefont bgsound link meta title style script noscript "
    "template html".split()
)

# Start tags that close an open <p> in button scope (spec "in body").
_P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form header hgroup main menu nav "
    "ol p section summary ul h1 h2 h3 h4 h5 h6 pre listing hr xmp "
    "plaintext".split()
)

_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))

# The spec's "special" category (abort set for the any-other-end-tag loop).
_SPECIAL = frozenset(
    "address applet area article aside base basefont bgsound blockquote "
    "body br button caption center col colgroup dd details dir div dl dt "
    "embed fieldset figcaption figure footer form frame frameset h1 h2 h3 "
    "h4 h5 h6 head header hgroup hr html iframe img input keygen li link "
    "listing main marquee menu meta nav noembed noframes noscript object "
    "ol p param plaintext pre script section select source style summary "
    "table tbody td template textarea tfoot th thead title tr track ul "
    "wbr xmp".split()
)

_DEFAULT_SCOPE_STOP = frozenset(
    "applet caption html table td th marquee object template".split()
)

_TABLE_CONTEXT = frozenset(("table", "tbody", "tfoot", "thead", "tr"))

# Block-level end tags with the close-if-in-scope rule.
_BLOCK_END = frozenset(
    "address article aside blockquote button center details dialog dir "
    "div dl fieldset figcaption figure footer header hgroup listing main "
    "menu nav ol pre section summary ul".split()
)

# HTML breakout tags inside foreign (svg/math) content.
_FOREIGN_BREAKOUT = frozenset(
    "b big blockquote body br center code dd div dl dt em embed h1 h2 h3 "
    "h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s "
    "small span strong strike sub sup table tt u ul var".split()
)

# Foreign elements whose children are parsed as HTML again.
_HTML_INTEGRATION = frozenset(("foreignobject", "desc", "title", "annotation-xml"))

_TABLE_PART_START = frozenset(
    "caption col colgroup tbody td tfoot th thead tr".split()
)

# The spec's formatting category (tracked on the active formatting
# elements list and reconstructed across block boundaries).
_FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

# Elements whose insertion pushes an AFE marker and whose pop clears
# back to it.
_AFE_MARKER_TAGS = frozenset(
    "td th caption applet marquee object template".split()
)

# Open-element depth cap (Blink uses 512): beyond it, new elements are
# inserted but not pushed, so pathological nesting (<div> x 500k, seen in
# broken/adversarial crawl pages) stays O(n) instead of O(n^2) stack scans.
_MAX_DEPTH = 512

# Active-formatting-elements size cap: the Noah's ark clause only bounds
# IDENTICAL entries, so N unique-attr <b id=i> tags grow the AFE to N and
# every reconstruction reopens all of them — O(N^2) node creation on
# crafted pages. Real pages keep a handful of open formatting elements;
# beyond the cap the OLDEST entry is dropped (generalized ark), bounding
# reconstruction work per token. Scope markers (td, th, caption...) do
# not count, so a table cell does not shrink the cap.
_MAX_AFE = 64

# Rawtext/RCDATA elements: html5ever (scripting on) treats these as
# text-only content; the RCDATA pair has its character references decoded.
_RAWTEXT_ELEMENTS = frozenset(
    "script style xmp iframe noembed noframes noscript textarea "
    "title".split()
)
_RCDATA = frozenset(("textarea", "title"))

# Tags still pushed within a small guard band beyond the cap: dropping
# the push for these would re-parent their (pruned/rawtext) payload into
# the surrounding content.
_CAP_EXEMPT = frozenset(
    "script style svg math template canvas iframe noscript noembed "
    "noframes xmp textarea title plaintext".split()
)


class Document:
    """Columnar DOM body subtree in pre-order document order.

    Node 0 is always <body>. Text nodes have tag '' and a str in text.
    ``head_text`` carries the raw <title> payload(s) from the (dropped)
    head subtree: the reference's document-level text walk includes the
    title (scraper keeps head; should_skip_element does not skip title),
    so extract_article needs it when the container walk escapes <body>.
    """

    __slots__ = ("kind", "tag", "attrs", "text", "parent", "subtree_end",
                 "head_text")

    def __init__(self, kind, tag, attrs, text, parent, subtree_end,
                 head_text=()):
        self.kind = kind  # list[int]
        self.tag = tag  # list[str]
        self.attrs = attrs  # list[dict | None]
        self.text = text  # list[str | None]
        self.parent = parent  # list[int], -1 for body
        self.subtree_end = subtree_end  # list[int]
        self.head_text = head_text  # tuple[str, ...] raw title text

    def __len__(self) -> int:
        return len(self.kind)


class _TreeBuilder:
    def __init__(self) -> None:
        # node storage: parallel build arrays, children adjacency
        self.n_tag: list = [None]  # None marks a text node
        self.n_attrs: list = [None]
        self.n_text: list = [None]
        self.n_children: list = [[]]
        self.n_parent: list = [-1]
        self.n_tag[0] = "body"
        self.n_attrs[0] = {}
        self.n_text[0] = None
        # open-element stack entries:
        # (node_idx, tag, content_is_foreign, is_integration_point)
        self.stack: list = [(0, "body", False, False)]
        self.in_body = False
        self.quirks = True  # no doctype => quirks mode
        self.table_depth = 0
        # form element POINTER (spec), not a bool: </form> must be
        # ignored when the pointed-at form is no longer on the stack
        # (e.g. popped when an enclosing button closed), or an open
        # <p> would be wrongly closed by the stray end tag.
        self.form_ptr: int | None = None
        self._strip_nl = False
        # active formatting elements: [tag, attrs, node_idx] entries,
        # None = marker (spec list; reconstruction + adoption agency)
        self.afe: list = []
        # raw <title> text captured during the head phase (the rest of
        # head is dropped; title text is needed by article escape walks)
        self.head_title: list = []
        # creation order == pre-order unless a foster-parent insert or a
        # text coalesce into an earlier node happened (then we must DFS)
        self._fostered = False

    # ---- node helpers -------------------------------------------------

    def _new_node(self, tag, attrs, text) -> int:
        idx = len(self.n_tag)
        self.n_tag.append(tag)
        self.n_attrs.append(attrs)
        self.n_text.append(text)
        self.n_children.append([])
        self.n_parent.append(-1)
        return idx

    def _append_child(self, parent: int, child: int) -> None:
        self.n_children[parent].append(child)
        self.n_parent[child] = parent

    def _cur(self) -> int:
        return self.stack[-1][0]

    def _cur_tag(self) -> str:
        return self.stack[-1][1]

    def _cur_foreign(self) -> bool:
        return self.stack[-1][2]

    def _pop(self):
        entry = self.stack.pop()
        if entry[1] == "table":
            self.table_depth -= 1
        elif entry[1] in _AFE_MARKER_TAGS:
            self._afe_clear_to_marker()
        return entry

    def _push(self, idx: int, tag: str, foreign: bool,
              integration: bool = False) -> None:
        self.stack.append((idx, tag, foreign, integration))
        if tag == "table":
            self.table_depth += 1

    # ---- active formatting elements -------------------------------------

    def _reconstruct_afe(self) -> None:
        """Reopen formatting elements that were closed by block
        boundaries (spec 'reconstruct the active formatting elements').
        Misnested END tags are handled by _adoption_agency."""
        afe = self.afe
        if not afe:
            return
        last = afe[-1]
        if last is None:
            return
        on_stack = {e[0] for e in self.stack}
        if last[2] in on_stack:
            return
        i = len(afe) - 1
        while i >= 0:
            e = afe[i]
            if e is None or e[2] in on_stack:
                break
            i -= 1
        for j in range(i + 1, len(afe)):
            tag, attrs, _old = afe[j]
            before = len(self.stack)
            idx = self._insert_element(tag, attrs, push=True)
            if len(self.stack) == before:  # depth-capped: stop retrying
                idx = self._cur()
            afe[j] = [tag, attrs, idx]

    def _afe_remove(self, tag: str) -> None:
        """Remove the last matching entry after the last marker."""
        for i in range(len(self.afe) - 1, -1, -1):
            e = self.afe[i]
            if e is None:
                return
            if e[0] == tag:
                del self.afe[i]
                return

    def _afe_clear_to_marker(self) -> None:
        while self.afe:
            if self.afe.pop() is None:
                return

    def _afe_push(self, entry: list) -> None:
        self.afe.append(entry)
        self._afe_cap()

    def _afe_cap(self) -> None:
        """Enforce the AFE size cap: while more than _MAX_AFE formatting
        entries are listed (scope markers do not count), drop the
        oldest."""
        afe = self.afe
        while len(afe) > _MAX_AFE:
            live = [i for i, e in enumerate(afe) if e is not None]
            if len(live) <= _MAX_AFE:
                return
            del afe[live[0]]

    # ---- adoption agency (spec 13.2.6.4.7) -------------------------------

    def _detach(self, idx: int) -> None:
        p = self.n_parent[idx]
        if p >= 0:
            kids = self.n_children[p]
            try:
                kids.remove(idx)
            except ValueError:
                pass
            self.n_parent[idx] = -1

    def _insert_under(self, target: int, idx: int) -> None:
        """Insert existing node at the appropriate place with override
        target (foster parenting when the target is a table context)."""
        if self.n_tag[target] in _TABLE_CONTEXT and self.table_depth > 0:
            self._fostered = True
            parent, pos = self._foster_target()
            self.n_children[parent].insert(pos, idx)
            self.n_parent[idx] = parent
        else:
            self._append_child(target, idx)

    def _node_in_scope(self, idx: int) -> bool:
        for nidx, t, _f, integration in reversed(self.stack):
            if nidx == idx:
                return True
            if t in _DEFAULT_SCOPE_STOP or integration:
                return False
        return False

    def _adoption_agency(self, subject: str) -> bool:
        """The adoption agency algorithm for a formatting end tag.

        Returns True when the token is fully handled; False when there
        is no matching active formatting entry, in which case the caller
        must act as "any other end tag" (html5ever behaves identically;
        the reference inherits it via Html::parse_document,
        src/cetd.rs:41-61)."""
        stack = self.stack
        afe = self.afe
        # Step 1: current node matches subject and is not an AFE entry.
        cur_idx, cur_tag = stack[-1][0], stack[-1][1]
        if (
            cur_tag == subject
            and len(stack) > 1
            and not any(e is not None and e[2] == cur_idx for e in afe)
        ):
            self._pop()
            return True
        for _outer in range(8):
            # Locate the formatting element (last before a marker).
            fmt_pos = -1
            for i in range(len(afe) - 1, -1, -1):
                e = afe[i]
                if e is None:
                    break
                if e[0] == subject:
                    fmt_pos = i
                    break
            if fmt_pos < 0:
                return False  # act as "any other end tag"
            fmt_tag, fmt_attrs, fmt_idx = afe[fmt_pos]
            stack_pos = -1
            for i in range(len(stack) - 1, 0, -1):
                if stack[i][0] == fmt_idx:
                    stack_pos = i
                    break
            if stack_pos < 0:
                del afe[fmt_pos]  # in AFE but no longer open: drop entry
                return True
            if not self._node_in_scope(fmt_idx):
                return True  # parse error; ignore the token
            # Furthest block: earliest SPECIAL element below fmt.
            fb_pos = -1
            for i in range(stack_pos + 1, len(stack)):
                if stack[i][1] in _SPECIAL:
                    fb_pos = i
                    break
            if fb_pos < 0:
                # Simple case: pop through fmt (nothing special above it,
                # so no table/marker bookkeeping is skipped).
                del stack[stack_pos:]
                del afe[fmt_pos]
                return True
            fb_idx = stack[fb_pos][0]
            common_ancestor = stack[stack_pos - 1][0]
            bookmark = fmt_pos
            # Inner loop: rewire the chain between fmt and furthest block.
            node_pos = fb_pos
            last_node = fb_idx
            inner = 0
            while True:
                inner += 1
                node_pos -= 1
                entry = stack[node_pos]
                node_idx = entry[0]
                if node_idx == fmt_idx:
                    break
                afe_pos = -1
                for i in range(len(afe) - 1, -1, -1):
                    e = afe[i]
                    if e is not None and e[2] == node_idx:
                        afe_pos = i
                        break
                if inner > 3 and afe_pos >= 0:
                    del afe[afe_pos]
                    if afe_pos < bookmark:
                        bookmark -= 1
                    if afe_pos < fmt_pos:
                        fmt_pos -= 1
                    afe_pos = -1
                if afe_pos < 0:
                    del stack[node_pos]
                    fb_pos -= 1
                    continue
                # Clone node; swap in for both its AFE and stack entries.
                n_tag, n_attrs, _old = afe[afe_pos]
                clone = self._new_node(n_tag, n_attrs, None)
                afe[afe_pos] = [n_tag, n_attrs, clone]
                stack[node_pos] = (clone, n_tag, entry[2], entry[3])
                if last_node == fb_idx:
                    bookmark = afe_pos + 1
                self._detach(last_node)
                self._append_child(clone, last_node)
                last_node = clone
            # Place last_node under the common ancestor (foster-aware).
            self._detach(last_node)
            self._insert_under(common_ancestor, last_node)
            # Clone fmt; the furthest block's children move into it.
            new_fmt = self._new_node(fmt_tag, fmt_attrs, None)
            for child in self.n_children[fb_idx]:
                self.n_parent[child] = new_fmt
            self.n_children[new_fmt] = self.n_children[fb_idx]
            self.n_children[fb_idx] = []
            self._append_child(fb_idx, new_fmt)
            # AFE: fmt out, new_fmt in at the bookmark.
            del afe[fmt_pos]
            if fmt_pos < bookmark:
                bookmark -= 1
            afe.insert(bookmark, [fmt_tag, fmt_attrs, new_fmt])
            # The delete+insert is net-zero per iteration, but the cap
            # must hold on every exit path, not just through _afe_push.
            self._afe_cap()
            # Stack: fmt out, new_fmt immediately below the block.
            del stack[stack_pos]
            fb_pos -= 1
            stack.insert(fb_pos + 1, (new_fmt, fmt_tag, False, False))
            # Cloning + reparenting break creation-order == pre-order.
            self._fostered = True
        return True

    # ---- scope / implied end tags --------------------------------------

    def _has_in_scope(self, tag: str, extra=()) -> bool:
        for _idx, t, _foreign, integration in reversed(self.stack):
            if t == tag:
                return True
            if t in _DEFAULT_SCOPE_STOP or t in extra:
                return False
            if integration:
                # SVG/MathML HTML-integration points are scope barriers
                return False
        return False

    def _has_in_table_scope(self, tag: str) -> bool:
        for _idx, t, _f, _i in reversed(self.stack):
            if t == tag:
                return True
            if t in ("html", "table", "template"):
                return False
        return False

    def _in_select(self) -> bool:
        """select-scope membership: every element except optgroup and
        option is a barrier (the spec's 'in select scope' variant).
        Cheap top-of-stack gate first: the walk can only return True
        when the current node is select/option/optgroup (its first
        iteration bails otherwise), and this runs per start AND end
        tag."""
        stack = self.stack
        if not stack or stack[-1][1] not in (
            "select", "option", "optgroup"
        ):
            return False
        for _idx, t, _f, _i in reversed(stack):
            if t == "select":
                return True
            if t not in ("option", "optgroup"):
                return False
        return False

    def _in_table_mode(self) -> bool:
        """Spec 'reset the insertion mode' projection: walking the open
        stack from the top, the first of td/th/caption/table decides
        whether a <table> start tag closes the open table ('in table'
        family modes) or nests a new one ('in cell'/'in caption').
        Checking only the CURRENT node misclassifies the
        foster-parented case — after <table><ul>, the current node is
        the fostered <ul> but the mode is still 'in table', so a
        following <table> must close the open one (html5lib
        differential, minimal case <table><ul><table>)."""
        for _idx, t, _f, _i in reversed(self.stack):
            if t in ("td", "th", "caption"):
                return False
            if t == "table":
                return True
        return False

    _IMPLIED = frozenset(
        ("dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc")
    )

    def _generate_implied_end_tags(self, exclude: str | None = None) -> None:
        while len(self.stack) > 1:
            t = self._cur_tag()
            if t in self._IMPLIED and t != exclude:
                self._pop()
            else:
                return

    def _close_p(self) -> None:
        self._generate_implied_end_tags(exclude="p")
        while len(self.stack) > 1:
            if self._pop()[1] == "p":
                return

    def _pop_through(self, tag: str) -> None:
        while len(self.stack) > 1:
            if self._pop()[1] == tag:
                return

    # ---- insertion (with foster parenting) -----------------------------

    def _foster_target(self):
        """Return (parent, index) to insert before the innermost table."""
        for idx, t, _f, _i in reversed(self.stack):
            if t == "table":
                parent = self.n_parent[idx]
                if parent < 0:
                    return idx, len(self.n_children[idx])
                return parent, self.n_children[parent].index(idx)
        return self._cur(), len(self.n_children[self._cur()])

    def _insert_text(self, data: str) -> None:
        if not data:
            return
        top = self.stack[-1]
        if (
            self.table_depth > 0
            and top[1] in _TABLE_CONTEXT
            and not top[2]
        ):
            if data.strip("\t\n\x0c\r ") == "":
                parent = self._cur()
                kids = self.n_children[parent]
                if kids and self.n_tag[kids[-1]] is None:
                    self.n_text[kids[-1]] += data
                else:
                    self._append_child(parent, self._new_node(None, None, data))
                return
            # Non-whitespace: foster-parent before the table.
            self._fostered = True
            parent, pos = self._foster_target()
            kids = self.n_children[parent]
            if pos > 0 and self.n_tag[kids[pos - 1]] is None:
                self.n_text[kids[pos - 1]] += data
                return
            child = self._new_node(None, None, data)
            kids.insert(pos, child)
            self.n_parent[child] = parent
            return
        # hot path inlined (one text node per call on real pages):
        # top-of-stack read + node-table appends without the
        # _cur/_new_node/_append_child call overhead
        parent = top[0]
        n_tag = self.n_tag
        kids = self.n_children[parent]
        if kids and n_tag[kids[-1]] is None:
            self.n_text[kids[-1]] += data
        else:
            idx = len(n_tag)
            n_tag.append(None)
            self.n_attrs.append(None)
            self.n_text.append(data)
            self.n_children.append([])
            self.n_parent.append(parent)
            kids.append(idx)

    def _insert_element(self, tag, attrs, push, foreign=False) -> int:
        top = self.stack[-1]
        if (
            self.table_depth > 0
            and top[1] in _TABLE_CONTEXT
            and not top[2]
            and tag not in _TABLE_PART_START
            and tag not in ("table", "style", "script", "template", "form")
            and not (tag == "input" and _attr_hidden(attrs))
        ):
            self._fostered = True
            parent, pos = self._foster_target()
            idx = self._new_node(tag, attrs, None)
            self.n_children[parent].insert(pos, idx)
            self.n_parent[idx] = parent
        else:
            # hot path inlined, same as _insert_text
            parent = top[0]
            n_tag = self.n_tag
            idx = len(n_tag)
            n_tag.append(tag)
            self.n_attrs.append(attrs)
            self.n_text.append(None)
            self.n_children.append([])
            self.n_parent.append(parent)
            self.n_children[parent].append(idx)
        if push and (
            len(self.stack) < _MAX_DEPTH
            or (tag in _CAP_EXEMPT and len(self.stack) < _MAX_DEPTH + 32)
        ):
            # beyond the depth cap, skip-subtree/rawtext containers are
            # still pushed (within a small guard band) so their payloads
            # stay inside them and keep being pruned from content
            child_foreign = foreign and tag not in _HTML_INTEGRATION
            integration = foreign and tag in _HTML_INTEGRATION
            self._push(idx, tag, child_foreign, integration)
        return idx

    # ---- tokenizer callbacks -------------------------------------------

    def handle_decl(self, decl: str) -> None:
        d = decl.strip().lower()
        if not d.startswith("doctype"):
            return
        rest = d[7:].strip()
        if rest in ("html", 'html system "about:legacy-compat"'):
            self.quirks = False  # the html5 doctype
            return
        if "public" in rest:
            # Legacy public doctypes: quirks when a known-quirky public
            # id appears WITHOUT a system id (per the spec's quirks
            # table); with a system id they are (limited-)quirks-free
            # for the only decision this flag feeds (p-close-before-
            # table happens in no-quirks and limited-quirks alike).
            has_system = '"http' in rest or "'http" in rest
            quirky = (
                "transitional//" in rest
                or "frameset//" in rest
                or "html 3.2" in rest
                or "html 2.0" in rest
                or "//ietf//" in rest
                or "html//en" in rest
            )
            self.quirks = quirky and not has_system
            return
        # any other doctype (unknown name / bogus): quirks stays True
        self.quirks = rest != "html"

    def handle_data(self, data: str) -> None:
        if self._strip_nl:
            self._strip_nl = False
            if data.startswith("\n"):
                data = data[1:]
        if "\x00" in data:
            data = data.replace("\x00", "")
        if not data:
            return
        if not self.in_body:
            stripped = data.lstrip("\t\n\x0c\r ")
            if not stripped:
                return  # whitespace before body
            self.in_body = True
            data = stripped
        if self.afe:
            # spec: character tokens reconstruct formatting, except
            # whitespace pending inside a table context
            if not (
                self.table_depth > 0
                and self._cur_tag() in _TABLE_CONTEXT
                and data.strip("\t\n\x0c\r ") == ""
            ):
                self._reconstruct_afe()
        self._insert_text(data)

    def handle_rawtext(self, tag: str, data: str) -> None:
        """Raw content of a rawtext/RCDATA/plaintext element, up to its
        end tag or EOF. Inserted under the (already-open) element;
        discarded pre-body (except <title>, captured for document-level
        text walks)."""
        if not self.in_body:
            if tag == "title" and data:
                if "&" in data:
                    data = _htmllib.unescape(data)
                self.head_title.append(data)
            return
        if tag in _RCDATA and "&" in data:
            data = _htmllib.unescape(data)
        if self._strip_nl:
            self._strip_nl = False
            if data.startswith("\n"):
                data = data[1:]
        if "\x00" in data:
            data = data.replace("\x00", "")
        if data:
            self._insert_text(data)

    def handle_startendtag(self, tag, attrs) -> None:
        # Self-closing flag: honored in foreign content, ignored for HTML
        # elements (they stay open per spec) except voids.
        if self._cur_foreign() and tag not in _FOREIGN_BREAKOUT:
            if not self.in_body:
                self.in_body = True
            lattrs = _attrs_dict(attrs)
            self._insert_element(tag, lattrs, push=False)
            return
        self.handle_starttag(tag, attrs)

    def handle_starttag(self, tag, attrs) -> None:
        self._strip_nl = False
        if not self.in_body:
            if tag in _HEAD_ONLY or tag in ("frameset", "frame"):
                return
            if tag == "body":
                self.in_body = True
                return
            self.in_body = True
            # fall through and process as the first body token

        if self._cur_foreign():
            if tag in _FOREIGN_BREAKOUT or (
                tag == "font" and _has_font_breakout_attr(attrs)
            ):
                while len(self.stack) > 1 and self._cur_foreign():
                    self._pop()
            else:
                self._insert_element(
                    tag, _attrs_dict(attrs), push=True, foreign=True
                )
                return

        a = _attrs_dict(attrs)

        if self._in_select():
            # spec "in select": only a closed set of start tags acts;
            # anything else is IGNORED (html5lib differential: <p>
            # inside <select> must not enter the tree)
            if tag in ("option", "optgroup", "select", "input",
                       "keygen", "textarea", "script", "template"):
                pass  # handled by their rules below
            elif tag == "hr":
                if self._cur_tag() == "option":
                    self._pop()
                if self._cur_tag() == "optgroup":
                    self._pop()
                self._insert_element("hr", a, push=False)
                return
            elif tag in ("caption", "table", "tbody", "tfoot", "thead",
                         "tr", "td", "th"):
                # "in select in table": close the select, reprocess
                self._pop_through("select")
            else:
                return

        if tag in ("svg", "math"):
            idx = self._new_node(tag, a, None)
            self._append_child(self._cur(), idx)
            if len(self.stack) < _MAX_DEPTH + 32:
                self._push(idx, tag, True)
            return

        if tag in _TABLE_PART_START or tag in ("head", "frame", "frameset"):
            if self.table_depth > 0 and tag in _TABLE_PART_START:
                self._table_part_start(tag, a)
            # stray table parts / head / frameset in body: ignored
            return

        if tag == "table":
            if self.table_depth > 0 and self._in_table_mode():
                # <table> in table: acts as </table> then reprocess
                self._end_table()
            if not self.quirks and self._has_in_scope("p", extra=("button",)):
                self._close_p()
            self._insert_element(tag, a, push=True)
            return

        if tag in _P_CLOSERS:
            if tag == "form" and self.form_ptr is not None:
                # spec ignores the whole token BEFORE any p-closing:
                # a duplicate <form> must not disturb the open <p>
                return
            if self._has_in_scope("p", extra=("button",)):
                self._close_p()
            if tag in _HEADINGS and self._cur_tag() in _HEADINGS:
                self._pop()
            push = tag not in VOID_ELEMENTS  # hr is void
            idx = self._insert_element(tag, a, push=push)
            if tag == "form":
                self.form_ptr = idx
            if tag in ("pre", "listing"):
                self._strip_nl = True
            return

        if tag in ("li", "dd", "dt"):
            closers = ("li",) if tag == "li" else ("dd", "dt")
            for _idx, t, _f, _i in reversed(self.stack):
                if t in closers:
                    self._generate_implied_end_tags(exclude=t)
                    self._pop_through(t)
                    break
                if t in _SPECIAL and t not in ("address", "div", "p"):
                    break
            if self._has_in_scope("p", extra=("button",)):
                self._close_p()
            self._insert_element(tag, a, push=True)
            return

        if tag == "a":
            # Spec: an <a> while another <a> is in the AFE (after the
            # last marker) runs the adoption agency for "a", then drops
            # the old entry from the AFE and the stack if still present.
            a_entry = None
            for i in range(len(self.afe) - 1, -1, -1):
                e = self.afe[i]
                if e is None:
                    break
                if e[0] == "a":
                    a_entry = e
                    break
            if a_entry is not None:
                self._adoption_agency("a")
                for i in range(len(self.afe) - 1, -1, -1):
                    if self.afe[i] is a_entry:
                        del self.afe[i]
                        break
                for i in range(len(self.stack) - 1, 0, -1):
                    if self.stack[i][0] == a_entry[2]:
                        del self.stack[i]
                        break
            self._reconstruct_afe()
            idx = self._insert_element(tag, a, push=True)
            self._afe_push(["a", a, idx])
            return

        if tag == "button":
            if self._has_in_scope("button"):
                self._generate_implied_end_tags()
                self._pop_through("button")
            self._reconstruct_afe()  # spec: <button> reconstructs
            self._insert_element(tag, a, push=True)
            return

        if tag in ("rb", "rtc", "rt", "rp"):
            # spec "in body": with a ruby in scope, rb/rtc generate
            # implied end tags; rt/rp generate them except for rtc —
            # so <ruby><rp><rt> yields SIBLING rp/rt, not nesting
            # (html5lib differential, ruby pool)
            if self._has_in_scope("ruby"):
                self._generate_implied_end_tags(
                    exclude="rtc" if tag in ("rt", "rp") else None
                )
            self._insert_element(tag, a, push=True)
            return

        if tag == "option":
            if self._cur_tag() == "option":
                self._pop()
            if not self._in_select():
                self._reconstruct_afe()  # in-body option reconstructs
            self._insert_element(tag, a, push=True)
            return
        if tag == "optgroup":
            if self._cur_tag() == "option":
                self._pop()
            if self._in_select():
                # popping a sibling optgroup is an IN-SELECT rule; in
                # body optgroups nest (html5lib differential)
                if self._cur_tag() == "optgroup":
                    self._pop()
            else:
                self._reconstruct_afe()
            self._insert_element(tag, a, push=True)
            return

        if tag == "select":
            if self._has_in_scope("select"):
                self._pop_through("select")
                return
            self._insert_element(tag, a, push=True)
            return

        if tag in ("input", "keygen", "textarea") and self._has_in_scope("select"):
            self._pop_through("select")

        if tag == "image":
            tag = "img"

        if tag in VOID_ELEMENTS:
            if self.afe and tag in ("br", "img", "embed", "area", "wbr", "input"):
                self._reconstruct_afe()
            self._insert_element(tag, a, push=False)
            return

        if tag == "body" or tag == "html":
            return

        if tag in _FORMATTING:
            self._reconstruct_afe()
            if tag == "nobr" and self._has_in_scope("nobr"):
                # spec: <nobr> with one already in scope adopts it first
                self._adoption_agency("nobr")
                self._reconstruct_afe()
            # Noah's ark clause: at most 3 identical entries per marker
            same = 0
            for i in range(len(self.afe) - 1, -1, -1):
                e = self.afe[i]
                if e is None:
                    break
                if e[0] == tag and e[1] == a:
                    same += 1
                    if same >= 3:
                        del self.afe[i]
                        break
            idx = self._insert_element(tag, a, push=True)
            self._afe_push([tag, a, idx])
            return

        if self.afe:
            self._reconstruct_afe()
        idx = self._insert_element(tag, a, push=True)
        if tag in _AFE_MARKER_TAGS:
            self.afe.append(None)
        if tag == "textarea":
            self._strip_nl = True

    def _table_part_start(self, tag: str, attrs) -> None:
        stop_row = ("tr", "tbody", "thead", "tfoot", "table", "body")
        if tag == "tr":
            while self._cur_tag() not in ("tbody", "thead", "tfoot", "table", "body"):
                if len(self.stack) == 1:
                    break
                self._pop()
            if self._cur_tag() == "table":
                self._insert_element("tbody", {}, push=True)
            self._insert_element("tr", attrs, push=True)
            return
        if tag in ("td", "th"):
            while self._cur_tag() not in stop_row:
                if len(self.stack) == 1:
                    break
                self._pop()
            if self._cur_tag() != "tr":
                if self._cur_tag() == "table":
                    self._insert_element("tbody", {}, push=True)
                if self._cur_tag() in ("tbody", "thead", "tfoot"):
                    self._insert_element("tr", {}, push=True)
            self._insert_element(tag, attrs, push=True)
            self.afe.append(None)  # cell marker
            return
        if tag in ("tbody", "thead", "tfoot", "caption", "colgroup"):
            while self._cur_tag() not in ("table", "body"):
                if len(self.stack) == 1:
                    break
                self._pop()
            self._insert_element(tag, attrs, push=True)
            if tag == "caption":
                self.afe.append(None)
            return
        if tag == "col":
            if self._cur_tag() != "colgroup":
                while self._cur_tag() not in ("table", "body"):
                    if len(self.stack) == 1:
                        break
                    self._pop()
                if self._cur_tag() == "table":
                    self._insert_element("colgroup", {}, push=True)
            self._insert_element("col", attrs, push=False)
            return

    def _end_table(self) -> None:
        if self._has_in_table_scope("table"):
            self._pop_through("table")

    def handle_endtag(self, tag: str) -> None:
        self._strip_nl = False
        if not self.in_body:
            return

        if self._cur_foreign():
            for i in range(len(self.stack) - 1, 0, -1):
                entry = self.stack[i]
                if entry[1] == tag:
                    del self.stack[i:]
                    return
                if not entry[2] and entry[1] not in ("svg", "math"):
                    break

        if self._in_select() and tag not in (
            "option", "optgroup", "select", "template"
        ):
            if tag in ("caption", "table", "tbody", "tfoot", "thead",
                       "tr", "td", "th"):
                # "in select in table": close the select, reprocess
                self._pop_through("select")
            else:
                return  # spec "in select": any other end tag is ignored

        if tag == "p":
            if not self._has_in_scope("p", extra=("button",)):
                self._insert_element("p", {}, push=False)
                return
            self._close_p()
            return
        if tag in _BLOCK_END:
            if self._has_in_scope(tag):
                self._generate_implied_end_tags()
                self._pop_through(tag)
            return
        if tag in ("li", "dd", "dt"):
            extra = ("ol", "ul") if tag == "li" else ()
            if self._has_in_scope(tag, extra=extra):
                self._generate_implied_end_tags(exclude=tag)
                self._pop_through(tag)
            return
        if tag in _HEADINGS:
            if any(self._has_in_scope(h) for h in _HEADINGS):
                self._generate_implied_end_tags()
                while len(self.stack) > 1:
                    if self._pop()[1] in _HEADINGS:
                        break
            return
        if tag == "form":
            node, self.form_ptr = self.form_ptr, None
            # spec: ignore unless the POINTED-AT form is still open
            if node is not None and any(
                e[0] == node for e in self.stack
            ):
                self._generate_implied_end_tags()
                for i in range(len(self.stack) - 1, 0, -1):
                    if self.stack[i][0] == node:
                        del self.stack[i]
                        break
            return
        if tag == "br":
            self._insert_element("br", {}, push=False)
            return
        if tag == "table":
            self._end_table()
            return
        if tag in ("tbody", "thead", "tfoot", "tr", "td", "th", "caption", "colgroup"):
            if self._has_in_table_scope(tag):
                self._generate_implied_end_tags()
                self._pop_through(tag)
            return
        if tag in ("body", "html"):
            return

        if tag in _FORMATTING:
            if self._adoption_agency(tag):
                return
            # no matching AFE entry: fall through to any-other-end-tag

        # Any other end tag: nearest-match pop with SPECIAL abort.
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i][1]
            if t == tag:
                self._generate_implied_end_tags(exclude=tag)
                while len(self.stack) > 1:
                    if self._pop()[1] == tag:
                        return
                return
            if t in _SPECIAL:
                return


_DICT_CACHE: dict = {}


def _attrs_dict(attrs) -> dict:
    """First-occurrence-wins attr dict; valueless attrs get ''.

    Results are cached and shared between elements with identical
    attribute lists — safe because node attr dicts are read-only
    downstream (predicates/markdown/udf only .get from them).
    """
    if not attrs:
        return {}
    cached = _DICT_CACHE.get(attrs)
    if cached is not None:
        return cached
    d: dict = {}
    for name, value in attrs:
        if name not in d:
            d[name] = value if value is not None else ""
    if len(_DICT_CACHE) < _ATTR_CACHE_MAX:
        _DICT_CACHE[attrs] = d
    return d


def _attr_hidden(attrs: dict) -> bool:
    return attrs.get("type", "").lower() == "hidden"


def _has_font_breakout_attr(attrs) -> bool:
    for name, _v in attrs:
        if name in ("color", "face", "size"):
            return True
    return False


# ---------------------------------------------------------------------
# Tokenizer: one compiled-regex scan per tag (a character-level state
# machine profiles at ~75% of extraction time), with a spec-shaped
# manual scan for the tags the regex rejects. It drives the
# _TreeBuilder callbacks and decides everything that happens at EOF.
# ---------------------------------------------------------------------

_TAG_RE = re.compile(
    # Attrs region: a quote PAIRS (and may span '>') only in value
    # position (right after '=' plus optional whitespace) — exactly
    # the spec's attribute states. A bare quote elsewhere is a single
    # junk name character; letting it open a phantom pair swallowed
    # real markup into attribute values on mutated pages (html5lib
    # differential). '=' followed by an UNPAIRED quote fails the whole
    # match so _scan_tag_slow applies the spec's swallow-to-next-quote
    # recovery instead.
    r"<(?:"
    r"(?P<end>/)?(?P<name>[a-zA-Z][^\t\n\x0c />\x00]*)"
    # The unquoted-value '=' branch consumes ONLY the '=' (the
    # lookahead skips whitespace without consuming it): whitespace
    # after '=' is then consumed uniquely by the [^>\"'=] class, so a
    # failing match (unpaired value quote) backtracks linearly.
    # Consuming the whitespace in BOTH places made '= '*n inputs
    # explore exponentially many parses — a ~120-byte corrupt tag
    # could wedge an executor for minutes.
    r"(?P<attrs>(?:[^>\"'=]"
    r"|=[\t\n\x0c ]*\"[^\"]*\""
    r"|=[\t\n\x0c ]*'[^']*'"
    r"|=(?![\t\n\x0c ]*[\"'])"
    r"|[\"'])*)>"
    r"|(?P<comment>!--)"
    r"|(?P<decl>![^>]*)>"
    r"|(?P<pi>\?[^>]*)>"
    r")"
)

_ATTR_RE = re.compile(
    r"([^\s/=>]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)

_RAWTEXT_END = {
    t: re.compile(r"</%s(?=[\t\n\x0c\r />]|$)" % t, re.I)
    for t in _RAWTEXT_ELEMENTS | {"plaintext"}
}


# Attribute-string parse cache: real pages repeat the same class/style
# attribute strings thousands of times. Values are shared immutable
# tuples, which _attrs_dict in turn maps to shared read-only dicts.
_ATTR_CACHE: dict = {}
_ATTR_CACHE_MAX = 65536


def _parse_attrs(s: str) -> tuple:
    if not s or s.isspace():
        return ()
    cached = _ATTR_CACHE.get(s)
    if cached is not None:
        return cached
    out = []
    for m in _ATTR_RE.finditer(s):
        name = m.group(1)
        value = m.group(2)
        if value is None:
            value = m.group(3)
        if value is None:
            value = m.group(4)
        if value is not None and "&" in value:
            value = _htmllib.unescape(value)
        out.append((name.lower(), value))
    out = tuple(out)
    if len(_ATTR_CACHE) < _ATTR_CACHE_MAX:
        _ATTR_CACHE[s] = out
    return out


_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\x0c />\x00]*")


def _scan_tag_slow(html: str, lt: int):
    """Spec-shaped manual scan for a tag the fast regex rejects —
    typically an UNTERMINATED attribute quote (crawl corruption: a
    flipped byte where a closing quote was). The spec tokenizer just
    keeps consuming inside the quoted-value state until the next
    matching quote, re-pairing the remaining quotes, and ends the tag
    at the first '>' outside quotes; emulate exactly that so damage
    costs one mangled attribute, not the rest of the markup dumped
    into a text node (found by html5lib differential over mutated
    real pages).

    Returns (end_pos, is_end, name, attrs_str, hit_eof) or None when
    '<' does not open a tag at all.
    """
    n = len(html)
    pos = lt + 1
    is_end = pos < n and html[pos] == "/"
    if is_end:
        pos += 1
    m = _TAG_NAME_RE.match(html, pos)
    if m is None:
        return None
    name = m.group(0)
    i = m.end()
    attrs_start = i
    # Quotes open a value ONLY in value position (after '='), exactly
    # like the spec states: a stray quote elsewhere is a junk name
    # character, not a re-pairing opener — getting this wrong swallows
    # real markup into phantom attribute values.
    while i < n:
        ch = html[i]
        if ch == ">":
            return (i + 1, is_end, name, html[attrs_start:i], False)
        if ch == "=":
            i += 1
            while i < n and html[i] in "\t\n\x0c ":
                i += 1
            if i < n and html[i] in "\"'":
                j = html.find(html[i], i + 1)
                if j < 0:
                    return (n, is_end, name, "", True)  # EOF in value
                i = j + 1
            else:
                while i < n and html[i] not in "\t\n\x0c >":
                    i += 1
            continue
        i += 1
    return (n, is_end, name, "", True)  # EOF in tag


def _feed_fast(builder: _TreeBuilder, html: str) -> None:
    pos = 0
    n = len(html)
    emit_text = builder.handle_data
    h_start = builder.handle_starttag
    h_end = builder.handle_endtag
    h_se = builder.handle_startendtag
    h_raw = builder.handle_rawtext
    find = html.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            emit_text(html[pos:] if "&" not in html[pos:] else
                      _htmllib.unescape(html[pos:]))
            return
        if lt > pos:
            chunk = html[pos:lt]
            emit_text(chunk if "&" not in chunk else _htmllib.unescape(chunk))
        m = _TAG_RE.match(html, lt)
        if m is not None:
            pos = m.end()
            name = m.group("name")
            if name is None:
                if m.group("comment"):
                    # Spec comment-end handling: "<!-->" / "<!--->" are
                    # abruptly-closed empty comments, and "--!>" also
                    # closes a comment (incorrectly-closed-comment parse
                    # error) — both matter only for WHERE the comment
                    # ends, since comment data is dropped.
                    if html.startswith(">", pos):
                        pos += 1
                    elif html.startswith("->", pos):
                        pos += 2
                    else:
                        end = find("-->", pos)
                        bang = find("--!>", pos)
                        if bang >= 0 and (end < 0 or bang < end):
                            pos = bang + 4
                        else:
                            pos = n if end < 0 else end + 3
                elif m.group("decl") is not None:
                    builder.handle_decl(m.group("decl")[1:])
                # processing instruction / bogus comment: skipped
                continue
            is_end = m.group("end")
            attrs_s = m.group("attrs")
        else:
            nxt = html[lt + 1: lt + 2]
            if nxt in ("!", "?"):
                # the regex takes every '<!'/'<?' with a '>' after it:
                # this one is a bogus comment that runs to EOF
                return
            if nxt == "/" and html[lt + 2: lt + 3] and not _ascii_alpha(
                html[lt + 2]
            ):
                # spec end-tag-open with a non-alpha next char: `</>` is
                # a missing-end-tag-name (dropped) and anything else
                # (`</=>`, `</ x>`) is a BOGUS COMMENT consumed through
                # the next `>` (or to EOF) — never character data
                gt = find(">", lt + 2)
                pos = n if gt < 0 else gt + 1
                continue
            scan = _scan_tag_slow(html, lt)
            if scan is None:
                # '<' that does not open a tag is character data
                emit_text("<")
                pos = lt + 1
                continue
            pos, is_end, name, attrs_s, hit_eof = scan
            if hit_eof:
                # spec eof-in-tag: the unfinished tag emits nothing (an
                # unterminated quoted value swallows the rest, like
                # html5lib and html5ever)
                return
        tag = name if name.islower() else name.lower()
        if is_end:
            h_end(tag)
            continue
        self_closing = attrs_s.endswith("/")
        attrs = _parse_attrs(attrs_s[:-1] if self_closing else attrs_s)
        if self_closing:
            h_se(tag, attrs)
        else:
            h_start(tag, attrs)
        if tag == "plaintext" and builder.in_body:
            h_raw("plaintext", html[pos:])
            return
        if (
            not self_closing
            and tag in _RAWTEXT_ELEMENTS
            and not builder._cur_foreign()
        ):
            endm = _RAWTEXT_END[tag].search(html, pos)
            if endm is None:
                h_raw(tag, html[pos:])
                h_end(tag)
                return
            h_raw(tag, html[pos:endm.start()])
            h_end(tag)
            gt = find(">", endm.end())
            pos = n if gt < 0 else gt + 1


def _ascii_alpha(ch: str) -> bool:
    return "a" <= ch <= "z" or "A" <= ch <= "Z"


def parse_html(html: str) -> Document:
    """Parse an HTML string into the pre-order body node table."""
    # Input-stream preprocessing per spec: normalize newlines.
    if "\r" in html:
        html = html.replace("\r\n", "\n").replace("\r", "\n")
    builder = _TreeBuilder()
    _feed_fast(builder, html)

    # Linearize to pre-order arrays rooted at body (node 0).
    n_tag = builder.n_tag
    n_text = builder.n_text
    n_attrs = builder.n_attrs
    n_children = builder.n_children

    if not builder._fostered:
        # Fast path: without foster-parenting, creation order IS
        # pre-order document order (every node is appended to the tree
        # the moment its token arrives). Compute subtree_end with one
        # ancestor-stack sweep instead of an explicit DFS.
        m = len(n_tag)
        kind = [KIND_ELEMENT] * m
        tag = n_tag[:]
        text = n_text[:]
        parent = builder.n_parent[:]
        attrs = n_attrs[:]
        for i in range(m):
            if tag[i] is None:
                kind[i] = KIND_TEXT
                tag[i] = ""
        subtree_end = [0] * m
        open_stack: list = []
        for i in range(m):
            p = parent[i]
            while open_stack and open_stack[-1] != p:
                subtree_end[open_stack.pop()] = i
            open_stack.append(i)
        for i in open_stack:
            subtree_end[i] = m
        return Document(kind, tag, attrs, text, parent, subtree_end,
                        tuple(builder.head_title))

    kind: list = []
    tag: list = []
    attrs: list = []
    text: list = []
    parent: list = []
    subtree_end: list = []

    # Iterative DFS with explicit post-visit to fill subtree_end.
    stack = [(0, -1, False)]
    while stack:
        node, par, visited = stack.pop()
        if visited:
            subtree_end[node] = len(kind)
            continue
        pre = len(kind)
        if n_tag[node] is None:
            kind.append(KIND_TEXT)
            tag.append("")
            attrs.append(None)
            text.append(n_text[node])
        else:
            kind.append(KIND_ELEMENT)
            tag.append(n_tag[node])
            attrs.append(n_attrs[node])
            text.append(None)
        parent.append(par)
        subtree_end.append(-1)
        stack.append((pre, par, True))
        for child in reversed(n_children[node]):
            stack.append((child, pre, False))

    return Document(kind, tag, attrs, text, parent, subtree_end,
                    tuple(builder.head_title))
