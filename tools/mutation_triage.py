#!/usr/bin/env python3
"""Triage harness: mutated real pages, ours vs html5lib TEXT retention.

For every pages.zip page and a battery of byte-level mutations
(tests/test_mutation_fuzz._mutations), compare the document-order
non-ws text sequence of our tree against html5lib's. A case where
html5lib keeps text we drop is a potential data-loss bug; this script
collects them, shrinks each to a minimal reproducing window, and
prints them for hand adjudication (ours-correct spec behavior vs
real bug).

Usage: python tools/mutation_triage.py [n_mutations_per_page] [seed]
"""

from __future__ import annotations

import random
import sys
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))

from test_html5lib_differential import (  # noqa: E402
    _load_html5lib, h5_canon, ours_canon, project, text_seq,
)
from test_mutation_fuzz import _mutations  # noqa: E402

PAGES_ZIP = Path("/root/reference/html/pages.zip")


import re as _re

_C0 = str.maketrans("", "", "".join(
    chr(c) for c in range(1, 32) if chr(c) not in "\t\n\r"
))


def lost_by_us(html: str):
    """Content-projection text html5lib keeps and we drop (script/
    style/etc payloads excluded — extraction never reads them, and a
    mutated rawtext boundary makes our parser and html5lib
    legitimately disagree about where the payload ends). Two
    adjudicated classes are normalized out, mirroring the pinned
    retention test: unbalanced <template> (spec keeps the tail in the
    out-of-body contents fragment; html5lib leaks it back) and
    C0-control charrefs (sanitized by the stdlib html.unescape our
    tokenizer decodes with)."""
    if len(_re.findall(r"<template[\s>]", html, _re.I)) > len(
        _re.findall(r"</template", html, _re.I)
    ):
        return []
    try:
        ta = text_seq(project(ours_canon(html)))
        tb = text_seq(project(h5_canon(html)))
    except RecursionError:
        return []
    ta = [t.translate(_C0) for t in ta]
    tb = [t.translate(_C0) for t in tb]
    return [t for t in set(tb) if tb.count(t) > ta.count(t)]


def shrink(html: str) -> str:
    """Greedy line/window shrink keeping the divergence alive."""
    cur = html
    # line-level
    changed = True
    while changed:
        changed = False
        lines = cur.split("\n")
        if len(lines) > 1:
            step = max(1, len(lines) // 8)
            i = 0
            while i < len(lines):
                cand = "\n".join(lines[:i] + lines[i + step:])
                if lost_by_us(cand):
                    lines = cand.split("\n")
                    changed = True
                else:
                    i += step
            cur = "\n".join(lines)
    # char-window level
    step = max(1, len(cur) // 16)
    while step >= 8:
        i = 0
        while i < len(cur):
            cand = cur[:i] + cur[i + step:]
            if lost_by_us(cand):
                cur = cand
            else:
                i += step
        step //= 2
    return cur


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    if _load_html5lib() is None:
        print("no html5lib available")
        return
    zf = zipfile.ZipFile(PAGES_ZIP)
    names = [x for x in zf.namelist()
             if x.endswith(".html") and "._" not in x]
    rng = random.Random(seed)
    bad = []
    checked = 0
    for name in names:
        raw = zf.read(name)
        for mi, mutant in enumerate(_mutations(raw, rng, n)):
            html = mutant.decode("utf-8", errors="replace")
            checked += 1
            loss = lost_by_us(html)
            if loss:
                bad.append((name, mi, html, loss))
    print(f"checked {checked} mutants: {len(bad)} text-loss cases")
    for name, mi, html, loss in bad:
        small = shrink(html)
        print("=" * 72)
        print(f"{name} mutant#{mi}  lost={sorted(loss)[:4]!r}")
        print(f"minimized ({len(small)} chars):")
        print(repr(small[:2000]))


if __name__ == "__main__":
    main()
