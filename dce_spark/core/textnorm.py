"""Unicode text primitives with Rust-parity semantics.

Parity notes (behavior studied from the reference crate, file:line cited
per function):

* Whitespace: Rust ``char::is_whitespace`` / ``str::trim`` /
  ``split_whitespace`` use the Unicode ``White_Space`` property. Python's
  ``str.strip()``/``str.split()`` additionally treat U+001C..U+001F as
  whitespace, so we use an explicit character set everywhere output bytes
  or character counts are affected.
* Grapheme counting: UAX-29 extended grapheme clusters via the ``regex``
  module's ``\\X`` (same spec the reference's unicode-segmentation crate
  implements).
"""

from __future__ import annotations

import unicodedata

import regex as _regex

# Unicode White_Space property (the set Rust's char::is_whitespace uses).
# Deliberately excludes U+001C..U+001F which Python would include.
RUST_WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)

_NONWS_RUN = _regex.compile("[^" + RUST_WHITESPACE + "]+")
_GRAPHEME = _regex.compile(r"\X")

# ASCII-only lowercasing (Rust to_ascii_lowercase; Python .lower() would
# also fold non-ASCII, e.g. İ -> i̇, changing marker-substring matches).
_ASCII_LOWER_TABLE = {c: c + 32 for c in range(ord("A"), ord("Z") + 1)}


def ascii_lower(s: str) -> str:
    """Rust ``str::to_ascii_lowercase`` (reference src/utils.rs:61)."""
    return s.translate(_ASCII_LOWER_TABLE)


def rust_trim(s: str) -> str:
    """Rust ``str::trim`` — strips Unicode White_Space only."""
    return s.strip(RUST_WHITESPACE)


def count_graphemes(text: str) -> int:
    """UAX-29 extended grapheme cluster count (reference src/unicode.rs:24-26).

    Fast path: pure-ASCII text without CR has one cluster per code point
    ("\\r\\n" is a single cluster, hence the CR guard).
    """
    if text.isascii() and "\r" not in text:
        return len(text)
    return len(_GRAPHEME.findall(text))


def nfc(text: str) -> str:
    if text.isascii():
        return text
    return unicodedata.normalize("NFC", text)


def normalize_text(text: str) -> str:
    """NFC + collapse Unicode whitespace runs to single spaces + trim
    (reference src/unicode.rs:70-79: nfc().collect() then
    split_whitespace().join(" ")).

    ASCII fast path: NFC is identity, and str.split() equals a
    White_Space split once U+001C..U+001F (Python-only whitespace,
    ASCII control) are ruled out — ~10x cheaper than the regex scan.
    """
    if (
        text.isascii()
        and "\x1c" not in text
        and "\x1d" not in text
        and "\x1e" not in text
        and "\x1f" not in text
    ):
        return " ".join(text.split())
    return " ".join(_NONWS_RUN.findall(nfc(text)))


def detect_primary_script(text: str) -> str:
    """Heuristic Latin/Cyrillic/Han detection, exact port of the counting
    ranges in reference src/unicode.rs:125-150 (Latin wins ties)."""
    if text.isascii():
        return "Latin"  # all chars count as Latin; ties go Latin anyway
    latin = 0
    cjk = 0
    cyrillic = 0
    for ch in text:
        o = ord(ch)
        if o < 0x80 or 0xC0 <= o <= 0xFF:
            latin += 1
        elif 0x3000 <= o <= 0x9FFF:
            cjk += 1
        elif 0x0400 <= o <= 0x04FF:
            cyrillic += 1
    if cjk > latin and cjk > cyrillic:
        return "Han"
    if cyrillic > latin and cyrillic > cjk:
        return "Cyrillic"
    return "Latin"
