"""Tier-1 unicode parity — golden values from reference src/unicode.rs tests."""

from dce_spark.core.textnorm import (
    RUST_WHITESPACE,
    count_graphemes,
    detect_primary_script,
    normalize_text,
    rust_trim,
)


def test_count_graphemes():
    # src/unicode.rs:157-163
    assert count_graphemes("hello") == 5
    assert count_graphemes("café") == 4
    assert count_graphemes("こんにちは") == 5
    assert count_graphemes("👩‍💻") == 1
    # src/unicode.rs:17-22
    assert count_graphemes("Hello, 世界!") == 10
    # CRLF is a single extended grapheme cluster
    assert count_graphemes("a\r\nb") == 3


def test_normalize_text():
    # src/unicode.rs:175-184
    assert normalize_text("café") == "café"
    assert normalize_text("café") == "café"  # NFD -> NFC
    assert normalize_text("  hello  world  ") == "hello world"
    assert normalize_text("hello\n\t world") == "hello world"
    # doc example src/unicode.rs:65-69
    assert normalize_text("  café   \n  résumé  ") == "café résumé"


def test_join_text_fragments():
    # fragments joined by one space, then normalized (src/unicode.rs:187-199)
    assert normalize_text(" ".join(["Hello", "world", "!"])) == "Hello world !"
    assert (
        normalize_text(" ".join(["  Text  ", " with ", "  extra  ", " spaces "]))
        == "Text with extra spaces"
    )
    # doc example src/unicode.rs:93-98
    assert normalize_text(" ".join(["Hello", "世界", "!"])) == "Hello 世界 !"


def test_detect_primary_script():
    # src/unicode.rs:202-208
    assert detect_primary_script("Hello world") == "Latin"
    assert detect_primary_script("Привет мир") == "Cyrillic"
    assert detect_primary_script("こんにちは世界") == "Han"
    assert detect_primary_script("Hello 世界 and more Latin") == "Latin"


def test_rust_whitespace_set():
    # Rust's White_Space property excludes the U+001C..1F separators
    # Python would treat as whitespace.
    assert "\x1c" not in RUST_WHITESPACE
    assert rust_trim("\x1cabc\x1c") == "\x1cabc\x1c"
    assert rust_trim(" abc　") == "abc"
    assert normalize_text("a\x1cb") == "a\x1cb"
    assert normalize_text("a b") == "a b"
