"""Top-level per-document API (the reference crate's entry points,
src/lib.rs:140-159), plus the batch-record form the Spark UDF consumes."""

from __future__ import annotations

from typing import Any

from dce_spark.core.cetd import DensityTree
from dce_spark.core.textnorm import detect_primary_script

__all__ = ["extract_content", "extract_article", "extract_page", "decode_html"]

MODES = ("content", "article", "both", "all")


def check_mode(mode: str) -> None:
    """Refuse an unknown extraction mode before any row is read: a
    misspelt mode would otherwise extract nothing and report `ok`."""
    if mode not in MODES:
        raise ValueError(f"unknown mode: {mode!r}; expected one of {MODES}")


def decode_html(raw: bytes | str) -> str:
    """UTF-8 lossy decode (the reference's evaluation path uses
    String::from_utf8_lossy, examples/ce_score.rs:36-38; same U+FFFD
    replacement semantics)."""
    if isinstance(raw, str):
        return raw
    return raw.decode("utf-8", errors="replace")


def extract_content(html: bytes | str) -> str:
    """get_content: parse -> density tree -> density sums -> largest
    contiguous high-density block -> normalized text (src/lib.rs:140-144)."""
    dtree = DensityTree.from_html(decode_html(html))
    dtree.calculate_density_sum()
    return dtree.extract_content()


def extract_article(html: bytes | str) -> str:
    """get_article: anchor-and-walk-up variant (src/lib.rs:155-159)."""
    dtree = DensityTree.from_html(decode_html(html))
    dtree.calculate_density_sum()
    return dtree.extract_article()


def extract_page(html: bytes | str, mode: str = "both") -> dict[str, Any]:
    """Full per-row record for the Spark pipeline: both extraction modes,
    spans, node count and script detection, never raising per row (an
    unknown `mode` is a caller error and raises)."""
    check_mode(mode)
    try:
        text = decode_html(html)
        dtree = DensityTree.from_html(text)
        dtree.calculate_density_sum()
        out: dict[str, Any] = {
            "extracted_text": "",
            "article_text": "",
            "content_node_spans": [],
            "node_count": dtree.node_count(),
            "status": "ok",
            "primary_script": "",
            "content_links": [],
            "extracted_md": None,
        }
        if mode in ("content", "both", "all"):
            extracted, spans = dtree.extract_content(with_spans=True)
            out["extracted_text"] = extracted
            # power-user surface parity: get_node_links of the densest
            # node (reference src/lib.rs:49-65 + utils.rs:407-421)
            sn = dtree.sorted_nodes()
            if len(sn):
                out["content_links"] = dtree.node_links(int(sn[-1]))
            out["content_node_spans"] = [
                {"node_index": n, "start": s, "end": e} for n, s, e in spans
            ]
            out["primary_script"] = detect_primary_script(extracted)
        if mode in ("article", "both", "all"):
            out["article_text"] = dtree.extract_article()
            if mode == "article":
                out["primary_script"] = detect_primary_script(out["article_text"])
        if mode == "all":
            from dce_spark.core.markdown import extract_content_as_markdown

            out["extracted_md"] = extract_content_as_markdown(dtree)
        return out
    except Exception as exc:  # total per row: error-code column, no throw
        return {
            "extracted_text": "",
            "article_text": "",
            "content_node_spans": [],
            "node_count": 0,
            "status": f"error:{type(exc).__name__}",
            "primary_script": "",
            "content_links": [],
            "extracted_md": None,
        }
