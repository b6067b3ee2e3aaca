"""Arrow-batched extraction UDF.

The whole CETD dataflow is a pure per-row map, so the only Spark
operator it needs is ``mapInArrow``: JVM -> Python crosses once per
Arrow batch, the Python side never materializes pandas objects on the
hot path, and output batches are re-chunked by byte budget so a tail of
multi-MB pages cannot blow Python-worker memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from dce_spark.core.api import extract_page
from dce_spark.spark.schema import EXTRACTED_SCHEMA

# Output flush threshold: keep Arrow IPC messages comfortably small.
_OUT_BUDGET_BYTES = 48 * 1024 * 1024
_OUT_BUDGET_ROWS = 2048

_ARROW_SPAN = pa.list_(
    pa.struct(
        [
            pa.field("node_index", pa.int32(), nullable=False),
            pa.field("start", pa.int32(), nullable=False),
            pa.field("end", pa.int32(), nullable=False),
        ]
    )
)

_ARROW_OUT = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("extracted_text", pa.string()),
        pa.field("article_text", pa.string()),
        pa.field("extracted_md", pa.string()),
        pa.field("content_node_spans", _ARROW_SPAN),
        pa.field("node_count", pa.int32()),
        pa.field("status", pa.string()),
        pa.field("primary_script", pa.string()),
        pa.field("content_links", pa.list_(pa.string())),
        pa.field("bytes_in", pa.int64()),
    ]
)


def extract_batches(
    batches: Iterator[pa.RecordBatch], mode: str = "both"
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: pages(url, html, ...) -> extracted rows.

    Totally per-row: parse/extraction failures become status codes,
    never exceptions (the reference's error model, src/lib.rs:134-138,
    widened to per-row totality for 10^12-row runs).
    """
    cols = {name: [] for name in _ARROW_OUT.names}
    budget = 0

    def flush():
        nonlocal cols, budget
        if not cols["url"]:
            return None
        batch = pa.RecordBatch.from_pydict(cols, schema=_ARROW_OUT)
        cols = {name: [] for name in _ARROW_OUT.names}
        budget = 0
        return batch

    for batch in batches:
        # one C-level conversion per column beats per-element .as_py()
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        for i in range(batch.num_rows):
            url = urls[i]
            raw = htmls[i]
            if raw is None:
                nbytes = 0
            elif isinstance(raw, str):  # string column: measure bytes
                nbytes = len(raw.encode("utf-8", errors="replace"))
            else:
                nbytes = len(raw)
            rec = extract_page(raw if raw is not None else b"", mode=mode)
            cols["url"].append(url)
            cols["extracted_text"].append(rec["extracted_text"])
            cols["article_text"].append(rec["article_text"])
            cols["extracted_md"].append(rec.get("extracted_md"))
            cols["content_node_spans"].append(rec["content_node_spans"])
            cols["node_count"].append(rec["node_count"])
            cols["status"].append(rec["status"])
            cols["primary_script"].append(rec["primary_script"])
            cols["content_links"].append(rec.get("content_links", []))
            cols["bytes_in"].append(nbytes)
            budget += (nbytes + len(rec["extracted_text"]) + len(rec["article_text"])
                       + len(rec.get("extracted_md") or ""))
            if budget >= _OUT_BUDGET_BYTES or len(cols["url"]) >= _OUT_BUDGET_ROWS:
                out = flush()
                if out is not None:
                    yield out
    out = flush()
    if out is not None:
        yield out


def attach_extraction(df, mode: str = "both"):
    """pages DataFrame -> extracted DataFrame via mapInArrow.

    Column pruning: only url + html cross the Arrow boundary; Catalyst
    pushes the projection into the parquet scan.
    """
    pruned = df.select("url", "html")

    def _kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from extract_batches(batches, mode=mode)

    return pruned.mapInArrow(_kernel, EXTRACTED_SCHEMA)
