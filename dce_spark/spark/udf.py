"""Arrow-batched row maps: the extraction UDF and the shared scaffold.

The whole CETD dataflow is a pure per-row map, so the only Spark
operator it needs is ``mapInArrow``: JVM -> Python crosses once per
Arrow batch, the Python side never materializes pandas objects, and
output batches are re-chunked by row count and byte budget so a tail
of multi-MB pages cannot blow Python-worker memory.

Every other row-at-a-time kernel in the package (WARC/WET readers,
corpus generators, eval scoring, text signals, MinHash, DSIR features,
media kernels) runs through the same ``map_rows``/``map_batches``
scaffold, declared by one Spark schema.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dce_spark.core.api import check_mode, extract_page
from dce_spark.spark.schema import EXTRACTED_SCHEMA

# Output flush threshold: keep Arrow IPC messages comfortably small.
_OUT_BUDGET_BYTES = 48 * 1024 * 1024
_OUT_BUDGET_ROWS = 2048


def map_batches(
    batches: Iterable[pa.RecordBatch],
    schema: T.StructType,
    fn: Callable[..., Iterable[tuple]],
) -> Iterator[pa.RecordBatch]:
    """Row map over Arrow batches: ``fn(*row)`` returns 0, 1 or n
    output tuples in ``schema``'s column order.

    Output rows accumulate across input batches and are flushed at
    ``_OUT_BUDGET_ROWS`` rows or once the summed ``len()`` of the
    string/binary output values reaches ``_OUT_BUDGET_BYTES``, so a
    batch holds at most the budget plus one row. No empty batch is
    emitted; exceptions from ``fn`` propagate.
    """
    arrow = to_arrow_schema(schema)
    sized = [
        i for i, f in enumerate(arrow)
        if pa.types.is_string(f.type) or pa.types.is_binary(f.type)
    ]
    rows: list[tuple] = []
    budget = 0

    def flush() -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type)
             for c, f in zip(zip(*rows), arrow, strict=True)],
            schema=arrow,
        )

    for batch in batches:
        for row in zip(*(c.to_pylist() for c in batch.columns)):
            for out in fn(*row):
                rows.append(out)
                for i in sized:
                    if out[i] is not None:
                        budget += len(out[i])
                if budget >= _OUT_BUDGET_BYTES or len(rows) >= _OUT_BUDGET_ROWS:
                    yield flush()
                    rows, budget = [], 0
    if rows:
        yield flush()


def map_rows(df, schema: T.StructType | str, fn: Callable[..., Iterable[tuple]]):
    """``df`` -> DataFrame of ``schema`` via ``mapInArrow`` over
    ``map_batches``; ``fn`` receives ``df``'s columns in order. A DDL
    ``schema`` is parsed here, on the driver."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from map_batches(batches, schema, fn)

    return df.mapInArrow(kernel, schema)


def extract_batches(
    batches: Iterator[pa.RecordBatch], mode: str = "both"
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: pages(url, html) -> extracted rows.

    Totally per-row: parse/extraction failures become status codes,
    never exceptions (the reference's error model, src/lib.rs:134-138,
    widened to per-row totality for 10^12-row runs).
    """

    def row(url, raw):
        if raw is None:
            raw, nbytes = b"", 0
        elif isinstance(raw, str):  # string column: measure bytes
            nbytes = len(raw.encode("utf-8", errors="replace"))
        else:
            nbytes = len(raw)
        rec = extract_page(raw, mode=mode)
        yield (
            url, rec["extracted_text"], rec["article_text"],
            rec.get("extracted_md"), rec["content_node_spans"],
            rec["node_count"], rec["status"], rec["primary_script"],
            rec.get("content_links", []), nbytes,
        )

    return map_batches(batches, EXTRACTED_SCHEMA, row)


def attach_extraction(df, mode: str = "both"):
    """pages DataFrame -> extracted DataFrame via mapInArrow.

    Column pruning: only url + html cross the Arrow boundary; Catalyst
    pushes the projection into the parquet scan.
    """
    check_mode(mode)
    pruned = df.select("url", "html")

    def _kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from extract_batches(batches, mode=mode)

    return pruned.mapInArrow(_kernel, EXTRACTED_SCHEMA)
