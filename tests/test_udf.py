"""extract_batches output chunking (no Spark needed)."""

import pyarrow as pa

from dce_spark.core.api import extract_page
from dce_spark.spark import udf

_PAGE = (
    b"<html><body><article>"
    + b"".join(
        b"<h2>Heading %d</h2><p>Some <b>bold</b> and <a href='http://x.test/%d'>"
        b"linked</a> text in paragraph %d of the page.</p>" % (i, i, i)
        for i in range(30)
    )
    + b"</article></body></html>"
)


def test_output_budget_counts_markdown(monkeypatch):
    rec = extract_page(_PAGE, mode="all")
    assert rec["extracted_md"]
    # one page stays under the budget unless its markdown is counted
    without_md = len(_PAGE) + len(rec["extracted_text"]) + len(rec["article_text"])
    monkeypatch.setattr(udf, "_OUT_BUDGET_BYTES", without_md + 1)
    batch = pa.RecordBatch.from_pydict({"url": ["u1", "u2"], "html": [_PAGE, _PAGE]})
    out = list(udf.extract_batches(iter([batch]), mode="all"))
    assert [b.num_rows for b in out] == [1, 1]
    assert all(b.column("extracted_md")[0].as_py() == rec["extracted_md"] for b in out)
