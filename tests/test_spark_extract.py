"""Tier-2: Spark extraction parity — mapInArrow output must be byte-
identical to the tier-1 core output per url (and hence to the
reference), including degenerate rows."""

import datetime

import pytest

from dce_spark.core.api import extract_page
from dce_spark.spark.corpus import fixture_rows
from dce_spark.spark.schema import PAGES_SCHEMA
from dce_spark.spark.udf import attach_extraction

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def extracted_rows(spark):
    rows = fixture_rows(include_reference=True)
    # degenerate additions: duplicate url, non-UTF8 bytes, MB-scale page
    rows.append(dict(rows[0]))
    rows.append(
        {
            "url": "https://fixtures.test/bad_utf8",
            "warc_ts": datetime.datetime(2025, 6, 1),
            "html": b"\xff\xfe<body><p>\xc3(</p></body>",
            "text": None,
            "lang": "en",
        }
    )
    rows.append(
        {
            "url": "https://fixtures.test/big_page",
            "warc_ts": datetime.datetime(2025, 6, 1),
            "html": ("<body>" + "<p>big page paragraph text</p>" * 40_000 + "</body>").encode(),
            "text": None,
            "lang": "en",
        }
    )
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = attach_extraction(df).collect()
    return rows, out


def test_all_rows_come_back(extracted_rows):
    rows, out = extracted_rows
    # duplicate url: both input rows produce output rows (dedup is the
    # pipeline's bucket-commit job, not the map's)
    assert len(out) == len(rows)
    assert all(r.status == "ok" for r in out)


def test_spark_output_equals_core_output(extracted_rows):
    rows, out = extracted_rows
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], r["html"])
    for r in out:
        core = extract_page(by_url[r.url], mode="both")
        assert r.extracted_text == core["extracted_text"], r.url
        assert r.article_text == core["article_text"], r.url
        assert r.node_count == core["node_count"], r.url
        assert r.primary_script == core["primary_script"], r.url


def test_spans_align(extracted_rows):
    _, out = extracted_rows
    checked = 0
    for r in out:
        for span in r.content_node_spans or []:
            assert r.extracted_text[span.start : span.end]
            checked += 1
    assert checked > 0


def test_markdown_mode_matches_core(spark):
    rows = fixture_rows(include_reference=True)[:12]
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = attach_extraction(df, mode="all").collect()
    by_url = {r["url"]: r["html"] for r in rows}
    for r in out:
        core = extract_page(by_url[r.url], mode="all")
        assert r.extracted_md == core["extracted_md"], r.url
        assert r.content_links == core["content_links"], r.url


def test_column_pruning_reaches_scan(spark, tmp_path):
    """The extraction plan must read only url+html from parquet."""
    rows = fixture_rows(include_reference=False)
    p = str(tmp_path / "pages")
    spark.createDataFrame(rows, schema=PAGES_SCHEMA).write.parquet(p)
    df = spark.read.parquet(p)
    plan = attach_extraction(df)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema
