#!/usr/bin/env python3
"""The whole pipeline, WARC to training shards, in one composition:

    Common-Crawl-style .warc(.gz) archives
      -> read_warc            (streaming gz, chunked/Content-Encoding
                               decode, flush-budget batches)
      -> attach_extraction    (CETD main-content extraction,
                               byte-parity with the Rust reference)
      -> documents table      (doc_id = xxhash64(url), source = host)
      -> curate_corpus        (URL hygiene incl. latest-snapshot ->
                               token gate -> exact + MinHash dedup ->
                               decontamination -> shard packing)
      -> chunk_documents      (fixed token windows for training rows)

Usage:
  python examples/warc_to_shards.py <warc_dir> [out_dir]

With no args, a synthetic two-archive corpus is generated into a
temp dir so the script is self-contained.
"""

import gzip
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _make_demo_warcs(d: Path) -> None:
    def record(url: str, body: str) -> bytes:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body.encode())
        head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: 2025-06-01T12:00:00Z\r\n"
                f"Content-Length: {len(http)}\r\n\r\n").encode()
        return head + http + b"\r\n\r\n"

    def page(i: int) -> str:
        body = " ".join(
            f"sentence {j} of meaningful article text for page {i}."
            for j in range(30)
        )
        return (f"<html><body><nav>home about</nav>"
                f"<article><p>{body}</p></article></body></html>")

    a = b"".join(
        gzip.compress(record(f"https://site{i % 3}.test/a/{i}", page(i)))
        for i in range(12)
    )
    # archive b repeats four urls from archive a (re-crawl) + new ones
    b = b"".join(
        gzip.compress(record(f"https://site{i % 3}.test/a/{i}", page(i)))
        for i in range(8, 20)
    )
    (d / "crawl-a.warc.gz").write_bytes(a)
    (d / "crawl-b.warc.gz").write_bytes(b)


def main() -> int:
    if len(sys.argv) > 1:
        warc_dir = Path(sys.argv[1])
    else:
        warc_dir = Path(tempfile.mkdtemp(prefix="warc_demo_"))
        _make_demo_warcs(warc_dir)
    out_dir = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    from dce_spark.functions.curation import curate_corpus
    from dce_spark.functions.textops import chunk_documents
    from dce_spark.functions.urlops import url_host_col
    from dce_spark.spark.session import get_spark
    from dce_spark.spark.udf import attach_extraction
    from dce_spark.spark.warc import read_warc

    spark = get_spark(master="local[8]", shuffle_partitions=16)

    pages = read_warc(spark, str(warc_dir))
    extracted = attach_extraction(pages, mode="content")
    # the extraction schema is text-only; capture times ride back in
    # from the source frame (re-crawled urls keep their newest ts
    # AFTER the latest-snapshot stage below — dedupe here would
    # preempt the curation semantics)
    ts_map = pages.groupBy("url").agg(
        F.max(F.col("warc_ts").cast("long")).alias("ts")
    )
    docs = (
        extracted.filter(F.col("status") == "ok")
        .dropDuplicates(["url"])
        .join(ts_map, "url")
        .select(
            F.xxhash64("url").alias("doc_id"),
            F.col("extracted_text").alias("text"),
            url_host_col(F.col("url")).alias("source"),
            "url",
            "ts",
        )
    )
    n_pages = docs.count()
    benchmark = docs.limit(0)  # no held-out set in the demo
    shards = curate_corpus(
        docs,
        benchmark,
        min_tokens=20,
        urls=docs.select("doc_id", "url", "ts"),
        latest_only=True,  # re-crawled urls collapse to one capture
        token_budget=512,
    )
    survivors = docs.join(shards.select("doc_id"), "doc_id", "semi")
    chunks = chunk_documents(survivors, chunk_tokens=128, overlap=16)
    n_docs = shards.count()
    n_chunks = chunks.count()
    print(f"pages extracted: {n_pages}")
    print(f"curated docs:    {n_docs}")
    print(f"training chunks: {n_chunks}")
    if out_dir:
        chunks.write.mode("overwrite").parquet(out_dir)
        print(f"chunks written:  {out_dir}")
        # publish the curated extracted text back OUT as WET shards —
        # the Common-Crawl interchange form (closing the crawl loop:
        # WARC in, curated WET out)
        from dce_spark.spark.warc import write_wet_shards

        kept_urls = survivors.select("url")
        wet_df = (
            extracted.filter(F.col("status") == "ok")
            .dropDuplicates(["url"])
            .join(kept_urls, "url", "semi")
            .join(pages.groupBy("url").agg(
                F.max("warc_ts").alias("warc_ts")), "url")
            .select("url", "warc_ts", "extracted_text")
        )
        manifest = write_wet_shards(
            wet_df.repartition(2), f"{out_dir}_wet"
        )
        print(f"wet shards:      {sum(m['records'] for m in manifest)}"
              f" records in {len(manifest)} archives")
    spark.stop()
    return 0 if n_chunks > 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
