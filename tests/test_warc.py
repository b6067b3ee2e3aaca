"""WARC source: record framing, gzip members, HTTP header stripping,
truncation totality, and the Spark read path into extraction."""

import gzip
import io

import pytest

from dce_spark.spark.warc import iter_warc_records


def make_record(url: str, body: bytes, rtype: str = "response",
                date: str = "2025-06-01T12:00:00Z") -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    payload = http if rtype == "response" else body
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return headers + payload + b"\r\n\r\n"


HTML1 = b"<html><body><p>First page body text here.</p></body></html>"
HTML2 = b"<html><body><p>Second page body text here.</p></body></html>"


def make_warc() -> bytes:
    return (
        make_record("https://w.test/0", b"warcinfo", rtype="warcinfo")
        + make_record("https://w.test/1", HTML1)
        + make_record("https://w.test/2", b"GET / HTTP/1.1", rtype="request")
        + make_record("https://w.test/2", HTML2)
    )


def test_plain_warc_records():
    recs = list(iter_warc_records(make_warc()))
    assert [r["url"] for r in recs] == ["https://w.test/1", "https://w.test/2"]
    assert recs[0]["html"] == HTML1  # HTTP headers stripped
    assert recs[1]["html"] == HTML2
    assert recs[0]["warc_ts"].year == 2025


def test_gzip_member_per_record():
    # the Common Crawl layout: each record its own gzip member
    raw = b"".join(
        gzip.compress(make_record(f"https://w.test/{i}", HTML1))
        for i in range(3)
    )
    recs = list(iter_warc_records(raw))
    assert len(recs) == 3
    assert all(r["html"] == HTML1 for r in recs)


def test_chunked_transfer_encoding_decoded():
    from dce_spark.spark.warc import iter_warc_records

    body = b"7\r\n<html><\r\n12\r\n/body></html> tail\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            b"Content-Type: text/html\r\n\r\n" + body)
    headers = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: https://w.test/c\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    recs = list(iter_warc_records(headers + http + b"\r\n\r\n"))
    assert recs[0]["html"] == b"<html></body></html> tail"
    # truncated mid-chunk: keep what decoded, never raise
    cut = http[: len(http) - len(body) + 12]
    headers2 = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: https://w.test/t\r\n"
        f"Content-Length: {len(cut)}\r\n\r\n"
    ).encode()
    recs2 = list(iter_warc_records(headers2 + cut + b"\r\n\r\n"))
    assert recs2[0]["html"].startswith(b"<html><")
    # chunk-extension after the size token is ignored
    body3 = b"5;ext=1\r\nabcde\r\n0\r\n\r\n"
    http3 = (b"HTTP/1.1 200 OK\r\ntransfer-encoding: CHUNKED\r\n\r\n"
             + body3)
    headers3 = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: https://w.test/e\r\n"
        f"Content-Length: {len(http3)}\r\n\r\n"
    ).encode()
    recs3 = list(iter_warc_records(headers3 + http3 + b"\r\n\r\n"))
    assert recs3[0]["html"] == b"abcde"


def test_header_match_is_line_anchored():
    """Header names must match at line starts only: an
    'X-Transfer-Encoding: chunked' header (or the token inside another
    header's value) must NOT trigger de-chunking of a plain body."""
    from dce_spark.spark.warc import _header_value, iter_warc_records

    page = b"<html><body><p>plain, not chunked at all</p></body></html>"
    http = (b"HTTP/1.1 200 OK\r\n"
            b"X-Transfer-Encoding: chunked\r\n"
            b"X-Note: prefer transfer-encoding: chunked here\r\n"
            b"Content-Type: text/html\r\n\r\n" + page)
    headers = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: https://w.test/x\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    recs = list(iter_warc_records(headers + http + b"\r\n\r\n"))
    assert recs[0]["html"] == page

    head = (b"http/1.1 200 ok\nx-content-encoding: gzip\n"
            b"content-encoding: deflate\ncontent-type: text/html")
    assert _header_value(head, b"content-encoding") == b"deflate"
    assert _header_value(head, b"transfer-encoding") == b""


def test_content_encoding_decoded():
    import zlib

    from dce_spark.spark.warc import iter_warc_records

    def rec(url, http):
        return (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode() + http + b"\r\n\r\n"

    page = b"<html><body><p>compressed page body</p></body></html>"
    gz = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
          + gzip.compress(page))
    fl = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
          + zlib.compress(page))
    raw_fl = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
              + zlib.compress(page)[2:-4])  # raw-deflate variant
    # chunked + gzip composed, as on the wire
    gzc = gzip.compress(page)
    chunked_gz = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n\r\n"
        + hex(len(gzc))[2:].encode() + b"\r\n" + gzc + b"\r\n0\r\n\r\n"
    )
    mislabeled = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
                  b"not actually gzip")
    raw = (rec("https://w.test/gz", gz) + rec("https://w.test/fl", fl)
           + rec("https://w.test/rfl", raw_fl)
           + rec("https://w.test/cgz", chunked_gz)
           + rec("https://w.test/bad", mislabeled))
    out = {r["url"]: r["html"] for r in iter_warc_records(raw)}
    assert out["https://w.test/gz"] == page
    assert out["https://w.test/fl"] == page
    assert out["https://w.test/rfl"] == page
    assert out["https://w.test/cgz"] == page
    assert out["https://w.test/bad"] == b"not actually gzip"


def test_gzip_truncated_member_keeps_earlier_members():
    # streaming decode: records from complete members survive a final
    # member cut mid-stream (crawl-scale truncation costs rows, not jobs)
    good = b"".join(
        gzip.compress(make_record(f"https://w.test/{i}", HTML1))
        for i in range(2)
    )
    bad = gzip.compress(make_record("https://w.test/cut", HTML2))
    recs = list(iter_warc_records(good + bad[: len(bad) // 2]))
    assert [r["url"] for r in recs] == ["https://w.test/0", "https://w.test/1"]


def test_truncated_archive_is_total():
    raw = make_warc()
    for cut in (10, len(raw) // 2, len(raw) - 3):
        recs = list(iter_warc_records(raw[:cut]))  # never raises
        assert all(r["html"] for r in recs)
    assert list(iter_warc_records(b"")) == []
    assert list(iter_warc_records(b"\x1f\x8bnot really gzip")) == []
    assert list(iter_warc_records(b"garbage with no warc header")) == []


@pytest.mark.spark
def test_read_warc_rejects_remote_scheme_on_driver(spark):
    """An object-store URI fails on the driver with a ValueError that
    names the scheme, before the listing or any executor task runs."""
    from dce_spark.spark.warc import read_warc

    sc = spark.sparkContext
    sc.setJobGroup("warc-scheme", "read_warc scheme check")
    try:
        with pytest.raises(ValueError, match="s3a"):
            read_warc(spark, "s3a://b/x.warc.gz")
        assert sc.statusTracker().getJobIdsForGroup("warc-scheme") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.spark
def test_read_warc_into_extraction(spark, tmp_path):
    from dce_spark.spark.udf import attach_extraction
    from dce_spark.spark.warc import read_warc

    (tmp_path / "a.warc").write_bytes(make_warc())
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(
        make_record("https://w.test/gz", HTML1)))
    pages = read_warc(spark, str(tmp_path))
    out = {r.url: r for r in attach_extraction(pages).collect()}
    assert set(out) == {"https://w.test/1", "https://w.test/2",
                        "https://w.test/gz"}
    assert all(r.status == "ok" for r in out.values())
    assert "First page body text" in out["https://w.test/1"].extracted_text



@pytest.mark.spark
def test_read_warc_many_records_into_extraction(spark, tmp_path):
    """One archive with more records than one output batch holds
    (2048 rows): every record comes through the multi-batch path and
    extracts."""
    from pyspark.sql import functions as F

    from dce_spark.spark.udf import attach_extraction
    from dce_spark.spark.warc import read_warc

    n = 2500
    (tmp_path / "many.warc.gz").write_bytes(b"".join(
        gzip.compress(make_record(
            f"https://m.test/{i}",
            b"<html><body><p>Page %d body text.</p></body></html>" % i))
        for i in range(n)
    ))
    out = attach_extraction(read_warc(spark, str(tmp_path))).agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("urls"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
    ).collect()[0]
    assert (out.n, out.urls, out.ok) == (n, n, n)


@pytest.mark.spark
def test_warc_ts_is_utc_in_any_session_time_zone(spark, tmp_path):
    """WARC-Date 2025-06-01T12:00:00Z is the same instant whatever the
    session time zone."""
    from pyspark.sql import functions as F

    from dce_spark.spark.warc import read_warc

    (tmp_path / "r.warc").write_bytes(make_record("https://z.test/1", HTML1))
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        for tz in ("America/Los_Angeles", "UTC"):
            spark.conf.set(key, tz)
            df = read_warc(spark, str(tmp_path / "r.warc"))
            got = df.select(F.unix_timestamp("warc_ts")).collect()
            assert [r[0] for r in got] == [1748779200], tz
    finally:
        spark.conf.set(key, old)


@pytest.mark.spark
def test_read_warc_plans_without_a_job_or_exchange(spark, tmp_path):
    """The archive plan is built on the driver: building the frame
    runs no job, and reading it shuffles nothing."""
    from dce_spark.spark.warc import read_warc

    for k in range(3):
        (tmp_path / f"p{k}.warc.gz").write_bytes(b"".join(
            gzip.compress(make_record(f"https://p.test/{k}/{i}", HTML1))
            for i in range(5)
        ))
    sc = spark.sparkContext
    group = f"warc-plan-{tmp_path.name}"
    sc.setJobGroup(group, "read_warc plan")
    try:
        df = read_warc(spark, str(tmp_path))
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.count() == 15
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


@pytest.mark.spark
def test_warc_to_curated_chunks_end_to_end(spark, tmp_path):
    """The full composition: WARC archives -> extraction -> documents
    -> URL-aware curation -> token chunks. Re-crawled urls collapse,
    near-dup template pages dedup, chunks cover every survivor."""
    from pyspark.sql import functions as F

    from dce_spark.functions.curation import curate_corpus
    from dce_spark.functions.textops import chunk_documents
    from dce_spark.functions.urlops import url_host_col
    from dce_spark.spark.udf import attach_extraction
    from dce_spark.spark.warc import read_warc

    def page(i):
        body = " ".join(
            f"token{j} distinct article words for page {i} item"
            for j in range(20)
        )
        return f"<html><body><article><p>{body}</p></article></body></html>"

    raw = b"".join(
        gzip.compress(make_record(f"https://e2e.test/p/{i}",
                                  page(i).encode()))
        for i in list(range(8)) + [0, 1]  # two re-crawled urls
    )
    (tmp_path / "c.warc.gz").write_bytes(raw)

    pages = read_warc(spark, str(tmp_path))
    extracted = attach_extraction(pages, mode="content")
    ts_map = pages.groupBy("url").agg(
        F.max(F.col("warc_ts").cast("long")).alias("ts"))
    docs = (
        extracted.filter(F.col("status") == "ok")
        .dropDuplicates(["url"])
        .join(ts_map, "url")
        .select(
            F.xxhash64("url").alias("doc_id"),
            F.col("extracted_text").alias("text"),
            url_host_col(F.col("url")).alias("source"),
            "url", "ts",
        )
    )
    shards = curate_corpus(
        docs, docs.limit(0), min_tokens=10,
        urls=docs.select("doc_id", "url", "ts"), latest_only=True,
        token_budget=256,
    )
    survivors = docs.join(shards.select("doc_id"), "doc_id", "semi")
    chunks = chunk_documents(survivors, chunk_tokens=64, overlap=8)
    n_docs = shards.count()
    assert 0 < n_docs <= 8  # 8 distinct urls at most survive
    # every surviving doc yields at least one chunk
    assert chunks.select("doc_id").distinct().count() == n_docs
    # chunk text reassembles to the original token stream per doc
    row = survivors.limit(1).collect()[0]
    got = [r.chunk_text for r in chunks.filter(
        F.col("doc_id") == row.doc_id).orderBy("chunk_id").collect()]
    assert got[0].split(" ")[:8] == row.text.split(" ")[:8]


@pytest.mark.spark
def test_run_pipeline_warc_input_resumable(spark, tmp_path):
    """The committed-manifest pipeline straight from WARC archives:
    extraction output + lineage, and a rerun commits nothing new."""
    from dce_spark.spark.pipeline import read_manifest, run_pipeline

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "a.warc.gz").write_bytes(
        b"".join(
            gzip.compress(make_record(f"https://rp.test/{i}", HTML1))
            for i in range(6)
        )
    )
    out = str(tmp_path / "out")
    r1 = run_pipeline(
        spark, str(tmp_path / "in"), out,
        buckets=4, buckets_per_commit=2, input_format="warc",
    )
    assert r1["committed"] > 0
    m = read_manifest(spark, out)
    assert m.groupBy().sum("pages_ok").collect()[0][0] == 6
    # resume: everything committed, nothing to redo
    r2 = run_pipeline(
        spark, str(tmp_path / "in"), out,
        buckets=4, buckets_per_commit=2, input_format="warc",
    )
    assert r2["committed"] == 0


def test_wet_record_framing_and_determinism():
    """wet_record_bytes emits a spec-framed conversion record that our
    own reader parses back verbatim, and the bytes are deterministic
    (content-addressed record id — no RNG, no clock)."""
    import datetime as dt

    from dce_spark.spark.warc import iter_warc_records, wet_record_bytes

    ts = dt.datetime(2025, 6, 1, 12, 0, 0)
    rec = wet_record_bytes("https://a.example/x", ts, "héllo\nworld")
    assert rec == wet_record_bytes("https://a.example/x", ts, "héllo\nworld")
    assert b"WARC-Type: conversion" in rec
    got = list(iter_warc_records(rec, record_types=(b"conversion",)))
    assert len(got) == 1
    assert got[0]["url"] == "https://a.example/x"
    assert got[0]["html"].decode("utf-8") == "héllo\nworld"
    assert got[0]["warc_ts"] == ts
    # response-only default never sees conversion records
    assert list(iter_warc_records(rec)) == []


@pytest.mark.spark
def test_wet_round_trip_shards(spark, tmp_path):
    """Extraction output -> per-partition .warc.wet.gz shards -> read
    back: (url, text) survives byte-exactly incl. unicode; null texts
    are skipped; the lineage manifest accounts for every record."""
    import datetime as dt

    from dce_spark.spark.warc import iter_warc_records, write_wet_shards

    ts = dt.datetime(2025, 6, 1, 12, 0, 0)
    rows = [
        (f"https://s{i % 3}.example/p/{i}", ts,
         None if i == 7 else f"text {i} — ünïcode\nline2 of {i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, ["url", "warc_ts", "extracted_text"]
    ).repartition(4)
    out = str(tmp_path / "wet")
    manifest = write_wet_shards(df, out)
    assert sum(m["records"] for m in manifest) == 19
    assert all(m["path"].endswith(".warc.wet.gz") for m in manifest)
    back = set()
    for m in manifest:
        with open(m["path"], "rb") as fh:
            back |= {
                (r["url"], r["html"].decode("utf-8"))
                for r in iter_warc_records(fh, record_types=(b"conversion",))
            }
    want = {(u, t) for u, _, t in rows if t is not None}
    assert back == want


def test_wet_truncated_archive_total(tmp_path):
    """A WET shard cut mid-record yields the intact prefix records and
    stops cleanly — crawl-scale damage costs rows, not jobs."""
    import datetime as dt
    import gzip as _gz

    from dce_spark.spark.warc import iter_warc_records, wet_record_bytes

    ts = dt.datetime(2025, 6, 1)
    blob = b"".join(
        wet_record_bytes(f"https://e.example/{i}", ts, f"payload {i}")
        for i in range(5)
    )
    cut = _gz.compress(blob[: len(blob) - 40])
    got = list(iter_warc_records(cut, record_types=(b"conversion",)))
    # totality: no exception, records form a document-order prefix,
    # and every record except possibly the final (cut-point) one has
    # its full payload; the cut can surface at most one degenerate
    # tail record (headers parsed, payload truncated away)
    assert 1 <= len(got) <= 5
    assert [r["url"] for r in got] == [
        f"https://e.example/{i}" for i in range(len(got))
    ]
    for i, r in enumerate(got[:-1]):
        assert r["html"] == f"payload {i}".encode()


def test_read_warc_range_chunked_parity_and_split(spark, tmp_path):
    """The archive reader returns exactly the records of the archive,
    none duplicated or dropped, for a many-member .warc.gz, a single-
    stream .warc.gz and a plain .warc alike."""
    from dce_spark.spark.warc import read_warc

    n = 60
    body = b"<html><body><p>" + b"payload " * 300 + b"</p></body></html>"
    records = [
        make_record(f"https://c.test/{i}", body + str(i).encode())
        for i in range(n)
    ]
    member_gz = tmp_path / "members.warc.gz"
    member_gz.write_bytes(b"".join(gzip.compress(r) for r in records))
    single_gz = tmp_path / "single.warc.gz"
    single_gz.write_bytes(gzip.compress(b"".join(records)))
    plain = tmp_path / "plain.warc"
    plain.write_bytes(b"".join(records))

    expected = sorted(f"https://c.test/{i}" for i in range(n))
    for p in (member_gz, single_gz, plain):
        out = read_warc(spark, str(p)).select("url").collect()
        assert sorted(r.url for r in out) == expected, p.name


def test_read_warc_range_chunked_truncated_member_total(spark, tmp_path):
    """A member cut mid-stream costs its own rows only: earlier
    members of the archive still parse (totality, as before)."""
    from dce_spark.spark.warc import read_warc

    body = b"<html><body>" + b"x" * 2000 + b"</body></html>"
    members = [
        gzip.compress(make_record(f"https://t.test/{i}", body))
        for i in range(10)
    ]
    members[-1] = members[-1][: len(members[-1]) // 2]  # truncate last
    p = tmp_path / "trunc.warc.gz"
    p.write_bytes(b"".join(members))
    out = read_warc(spark, str(p)).select("url").collect()
    urls = sorted(r.url for r in out)
    assert urls == sorted(f"https://t.test/{i}" for i in range(9))


class _CountingReader(io.RawIOBase):
    """Raw reader over ``f`` that counts the bytes read through it."""

    def __init__(self, f):
        self.f = f
        self.n = 0

    def readable(self):
        return True

    def readinto(self, b):
        k = self.f.readinto(b)
        self.n += k
        return k


def test_iter_warc_records_streams_the_first_record(tmp_path):
    """Memory does not grow with the archive: the first record of an
    archive of 8 MiB or more comes out after reading at most 1 MiB of
    it, the call ``read_warc`` makes per archive, in member-per-record
    gz, single-stream gz and plain layouts."""
    import random

    rnd = random.Random(7)
    records = [  # incompressible bodies keep the gz archives 8 MiB+
        make_record(f"https://s.test/{i}", rnd.randbytes(128 << 10))
        for i in range(66)
    ]
    layouts = {
        "members.warc.gz": b"".join(gzip.compress(r) for r in records),
        "single.warc.gz": gzip.compress(b"".join(records)),
        "plain.warc": b"".join(records),
    }
    for name, blob in layouts.items():
        p = tmp_path / name
        p.write_bytes(blob)
        assert p.stat().st_size >= 8 << 20, name
        with open(p, "rb", buffering=0) as f:
            counted = _CountingReader(f)
            first = next(iter_warc_records(counted, (b"response",)))
            assert first["url"] == "https://s.test/0", name
            assert counted.n <= 1 << 20, (name, counted.n)
