"""WARC source: Common-Crawl-style archives -> the pages table.

Minimal-but-real WARC/1.0-1.1 reader (ISO 28500): parses record headers,
keeps ``WARC-Type: response`` records, strips the HTTP response header
block, and yields (url, warc_ts, html) rows matching PAGES_SCHEMA.
``.warc.gz`` in the Common Crawl layout (one gzip member per record) and
plain ``.warc`` both work.

Memory discipline (the 100 TB read):

* **Streamed archives** — each task reads whole archives through a
  file handle, decompressing incrementally: at any instant it holds
  one read block, gzip's window and ONE record payload, never the
  archive (see ``read_warc``). Member-per-record ``.warc.gz``,
  single-stream ``.warc.gz`` and plain ``.warc`` stream alike.
* **Bounded row batches** — records go through the shared row-map
  scaffold (``udf.map_rows``), which flushes an Arrow batch at 2048
  rows or 48 MB of url + payload bytes, so peak kernel memory is
  independent of archive size.

Distributed shape: the driver lists the archives through the
binaryFile source's file index (no job) and hands Spark the plan as
one Arrow table of archive paths, whose local scan spreads the
archives over min(archives, cores) tasks with no exchange; a
``mapInArrow`` row map parses the records of each archive. Read
parallelism is the archive count; row-cost skew is evened out after
the read, where the pipeline rebalances by bucket. Knobs that matter
at 100 TB:

* archive count >= cluster cores (the crawl layout, ~1 GB per
  archive and tens of thousands of archives per crawl, satisfies
  this);
* only local paths and ``file:`` URIs are read (a shared mount on a
  cluster); other schemes raise ValueError on the driver.

``write_wet_shards`` publishes extracted text as WET archives, whose
``conversion`` records ``iter_warc_records`` also parses.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
from collections.abc import Iterator

__all__ = ["iter_warc_records", "read_warc", "wet_record_bytes",
           "write_wet_shards"]

_CRLF = b"\r\n"


def _read_headers(stream) -> dict[bytes, bytes] | None:
    """Read a CRLF-terminated header block; None at clean EOF."""
    line = stream.readline()
    while line in (_CRLF, b"\n"):  # skip inter-record blank lines
        line = stream.readline()
    if not line:
        return None
    headers: dict[bytes, bytes] = {}
    if not line.startswith(b"WARC/"):
        return None  # not a record boundary: unrecoverable framing
    headers[b"__version__"] = line.strip()
    while True:
        line = stream.readline()
        if not line or line in (_CRLF, b"\n"):
            return headers
        if b":" in line:
            name, _, value = line.partition(b":")
            headers[name.strip().lower()] = value.strip()


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body (hex size
    line, CRLF, chunk bytes, CRLF, ... , 0-size terminator). Crawl
    archives store the raw wire bytes, so chunk framing would
    otherwise land inside the html. Total: any framing damage returns
    the chunks decoded so far (plus nothing), never raises."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            break
        size_tok = body[pos:nl].strip().split(b";", 1)[0]
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        chunk = body[nl + 1:nl + 1 + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # truncated mid-chunk
        pos = nl + 1 + size
        # skip the CRLF that terminates the chunk
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1
    return b"".join(out)


def _header_value(head: bytes, name: bytes) -> bytes:
    """First line-bounded value of an HTTP header in a lowercased
    header block ('' when absent)."""
    key = name + b":"
    # Anchor to line starts: a bare substring search would let e.g.
    # 'x-transfer-encoding: chunked' (or the name inside another
    # header's value) spoof the match and corrupt a non-chunked body.
    for line in head.split(b"\n"):
        line = line.strip()
        if line.startswith(key):
            return line[len(key):].strip()
    return b""


def _strip_http_headers(payload: bytes) -> bytes:
    """Response records carry an HTTP message; the body starts after
    the first blank line. The raw wire forms crawl archives store are
    undone: chunked transfer encoding is de-framed, then a gzip or
    deflate Content-Encoding is decompressed (both total — damage
    yields the bytes recovered so far / the raw body, never an
    exception)."""
    for sep in (b"\r\n\r\n", b"\n\n"):
        idx = payload.find(sep)
        if 0 <= idx < 64 * 1024:  # header blocks are small
            head = payload[:idx].lower()
            body = payload[idx + len(sep):]
            if b"chunked" in _header_value(head, b"transfer-encoding"):
                body = _dechunk(body)
            ce = _header_value(head, b"content-encoding")
            if ce in (b"gzip", b"x-gzip"):
                try:
                    body = gzip.decompress(body)
                except (OSError, EOFError):
                    pass  # mislabeled/damaged: keep raw bytes
            elif ce == b"deflate":
                import zlib

                for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
                    # servers send both zlib-wrapped and raw deflate
                    # under the same label; try wrapped first
                    try:
                        body = zlib.decompress(body, wbits)
                        break
                    except zlib.error:
                        continue
            return body
    return payload


def iter_warc_records(raw, record_types=(b"response",)) -> Iterator[dict]:
    """Yield records of the requested WARC-Type(s) from WARC bytes or
    a binary stream (gz or plain). ``response`` records (the default)
    get their HTTP header block stripped; ``conversion`` records (WET
    extracted-text archives) carry a bare payload and are passed
    through as-is.

    Gz input is decompressed *incrementally* — records already parsed
    are yielded even when a later member is truncated or corrupt.
    Total: framing damage ends iteration instead of raising — at crawl
    scale truncated archives are routine and must cost rows, not jobs.
    """
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = io.BytesIO(bytes(raw))
    buffered = io.BufferedReader(raw)
    try:
        magic = buffered.peek(2)[:2]
    except (OSError, EOFError):
        return  # source truncated before a single byte decoded
    stream = (
        gzip.GzipFile(fileobj=buffered) if magic == b"\x1f\x8b" else buffered
    )
    try:
        while True:
            headers = _read_headers(stream)
            if headers is None:
                return
            try:
                length = int(headers.get(b"content-length", b"0"))
            except ValueError:
                return
            payload = stream.read(length)
            if len(payload) < length:
                return  # truncated archive: stop cleanly
            rtype = headers.get(b"warc-type")
            if rtype in record_types:
                url = headers.get(b"warc-target-uri", b"").decode(
                    "utf-8", errors="replace"
                )
                ts = None
                date = headers.get(b"warc-date")
                if date:
                    try:
                        ts = _dt.datetime.fromisoformat(
                            date.decode("ascii").replace("Z", "+00:00")
                        ).replace(tzinfo=None)
                    except ValueError:
                        ts = None
                yield {
                    "url": url,
                    "warc_ts": ts,
                    "html": (
                        _strip_http_headers(payload)
                        if rtype == b"response" else payload
                    ),
                }
    except (OSError, EOFError):
        # BadGzipFile (a corrupt/garbage member) or a member cut mid-
        # stream: everything decoded so far has been yielded; stop.
        return


def _local_path(path: str) -> str:
    """Filesystem path of a local path / file: URI; ValueError naming
    the scheme for anything else (route object-store archives through
    a mount or a localization step first)."""
    from urllib.parse import urlparse, unquote

    u = urlparse(path)
    if u.scheme == "file":
        return unquote(u.path)
    if u.scheme == "":
        return path
    raise ValueError(
        f"WARC readers read local paths only, not {u.scheme!r} URIs"
    )


def read_warc(spark, path: str):
    """WARC archive(s) -> pages DataFrame (url, warc_ts, html, text,
    lang): one row per archive in the plan, each task streaming whole
    archives through ``iter_warc_records``.

    The driver lists the archives (no job); the plan is fixed when the
    frame is built. Each task opens its archive and decompresses it
    incrementally through the file handle, so peak task memory is the
    row-map scaffold's output budget plus gzip's window and one record
    payload, independent of archive size. Member-per-record
    ``.warc.gz`` (the Common Crawl layout), single-stream ``.warc.gz``
    and plain ``.warc`` all read the same way; a truncated or corrupt
    member ends its archive's rows at the damage. Only local paths and
    ``file:`` URIs are read: any other scheme raises ValueError on the
    driver before the listing runs. ``warc_ts`` is the record's
    WARC-Date as a UTC instant, whatever the session time zone.
    """
    import pyarrow as pa

    from dce_spark.spark.schema import PAGES_SCHEMA
    from dce_spark.spark.udf import map_rows

    _local_path(path)  # fail on the driver, before the listing
    files = sorted(spark.read.format("binaryFile").load(path).inputFiles())
    # one Arrow table: a local scan spread over min(archives, cores)
    # tasks, with no job to plan it and no exchange
    plan = spark.createDataFrame(
        pa.table({"path": pa.array(files, pa.string())})
    )

    def records(path):
        with open(_local_path(path), "rb") as f:
            for r in iter_warc_records(f, (b"response",)):
                yield r["url"], r["warc_ts"], r["html"], None, None

    return map_rows(plan, PAGES_SCHEMA, records)


# ---------------------------------------------------------------------
# WET sink: extracted text back OUT as Common-Crawl-style archives
# ---------------------------------------------------------------------


def wet_record_bytes(url: str, ts, text: str) -> bytes:
    """One WET ``conversion`` record (WARC/1.0 framing): the standard
    interchange form for extracted text — what Common Crawl publishes
    as ``.warc.wet.gz`` alongside the raw crawl. Deterministic: the
    record id is a UUID-shaped md5 of (url, ts) — no RNG, no clock —
    so re-running a shard writes byte-identical archives (idempotent
    re-commit, and the resume story stays content-addressed)."""
    import hashlib

    payload = text.encode("utf-8")
    when = (ts or _dt.datetime(1970, 1, 1)).strftime("%Y-%m-%dT%H:%M:%SZ")
    digest = hashlib.md5(
        f"{url}\x00{when}".encode("utf-8")
    ).hexdigest()
    rid = (
        f"<urn:uuid:{digest[:8]}-{digest[8:12]}-{digest[12:16]}-"
        f"{digest[16:20]}-{digest[20:32]}>"
    )
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {when}\r\n"
        f"WARC-Record-ID: {rid}\r\n"
        f"Content-Type: text/plain\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode("utf-8")
    return head + payload + b"\r\n\r\n"


def write_wet_shards(df, out_dir: str) -> list[dict]:
    """Extraction output -> per-partition ``.warc.wet.gz`` shards.

    ``df`` needs (url, warc_ts, extracted_text). One archive per
    partition, written RECORD-BY-RECORD through a streaming gzip
    writer — peak executor memory is one record, independent of
    partition size; parallelism is the input partitioning (repartition
    upstream to size shards, exactly the many-files layout read_warc
    wants back). Returns the small per-shard lineage manifest
    [{path, records, text_bytes}] — the driver-side collect is one row
    per shard, the same control-plane grain as the pipeline's commit
    manifests. At 10^12 rows this is the WET-publishing job: shard
    count = partition count, each task owns one archive, no shuffle
    beyond the caller's partitioning.

    Filesystem posture (matches ``read_warc``): shards are written
    with ``gzip.open`` on each EXECUTOR, so ``out_dir``
    must be a shared filesystem visible to the driver and every
    executor (local mode, NFS, or a mounted object store) — on a
    cluster with executor-local disks the manifest would point at
    per-node files the driver cannot see. Route object-store targets
    through a mount or publish via a Hadoop-FS/fsspec sink instead.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(idx, rows):
        path = os.path.join(out_dir, f"part-{idx:05d}.warc.wet.gz")
        n = 0
        nbytes = 0
        with gzip.open(path, "wb") as fh:
            for r in rows:
                text = r["extracted_text"]
                if text is None:
                    continue
                rec = wet_record_bytes(r["url"], r["warc_ts"], text)
                fh.write(rec)
                n += 1
                nbytes += len(text.encode("utf-8"))
        if n == 0:
            os.remove(path)  # no empty shards in the output listing
            return []
        return [{"path": path, "records": n, "text_bytes": nbytes}]

    return (
        df.select("url", "warc_ts", "extracted_text")
        .rdd.mapPartitionsWithIndex(
            lambda idx, it: write_partition(idx, it)
        )
        .collect()
    )
