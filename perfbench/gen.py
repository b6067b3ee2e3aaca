"""Seeded input generators. Everything the program reads comes from here.

* ``write_warc_corpus``: ``.warc.gz`` archives of small (few-KB) article pages,
  one gzip member per record (the Common Crawl layout).
* ``write_curation_tables``: sf-style ``documents`` and ``embeddings``
  parquet tables with a stated near-duplicate share.

The same seed gives byte-identical files; different seeds give
different inputs. Generation is pure Python + pyarrow, so it runs
before (and is not timed as part of) any Spark job.
"""

from __future__ import annotations

import gzip
import math
import random
import statistics
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# The same vocabulary shape as the sf testdata: a few dozen short
# tokens, so shingle and n-gram sets overlap the way dedup expects.
VOCAB = (
    "a the row key agg part hash scan slow fast table value spark sort "
    "window line batch merge column data order join small filter group "
    "query big vector stream customer"
).split()

_PROSE = (
    "market treasury digital asset policy energy climate science storage "
    "compute lithium battery airline bankruptcy protection senate filing "
    "quarterly revenue analyst infrastructure network protocol consensus "
    "research laboratory measurement spectrum satellite observation model "
    "education transport logistics harvest municipal election committee "
    "hospital vaccine trial approval regulation framework compliance audit"
).split()

LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de", "zh", "es", "fr", "de")
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
WARC_DATE = "2025-06-01T12:00:00Z"


def _sentence(rng: random.Random, n: int) -> str:
    ws = [rng.choice(_PROSE) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def page_sizes(rng: random.Random, n: int) -> list[int]:
    """Body sizes for ``n`` small pages: log-normal around ~3 KB (5th-95th
    percentile ~1.2-8 KB) taken at fixed quantiles, so every seed gets the
    same size multiset (the same bytes of work) in a seeded order. Small
    pages make the per-record costs (reader, exchange, per-row UDF
    marshaling, writer) a large share of the work."""
    dist = statistics.NormalDist(math.log(3_000), 0.55)
    sizes = [min(max(int(math.exp(dist.inv_cdf((k + 0.5) / n))), 400), 40_000)
             for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def article_page(rng: random.Random, i: int, pool: list[str],
                 target: int) -> tuple[str, bytes]:
    """(url, html) of one article page shaped like ``synth_page`` with a
    body of about ``target`` bytes; 20% of pages on one hot host."""
    host = (
        "hotnews.example.com" if rng.random() < 0.20
        else f"site-{rng.randrange(2000)}.example.org"
    )
    url = f"https://{host}/news/{i}"
    headline = rng.choice(pool)[:-1]
    nav = "".join(
        f'<li><a href="/s/{rng.randrange(999)}">{rng.choice(_PROSE)}</a></li>'
        for _ in range(8)
    )
    paras, size = [], 0
    while size < target:
        p = " ".join(rng.choice(pool) for _ in range(rng.randrange(2, 6)))
        paras.append(f"<p>{p}</p>")
        size += len(p)
    html = (
        f"<!DOCTYPE html>\n<html><head><title>{headline}</title>"
        f"<script>var t={rng.randrange(10**9)};</script></head><body>"
        f"<nav><ul>{nav}</ul></nav><article><h1>{headline}</h1>\n"
        + "\n".join(paras)
        + f"\n</article><footer><ul>{nav}</ul></footer></body></html>"
    )
    return url, html.encode("utf-8")


def warc_record(url: str, body: bytes) -> bytes:
    """One WARC/1.0 ``response`` record with an HTTP header block."""
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {WARC_DATE}\r\nContent-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def write_warc_corpus(out_dir: Path, seed: int, n_pages: int, n_archives: int,
                      extra: list[tuple[str, bytes]] = ()) -> dict[str, bytes]:
    """Write ``n_archives`` ``.warc.gz`` files holding ``n_pages`` seeded
    response records plus the fixed ``extra`` (url, html) pages; returns
    {url: html} of every record for the output checks."""
    rng = random.Random(f"warc:{seed}")
    pool = [_sentence(rng, rng.randrange(8, 30)) for _ in range(1500)]
    out_dir.mkdir(parents=True, exist_ok=True)
    pages: dict[str, bytes] = {}
    members: list[list[bytes]] = [[] for _ in range(n_archives)]
    sizes = page_sizes(rng, n_pages)
    records = [article_page(rng, i, pool, sizes[i]) for i in range(n_pages)] + list(extra)
    for i, (url, html) in enumerate(records):
        pages[url] = html
        members[i % n_archives].append(
            gzip.compress(warc_record(url, html), compresslevel=1, mtime=0)
        )
    for k, ms in enumerate(members):
        (out_dir / f"part-{k:03d}.warc.gz").write_bytes(b"".join(ms))
    return pages


def documents_table(seed: int, n_docs: int, near_dup_share: float) -> pa.Table:
    """sf-style ``documents``: 10-100 vocabulary tokens per doc; exactly
    a ``near_dup_share`` of docs copy an earlier original doc's text plus
    one token, the shape MinHash/LSH dedup targets. Copying only
    originals keeps every duplicate family a star, so the connected-
    components depth (and job count) does not vary with the seed."""
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    originals: list[int] = []
    dups = set(rng.sample(range(1, n_docs), round(near_dup_share * n_docs)))
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[rng.choice(originals)] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def embeddings_table(seed: int, n_vecs: int, near_dup_share: float) -> pa.Table:
    """sf-style ``embeddings``: unit float32 vectors around ``N_LABELS``
    centres (within-label cosine ~0.7, far from the 0.95 dedup
    threshold); a ``near_dup_share`` copy an earlier original vector
    with tiny noise (cosine > 0.99)."""
    rng = random.Random(f"emb:{seed}")
    centres = [_unit([rng.gauss(0, 1) for _ in range(EMB_DIM)]) for _ in range(N_LABELS)]
    vecs: list[list[float]] = []
    labels: list[int] = []
    originals: list[int] = []
    dups = set(rng.sample(range(1, n_vecs), round(near_dup_share * n_vecs)))
    spread = 0.6 / math.sqrt(EMB_DIM)
    for i in range(n_vecs):
        if i in dups:
            j = rng.choice(originals)
            v = [x + rng.gauss(0, 0.01 / math.sqrt(EMB_DIM)) for x in vecs[j]]
            lab = labels[j]
        else:
            originals.append(i)
            lab = rng.randrange(N_LABELS)
            v = [c + rng.gauss(0, spread) for c in centres[lab]]
        vecs.append(_unit(v))
        labels.append(lab)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_curation_tables(out_dir: Path, seed: int, n_docs: int, n_vecs: int,
                          near_dup_share: float) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs, near_dup_share),
                   out_dir / "documents.parquet")
    pq.write_table(embeddings_table(seed, n_vecs, near_dup_share),
                   out_dir / "embeddings.parquet")
