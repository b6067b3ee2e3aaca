"""Deterministic synthetic pages corpus (seed 42, no external data).

Builds the ``pages(url, warc_ts, html, text, lang)`` table the driver's
input_hint specifies:

* Row set A — the reference's own golden fixtures (byte-exact file
  contents, golden expectations locked by tests/);
* Row set B — the real-page regression corpus from pages.zip;
* Row set C — degenerate/semantic rows from the reference's inline
  test HTML (contentless, hidden variants, malformed, unicode);
* Scaled rows — seeded synthetic article pages, sizes log-normal
  around ~50 KB (matching the pages.zip range), 20% of rows on one
  hot domain, which the url-hash buckets must spread.

Generation is distributed (spark.range -> row map) so the corpus
scales with the cluster rather than the driver.
"""

from __future__ import annotations

import datetime as _dt
import random
import zipfile
from pathlib import Path

from dce_spark.spark.schema import PAGES_SCHEMA
from dce_spark.spark.udf import map_rows

SEED = 42
REFERENCE_HTML = Path("/root/reference/html")

_WORDS = (
    "market treasury digital asset policy energy climate science storage "
    "compute lithium battery airline bankruptcy protection senate filing "
    "quarterly revenue analyst infrastructure network protocol consensus "
    "research laboratory measurement spectrum satellite observation model "
    "education transport logistics harvest municipal election committee "
    "hospital vaccine trial approval regulation framework compliance audit"
).split()

_TS = _dt.datetime(2025, 6, 1, 12, 0, 0)


def _sentence(rng: random.Random, n: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def synth_page(i: int, seed: int = SEED) -> dict:
    """Deterministic synthetic article page for row id ``i``."""
    rng = random.Random(f"{seed}:{i}")
    # log-normal body size around ~50 KB, clamped to the pages.zip range
    target = min(max(int(rng.lognormvariate(10.6, 0.7)), 2_000), 900_000)
    hot = rng.random() < 0.20
    host = "hotnews.example.com" if hot else f"site-{rng.randrange(2000)}.example.org"
    url = f"https://{host}/articles/{i}"
    headline = _sentence(rng, 8)[:-1]

    nav = "".join(
        f'<li><a href="/s/{rng.randrange(999)}">{rng.choice(_WORDS)}</a></li>'
        for _ in range(12)
    )
    ticker = "".join(
        f'<a href="/t/{k}">{_sentence(rng, 6)}</a>' for k in range(6)
    )
    paras = []
    size = 0
    while size < target:
        p = _sentence(rng, rng.randrange(25, 60))
        paras.append(f"<p>{p}</p>")
        size += len(p)
    body_paras = "\n".join(paras)
    js_blob = (
        "window.dataLayer = window.dataLayer || []; function gtag()"
        "{dataLayer.push(arguments);} gtag('js', new Date());"
        " gtag('config', 'G-%d');" % rng.randrange(10**9)
    )
    html = f"""<!DOCTYPE html>
<html><head><title>{headline}</title>
<script>{js_blob}</script>
<style>.x{{display:none}}</style>
</head><body>
<nav><ul>{nav}</ul></nav>
<div class="ticker">{ticker}</div>
<article>
<h1>{headline}</h1>
{body_paras}
</article>
<div class="sharedaddy">Share this everywhere</div>
<footer><ul>{nav}</ul></footer>
</body></html>"""
    return {
        "url": url,
        "warc_ts": _TS,
        "html": html.encode("utf-8"),
        "text": None,
        "lang": "en",
    }


# ---- fixture rows (sets A, B, C) -------------------------------------


def _degenerate_rows() -> list[dict]:
    inline = {
        "contentless": "<html><body><script>var x = 1;</script></body></html>",
        "malformed_empty": "",
        "malformed_nobody": "<div>No body here</div>",
        "malformed_angle": "<<<>>>",
        "malformed_plain": "Plain text",
        "malformed_noclose": "<html><div>No explicit body</html>",
        "unicode_mixed": "<html><body><p>Hello, 世界! café резюме 👩‍💻</p></body></html>",
        "toy_article": (
            "<html><body><nav><a href='/'>Home</a></nav><article>"
            "<p>First paragraph of the story with plenty of words inside.</p>"
            "<p>Second paragraph continues the narrative with more detail.</p>"
            "</article><footer>Copyright</footer></body></html>"
        ),
    }
    rows = [
        {
            "url": f"https://fixtures.test/{name}",
            "warc_ts": _TS,
            "html": content.encode("utf-8"),
            "text": None,
            "lang": "en",
        }
        for name, content in inline.items()
    ]
    return rows


def fixture_rows(include_reference: bool = True) -> list[dict]:
    rows = _degenerate_rows()
    if include_reference and REFERENCE_HTML.exists():
        for f in sorted(REFERENCE_HTML.glob("*.html")):
            rows.append(
                {
                    "url": f"https://fixtures.test/{f.stem}",
                    "warc_ts": _TS,
                    "html": f.read_bytes(),
                    "text": None,
                    "lang": "en",
                }
            )
        zip_path = REFERENCE_HTML / "pages.zip"
        if zip_path.exists():
            with zipfile.ZipFile(zip_path) as zf:
                for n in sorted(zf.namelist()):
                    if n.endswith(".html") and "/._" not in n:
                        rows.append(
                            {
                                "url": f"https://pages.test/{n.rsplit('/', 1)[-1]}",
                                "warc_ts": _TS,
                                "html": zf.read(n),
                                "text": None,
                                "lang": "en",
                            }
                        )
    return rows


# ---- distributed generation ------------------------------------------


def build_pages_df(spark, n_synthetic: int, include_fixtures: bool = True,
                   partitions: int | None = None, seed: int = SEED):
    """pages DataFrame: fixture rows + n deterministic synthetic rows.

    Default partition count is generous (>= 2x parallelism, min 64 for
    non-trivial corpora): the parquet files this lands in must carry
    enough row groups that a 4x-bigger cluster can still scan in
    parallel (scan parallelism is file/row-group-bound).
    """
    if partitions is None:
        par = spark.sparkContext.defaultParallelism
        partitions = min(max(64, par * 2), max(n_synthetic, 1))
        if n_synthetic <= 256:
            partitions = max(par, 4)
    parts = partitions

    def _gen(i):
        r = synth_page(i, seed)
        yield r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]

    synth = map_rows(
        spark.range(0, n_synthetic, numPartitions=parts), PAGES_SCHEMA, _gen
    )
    if not include_fixtures:
        return synth
    fixtures = spark.createDataFrame(fixture_rows(), schema=PAGES_SCHEMA)
    return fixtures.unionByName(synth)


def write_pages_parquet(spark, path: str, n_synthetic: int,
                        include_fixtures: bool = True, seed: int = SEED,
                        bucket_files: int | None = None) -> None:
    """Write the corpus salted at WRITE time: files are url-hash buckets
    (repartition on xxhash64(url)), the parquet analogue of an Iceberg
    bucket(url) partition spec. Downstream extraction then reads
    pre-salted splits and needs no runtime exchange."""
    from pyspark.sql import functions as F

    df = build_pages_df(spark, n_synthetic, include_fixtures, seed=seed)
    nb = bucket_files or min(max(64, spark.sparkContext.defaultParallelism * 2),
                             max(n_synthetic // 16, 1))
    df.repartition(nb, F.xxhash64("url")).write.mode("overwrite").parquet(path)


def write_bucketed_pages(spark, path: str, n_synthetic: int, buckets: int,
                         include_fixtures: bool = True,
                         files_per_bucket: int = 4,
                         seed: int = SEED) -> None:
    """Write the corpus HIVE-PARTITIONED by the pipeline's url-hash
    bucket (bucket=k dirs — the parquet analogue of an Iceberg
    bucket(url) partition spec). run_pipeline detects the stored bucket
    column and its per-commit filters become partition filters, so each
    commit scans only its own buckets' files.

    ``files_per_bucket`` keeps per-commit scan parallelism healthy: a
    commit of c buckets yields ~c*files_per_bucket splits, so size it
    so that c*files_per_bucket >= cluster cores (Iceberg gets this for
    free from its target-file-size splitting)."""
    from pyspark.sql import functions as F

    from dce_spark.spark.pipeline import url_bucket

    df = build_pages_df(spark, n_synthetic, include_fixtures, seed=seed)
    df = df.withColumn("bucket", url_bucket(buckets))
    df.repartition(
        buckets * files_per_bucket, F.col("bucket"), F.xxhash64("url")
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)
