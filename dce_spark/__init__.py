"""dce_spark — a PySpark-native main-content extraction engine (CETD).

A from-scratch implementation of Composite Text Density extraction
(Sun, Song & Liao, SIGIR 2011) with the capabilities of the reference
Rust crate ``dom-content-extraction`` (studied at /root/reference),
re-architected for Spark:

- ``dce_spark.core``      — pure-Python/NumPy per-document CETD dataflow
                            (parse -> density tree -> selection -> text),
                            zero Spark dependencies; this is the hot path
                            that runs inside Arrow-batched UDFs.
- ``dce_spark.spark``     — DataFrame pipeline: scan, bucket rebalance,
                            mapInArrow extraction, manifest/resume sink,
                            CleanEval-style scoring job, synthetic corpus.
- ``dce_spark.functions`` — large-scale training-data ops (dedup families,
                            similarity search, text analysis) as native
                            DataFrame transformations.

Importing it installs ``_importcache``: unchanged zips are not re-read per task.
"""

__version__ = "0.1.0"

from dce_spark import _importcache

_importcache.install()

from dce_spark.core.api import extract_article, extract_content, extract_page

# Drop-in naming parity with the reference crate's entry points
# (get_content/get_article, src/lib.rs:140-159): same semantics, input
# is raw HTML bytes/str instead of a pre-parsed scraper::Html.
get_content = extract_content
get_article = extract_article

__all__ = [
    "extract_content",
    "extract_article",
    "extract_page",
    "get_content",
    "get_article",
    "__version__",
]
