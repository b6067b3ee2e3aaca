"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship CETD extraction over the deterministic pages
corpus (fixtures + seeded synthetic rows, seed 42).

`queries()` — one entry per implemented operator family:
  * cetd_* : the extraction engine itself (per-row map; not
    SQL-expressible, driver records rows-only checks; byte-level
    correctness is locked by tests/ against the reference's goldens);
  * doc_*  : dedup / text-analysis operators over `documents`;
  * emb_*  : similarity search over `embeddings`;
  * events_*: window/sessionization analogues of the selection ops;
  * tpch_* : join/aggregation parity on the TPC-H-ish tables.

`oracle_sql()` — DuckDB-dialect equivalents. Aggregates use
decimal-cast sums (exact across engines); cosines are rounded to 6
decimals to absorb summation-order ULPs.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the dce_spark package lives next to this file; make imports work no
# matter which cwd the driver loads us from
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Committed golden tables for the non-SQL-expressible cetd_* queries:
# generated by tools/make_cetd_goldens.py from the tier-1 scalar path
# (itself locked to the reference's own assertions by tests/). The
# DuckDB oracles SELECT from these, so rows+schema+hash all verify.
_GOLDEN_DIR = str(Path(__file__).resolve().parent / "testdata")


# ---------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------


def _extract_corpus(spark: SparkSession, n_synthetic: int, mode: str) -> DataFrame:
    from dce_spark.spark.corpus import build_pages_df
    from dce_spark.spark.udf import attach_extraction

    pages = build_pages_df(spark, n_synthetic=n_synthetic, include_fixtures=True)
    return attach_extraction(pages, mode=mode)


def _len_md5(col: str, len_alias: str, md5_alias: str) -> list:
    """Shared length/md5 projection — the golden-parquet oracles hash
    these columns, so every cetd query must project them identically."""
    return [
        F.length(col).cast("long").alias(len_alias),
        F.md5(F.coalesce(F.col(col), F.lit(""))).alias(md5_alias),
    ]


def _content_projection(out: DataFrame) -> DataFrame:
    return out.select(
        "url", "status",
        F.col("node_count").cast("long").alias("node_count"),
        "primary_script",
        *_len_md5("extracted_text", "text_len", "text_md5"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Extraction over the deterministic pages corpus at tiny scale."""
    return _content_projection(_extract_corpus(spark, 32, "both"))


# ---------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------


def _q_cetd_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same row set/columns as entry() but mode='content' only (entry
    runs both modes as the flagship; the per-mode queries each time one
    extraction pass)."""
    return _content_projection(_extract_corpus(spark, 32, "content"))


def _q_cetd_article(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extract_corpus(spark, 32, "article").select(
        "url", "status",
        F.col("node_count").cast("long").alias("node_count"),
        *_len_md5("article_text", "article_len", "article_md5"),
    )


def _q_cetd_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extract_corpus(spark, 16, "all").select(
        "url", "status",
        *_len_md5("extracted_md", "md_len", "md_md5"),
    )


def _q_cetd_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_node_links parity through the driver gate: per url the
    count and an order-sensitive md5 of the content node's doc-order
    hrefs (reference src/lib.rs:49-65 get_node_links + utils.rs
    collect; previously pytest-only)."""
    out = _extract_corpus(spark, 32, "content")
    links = F.coalesce(
        F.col("content_links"),
        F.array().cast("array<string>"),
    )
    return out.select(
        "url", "status",
        F.size(links).cast("long").alias("n_links"),
        F.md5(F.concat_ws("\n", links)).alias("links_md5"),
    )


def _q_cetd_eval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CleanEval-style scoring pipeline (reference examples/ce_score.rs):
    live extraction scored against the COMMITTED gold table
    (testdata/eval_gold.parquet, a frozen snapshot generated by
    tools/make_cetd_goldens.py). Because the gold texts are frozen, any
    extraction regression moves the means away from the committed
    expected scores and trips the oracle — tests/test_evaljob.py locks
    that falsifiability with a deliberately-perturbed extractor.

    Means are computed over DECIMAL(18,9)-cast per-pair scores: decimal
    sums are exact and order-independent, so the result is identical
    across partitionings/parallelism."""
    from dce_spark.spark.corpus import build_pages_df
    from dce_spark.spark.evalcorpus import build_eval_pages_df
    from dce_spark.spark.evaljob import score_pairs
    from dce_spark.spark.udf import attach_extraction

    # fixtures + synthetic snapshot pairs (regression value) UNION the
    # 144-page realistic template corpus whose gold is INDEPENDENT of
    # the extractor (measurement value — P/R/F1 < 1, CleanEval-style)
    pages = build_pages_df(spark, n_synthetic=24, include_fixtures=True)
    pages = pages.unionByName(build_eval_pages_df(spark, n=144))
    extracted = (
        attach_extraction(pages, mode="content")
        .select(F.col("url").alias("stem"), "extracted_text")
        # score CleanEval-sized documents (the reference's corpus is a
        # few KB per file); word-LCS is O(m*n) per pair by design
        .filter(
            (F.length("extracted_text") > 0)
            & (F.length("extracted_text") < 8000)
        )
    )
    gold = spark.read.parquet(f"{_GOLDEN_DIR}/eval_gold.parquet")
    scores = score_pairs(extracted, gold)
    valid = scores.filter(
        ~F.isnan("precision") & ~F.isnan("recall") & ~F.isnan("f1")
    )

    def _avg_r(col: str, alias: str):
        return F.round(
            F.avg(F.col(col).cast("decimal(18,9)")), 2
        ).cast("double").alias(alias)

    return valid.agg(
        F.count("*").cast("long").alias("files"),
        _avg_r("precision", "avg_precision_r"),
        _avg_r("recall", "avg_recall_r"),
        _avg_r("f1", "avg_f1_r"),
        _avg_r("dice", "avg_dice_r"),
    )


def _q_doc_exact_dedup(spark, sf_dir):
    from dce_spark.functions.textops import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_doc_token_count(spark, sf_dir):
    from dce_spark.functions.textops import token_count

    return token_count(_t(spark, sf_dir, "documents"))


def _q_doc_token_count_bpe(spark, sf_dir):
    from dce_spark.functions.textops import token_count_bpe

    return token_count_bpe(_t(spark, sf_dir, "documents"))


def _q_doc_quality(spark, sf_dir):
    from dce_spark.functions.textops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def _q_doc_lang_distribution(spark, sf_dir):
    from dce_spark.functions.textops import lang_distribution

    return lang_distribution(_t(spark, sf_dir, "documents"))


def _q_doc_fingerprint(spark, sf_dir):
    from dce_spark.functions.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _q_doc_lang_id(spark, sf_dir):
    from dce_spark.functions.textops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _q_doc_rolling_fingerprint(spark, sf_dir):
    from dce_spark.functions.textops import rolling_fingerprint

    return rolling_fingerprint(_t(spark, sf_dir, "documents"))


def _q_doc_gopher_quality(spark, sf_dir):
    from dce_spark.functions.textops import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


def _q_doc_repetition(spark, sf_dir):
    from dce_spark.functions.textops import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def _q_emb_dedup(spark, sf_dir):
    from dce_spark.functions.simsearch import embedding_dedup

    # n_planes pinned for the static DuckDB oracle (library default
    # derives it from the corpus size)
    return embedding_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=6
    )


def _q_doc_ngram_jaccard(spark, sf_dir):
    from dce_spark.functions.textops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.1)


def _q_doc_minhash_bands(spark, sf_dir):
    from dce_spark.functions.textops import minhash_bands

    return minhash_bands(_t(spark, sf_dir, "documents"))


def _q_doc_minhash_dedup(spark, sf_dir):
    from dce_spark.functions.textops import minhash_dedup

    return minhash_dedup(_t(spark, sf_dir, "documents"))


def _q_doc_minhash_cc(spark, sf_dir):
    from dce_spark.functions.textops import minhash_dedup_cc

    return minhash_dedup_cc(_t(spark, sf_dir, "documents"))


def _q_emb_kmeans(spark, sf_dir):
    """Deterministic Lloyd's k-means over the embeddings table (k=8,
    one centroid-update round = two assignment passes) — the
    clustering pass behind semantic dedup sharding. The oracle unrolls
    init-assignment, update, and final assignment in SQL on the
    identical fixed-point integer arithmetic."""
    from dce_spark.functions.simsearch import kmeans_embeddings

    return kmeans_embeddings(
        _t(spark, sf_dir, "embeddings"), k=8, n_iters=1, dim=64
    )


def _q_emb_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table: the emb_kmeans clustering
    shards the space, within-cluster cosine >= 0.95 pairs collapse to
    the lowest vec_id — with the 100 TB pair-count bound exercised:
    max_cluster_size=32 sub-shards oversize clusters by masked LSH
    signs and hard-caps every pairing group by chunking, so the pair
    join key is (cluster, sub, chunk). At sf0.01's 500 vectors every
    k=8 cluster is oversize (52-74 members), so the mask AND chunk
    paths are both live in the driver row. See simsearch.semdedup."""
    from dce_spark.functions.simsearch import semdedup

    return semdedup(
        _t(spark, sf_dir, "embeddings"), k=8, n_iters=1, dim=64,
        threshold=0.95, max_cluster_size=32,
    )


def _q_emb_semdedup_far(spark, sf_dir):
    """SemDeDup with the PAPER's keeper rule (Abbas et al. §3): among
    each near-dup family survive the vector LEAST similar to its
    cluster centroid (ties to lower id) — keep the atypical exemplar,
    not whatever crawled first. Same bounded (cluster, sub, chunk)
    pairing as emb_semdedup."""
    from dce_spark.functions.simsearch import semdedup

    return semdedup(
        _t(spark, sf_dir, "embeddings"), k=8, n_iters=1, dim=64,
        threshold=0.95, max_cluster_size=32,
        keep_policy="centroid_far",
    )


def _q_emb_ivf_topk(spark, sf_dir):
    """IVF ANN: the emb_kmeans coarse quantizer routes candidates into
    inverted lists; each query probes its 2 nearest centroids and
    exact cosine runs only within the probed lists (bucketed equi-join
    on cluster id — the data-adaptive alternative to hyperplane LSH).
    See simsearch.ivf_topk."""
    from dce_spark.functions.simsearch import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5,
        n_clusters=8, n_iters=1, dim=64, n_probes=2,
    )


def _q_doc_boilerplate_strip(spark, sf_dir):
    """Per-site template-line removal (CCNet-style boilerplate strip).
    The synthetic documents table has no newlines, so the query
    synthesizes the crawl reality deterministically — every page of a
    source gets that source's menu banner and copyright footer wrapped
    around its body — and the operator must strip exactly those
    (>= 3 distinct docs per source share them) while the unique body
    line survives untouched. See textops.boilerplate_lines."""
    from dce_spark.functions.textops import boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("Site menu "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("Copyright "), F.col("source"),
            F.lit(" all rights reserved"),
        ).alias("text"),
    )
    return boilerplate_lines(docs, min_docs=3)


def _q_doc_split_assign(spark, sf_dir):
    """Deterministic content-keyed train/val/test split: exact
    duplicate texts land in the SAME split by construction (holdout
    leakage hygiene). See textops.split_assign."""
    from dce_spark.functions.textops import split_assign

    return split_assign(
        _t(spark, sf_dir, "documents"), val_permille=50,
        test_permille=50,
    )


def _q_doc_minhash_best(spark, sf_dir):
    """Quality-aware near-dup keepers: per LSH band the BEST-scoring
    doc (n_chars desc, doc_id asc) wins, and each doc adopts the
    best keeper across its bands — production dedup keeps the longest
    copy of a template family, not whichever crawled first."""
    from dce_spark.functions.textops import minhash_dedup_best

    return minhash_dedup_best(_t(spark, sf_dir, "documents"))


def _q_doc_minhash_incremental(spark, sf_dir):
    """Cross-crawl incremental near-dup: documents below doc_id 300
    play the signed HISTORY (their persisted minhash_band_table is the
    only thing the probe reads — in production that parquet is written
    once per crawl), the rest are the NEW batch probed against it.
    Restricted to the new batch, the decision is bit-identical to
    batch minhash_dedup over the union corpus (test_textops pins the
    equivalence on random near-dup corpora)."""
    from dce_spark.functions.textops import (
        minhash_band_table,
        minhash_incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    stored = minhash_band_table(docs.filter("doc_id < 300"))
    return minhash_incremental_dedup(docs.filter("doc_id >= 300"), stored)


def _messy_urls(spark, sf_dir):
    """Deterministic messy-URL table derived from doc_id (the test
    tables carry no URL column): five shapes covering case noise,
    default ports, tracking params, fragments, and the root-slash /
    no-slash pair that must collapse. The SQL oracle constructs the
    IDENTICAL strings — the operator under test is the normalization
    chain, evaluated by both engines over the same input."""
    from pyspark.sql import functions as F

    d = _t(spark, sf_dir, "documents").select("doc_id")
    ds = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".COM:80/a/"), ds,
                F.lit("?utm_source=feed&id="), (F.col("doc_id") % 11).cast("string"),
                F.lit("&fbclid=xyz#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("https://Example.com:443/x/"),
                     (F.col("doc_id") % 13).cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("HTTPS://EXAMPLE"), (F.col("doc_id") % 3).cast("string"),
                     F.lit(".com/")),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://example"), (F.col("doc_id") % 3).cast("string"),
                     F.lit(".com")),
        )
        .otherwise(
            F.concat(F.lit("http://Site.org/p?gclid=1&q="),
                     (F.col("doc_id") % 10).cast("string"),
                     F.lit("&ref=rss#sec")),
        )
    )
    return d.select("doc_id", url.alias("url"))


def _q_doc_url_normalize(spark, sf_dir):
    from dce_spark.functions.urlops import url_normalize

    return url_normalize(_messy_urls(spark, sf_dir)).select(
        "doc_id", "url_norm"
    )


def _q_doc_url_dedup(spark, sf_dir):
    from dce_spark.functions.urlops import url_dedup

    return url_dedup(_messy_urls(spark, sf_dir), "doc_id")


def _q_doc_host_stats(spark, sf_dir):
    from dce_spark.functions.urlops import host_stats

    return host_stats(_messy_urls(spark, sf_dir))


def _q_doc_url_latest(spark, sf_dir):
    """Keep-newest crawl-snapshot dedup over the messy-URL table with
    deterministic pseudo capture times ((doc_id * 7919) % 17 — only 17
    distinct times, so the multi-member canonical groups are GUARANTEED
    ts ties and the id tiebreak is exercised cross-engine)."""
    from dce_spark.functions.urlops import latest_snapshot

    pages = _messy_urls(spark, sf_dir).withColumn(
        "ts", (F.col("doc_id").cast("long") * 7919) % 17
    )
    return latest_snapshot(pages)


def _q_doc_line_dedup(spark, sf_dir):
    """Corpus-level line dedup over documents wrapped with shared
    header/footer boilerplate lines (documents.text is single-line, so
    the boilerplate frame is what gives the corpus cross-document
    repeated lines; the frame is constructed identically in the SQL
    oracle)."""
    from pyspark.sql import functions as F

    from dce_spark.functions.textops import line_dedup

    d = _t(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat(
            F.lit("HEADER "), (F.col("doc_id") % 3).cast("string"),
            F.lit("\n"), F.col("text"), F.lit("\nFOOTER boilerplate"),
        ).alias("text"),
    )
    return line_dedup(built)


def _q_doc_mixture(spark, sf_dir):
    from dce_spark.functions.textops import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total_tokens=2000,
    )


def _q_doc_quality_model(spark, sf_dir):
    from dce_spark.functions.textops import linear_quality_score

    return linear_quality_score(_t(spark, sf_dir, "documents"))


def _q_doc_length_quantiles(spark, sf_dir):
    from dce_spark.functions.textops import length_quantiles

    return length_quantiles(_t(spark, sf_dir, "documents"))


def _q_doc_simhash(spark, sf_dir):
    from dce_spark.functions.textops import simhash64

    return simhash64(_t(spark, sf_dir, "documents"))


def _q_doc_link_edges(spark, sf_dir):
    """Host link graph over the messy-URL table with deterministic
    synthetic out-links: every page links to a hub rotated by doc_id,
    a relative path (stays internal), and every third page links to
    site.org — the frame is constructed identically in the oracle."""
    from dce_spark.functions.urlops import host_link_edges

    d = _messy_urls(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    links = F.array(
        F.concat(
            F.lit("https://hub"), (did % 4).cast("string"),
            F.lit(".example.net/page/"), did.cast("string"),
        ),
        F.lit("/local/nav"),
        F.when(
            did % 3 == 0, F.lit("http://Site.org/p?q=0")
        ).otherwise(F.lit("/local/footer")),
    )
    return host_link_edges(d.withColumn("links", links))


def _q_doc_host_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (3 iterations) over the SAME
    synthesized host graph doc_link_edges verifies — the edge query
    wrapper is reused so graph and rank cannot drift apart."""
    from dce_spark.functions.graphops import host_pagerank

    edges = _q_doc_link_edges(spark, sf_dir).drop("internal")
    return host_pagerank(edges, iterations=3)


def _q_doc_url_robots(spark, sf_dir):
    """REP evaluation over the messy-URL table: site.org disallows /p
    but a longer Allow re-admits the q=4 shape (longest-match-wins),
    and www.example0.com disallows its /a/ tree."""
    from dce_spark.functions.urlops import robots_filter

    rules = spark.createDataFrame(
        [
            ("site.org", False, "/p"),
            ("site.org", True, "/p?gclid=1&q=4"),
            ("www.example0.com", False, "/a/"),
        ],
        ["host", "allow", "prefix"],
    )
    return robots_filter(_messy_urls(spark, sf_dir), rules)


def _q_doc_span_dedup(spark, sf_dir):
    """C4 three-sentence-span dedup over documents framed with shared
    sentence triples (the wordlist corpus has no repeated sentences of
    its own): a 3-sentence intro shared by every doc_id%3 class — its
    span drops everywhere but at the first owner — plus a per-doc
    unique middle and closing, which survive."""
    from dce_spark.functions.textops import span_dedup

    d = _t(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat(
            F.lit("Shared intro number "),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(" here. Second shared sentence. "
                  "Third shared sentence. "),
            F.col("text"),
            F.lit(". Closing sentence "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(" ends"),
        ).alias("text"),
    )
    return span_dedup(built, n=3)


def _q_doc_url_blocklist(spark, sf_dir):
    """Blocklist pass over the messy-URL table: 'example1.com' must
    also catch its 'www.example1.com' subdomain via suffix matching;
    'site.org' blocks the whole tracking-param shape class."""
    from dce_spark.functions.urlops import url_blocklist_filter

    bl = spark.createDataFrame(
        [("example1.com",), ("site.org",)], ["host"]
    )
    return url_blocklist_filter(_messy_urls(spark, sf_dir), bl)


def _q_doc_filter_funnel(spark, sf_dir):
    from dce_spark.functions.textops import filter_funnel

    return filter_funnel(_t(spark, sf_dir, "documents"))


def _q_doc_cross_entropy(spark, sf_dir):
    from dce_spark.functions.textops import unigram_cross_entropy

    return unigram_cross_entropy(_t(spark, sf_dir, "documents"))


def _q_doc_dup_ngrams(spark, sf_dir):
    from dce_spark.functions.textops import dup_ngram_fraction

    return dup_ngram_fraction(_t(spark, sf_dir, "documents"), k=5)


def _q_doc_c4_filter(spark, sf_dir):
    """C4 line/page cleaning over documents wrapped into multi-line
    pages (documents.text is single-line wordlist prose, so the frame
    adds the line variety the rules discriminate on: a good sentence
    line, a short line, a no-terminal line, plus doc_id-keyed lorem /
    curly-brace / javascript injections; the frame is constructed
    identically in the SQL oracle)."""
    from dce_spark.functions.textops import c4_filter

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    built = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nThis opening sentence has enough words to pass."),
            F.lit("\ntiny line."),
            F.lit("\nA trailing line without terminal punctuation here"),
            F.when(
                F.pmod(did, F.lit(7)) == 0,
                F.lit("\nlorem ipsum dolor sit amet consectetur."),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(did, F.lit(11)) == 0,
                F.lit("\nfunction init() { return window.x; }"),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(did, F.lit(5)) == 0,
                F.lit("\nPlease enable javascript to view this page."),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(did, F.lit(3)) == 0,
                F.lit("\nAnother complete sentence appears on this page!"
                      " It even has two sentences in one line."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_filter(built)


def _q_emb_cosine_threshold(spark, sf_dir):
    from dce_spark.functions.simsearch import cosine_pairs_threshold

    return cosine_pairs_threshold(
        _t(spark, sf_dir, "embeddings"), n_queries=10, threshold=0.25
    )


def _q_emb_brute_topk(spark, sf_dir):
    from dce_spark.functions.simsearch import brute_force_topk

    return brute_force_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


def _q_emb_lsh_topk(spark, sf_dir):
    from dce_spark.functions.simsearch import lsh_topk

    # n_planes pinned so the static DuckDB oracle mirrors the bucketing
    # (library default derives it from the corpus size instead)
    return lsh_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5, n_planes=6
    )


def _q_events_sessionize(spark, sf_dir):
    from pyspark.sql.window import Window

    # ts is TIMESTAMP_NTZ in the parquet; interpret as UTC instants
    # (session tz pinned to UTC) so epoch micros match DuckDB's epoch_us.
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("events_in_session")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").cast("long").alias("session_cnt"),
        F.max("events_in_session").cast("long").alias("max_session_events"),
    ).select(F.col("user_id").cast("long").alias("user_id"),
             "session_cnt", "max_session_events")


def _q_events_json_props(spark, sf_dir):
    """Semi-structured parsing: extract a JSON field from the props
    column and aggregate — the crawl-metadata (WARC headers, page
    metadata) handling pattern."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("events"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


def _q_events_asof(spark, sf_dir):
    from dce_spark.functions.eventops import asof_join

    return asof_join(
        _t(spark, sf_dir, "events"), probe_type="purchase", ref_type="view"
    )


def _q_events_range_join(spark, sf_dir):
    from dce_spark.functions.eventops import range_join_pairs

    return range_join_pairs(
        _t(spark, sf_dir, "events"), left_type="error", right_type="click",
        window_us=300_000_000,
    )


def _q_events_rollup(spark, sf_dir):
    from dce_spark.functions.eventops import hypertable_rollup

    return hypertable_rollup(_t(spark, sf_dir, "events"))


def _q_doc_distinct_sketch(spark, sf_dir):
    from dce_spark.functions.textops import kmv_distinct_sketch

    return kmv_distinct_sketch(_t(spark, sf_dir, "documents"), k=64)


def _q_doc_sample(spark, sf_dir):
    from dce_spark.functions.textops import deterministic_sample

    return deterministic_sample(
        _t(spark, sf_dir, "documents"), rates={"en": 0.5, "es": 0.25}
    )


def _q_doc_pack_shards(spark, sf_dir):
    from dce_spark.functions.textops import pack_shards

    return pack_shards(_t(spark, sf_dir, "documents"), token_budget=4096)


def _q_doc_char_entropy(spark, sf_dir):
    from dce_spark.functions.textops import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def _q_doc_curate(spark, sf_dir):
    """The composed curation pipeline (quality gate -> exact dedup ->
    minhash dedup -> decontamination -> shard packing) as ONE oracled
    query — the end-to-end job a pretraining-data pipeline runs."""
    from dce_spark.functions.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    benchmark = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return curate_corpus(
        d, benchmark, min_tokens=20, k=3, token_budget=4096
    )


def _q_doc_curate_strict(spark, sf_dir):
    """The curation pipeline with the strict corpus-relative gates on:
    gate -> exact dedup -> minhash dedup -> RefinedWeb dup-ngram cap
    -> CCNet cross-entropy tail drop -> decontaminate -> pack, all as
    ONE oracled query."""
    from dce_spark.functions.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    benchmark = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return curate_corpus(
        d, benchmark, min_tokens=20, k=3, token_budget=4096,
        max_dup_ngram_frac=0.5, drop_tail_bucket=True, dup_k=5,
    )


def _q_doc_curate_full(spark, sf_dir):
    """The FULL crawl-to-shards composition: URL hygiene (canonical
    blocklist suffix drop -> robots exclusion -> latest-snapshot
    dedup over the messy-URL table with pseudo capture times) ahead
    of the strict text pipeline (gate -> exact -> minhash ->
    dup-ngram cap -> CE tail drop -> decontaminate -> pack), as ONE
    oracled query. URL frames and rule tables are the same ones the
    standalone doc_url_* queries verify, so layer and composition
    cannot drift apart."""
    from dce_spark.functions.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    benchmark = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    urls = _messy_urls(spark, sf_dir).withColumn(
        "ts", (F.col("doc_id").cast("long") * 7919) % 17
    )
    bl = spark.createDataFrame(
        [("example1.com",), ("site.org",)], ["host"]
    )
    rules = spark.createDataFrame(
        [
            ("site.org", False, "/p"),
            ("site.org", True, "/p?gclid=1&q=4"),
            ("www.example0.com", False, "/a/"),
        ],
        ["host", "allow", "prefix"],
    )
    return curate_corpus(
        d, benchmark, min_tokens=20, k=3, token_budget=4096,
        max_dup_ngram_frac=0.5, drop_tail_bucket=True, dup_k=5,
        urls=urls, blocklist=bl, robots_rules=rules, latest_only=True,
    )


def _q_doc_bloom_dedup(spark, sf_dir):
    """Incremental-ingest dedup: the corpus plays the historical
    (seen) side; the new batch is the same corpus with every odd
    doc_id's text perturbed (novel). Even ids must probe seen (no
    false negatives by construction); odd ids are novel modulo the
    deterministic FP rate — the oracle computes the identical filter
    bits, so even FPs hash-match."""
    from dce_spark.functions.textops import bloom_dedup

    d = _t(spark, sf_dir, "documents")
    new = d.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 1,
            F.concat(F.col("text"), F.lit(" novelmarker"),
                     F.col("doc_id").cast("string")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return bloom_dedup(new, d, n_hashes=5, n_bits=1 << 16)


def _q_doc_robots_parse(spark, sf_dir):
    """robots.txt PARSING (the front half of REP; doc_url_robots
    verifies the evaluation half): seven deterministic synthetic
    robots bodies — comments, a non-matching googlebot group, a
    multi-UA '*' group, an empty Disallow, and (on even hosts) an
    exact 'databot' group that per RFC 9309 most-specific-match
    SUPERSEDES the '*' group — parsed for agent='databot'. The
    oracle builds the identical bodies with chr(10) and replicates
    the grouping windows."""
    from dce_spark.functions.urlops import parse_robots

    ks = F.col("k").cast("string")
    hosts = (
        _t(spark, sf_dir, "documents")
        .select(F.pmod(F.col("doc_id"), F.lit(7)).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), ks, F.lit(".test")).alias("host"),
            F.concat(
                F.lit("# robots for host "), ks,
                F.lit("\nUser-agent: googlebot\n"
                      "Disallow: /google-only\n\n"
                      "User-agent: *\nUser-agent: otherbot\n"
                      "Disallow: /p"), ks,
                F.lit("/\nAllow: /p"), ks,
                F.lit("/ok\nDisallow:\n"),
                F.when(
                    F.pmod(F.col("k"), F.lit(2)) == 0,
                    F.concat(
                        F.lit("User-agent: databot\nDisallow: /exact"),
                        ks, F.lit("\n"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("body"),
        )
    )
    return parse_robots(hosts, agent="databot")


def _q_doc_robots_directives(spark, sf_dir):
    """Crawl-delay + Sitemap extraction for agent='databot' over
    synthesized bodies: googlebot group's delay must never surface,
    even hosts obey their exact databot group (delay k, with a second
    '9' line proving MIN), odd hosts fall back to '*' (delay k.5), a
    non-numeric 'Crawl-delay: fast' is rejected, and sitemaps are
    file-global regardless of grouping. The oracle states the
    CLOSED-FORM expected table — any grouping/selection/min bug in
    robots_directives breaks the hash."""
    from dce_spark.functions.urlops import robots_directives

    ks = F.col("k").cast("string")
    hosts = (
        _t(spark, sf_dir, "documents")
        .select(F.pmod(F.col("doc_id"), F.lit(7)).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), ks, F.lit(".test")).alias("host"),
            F.concat(
                F.lit("User-agent: googlebot\nCrawl-delay: 1\n"
                      "Disallow: /g\n\n"
                      "User-agent: *\nCrawl-delay: fast\n"
                      "Crawl-delay: "), ks,
                F.lit(".5\nDisallow: /x\n"),
                F.when(
                    F.pmod(F.col("k"), F.lit(2)) == 0,
                    F.concat(
                        F.lit("User-agent: databot\nCrawl-delay: 9\n"
                              "Crawl-delay: "), ks, F.lit("\n"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("Sitemap: https://h"), ks,
                F.lit(".test/sitemap"), ks, F.lit(".xml\n"),
                F.when(
                    F.pmod(F.col("k"), F.lit(3)) == 0,
                    F.concat(F.lit("Sitemap: https://h"), ks,
                             F.lit(".test/extra.xml\n")),
                ).otherwise(F.lit("")),
            ).alias("body"),
        )
    )
    return robots_directives(hosts, agent="databot")


def _q_doc_fetch_schedule(spark, sf_dir):
    """Full REP-to-schedule composition: the robots_directives bodies
    feed the politeness scheduler over a frontier of one URL per
    document on the same 7 hosts. Slots are per-host url-ordered;
    not_before_ms = slot * crawl-delay(ms), with odd hosts on the '*'
    fallback delay and even hosts on their exact databot group."""
    from dce_spark.functions.urlops import schedule_fetches

    frontier = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".test/page"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    directives = _q_doc_robots_directives(spark, sf_dir)
    return schedule_fetches(frontier, directives)


def _q_doc_tfidf(spark, sf_dir):
    from dce_spark.functions.textops import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), top_k=3)


def _q_doc_chunks(spark, sf_dir):
    """Fixed-window token chunking (32-token windows, 8 overlap so
    the multi-chunk path is exercised on this corpus's 20-100-token
    docs)."""
    from dce_spark.functions.textops import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def _q_doc_host_quota(spark, sf_dir):
    """Domain balancing over the messy-URL table: quota 5 per host
    (hosts carry tens-to-hundreds of docs at test SFs, so the cap
    genuinely bites)."""
    from dce_spark.functions.urlops import host_quota_sample

    return host_quota_sample(_messy_urls(spark, sf_dir), max_per_host=5)


def _q_doc_image_meta(spark, sf_dir):
    """Codec-free image metadata: REAL PNG payloads are synthesized
    from doc_id (signature + IHDR with per-doc dimensions, via unhex)
    and parsed by the real header kernel; declared metadata cycles
    truth/lie/absent so meta_matches exercises all three states. The
    oracle mirrors the CONSTRUCTION — a parser regression breaks the
    value hash."""
    from dce_spark.functions.multimodal import image_meta

    did = F.col("doc_id").cast("long")
    w = (F.pmod(did, F.lit(640)) + 1).cast("int")
    h = (F.pmod(did, F.lit(480)) + 1).cast("int")
    good = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0802"),
    )
    # Damage states so the driver hash proves parser TOTALITY, not
    # just the happy path: doc_id%5==3 -> PNG truncated mid-IHDR
    # (18 bytes, below the 24-byte floor); %5==4 -> 17 bytes of
    # md5-derived garbage behind a 0x00 lead byte (which no container
    # magic starts with, so recognition is deterministically impossible
    # rather than md5-lottery-dependent). Both must parse to
    # format=NULL with exact n_bytes.
    trunc = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        F.substring(F.lpad(F.hex(w), 8, "0"), 1, 4),
    )
    garbage = F.concat(
        F.lit("00"), F.md5(F.concat(F.lit("img:"), did.cast("string")))
    )
    payload = F.unhex(
        F.when(F.pmod(did, F.lit(5)) == 3, trunc)
        .when(F.pmod(did, F.lit(5)) == 4, garbage)
        .otherwise(good)
    )
    media = _t(spark, sf_dir, "documents").select(
        did.alias("media_id"),
        payload.alias("payload"),
        F.when(F.pmod(did, F.lit(3)) == 0, w)
        .when(F.pmod(did, F.lit(3)) == 1, (w + 1).cast("int"))
        .alias("width"),
        h.alias("height"),
    )
    return image_meta(media)


def _q_doc_dsir(spark, sf_dir):
    """DSIR importance weights: source 'src0' plays the target domain,
    every other source is the raw crawl to be tilted toward it. See
    textops.dsir_weights for the hashed-n-gram fixed-point design."""
    from dce_spark.functions.textops import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter("source <> 'src0'"),
        docs.filter("source = 'src0'"),
        n_buckets=1024,
    )


def _q_doc_unigram_stats(spark, sf_dir):
    from dce_spark.functions.textops import unigram_stats

    return unigram_stats(_t(spark, sf_dir, "documents"))


def _q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 50th document plays the
    held-out benchmark set; docs sharing any 3-gram with it are
    flagged. Broadcast semi-probe of the benchmark shingles — see
    textops.decontaminate for the 100-TB shape."""
    from dce_spark.functions.textops import decontaminate

    d = _t(spark, sf_dir, "documents")
    benchmark = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return decontaminate(d, benchmark, k=3)


def _q_doc_pii_redact(spark, sf_dir):
    """PII scrub over text deterministically augmented with synthetic
    contact strings (the corpus itself is wordlist text, so the
    augmentation is what proves the regexes fire identically in both
    engines)."""
    from dce_spark.functions.textops import pii_redact

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            did.cast("string"),
            F.lit("@mail.example.com from 10.0."),
            F.pmod(did, F.lit(256)).cast("string"),
            F.lit(".7 call +14155550"),
            F.lpad(F.pmod(did, F.lit(100)).cast("string"), 3, "0"),
        ),
    )
    return pii_redact(aug)


def _char_entropy_sql() -> str:
    """DuckDB mirror of textops.char_entropy: identical fixed class
    order so the f64 accumulation is bit-comparable (ULP differences
    between libm/JVM log are absorbed by round(...,6))."""
    from dce_spark.functions.textops import _ENTROPY_CLASSES

    cnts = [
        f"CAST(length(t) - length(regexp_replace(t, '{c}', '', 'g'))"
        f" AS DOUBLE)"
        for c in _ENTROPY_CLASSES
    ]
    cols = ",\n                   ".join(
        f"{e} AS c{i}" for i, e in enumerate(cnts)
    )
    other = "total - (" + " + ".join(f"c{i}" for i in range(len(cnts))) + ")"
    terms = [f"c{i}" for i in range(len(cnts))] + ["c_other"]
    acc = " + ".join(
        f"(CASE WHEN {t} > 0 THEN -({t}/total) * ln({t}/total) / ln(2.0)"
        f" ELSE 0.0 END)"
        for t in terms
    )
    return f"""
        WITH base AS (
          SELECT doc_id, lower(text) AS t,
                 CAST(length(lower(text)) AS DOUBLE) AS total
          FROM documents
        ), cnts AS (
          SELECT doc_id, total,
                   {cols}
          FROM base
        ), withother AS (
          SELECT *, {other} AS c_other FROM cnts
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE WHEN total > 0 THEN round({acc}, 6)
                    ELSE 0.0 END AS char_entropy
        FROM withother
    """


def _q_events_last_max(spark, sf_dir):
    # Top-1 per event_type via max(struct(value, event_id)) — struct max
    # compares lexicographically, i.e. highest value then highest
    # event_id among ties. A row_number window over the ~5-value
    # event_type key would sort each type's entire history through one
    # reducer at scale; the aggregate gets map-side partial combine.
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.col("value").alias("value"),
                    F.col("event_id").cast("long").alias("event_id"),
                )
            ).alias("t")
        )
        .select(
            "event_type",
            F.col("t.value").alias("max_value"),
            F.col("t.event_id").alias("last_event_id"),
        )
    )


def _q_tpch_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").cast("long").alias("count_order"),
            (
                F.sum(d("l_quantity")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_qty"),
        )
    )


def _q_tpch_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("orders_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def _merge_q(qa, qb, drop_b=(), key: str = "doc_id"):
    """Registry-level consolidation of two same-grain queries into one
    key-joined result. The OPERATORS stay separate (each keeps its own
    implementation, unit tests, and joined output columns in the
    oracle comparison); only the driver-gate entry is shared, because
    the gate verifies the FIRST ~50 registry entries per round and
    redundant same-grain projections were crowding out never-verified
    queries."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        b = qb(spark, sf_dir)
        for c in drop_b:
            b = b.drop(c)
        return qa(spark, sf_dir).join(b, key)

    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters operationally: the driver's correctness gate
    # verifies the FIRST ~50 entries in dict order (50 exactly in r6).
    # Rotation policy (round-7): (1) the 20 entries past the cap in
    # round 6 (last driver row r05) rotate IN first, so every query
    # again has a driver row within one round; (2) the heavily
    # optimization-touched queries stay in the front 50 (minhash /
    # shingle / simhash / dsir kernels, emb pairing kernels, curate
    # cuts) so the changed implementations re-verify under the driver
    # gate; (3) the 20 rotated OUT at the bottom are stable queries
    # freshly verified green in the round-6 driver gate, so every
    # registered query has a driver row in r06 ∪ r07. All 70 are
    # re-verified locally each run by tests/test_oracles.py.
    return {
        # ---- rotated IN: the 20 entries past r6's cap (last
        # ---- driver row r05) ----
        "doc_c4_filter": _q_doc_c4_filter,
        "doc_simhash": _q_doc_simhash,
        "emb_cosine_threshold": _q_emb_cosine_threshold,
        "emb_brute_topk": _q_emb_brute_topk,
        "doc_minhash_incremental": _q_doc_minhash_incremental,
        "doc_dsir": _q_doc_dsir,
        "doc_robots_directives": _q_doc_robots_directives,
        "doc_fetch_schedule": _q_doc_fetch_schedule,
        "doc_minhash_best": _q_doc_minhash_best,
        "doc_lang_id": _q_doc_lang_id,
        "doc_url_normalize": _q_doc_url_normalize,
        "doc_lang_distribution": _q_doc_lang_distribution,
        "doc_pack_shards": _q_doc_pack_shards,
        "doc_distinct_sketch": _q_doc_distinct_sketch,
        "doc_sample": _q_doc_sample,
        "events_sessionize": _q_events_sessionize,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_image_meta": _q_doc_image_meta,
        "doc_bloom_dedup": _q_doc_bloom_dedup,
        "doc_robots_parse": _q_doc_robots_parse,
        # ---- this round's optimization-touched queries (new
        # ---- kernels / restructures) stay under the gate ----
        "doc_boilerplate_strip": _q_doc_boilerplate_strip,
        "emb_ivf_topk": _q_emb_ivf_topk,
        "emb_semdedup": _q_emb_semdedup,
        "emb_semdedup_far": _q_emb_semdedup_far,
        "emb_kmeans": _q_emb_kmeans,
        "emb_lsh_topk": _q_emb_lsh_topk,
        "emb_dedup": _q_emb_dedup,
        "doc_curate": _q_doc_curate,
        "doc_pii_redact": _q_doc_pii_redact,
        "doc_decontaminate": _q_doc_decontaminate,
        "doc_curate_full": _q_doc_curate_full,
        "doc_curate_strict": _q_doc_curate_strict,
        "doc_tfidf": _q_doc_tfidf,
        "doc_chunks": _q_doc_chunks,
        "doc_lm_scores": _merge_q(
            _q_doc_unigram_stats, _q_doc_cross_entropy, ("n_tokens",)
        ),
        "doc_quality_signals": _merge_q(
            _q_doc_quality, _q_doc_gopher_quality
        ),
        "doc_text_stats": _merge_q(
            _q_doc_repetition, _q_doc_char_entropy
        ),
        "cetd_extract_content": _q_cetd_content,
        "doc_ngram_jaccard": _q_doc_ngram_jaccard,
        "doc_minhash_bands": _q_doc_minhash_bands,
        "doc_minhash_dedup": _q_doc_minhash_dedup,
        "doc_minhash_cc": _q_doc_minhash_cc,
        "doc_line_dedup": _q_doc_line_dedup,
        "doc_quality_model": _q_doc_quality_model,
        "doc_filter_funnel": _q_doc_filter_funnel,
        "doc_span_dedup": _q_doc_span_dedup,
        "doc_dup_ngrams": _q_doc_dup_ngrams,
        "doc_fingerprints": _merge_q(
            _q_doc_fingerprint, _q_doc_rolling_fingerprint
        ),
        "events_type_stats": _merge_q(
            _q_events_last_max, _q_events_json_props, key="event_type"
        ),
        "events_rollup": _q_events_rollup,
        # ---- past the ~50-row driver cap: r06-green, stable,
        # ---- unchanged or guard-only this round ----
        "doc_split_assign": _q_doc_split_assign,
        "events_asof": _q_events_asof,
        "events_range_join": _q_events_range_join,
        "tpch_pricing_summary": _q_tpch_pricing_summary,
        "tpch_revenue_by_nation": _q_tpch_revenue_by_nation,
        "doc_mixture": _q_doc_mixture,
        "doc_length_quantiles": _q_doc_length_quantiles,
        "cetd_eval_scores": _q_cetd_eval_scores,
        "doc_host_quota": _q_doc_host_quota,
        "cetd_extract_article": _q_cetd_article,
        "cetd_extract_markdown": _q_cetd_markdown,
        "cetd_extract_links": _q_cetd_links,
        "doc_url_dedup": _q_doc_url_dedup,
        "doc_host_stats": _q_doc_host_stats,
        "doc_url_latest": _q_doc_url_latest,
        "doc_url_blocklist": _q_doc_url_blocklist,
        "doc_url_robots": _q_doc_url_robots,
        "doc_link_edges": _q_doc_link_edges,
        "doc_host_pagerank": _q_doc_host_pagerank,
        "doc_token_counts": _merge_q(
            _q_doc_token_count, _q_doc_token_count_bpe
        ),
    }


# ---------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------

_STOP = "('the','and','of','to','a','in','is','it','for','on')"

# messy-URL construction (mirrors _messy_urls exactly) + the url
# canonicalization chain re-stated in the DuckDB dialect; COALESCE
# around array_to_string because DuckDB renders an empty list as NULL
# where Spark's array_join renders ''
_URL_NORM_CTE = """
WITH u AS (
  SELECT doc_id,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'HTTP://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
        || '.COM:80/a/' || CAST(doc_id AS VARCHAR)
        || '?utm_source=feed&id=' || CAST(doc_id % 11 AS VARCHAR)
        || '&fbclid=xyz#frag'
      WHEN 1 THEN 'https://Example.com:443/x/' || CAST(doc_id % 13 AS VARCHAR)
      WHEN 2 THEN 'HTTPS://EXAMPLE' || CAST(doc_id % 3 AS VARCHAR) || '.com/'
      WHEN 3 THEN 'https://example' || CAST(doc_id % 3 AS VARCHAR) || '.com'
      ELSE 'http://Site.org/p?gclid=1&q=' || CAST(doc_id % 10 AS VARCHAR)
        || '&ref=rss#sec'
    END AS url
  FROM documents
), s1 AS (
  SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u
), s2 AS (
  SELECT doc_id,
         regexp_extract(nf,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', 0) AS head_raw,
         regexp_replace(nf,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS tail
  FROM s1
), s2b AS (
  SELECT doc_id, tail,
         lower(regexp_extract(head_raw,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://', 0)) AS scheme,
         regexp_extract(regexp_replace(head_raw,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^[^/@]*@', 0) AS ui,
         lower(regexp_replace(regexp_replace(head_raw,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^[^/@]*@', '')) AS hp
  FROM s2
), s3 AS (
  SELECT doc_id,
         scheme || ui ||
         CASE WHEN scheme = 'http://'
                   AND substr(hp, length(hp) - 2, 3) = ':80'
              THEN substr(hp, 1, length(hp) - 3)
              WHEN scheme = 'https://'
                   AND substr(hp, length(hp) - 3, 4) = ':443'
              THEN substr(hp, 1, length(hp) - 4)
              ELSE hp END AS head,
         regexp_extract(tail, '^[^?]*', 0) AS path0,
         COALESCE(array_to_string(
           list_filter(
             string_split(regexp_replace(tail, '^[^?]*[?]?', ''), '&'),
             p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
                  AND substr(p, 1, 7) <> 'fbclid='
                  AND substr(p, 1, 6) <> 'gclid='
                  AND substr(p, 1, 8) <> 'msclkid='),
           '&'), '') AS q
  FROM s2b
), norm AS (
  SELECT doc_id,
         head || CASE WHEN path0 = '/' AND q = '' THEN '' ELSE path0 END
              || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm
  FROM s3
)
"""

# curation-pipeline oracle, split into shared fragments so the plain
# and strict variants cannot silently diverge: CORE is gate -> exact
# dedup -> minhash band keeper (survivors = g3); TAIL is
# decontamination + shard packing over the __SURV__ placeholder CTE
_CURATE_CORE_CTE = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), gated AS (
  SELECT * FROM base WHERE n_tokens >= 20
), exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY text
), g2 AS (
  SELECT g.* FROM gated g JOIN exact_keep USING (doc_id)
), toks2 AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM g2
), sh2 AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks2, UNNEST(CASE WHEN len(tk) >= 3
                          THEN range(1, len(tk) - 1)
                          ELSE [] END) AS u(i)
), sig AS (
  SELECT doc_id,
         min(md5('0:' || shingle)) AS m0,
         min(md5('1:' || shingle)) AS m1,
         min(md5('2:' || shingle)) AS m2,
         min(md5('3:' || shingle)) AS m3,
         min(md5('4:' || shingle)) AS m4,
         min(md5('5:' || shingle)) AS m5,
         min(md5('6:' || shingle)) AS m6,
         min(md5('7:' || shingle)) AS m7
  FROM sh2 GROUP BY doc_id
), bands AS (
  SELECT doc_id, md5(m0 || m1 || m2 || m3) AS band FROM sig
  UNION ALL
  SELECT doc_id, md5(m4 || m5 || m6 || m7) AS band FROM sig
), keeper AS (
  SELECT band, min(doc_id) AS keep_id FROM bands GROUP BY band
), decided AS (
  SELECT b.doc_id, min(k.keep_id) AS keep_id
  FROM bands b JOIN keeper k USING (band)
  GROUP BY b.doc_id
), g3 AS (
  SELECT g.* FROM g2 g
  LEFT JOIN decided d ON d.doc_id = g.doc_id
  WHERE COALESCE(d.keep_id, g.doc_id) = g.doc_id
)"""

_CURATE_TAIL_CTE = """
, bench_toks AS (
  SELECT string_split(text, ' ') AS tk FROM documents
  WHERE doc_id % 50 = 0
), bench_sh AS (
  SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS shingle
  FROM bench_toks, UNNEST(CASE WHEN len(tk) >= 3
                               THEN range(1, len(tk) - 1)
                               ELSE [] END) AS u(i)
), sh3 AS (
  SELECT DISTINCT g.doc_id,
         array_to_string(string_split(g.text, ' ')[i:i+2], ' ')
           AS shingle
  FROM __SURV__ g, UNNEST(
    CASE WHEN len(string_split(g.text, ' ')) >= 3
         THEN range(1, len(string_split(g.text, ' ')) - 1)
         ELSE [] END) AS u(i)
), contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh3 s JOIN bench_sh b USING (shingle)
), g4 AS (
  SELECT g.* FROM __SURV__ g
  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT source, doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER w - n_tokens)
                  / 4096.0) AS BIGINT) AS shard
FROM g4
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING)
"""

# URL-hygiene keep-set CTEs for the full curation oracle, spliced
# after _URL_NORM_CTE: blocklist suffix hits + robots longest-match
# verdicts (both restated exactly as in the standalone doc_url_*
# oracles) -> url_ok survivors -> latest-snapshot keeper per
# canonical URL (argmax via the integer-encoded ts*10^6+id key;
# doc_id < 10^6 at every test SF)
_URL_KEEP_CTES = """
, hosted AS (
  SELECT doc_id, url,
         regexp_extract(lower(url),
           '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)', 1) AS host,
         regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/.*)?$', 1) AS rawpath
  FROM u
), bl(suffix) AS (VALUES ('example1.com'), ('site.org'))
, sufs AS (
  SELECT doc_id, host, string_split(host, '.') AS parts FROM hosted
), ex AS (
  SELECT doc_id, array_to_string(parts[i:len(parts)], '.') AS suffix
  FROM sufs, UNNEST(range(1, len(parts) + 1)) AS u2(i)
), blhits AS (
  SELECT DISTINCT e.doc_id FROM ex e JOIN bl USING (suffix)
), p AS (
  SELECT doc_id, host,
         CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path
  FROM hosted
), rrules(rhost, allow, prefix) AS (
  VALUES ('site.org', false, '/p'),
         ('site.org', true, '/p?gclid=1&q=4'),
         ('www.example0.com', false, '/a/')
), rbest AS (
  SELECT p.doc_id,
         max(2 * length(r.prefix)
             + CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
  FROM p JOIN rrules r ON p.host = r.rhost
  WHERE starts_with(p.path, r.prefix)
  GROUP BY p.doc_id
), url_ok AS (
  SELECT h.doc_id FROM hosted h
  LEFT JOIN blhits ON blhits.doc_id = h.doc_id
  LEFT JOIN rbest ON rbest.doc_id = h.doc_id
  WHERE blhits.doc_id IS NULL
    AND COALESCE(rbest.best % 2 = 1, true)
), url_keep AS MATERIALIZED (
  -- MATERIALIZED: the curation CTEs below reference their base many
  -- times, and DuckDB re-inlines plain CTEs per reference — without
  -- the keyword this whole URL chain re-evaluates inside every gate
  -- (measured 123 s -> 4 s at sf0.01)
  SELECT CAST(max((CAST(n.doc_id AS BIGINT) * 7919) % 17 * 1000000
                  + n.doc_id) % 1000000 AS BIGINT) AS doc_id
  FROM norm n JOIN url_ok USING (doc_id)
  GROUP BY n.url_norm
)
"""


# unigram cross-entropy scoring CTEs over the __CE_IN__ placeholder
# relation (doc_id BIGINT, source, text) — shared verbatim between the
# standalone doc_cross_entropy oracle and the strict-curation gate so
# the fixed-point log math cannot diverge between the two
_CE_CTES = """
, ce_toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM __CE_IN__
), ce_vocab AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM ce_toks GROUP BY source, tok
), ce_lp AS (
  SELECT source, tok,
         CAST(round(log2(cnt) * 1000000, 0) AS BIGINT) AS lp_micro
  FROM ce_vocab
), ce_totals AS (
  SELECT source,
         CAST(round(log2(sum(cnt)) * 1000000, 0) AS BIGINT)
           AS logn_micro
  FROM ce_vocab GROUP BY source
), ce_perdoc AS (
  SELECT t.doc_id, t.source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(v.lp_micro) AS BIGINT) AS sum_lp
  FROM ce_toks t JOIN ce_lp v USING (source, tok)
  GROUP BY t.doc_id, t.source
), ce_scored AS (
  SELECT p.doc_id, p.source, p.n_tokens,
         tt.logn_micro
           - CAST(floor(CAST(p.sum_lp AS DOUBLE) / p.n_tokens)
                  AS BIGINT) AS h_micro
  FROM ce_perdoc p JOIN ce_totals tt USING (source)
), ce_th AS (
  SELECT source,
         list_sort(list(h_micro))
           [CAST(ceil(0.25 * count(*)) AS BIGINT)] AS q25,
         list_sort(list(h_micro))
           [CAST(ceil(0.75 * count(*)) AS BIGINT)] AS q75
  FROM ce_scored GROUP BY source
)"""

# synthetic link frame over the messy-URL table, aggregated to the
# host edge list — shared by doc_link_edges and doc_host_pagerank so
# the graph the rank runs on IS the graph the edge query verifies
_LINK_EDGES_CTE = _URL_NORM_CTE.replace(
    "), norm AS (",
    """), hosted AS (
  SELECT doc_id,
         regexp_extract(lower(url),
           '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
           1) AS src_host,
         [
           'https://hub' || CAST(doc_id % 4 AS VARCHAR)
             || '.example.net/page/' || CAST(doc_id AS VARCHAR),
           '/local/nav',
           CASE WHEN doc_id % 3 = 0
                THEN 'http://Site.org/p?q=0'
                ELSE '/local/footer' END
         ] AS links
  FROM u
), norm AS (""",
) + """
, e0 AS (
  SELECT src_host, unnest(links) AS dst FROM hosted
), e1 AS (
  SELECT src_host,
         COALESCE(NULLIF(regexp_extract(lower(dst),
           '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
           1), ''), src_host) AS dst_host
  FROM e0
), edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM e1 GROUP BY src_host, dst_host
)"""


def _pagerank_tail(iterations: int = 3) -> str:
    """Unrolled integer-fixed-point PageRank over the `edges` CTE —
    the exact arithmetic of graphops.host_pagerank (micro-unit BIGINT,
    per-edge truncating division, internal edges dropped)."""
    ctes = ["""
, ef AS (
  SELECT src_host, dst_host, n_links AS w FROM edges
  WHERE src_host <> dst_host
), nodes AS (
  -- from the UNFILTERED edges: all-internal hosts keep their
  -- teleport-base row (mirrors graphops.host_pagerank)
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges)
), outdeg AS (
  SELECT src_host, sum(w) AS od FROM ef GROUP BY src_host
), r0 AS (
  SELECT host, CAST(1000000 AS BIGINT) AS r FROM nodes
)"""]
    prev = "r0"
    for k in range(1, iterations + 1):
        ctes.append(f"""
, i{k} AS (
  SELECT n.host,
         CAST(150000 + (850000 * COALESCE(s.inc, 0)) // 1000000
              AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst_host AS host, sum((r.r * e.w) // o.od) AS inc
    FROM ef e JOIN {prev} r ON r.host = e.src_host
              JOIN outdeg o ON o.src_host = e.src_host
    GROUP BY e.dst_host) s ON s.host = n.host
)""")
        prev = f"i{k}"
    ctes.append(f"\nSELECT host, r AS rank_micro FROM {prev}")
    return "".join(ctes)


_PAGERANK_TAIL = _pagerank_tail(3)


# dup-ngram cap + cross-entropy tail drop over the minhash survivors
# (g3 -> g3b -> g3c), spliced between _CURATE_CORE_CTE and
# _CURATE_TAIL_CTE for the strict curation variant
_CURATE_STRICT_GATES_CTE = """
, sh5 AS (
  SELECT DISTINCT g.doc_id,
         array_to_string(string_split(g.text, ' ')[i:i+4], ' ')
           AS shingle
  FROM g3 g, UNNEST(
    CASE WHEN len(string_split(g.text, ' ')) >= 5
         THEN range(1, len(string_split(g.text, ' ')) - 3)
         ELSE [] END) AS u(i)
), dfc5 AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df
  FROM sh5 GROUP BY shingle
), dupf AS (
  SELECT s.doc_id,
         CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS frac
  FROM sh5 s JOIN dfc5 d USING (shingle)
  GROUP BY s.doc_id
), g3b AS (
  SELECT g.* FROM g3 g
  LEFT JOIN dupf f ON f.doc_id = g.doc_id
  WHERE NOT (COALESCE(f.frac, 0) > 0.5)
)""" + _CE_CTES.replace("__CE_IN__", "g3b") + """
, g3c AS (
  SELECT g.* FROM g3b g
  JOIN ce_scored s ON s.doc_id = g.doc_id
  JOIN ce_th t ON t.source = g.source
  WHERE s.h_micro <= t.q75
)"""


# Lloyd's k-means unrolled (init = 8 lowest vec_ids, one centroid
# update, final assignment) on 1e-6 fixed-point integer coordinates —
# shared by the emb_kmeans and emb_semdedup oracles. Ends with the CTE
# `assign(vec_id, cluster)`.
_KMEANS_CTE = """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * 1000000) AS BIGINT)) AS em
  FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
              AS BIGINT) AS j, em
  FROM (SELECT vec_id, em FROM e ORDER BY vec_id LIMIT 8)
), p1 AS (
  SELECT e.vec_id, c.j,
         sum((e.em[i] - c.em[i]) * (e.em[i] - c.em[i])) AS d
  FROM e, c0 c, UNNEST(range(1, 65)) AS t(i)
  GROUP BY 1, 2
), a1 AS (
  SELECT vec_id,
         CAST(min(d * 100 + j) % 100 AS BIGINT) AS cluster
  FROM p1 GROUP BY 1
), s1 AS (
  SELECT a1.cluster AS j, t.i,
         CAST(floor(sum(e.em[t.i]) / count(*)) AS BIGINT) AS v
  FROM e JOIN a1 USING (vec_id),
       UNNEST(range(1, 65)) AS t(i)
  GROUP BY 1, 2
), c1 AS (
  SELECT c0.j, COALESCE(u.em, c0.em) AS em
  FROM c0 LEFT JOIN (
    SELECT j, list(v ORDER BY i) AS em FROM s1 GROUP BY j
  ) u USING (j)
), p2 AS (
  SELECT e.vec_id, c.j,
         sum((e.em[i] - c.em[i]) * (e.em[i] - c.em[i])) AS d
  FROM e, c1 c, UNNEST(range(1, 65)) AS t(i)
  GROUP BY 1, 2
), assign AS (
  SELECT vec_id,
         CAST(min(d * 100 + j) % 100 AS BIGINT) AS cluster
  FROM p2 GROUP BY vec_id
)
"""

_SHINGLES_CTE = """
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(CASE WHEN len(tk) >= 3
                         THEN range(1, len(tk) - 1)
                         ELSE [] END) AS u(i)
)
"""


def _cosine_sql(q_filter: str, c_filter: str, extra_q: str = "", extra_c: str = "",
                join_cond: str = "") -> str:
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q{extra_q}
          FROM embeddings WHERE {q_filter}
        ), c AS (
          SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS c{extra_c}
          FROM embeddings WHERE {c_filter}
        ), scored AS (
          SELECT query_id, cand_id,
                 round(list_dot_product(q.q, c.c)
                   / (sqrt(list_dot_product(q.q, q.q))
                      * sqrt(list_dot_product(c.c, c.c))), 6) AS cosine_r
          FROM c JOIN q ON {join_cond or 'true'}
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(cand_id AS BIGINT) AS cand_id,
               CAST(rn AS BIGINT) AS rank, cosine_r
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_r DESC, cand_id) AS rn FROM scored)
        WHERE rn <= 5
    """


def _lsh_bucket_sql_expr(
    col: str, n_planes: int = 6, dim: int = 64, table: int = 0
) -> str:
    """DuckDB expression computing the same deterministic integer-
    hyperplane bucket as simsearch._lsh_codes."""
    from dce_spark.functions.simsearch import _hyperplane_weights

    planes = _hyperplane_weights(n_planes, dim, table)
    bits = []
    for p, w in enumerate(planes):
        lst = "[" + ", ".join(f"{x:.1f}" for x in w) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({col}, {lst}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _simhash_sql() -> str:
    """DuckDB mirror of textops.simhash64 (md5-hex-digit bits)."""
    digit_cols = ",\n                ".join(
        f"instr('0123456789abcdef', substr(hx, {k + 1}, 1)) - 1 AS d{k}"
        for k in range(16)
    )
    bit_sums = ",\n                ".join(
        f"sum(CASE WHEN (d{b // 4} & {1 << (b % 4)}) != 0 THEN 1 ELSE -1 END)"
        f" AS b{b}"
        for b in range(64)
    )
    fold_terms = []
    for b in range(64):
        if b == 63:
            fold_terms.append(
                f"(CASE WHEN b63 > 0 THEN CAST(-9223372036854775808 AS BIGINT)"
                f" ELSE 0 END)"
            )
        else:
            fold_terms.append(
                f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b})"
                f" ELSE 0 END)"
            )
    fold = " + ".join(fold_terms)
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), h AS (
          SELECT doc_id, md5(tok) AS hx FROM toks
        ), d AS (
          SELECT doc_id,
                {digit_cols}
          FROM h
        ), s AS (
          SELECT doc_id,
                {bit_sums}
          FROM d GROUP BY doc_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST({fold} AS BIGINT) AS simhash
        FROM s
    """


# registry consolidation (see _merge_q): merged key -> (key a, key b,
# b's joined columns). The per-operator SQL bodies stay intact below;
# the merged oracle wraps both as CTEs and joins on doc_id, so every
# operator's values are still hash-compared — just inside one row.
_ORACLE_MERGES = [
    ("doc_lm_scores", "doc_unigram_stats", "doc_cross_entropy",
     ["source", "cross_entropy", "bucket"]),
    ("doc_token_counts", "doc_token_count", "doc_token_count_bpe",
     ["bpe_token_count"]),
    ("doc_fingerprints", "doc_fingerprint", "doc_rolling_fingerprint",
     ["rolling_hash"]),
    ("doc_quality_signals", "doc_quality_score", "doc_gopher_quality",
     ["n_words", "mean_word_len", "alpha_frac", "stop_hits", "keep"]),
    ("doc_text_stats", "doc_repetition", "doc_char_entropy",
     ["char_entropy"]),
    ("events_type_stats", "events_last_max", "events_json_props",
     ["events", "k_sum", "k_min", "k_max"], "event_type"),
]


def _merged_sql(
    sa: str, sb: str, b_cols: list[str], key: str = "doc_id"
) -> str:
    cols = ", ".join(f"mqb.{c}" for c in b_cols)
    return (
        f"WITH mqa AS ({sa}), mqb AS ({sb})\n"
        f"SELECT mqa.*, {cols} FROM mqa JOIN mqb USING ({key})"
    )


def oracle_sql() -> dict[str, str]:
    sql = {
        # cetd_*: the engine is not SQL-expressible; the oracle is the
        # committed golden parquet generated from the tier-1 scalar path
        # (tools/make_cetd_goldens.py), which tests/ lock to the
        # reference's own assertions. Any Spark-side or engine-semantics
        # regression breaks the value hash.
        "cetd_extract_content": f"""
            SELECT url, status,
                   CAST(node_count AS BIGINT) AS node_count,
                   primary_script,
                   CAST(text_len AS BIGINT) AS text_len,
                   text_md5
            FROM read_parquet('{_GOLDEN_DIR}/golden_cetd_content.parquet')
        """,
        "cetd_extract_article": f"""
            SELECT url, status,
                   CAST(node_count AS BIGINT) AS node_count,
                   CAST(article_len AS BIGINT) AS article_len,
                   article_md5
            FROM read_parquet('{_GOLDEN_DIR}/golden_cetd_article.parquet')
        """,
        "cetd_extract_markdown": f"""
            SELECT url, status,
                   CAST(md_len AS BIGINT) AS md_len,
                   md_md5
            FROM read_parquet('{_GOLDEN_DIR}/golden_cetd_markdown.parquet')
        """,
        "cetd_extract_links": f"""
            SELECT url, status,
                   CAST(n_links AS BIGINT) AS n_links,
                   links_md5
            FROM read_parquet('{_GOLDEN_DIR}/golden_cetd_links.parquet')
        """,
        "cetd_eval_scores": f"""
            SELECT CAST(files AS BIGINT) AS files,
                   avg_precision_r, avg_recall_r, avg_f1_r, avg_dice_r
            FROM read_parquet('{_GOLDEN_DIR}/golden_eval_scores.parquet')
        """,
        "doc_exact_dedup": """
            SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY text
        """,
        "doc_token_count": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count
            FROM documents
        """,
        "doc_token_count_bpe": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
                     AS bpe_token_count
            FROM documents
        """,
        "doc_quality_score": """
            WITH t AS (
              SELECT doc_id, length(text) AS n_chars,
                     string_split(text, ' ') AS tk
              FROM documents
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(n_chars AS DOUBLE) / CAST(len(tk) AS DOUBLE)
                     AS avg_token_len,
                   CAST(len(list_filter(tk, x -> x IN %s)) AS DOUBLE)
                     / CAST(len(tk) AS DOUBLE) AS stopword_ratio
            FROM t
        """ % _STOP,
        "doc_lang_distribution": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS doc_count,
                   CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avg_chars
            FROM documents GROUP BY lang
        """,
        "doc_fingerprint": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                     AS fingerprint
            FROM documents
        """,
        "doc_lang_id": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ), s AS (
              SELECT doc_id,
                len(list_filter(tk, x -> x IN ('the','and','of','to','in','is'))) AS en,
                len(list_filter(tk, x -> x IN ('el','la','de','que','y','los'))) AS es,
                len(list_filter(tk, x -> x IN ('der','die','und','das','ist','von'))) AS de,
                len(list_filter(tk, x -> x IN ('le','la','et','les','des','est'))) AS fr
              FROM t
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                        WHEN es >= de AND es >= fr THEN 'es'
                        WHEN de >= fr THEN 'de'
                        ELSE 'fr' END AS pred_lang
            FROM s
        """,
        "doc_rolling_fingerprint": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                         t -> CAST(concat('0x', substr(md5(t), 1, 8))
                                   AS BIGINT))),
                     (acc, v) -> (acc * 31 + v) % 2147483647
                   ) AS rolling_hash
            FROM documents
        """,
        "doc_gopher_quality": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ), s AS (
              SELECT doc_id,
                     CAST(len(tk) AS BIGINT) AS n_words,
                     CAST(list_sum(list_transform(tk, x -> length(x)))
                          AS BIGINT) AS sum_len,
                     CAST(len(list_filter(tk,
                          x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                       AS alpha_cnt,
                     CAST(len(list_filter(tk, x -> x IN
                          ('the','be','to','of','and','that','have','with')))
                          AS BIGINT) AS stop_hits
              FROM t
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   n_words,
                   CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                     AS mean_word_len,
                   CAST(alpha_cnt AS DOUBLE) / CAST(n_words AS DOUBLE)
                     AS alpha_frac,
                   stop_hits,
                   (n_words >= 50 AND n_words <= 100000
                    AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
                    AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
                    AND CAST(alpha_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
                    AND stop_hits >= 2) AS keep
            FROM s
        """,
        # same gate rules as doc_gopher_quality, aggregated per source
        # into independent pass counts + in-order cumulative survival
        "doc_filter_funnel": """
            WITH t AS (
              SELECT source, string_split(text, ' ') AS tk FROM documents
            ), s AS (
              SELECT source,
                     CAST(len(tk) AS BIGINT) AS n_words,
                     CAST(list_sum(list_transform(tk, x -> length(x)))
                          AS BIGINT) AS sum_len,
                     CAST(len(list_filter(tk,
                          x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                       AS alpha_cnt,
                     CAST(len(list_filter(tk, x -> x IN
                          ('the','be','to','of','and','that','have','with')))
                          AS BIGINT) AS stop_hits
              FROM t
            ), f AS (
              SELECT source,
                     (n_words >= 50 AND n_words <= 100000) AS pw,
                     (CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= 3.0
                      AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                        <= 10.0) AS pl,
                     (CAST(alpha_cnt AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= 0.8) AS pa,
                     (stop_hits >= 2) AS ps
              FROM s
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN pw THEN 1 ELSE 0 END) AS BIGINT)
                     AS pass_words,
                   CAST(sum(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT)
                     AS pass_wordlen,
                   CAST(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT)
                     AS pass_alpha,
                   CAST(sum(CASE WHEN ps THEN 1 ELSE 0 END) AS BIGINT)
                     AS pass_stopwords,
                   CAST(sum(CASE WHEN pw AND pl THEN 1 ELSE 0 END)
                        AS BIGINT) AS surv_wordlen,
                   CAST(sum(CASE WHEN pw AND pl AND pa THEN 1 ELSE 0 END)
                        AS BIGINT) AS surv_alpha,
                   CAST(sum(CASE WHEN pw AND pl AND pa AND ps
                            THEN 1 ELSE 0 END) AS BIGINT) AS surv_all
            FROM f GROUP BY source
        """,
        "doc_repetition": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ), base AS (
              SELECT doc_id,
                     CAST(len(tk) AS BIGINT) AS n_tokens,
                     1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
                           / CAST(len(tk) AS DOUBLE) AS dup_token_frac
              FROM t
            ), bg AS (
              SELECT doc_id,
                     array_to_string(tk[i:i+1], ' ') AS bigram
              FROM t, UNNEST(CASE WHEN len(tk) >= 2
                                  THEN range(1, len(tk))
                                  ELSE [] END) AS u(i)
            ), cnts AS (
              SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt
              FROM bg GROUP BY doc_id, bigram
            ), top AS (
              SELECT doc_id, bigram AS top_bigram, cnt AS top_bigram_cnt
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY cnt DESC, bigram ASC) AS rn FROM cnts)
              WHERE rn = 1
            )
            SELECT CAST(base.doc_id AS BIGINT) AS doc_id,
                   base.n_tokens,
                   base.dup_token_frac,
                   top.top_bigram,
                   CAST(COALESCE(top.top_bigram_cnt, 0) AS BIGINT)
                     AS top_bigram_cnt,
                   CAST(COALESCE(top.top_bigram_cnt, 0) AS DOUBLE) * 2.0
                     / CAST(base.n_tokens AS DOUBLE) AS top_bigram_frac
            FROM base LEFT JOIN top ON top.doc_id = base.doc_id
        """,
        "doc_ngram_jaccard": _SHINGLES_CTE + """
            , sizes AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM sh GROUP BY doc_id
            ), rare AS (
              -- df-cap mirror of textops.ngram_jaccard_pairs(max_df=64)
              SELECT sh.* FROM sh
              JOIN (SELECT source, shingle FROM sh
                    GROUP BY source, shingle HAVING count(*) <= 64) ok
              USING (source, shingle)
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS i
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.source = b.source
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT CAST(doc_a AS BIGINT) AS doc_a,
                   CAST(doc_b AS BIGINT) AS doc_b,
                   CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE)
                     AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.1
        """,
        "doc_minhash_bands": _SHINGLES_CTE + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0:' || shingle)) AS m0,
                     min(md5('1:' || shingle)) AS m1,
                     min(md5('2:' || shingle)) AS m2,
                     min(md5('3:' || shingle)) AS m3,
                     min(md5('4:' || shingle)) AS m4,
                     min(md5('5:' || shingle)) AS m5,
                     min(md5('6:' || shingle)) AS m6,
                     min(md5('7:' || shingle)) AS m7
              FROM sh GROUP BY doc_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   md5(m0 || m1 || m2 || m3) AS band_a,
                   md5(m4 || m5 || m6 || m7) AS band_b
            FROM sig
        """,
        "doc_simhash": _simhash_sql(),
        "doc_minhash_dedup": _SHINGLES_CTE + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0:' || shingle)) AS m0,
                     min(md5('1:' || shingle)) AS m1,
                     min(md5('2:' || shingle)) AS m2,
                     min(md5('3:' || shingle)) AS m3,
                     min(md5('4:' || shingle)) AS m4,
                     min(md5('5:' || shingle)) AS m5,
                     min(md5('6:' || shingle)) AS m6,
                     min(md5('7:' || shingle)) AS m7
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, md5(m0 || m1 || m2 || m3) AS band FROM sig
              UNION ALL
              SELECT doc_id, md5(m4 || m5 || m6 || m7) AS band FROM sig
            ), keeper AS (
              SELECT band, min(doc_id) AS keep_id FROM bands GROUP BY band
            ), decided AS (
              SELECT b.doc_id, min(k.keep_id) AS keep_id
              FROM bands b JOIN keeper k USING (band)
              GROUP BY b.doc_id
            )
            -- total over documents: shingle-less docs keep themselves
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(dec.keep_id, d.doc_id) AS BIGINT) AS keep_id,
                   d.doc_id = COALESCE(dec.keep_id, d.doc_id) AS is_kept
            FROM documents d LEFT JOIN decided dec ON dec.doc_id = d.doc_id
        """,
        # DSIR: hashed unigram+bigram buckets, add-one smoothed
        # log-ratio per bucket in 1e-6 fixed point, integer per-doc sum
        "doc_dsir": """
            WITH rawd AS (
              SELECT doc_id, string_split(text, ' ') AS tk
              FROM documents WHERE source <> 'src0'
            ), tgtd AS (
              SELECT doc_id, string_split(text, ' ') AS tk
              FROM documents WHERE source = 'src0'
            ), rf AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5('ds1:' || gram), 1, 8))
                          AS BIGINT) % 1024 AS bucket
              FROM (
                SELECT doc_id, unnest(tk) AS gram FROM rawd
                UNION ALL
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
                FROM rawd, UNNEST(CASE WHEN len(tk) >= 2
                                       THEN range(1, len(tk))
                                       ELSE [] END) AS u(i)
              )
            ), tf AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5('ds1:' || gram), 1, 8))
                          AS BIGINT) % 1024 AS bucket
              FROM (
                SELECT doc_id, unnest(tk) AS gram FROM tgtd
                UNION ALL
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
                FROM tgtd, UNNEST(CASE WHEN len(tk) >= 2
                                       THEN range(1, len(tk))
                                       ELSE [] END) AS u(i)
              )
            ), rc AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r
              FROM rf GROUP BY bucket
            ), tc AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t
              FROM tf GROUP BY bucket
            ), ratio AS (
              SELECT rc.bucket,
                     CAST(round((log2(COALESCE(tc.cnt_t, 0) + 1)
                               - log2((SELECT sum(cnt_t) FROM tc) + 1024)
                               - log2(rc.cnt_r + 1)
                               + log2((SELECT sum(cnt_r) FROM rc) + 1024))
                              * 1000000) AS BIGINT) AS lr_micro
              FROM rc LEFT JOIN tc USING (bucket)
            )
            SELECT CAST(rf.doc_id AS BIGINT) AS doc_id,
                   CAST(sum(ratio.lr_micro) AS BIGINT) AS weight_micro,
                   CAST(count(*) AS BIGINT) AS n_features
            FROM rf JOIN ratio USING (bucket)
            GROUP BY rf.doc_id
        """,
        # Lloyd's k-means (k=8, ONE update round unrolled: init
        # assignment -> centroid update -> final assignment) on the
        # same fixed-point integers: init = 8 lowest vec_ids, update =
        # floor(sum/count) per coordinate with empty clusters keeping
        # their centroid. The SQL argmin is still the d*100+j encoding
        # (fine for a fixed k=8 oracle); the Spark side is the uncapped
        # struct-min over a broadcast centroid TABLE — same result.
        "emb_kmeans": _KMEANS_CTE + """
            SELECT vec_id, cluster FROM assign
        """,
        # SemDeDup with the bounded pairing exercised: same clustering,
        # oversize clusters (> 32) sub-sharded by the low _split_bits
        # bits of the table-1 16-plane LSH bucket, every (cluster, sub)
        # hard-chunked to 32 rows by vec_id order, then within-GROUP
        # cosine pruning (sequential f64 dot == Spark's zip_with fold),
        # keep the lowest vec_id of any >= 0.95 same-group pair
        "emb_semdedup": _KMEANS_CTE + f"""
            , sized AS (
              SELECT cluster, count(*) AS cnt FROM assign GROUP BY 1
            ), masked AS (
              SELECT cluster,
                     CASE WHEN cnt <= 32 THEN 0
                          ELSE (1 << LEAST(16, CAST(ceil(log2(
                                 ((cnt - 1) // 32) + 1)) AS INT))) - 1
                     END AS mask
              FROM sized
            ), withv AS (
              SELECT a.vec_id, a.cluster,
                     CAST(emb.embedding AS DOUBLE[]) AS v,
                     {_lsh_bucket_sql_expr(
                         'CAST(emb.embedding AS DOUBLE[])',
                         16, 64, table=1)} & m.mask AS sub
              FROM assign a
              JOIN embeddings emb ON emb.vec_id = a.vec_id
              JOIN masked m ON m.cluster = a.cluster
            ), chunked AS (
              SELECT *,
                     CAST(floor((row_number() OVER (
                       PARTITION BY cluster, sub ORDER BY vec_id
                     ) - 1) / 32) AS BIGINT) AS chunk
              FROM withv
            ), edges AS (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM chunked x JOIN chunked y
                ON x.cluster = y.cluster AND x.sub = y.sub
                   AND x.chunk = y.chunk AND x.vec_id < y.vec_id
              WHERE list_dot_product(x.v, y.v)
                    / (sqrt(list_dot_product(x.v, x.v))
                       * sqrt(list_dot_product(y.v, y.v))) >= 0.95
            ), sym AS (
              SELECT a, b FROM edges
              UNION ALL SELECT b, a FROM edges
            ), nbr AS (
              SELECT a AS vec_id, min(b) AS nbr FROM sym GROUP BY a
            )
            SELECT w.vec_id, w.cluster,
                   CAST(least(w.vec_id, COALESCE(nbr.nbr, w.vec_id))
                        AS BIGINT) AS keep_id,
                   w.vec_id <= COALESCE(nbr.nbr, w.vec_id) AS is_kept
            FROM chunked w LEFT JOIN nbr ON nbr.vec_id = w.vec_id
        """,
        # SemDeDup, paper keeper rule: same bounded shard, each family
        # survives its member LEAST similar to the FINAL centroid (c1,
        # fixed-point ints cast to double — same f64 cosine as Spark's
        # broadcast centroid table), ties to lower id; the per-vector
        # best neighbor comes from a (cs, id)-ordered row_number ==
        # Spark's min(struct(cs, id))
        "emb_semdedup_far": _KMEANS_CTE + f"""
            , sized AS (
              SELECT cluster, count(*) AS cnt FROM assign GROUP BY 1
            ), masked AS (
              SELECT cluster,
                     CASE WHEN cnt <= 32 THEN 0
                          ELSE (1 << LEAST(16, CAST(ceil(log2(
                                 ((cnt - 1) // 32) + 1)) AS INT))) - 1
                     END AS mask
              FROM sized
            ), withv AS (
              SELECT a.vec_id, a.cluster,
                     CAST(emb.embedding AS DOUBLE[]) AS v,
                     {_lsh_bucket_sql_expr(
                         'CAST(emb.embedding AS DOUBLE[])',
                         16, 64, table=1)} & m.mask AS sub
              FROM assign a
              JOIN embeddings emb ON emb.vec_id = a.vec_id
              JOIN masked m ON m.cluster = a.cluster
            ), chunked AS (
              SELECT *,
                     CAST(floor((row_number() OVER (
                       PARTITION BY cluster, sub ORDER BY vec_id
                     ) - 1) / 32) AS BIGINT) AS chunk
              FROM withv
            ), cw AS (
              SELECT ch.*,
                     round(list_dot_product(ch.v, cd.cv)
                       / (sqrt(list_dot_product(ch.v, ch.v))
                          * sqrt(list_dot_product(cd.cv, cd.cv))), 6)
                       AS cs
              FROM chunked ch
              JOIN (SELECT j, list_transform(
                             em, x -> CAST(x AS DOUBLE)) AS cv
                    FROM c1) cd ON cd.j = ch.cluster
            ), edges AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     x.cs AS cs_a, y.cs AS cs_b
              FROM cw x JOIN cw y
                ON x.cluster = y.cluster AND x.sub = y.sub
                   AND x.chunk = y.chunk AND x.vec_id < y.vec_id
              WHERE list_dot_product(x.v, y.v)
                    / (sqrt(list_dot_product(x.v, x.v))
                       * sqrt(list_dot_product(y.v, y.v))) >= 0.95
            ), sym AS (
              SELECT a, b, cs_b FROM edges
              UNION ALL SELECT b AS a, a AS b, cs_a AS cs_b FROM edges
            ), nbr AS (
              SELECT a AS vec_id, b AS nbr, cs_b AS nbr_cs
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY a ORDER BY cs_b, b) AS rn FROM sym)
              WHERE rn = 1
            )
            SELECT w.vec_id, w.cluster,
                   CAST(CASE WHEN nbr.nbr IS NULL THEN w.vec_id
                             WHEN nbr.nbr_cs < w.cs
                                  OR (nbr.nbr_cs = w.cs
                                      AND nbr.nbr < w.vec_id)
                             THEN nbr.nbr ELSE w.vec_id END
                        AS BIGINT) AS keep_id,
                   (nbr.nbr IS NULL OR nbr.nbr_cs > w.cs
                    OR (nbr.nbr_cs = w.cs AND nbr.nbr > w.vec_id))
                     AS is_kept
            FROM cw w LEFT JOIN nbr ON nbr.vec_id = w.vec_id
        """,
        # IVF ANN: p2 already holds every vector's exact integer
        # distance to the FINAL centroids — queries rank it for their
        # 2 probe lists (ties ORDER BY d, j == Spark's struct-min),
        # candidates take its argmin (= assign), exact cosine within
        # probed lists, top-5 per query on (rounded cosine, cand_id)
        "emb_ivf_topk": _KMEANS_CTE + """
            , probes AS (
              SELECT vec_id AS query_id, j AS cluster,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d, j) AS pr
              FROM p2 WHERE vec_id < 10
            ), pq AS (
              SELECT p.query_id, p.cluster,
                     CAST(e.embedding AS DOUBLE[]) AS q
              FROM probes p JOIN embeddings e ON e.vec_id = p.query_id
              WHERE p.pr <= 2
            ), cands AS (
              SELECT a.vec_id AS cand_id, a.cluster,
                     CAST(e.embedding AS DOUBLE[]) AS c
              FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
              WHERE a.vec_id >= 10
            ), scored AS (
              SELECT query_id, cand_id,
                     round(list_dot_product(q, c)
                       / (sqrt(list_dot_product(q, q))
                          * sqrt(list_dot_product(c, c))), 6) AS cosine_r
              FROM cands JOIN pq USING (cluster)
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(cand_id AS BIGINT) AS cand_id,
                   CAST(rn AS BIGINT) AS rank, cosine_r
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_r DESC, cand_id) AS rn
                  FROM scored)
            WHERE rn <= 5
        """,
        # best-score keepers: per band rank by (n_chars desc, id asc),
        # content-keyed split: identical md5(salt:md5(text)) bucketing,
        # first 8 hex digits as int (conv base16 == from_hex) mod 1000
        "doc_split_assign": """
            WITH b AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(('0x' || substr(
                        md5('split1' || ':' || md5(text)), 1, 8)
                     )::UBIGINT AS BIGINT) % 1000 AS bucket
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN bucket < 50 THEN 'test'
                        WHEN bucket < 100 THEN 'validation'
                        ELSE 'train' END AS split
            FROM b
        """,
        # per-site template-line strip: same deterministic banner/footer
        # synthesis, distinct-doc line frequency per source, >= 3 ->
        # removed everywhere; reassembly in line order (FILTER + ORDER
        # BY inside string_agg == Spark's null-skipping collect_list +
        # array_sort)
        "doc_boilerplate_strip": """
            WITH d AS (
              SELECT doc_id, source,
                     'Site menu ' || source || chr(10) || text ||
                     chr(10) || 'Copyright ' || source ||
                     ' all rights reserved' AS t
              FROM documents
            ), arrs AS (
              SELECT doc_id, source, string_split(t, chr(10)) AS a
              FROM d
            ), l AS (
              SELECT doc_id, source, a[i] AS line, i
              FROM arrs, UNNEST(range(1, len(a) + 1)) AS u(i)
            ), f AS (
              SELECT source, line, count(DISTINCT doc_id) AS c
              FROM l WHERE trim(line) <> '' GROUP BY 1, 2
            ), b AS (
              SELECT source, line FROM f WHERE c >= 3
            ), m AS (
              SELECT l.doc_id, l.line, l.i,
                     (trim(l.line) = '' OR b.line IS NULL) AS keep
              FROM l LEFT JOIN b
                ON b.source = l.source AND b.line = l.line
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY i)
                            FILTER (WHERE keep), '') AS text_clean,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT)
                     AS n_boiler
            FROM m GROUP BY doc_id
        """,
        # per doc adopt the best keeper across its bands — same rule
        # the Spark max(struct(score, -id)) encodes
        "doc_minhash_best": _SHINGLES_CTE + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0:' || shingle)) AS m0,
                     min(md5('1:' || shingle)) AS m1,
                     min(md5('2:' || shingle)) AS m2,
                     min(md5('3:' || shingle)) AS m3,
                     min(md5('4:' || shingle)) AS m4,
                     min(md5('5:' || shingle)) AS m5,
                     min(md5('6:' || shingle)) AS m6,
                     min(md5('7:' || shingle)) AS m7
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, md5(m0 || m1 || m2 || m3) AS band FROM sig
              UNION ALL
              SELECT doc_id, md5(m4 || m5 || m6 || m7) AS band FROM sig
            ), scored AS (
              SELECT b.band, b.doc_id,
                     CAST(d.n_chars AS BIGINT) AS s
              FROM bands b JOIN documents d ON d.doc_id = b.doc_id
            ), keeper AS (
              SELECT band, doc_id AS keep_id, s AS keep_score FROM (
                SELECT *, row_number() OVER (PARTITION BY band
                          ORDER BY s DESC, doc_id ASC) AS rn
                FROM scored
              ) WHERE rn = 1
            ), decided AS (
              SELECT doc_id, keep_id, keep_score FROM (
                SELECT b.doc_id, k.keep_id, k.keep_score,
                       row_number() OVER (PARTITION BY b.doc_id
                         ORDER BY k.keep_score DESC, k.keep_id ASC)
                         AS rn
                FROM bands b JOIN keeper k USING (band)
              ) WHERE rn = 1
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(dec.keep_id, d.doc_id) AS BIGINT)
                     AS keep_id,
                   CAST(COALESCE(dec.keep_score, d.n_chars) AS BIGINT)
                     AS keep_score,
                   d.doc_id = COALESCE(dec.keep_id, d.doc_id)
                     AS is_kept
            FROM documents d
            LEFT JOIN decided dec ON dec.doc_id = d.doc_id
        """,
        # incremental probe == batch over the union, restricted to the
        # new batch (doc_id >= 300); history = doc_id < 300, so the
        # winner's provenance is exactly keep_id < 300
        "doc_minhash_incremental": _SHINGLES_CTE + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0:' || shingle)) AS m0,
                     min(md5('1:' || shingle)) AS m1,
                     min(md5('2:' || shingle)) AS m2,
                     min(md5('3:' || shingle)) AS m3,
                     min(md5('4:' || shingle)) AS m4,
                     min(md5('5:' || shingle)) AS m5,
                     min(md5('6:' || shingle)) AS m6,
                     min(md5('7:' || shingle)) AS m7
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, md5(m0 || m1 || m2 || m3) AS band FROM sig
              UNION ALL
              SELECT doc_id, md5(m4 || m5 || m6 || m7) AS band FROM sig
            ), keeper AS (
              SELECT band, min(doc_id) AS keep_id FROM bands GROUP BY band
            ), decided AS (
              SELECT b.doc_id, min(k.keep_id) AS keep_id
              FROM bands b JOIN keeper k USING (band)
              WHERE b.doc_id >= 300
              GROUP BY b.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(dec.keep_id, d.doc_id) AS BIGINT) AS keep_id,
                   d.doc_id = COALESCE(dec.keep_id, d.doc_id) AS is_kept,
                   COALESCE(dec.keep_id, d.doc_id) < 300 AS dup_of_history
            FROM documents d LEFT JOIN decided dec ON dec.doc_id = d.doc_id
            WHERE d.doc_id >= 300
        """,
        # data mixing: per-source token budget over a reproducible
        # md5-shuffled order; boundary doc included
        "doc_mixture": """
            WITH t AS (
              SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_tokens,
                     md5('mix1:' || CAST(doc_id AS VARCHAR)) AS mix_key,
                     CASE source WHEN 'src0' THEN 1000
                                 WHEN 'src1' THEN 600
                                 WHEN 'src2' THEN 400
                                 ELSE 0 END AS budget
              FROM documents
            )
            SELECT source, doc_id, n_tokens FROM (
              SELECT source, doc_id, n_tokens, budget,
                     sum(n_tokens) OVER w AS cum
              FROM t
              WINDOW w AS (PARTITION BY source ORDER BY mix_key, doc_id
                           ROWS UNBOUNDED PRECEDING)
            ) WHERE cum - n_tokens < budget
        """,
        # hashed-linear quality model: md5 bucket -> integer-tenths
        # weight, exact integer sum, one final division (same stand-in
        # weights as linear_quality_score's default)
        "doc_quality_model": """
            WITH w AS (SELECT [-10, 6, 1, -4, -9, 7, 2, -3, -8, 8, 3, -2, -7, 9, 4, -1, -6, 10, 5, 0, -5, -10, 6, 1, -4, -9, 7, 2, -3, -8, 8, 3, -2, -7, 9, 4, -1, -6, 10, 5, 0, -5, -10, 6, 1, -4, -9, 7, 2, -3, -8, 8, 3, -2, -7, 9, 4, -1, -6, 10, 5, 0, -5, -10] AS arr)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   round((CAST(list_sum(list_transform(
                            string_split(text, ' '),
                            t -> arr[CAST(
                              CAST(concat('0x', substr(md5(t), 1, 8))
                                   AS BIGINT) % 64 AS INT) + 1]))
                          AS DOUBLE)
                          / len(string_split(text, ' ')) + 0.0)
                         / 10.0, 6) AS quality_score
            FROM documents, w
        """,
        # exact per-lang length quantiles (quantile_cont interpolates
        # identically to Spark percentile)
        "doc_length_quantiles": """
            WITH q AS (
              SELECT lang,
                     quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS qs,
                     CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY lang
            )
            SELECT lang, qs[1] AS p50_chars, qs[2] AS p90_chars,
                   qs[3] AS p99_chars, n_docs
            FROM q
        """,
        "doc_cross_entropy": """
            WITH cein AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, source, text
              FROM documents
            )""" + _CE_CTES.replace("__CE_IN__", "cein") + """
            SELECT s.doc_id, s.source, s.n_tokens,
                   round(CAST(s.h_micro AS DOUBLE) / 1000000, 6)
                     AS cross_entropy,
                   CASE WHEN s.h_micro <= t.q25 THEN 'head'
                        WHEN s.h_micro > t.q75 THEN 'tail'
                        ELSE 'middle' END AS bucket
            FROM ce_scored s JOIN ce_th t USING (source)
        """,
        "doc_dup_ngrams": """
            WITH toks AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     string_split(text, ' ') AS tk
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(tk[i:i+4], ' ') AS shingle
              FROM toks, UNNEST(CASE WHEN len(tk) >= 5
                                     THEN range(1, len(tk) - 3)
                                     ELSE [] END) AS u(i)
            ), dfc AS (
              SELECT shingle, CAST(count(*) AS BIGINT) AS df
              FROM sh GROUP BY shingle
            ), per_doc AS (
              SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                     CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dup
              FROM sh s JOIN dfc d USING (shingle)
              GROUP BY s.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   COALESCE(p.n_ngrams, 0) AS n_ngrams,
                   CASE WHEN COALESCE(p.n_ngrams, 0) > 0
                        THEN round(CAST(p.n_dup AS DOUBLE)
                                   / CAST(p.n_ngrams AS DOUBLE), 6)
                        ELSE 0.0 END AS dup_ngram_frac,
                   (CASE WHEN COALESCE(p.n_ngrams, 0) > 0
                         THEN CAST(p.n_dup AS DOUBLE)
                              / CAST(p.n_ngrams AS DOUBLE)
                         ELSE 0.0 END) > 0.3 AS flagged
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
        """,
        "doc_c4_filter": """
            WITH built AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     text
                     || chr(10) ||
                     'This opening sentence has enough words to pass.'
                     || chr(10) || 'tiny line.'
                     || chr(10) ||
                     'A trailing line without terminal punctuation here'
                     || CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
                          'lorem ipsum dolor sit amet consectetur.'
                        ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                          'function init() { return window.x; }'
                        ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
                          'Please enable javascript to view this page.'
                        ELSE '' END
                     || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                          'Another complete sentence appears on this page!'
                          || ' It even has two sentences in one line.'
                        ELSE '' END
                     AS text
              FROM documents
            ), k AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS lns,
                     list_filter(
                       string_split(text, chr(10)),
                       x -> right(rtrim(x), 1) IN ('.', '!', '?', '"')
                            AND len(string_split(trim(x), ' ')) >= 5
                            AND NOT contains(lower(x), 'javascript')
                     ) AS kept_l
              FROM built
            ), c AS (
              SELECT doc_id, text, lns, kept_l,
                     COALESCE(array_to_string(kept_l, chr(10)), '')
                       AS cleaned
              FROM k
            ), s AS (
              SELECT doc_id, text, lns, kept_l, cleaned,
                     CAST(len(regexp_extract_all(cleaned, '[.!?]'))
                          AS BIGINT) AS n_sentences,
                     (contains(lower(text), 'lorem ipsum')
                      OR contains(text, '{')
                      OR len(regexp_extract_all(cleaned, '[.!?]')) < 3)
                       AS page_drop
              FROM c
            )
            SELECT doc_id,
                   CAST(len(lns) AS BIGINT) AS n_lines,
                   CAST(len(kept_l) AS BIGINT) AS n_kept_lines,
                   n_sentences,
                   NOT page_drop AS kept,
                   CASE WHEN NOT page_drop THEN cleaned
                        ELSE NULL END AS cleaned_text
            FROM s
        """,
        # corpus-level line dedup (CCNet-style): first owner per line
        # via min(doc_id) then min(pos), docs reassembled in order
        "doc_line_dedup": """
WITH built AS (
  SELECT doc_id,
         'HEADER ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || text
           || chr(10) || 'FOOTER boilerplate' AS text
  FROM documents
), ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM built
), lines AS (
  SELECT doc_id, i - 1 AS pos, arr[i] AS line
  FROM ls, UNNEST(range(1, len(arr) + 1)) AS u(i)
), fo AS (
  -- blank lines are paragraph structure, exempt from dedup
  SELECT line, min(doc_id) AS fd FROM lines
  WHERE trim(line) <> '' GROUP BY line
), fo2 AS (
  SELECT l.line, fo.fd, min(l.pos) AS fp
  FROM lines l JOIN fo ON l.line = fo.line AND l.doc_id = fo.fd
  GROUP BY l.line, fo.fd
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l JOIN fo2 ON l.line = fo2.line
       AND l.doc_id = fo2.fd AND l.pos = fo2.fp
  UNION ALL
  SELECT doc_id, pos, line FROM lines WHERE trim(line) = ''
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM built
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       COALESCE(r.text_dedup, '') AS text_dedup,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_lines AS BIGINT) AS n_lines
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
        """,
        "doc_span_dedup": """
WITH built AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'Shared intro number ' || CAST(doc_id % 3 AS VARCHAR)
           || ' here. Second shared sentence. Third shared sentence. '
           || text || '. Closing sentence '
           || CAST(doc_id % 5 AS VARCHAR) || ' ends' AS text
  FROM documents
), sa AS (
  SELECT doc_id, string_split_regex(text, '[.!?] ') AS arr FROM built
), spans AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(arr[i:i+2], ' | ') AS span
  FROM sa, UNNEST(CASE WHEN len(arr) >= 3
                       THEN range(1, len(arr) - 1)
                       ELSE [] END) AS u(i)
), fo AS (
  SELECT span, min(doc_id) AS fd FROM spans GROUP BY span
), fo2 AS (
  SELECT s.span, fo.fd, min(s.pos) AS fp
  FROM spans s JOIN fo ON s.span = fo.span AND s.doc_id = fo.fd
  GROUP BY s.span, fo.fd
), covered AS (
  SELECT DISTINCT s.doc_id, c.spos
  FROM spans s JOIN fo2 ON s.span = fo2.span,
       UNNEST(range(s.pos, s.pos + 3)) AS c(spos)
  WHERE NOT (s.doc_id = fo2.fd AND s.pos = fo2.fp)
), sents AS (
  SELECT doc_id, i - 1 AS spos, arr[i] AS sent
  FROM sa, UNNEST(range(1, len(arr) + 1)) AS u(i)
), kept AS (
  SELECT s.* FROM sents s
  LEFT JOIN covered c ON c.doc_id = s.doc_id AND c.spos = s.spos
  WHERE c.doc_id IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(sent, ' | ' ORDER BY spos) AS text_dedup,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_sentences FROM sa
)
SELECT t.doc_id,
       COALESCE(r.text_dedup, '') AS text_dedup,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       t.n_sentences
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
        """,
        "doc_url_normalize": _URL_NORM_CTE + """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, url_norm FROM norm
        """,
        "doc_url_dedup": _URL_NORM_CTE + """
            SELECT url_norm,
                   CAST(min(doc_id) AS BIGINT) AS keep_id,
                   count(*) AS dup_count
            FROM norm GROUP BY url_norm
        """,
        "doc_link_edges": _LINK_EDGES_CTE + """
            SELECT src_host, dst_host, n_links,
                   src_host = dst_host AS internal
            FROM edges
        """,
        "doc_host_pagerank": _LINK_EDGES_CTE + _PAGERANK_TAIL,
        "doc_url_robots": _URL_NORM_CTE.replace(
            "), norm AS (",
            """), hosted AS (
              SELECT doc_id, url,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                       1) AS host,
                     regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/.*)?$',
                       1) AS rawpath
              FROM u
            ), norm AS (""",
        ) + """
            , p AS (
              SELECT doc_id, host,
                     CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
                       AS path
              FROM hosted
            ), rules(rhost, allow, prefix) AS (
              VALUES ('site.org', false, '/p'),
                     ('site.org', true, '/p?gclid=1&q=4'),
                     ('www.example0.com', false, '/a/')
            ), m AS (
              SELECT p.doc_id,
                     max(2 * length(r.prefix)
                         + CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
              FROM p JOIN rules r ON p.host = r.rhost
              WHERE starts_with(p.path, r.prefix)
              GROUP BY p.doc_id
            )
            SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.host, p.path,
                   COALESCE(m.best % 2 = 1, true) AS allowed
            FROM p LEFT JOIN m ON m.doc_id = p.doc_id
        """,
        "doc_url_blocklist": _URL_NORM_CTE.replace(
            "), norm AS (",
            """), hosted AS (
              SELECT doc_id,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                       1) AS host
              FROM u
            ), norm AS (""",
        ) + """
            , bl(suffix) AS (VALUES ('example1.com'), ('site.org'))
            , sufs AS (
              SELECT doc_id, host, string_split(host, '.') AS parts
              FROM hosted
            ), ex AS (
              SELECT doc_id,
                     array_to_string(parts[i:len(parts)], '.') AS suffix
              FROM sufs, UNNEST(range(1, len(parts) + 1)) AS u2(i)
            ), hits AS (
              SELECT DISTINCT e.doc_id FROM ex e JOIN bl USING (suffix)
            )
            SELECT CAST(h.doc_id AS BIGINT) AS doc_id, h.host,
                   (hits.doc_id IS NOT NULL) AS blocked
            FROM hosted h LEFT JOIN hits ON hits.doc_id = h.doc_id
        """,
        # argmax-by-(ts, id) via an integer-encoded key: doc_id stays
        # below 10^6 at every test SF, so max(ts*10^6 + id) orders
        # identically to Spark's lexicographic max(struct(ts, id))
        "doc_url_latest": _URL_NORM_CTE + """
            , keyed AS (
              SELECT url_norm AS canonical_url,
                     CAST(doc_id AS BIGINT) AS doc_id,
                     (CAST(doc_id AS BIGINT) * 7919) % 17 AS ts
              FROM norm
            )
            SELECT canonical_url,
                   CAST(max(ts * 1000000 + doc_id) % 1000000
                        AS BIGINT) AS kept_id,
                   CAST(floor(CAST(max(ts * 1000000 + doc_id) AS DOUBLE)
                              / 1000000) AS BIGINT) AS kept_ts,
                   CAST(count(*) AS BIGINT) AS n_versions
            FROM keyed GROUP BY canonical_url
        """,
        "doc_host_stats": _URL_NORM_CTE.replace(
            "), norm AS (",
            """), hosted AS (
              SELECT doc_id, url,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                       1) AS host
              FROM u
            ), norm AS (""",
        ) + """
            SELECT h.host,
                   count(*) AS n_urls,
                   count(DISTINCT n.url_norm) AS n_canonical
            FROM hosted h JOIN norm n USING (doc_id)
            GROUP BY h.host
        """,
        # transitive closure of the band-sharing graph: min reachable
        # doc_id per component via a recursive reachability CTE
        "doc_minhash_cc": _SHINGLES_CTE.replace(
            "WITH ", "WITH RECURSIVE ", 1
        ) + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0:' || shingle)) AS m0,
                     min(md5('1:' || shingle)) AS m1,
                     min(md5('2:' || shingle)) AS m2,
                     min(md5('3:' || shingle)) AS m3,
                     min(md5('4:' || shingle)) AS m4,
                     min(md5('5:' || shingle)) AS m5,
                     min(md5('6:' || shingle)) AS m6,
                     min(md5('7:' || shingle)) AS m7
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, md5(m0 || m1 || m2 || m3) AS band FROM sig
              UNION
              SELECT doc_id, md5(m4 || m5 || m6 || m7) AS band FROM sig
            ), reach(doc_id, lbl) AS (
              SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM bands)
              UNION
              SELECT b2.doc_id, r.lbl
              FROM reach r
              JOIN bands b1 ON b1.doc_id = r.doc_id
              JOIN bands b2 ON b2.band = b1.band
            ), clusters AS (
              SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT)
                     AS cluster_id,
                   d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
        """,
        "emb_cosine_threshold": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q FROM embeddings
              WHERE vec_id < 10
            ), c AS (
              SELECT vec_id AS cand_id, embedding AS c FROM embeddings
              WHERE vec_id >= 10
            ), scored AS (
              SELECT query_id, cand_id,
                     list_dot_product(CAST(q.q AS DOUBLE[]), CAST(c.c AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(q.q AS DOUBLE[]), CAST(q.q AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(c.c AS DOUBLE[]), CAST(c.c AS DOUBLE[])))) AS cosine
              FROM c CROSS JOIN q
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(cand_id AS BIGINT) AS cand_id,
                   round(cosine, 6) AS cosine_r
            FROM scored WHERE cosine >= 0.25
        """,
        "emb_brute_topk": _cosine_sql("vec_id < 10", "vec_id >= 10"),
        "emb_lsh_topk": _cosine_sql(
            "vec_id < 10",
            "vec_id >= 10",
            extra_q=", " + _lsh_bucket_sql_expr("CAST(embedding AS DOUBLE[])")
            + " AS bucket",
            extra_c=", " + _lsh_bucket_sql_expr("CAST(embedding AS DOUBLE[])")
            + " AS bucket",
            join_cond="q.bucket = c.bucket",
        ),
        "emb_dedup": f"""
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                     {_lsh_bucket_sql_expr("CAST(embedding AS DOUBLE[])")}
                       AS bucket
              FROM embeddings
            ), edges AS (
              SELECT a.vec_id AS a, b.vec_id AS b
              FROM v a JOIN v b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE list_dot_product(a.e, b.e)
                    / (sqrt(list_dot_product(a.e, a.e))
                       * sqrt(list_dot_product(b.e, b.e))) >= 0.4
            ), sym AS (
              SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
            ), nbr AS (
              SELECT a, min(b) AS nbr FROM sym GROUP BY a
            )
            SELECT CAST(v.vec_id AS BIGINT) AS vec_id,
                   CAST(least(v.vec_id, COALESCE(nbr.nbr, v.vec_id))
                        AS BIGINT) AS keep_id,
                   v.vec_id = least(v.vec_id, COALESCE(nbr.nbr, v.vec_id))
                     AS is_kept
            FROM v LEFT JOIN nbr ON nbr.a = v.vec_id
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
            ), flagged AS (
              SELECT user_id, ts_us, event_id,
                CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), sess AS (
              SELECT user_id,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            ), per AS (
              SELECT user_id, session_id, count(*) AS n
              FROM sess GROUP BY 1, 2
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(count(*) AS BIGINT) AS session_cnt,
                   CAST(max(n) AS BIGINT) AS max_session_events
            FROM per GROUP BY 1
        """,
        "events_json_props": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_sum,
                   CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_min,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_max
            FROM events GROUP BY event_type
        """,
        "events_asof": """
            WITH e AS (
              SELECT user_id AS key, epoch_us(ts) AS ts_us, event_id,
                     event_type = 'view' AS is_ref
              FROM events WHERE event_type IN ('purchase', 'view')
            ), carried AS (
              SELECT key, ts_us, event_id, is_ref,
                     last_value(CASE WHEN is_ref THEN event_id END
                                IGNORE NULLS) OVER w AS ref_event_id,
                     last_value(CASE WHEN is_ref THEN ts_us END
                                IGNORE NULLS) OVER w AS ref_ts_us
              FROM e
              WINDOW w AS (PARTITION BY key
                           ORDER BY ts_us, is_ref DESC, event_id
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT CAST(key AS BIGINT) AS key,
                   CAST(event_id AS BIGINT) AS probe_event_id,
                   CAST(ts_us AS BIGINT) AS probe_ts_us,
                   CAST(ref_event_id AS BIGINT) AS ref_event_id,
                   CAST(ref_ts_us AS BIGINT) AS ref_ts_us
            FROM carried WHERE NOT is_ref
        """,
        "events_range_join": """
            WITH l AS (
              SELECT user_id AS key, epoch_us(ts) AS l_ts, event_id AS l_id
              FROM events WHERE event_type = 'error'
            ), r AS (
              SELECT user_id AS key, epoch_us(ts) AS r_ts, event_id AS r_id
              FROM events WHERE event_type = 'click'
            )
            SELECT CAST(l.key AS BIGINT) AS key,
                   CAST(l_id AS BIGINT) AS l_id,
                   CAST(r_id AS BIGINT) AS r_id,
                   CAST(r_ts - l_ts AS BIGINT) AS dt_us
            FROM l JOIN r ON l.key = r.key
             AND abs(r_ts - l_ts) <= 300000000
        """,
        "events_rollup": """
            WITH e AS (
              SELECT event_type,
                     date_trunc('day', ts) AS day,
                     date_trunc('hour', ts) AS hour,
                     value
              FROM events
            )
            SELECT event_type,
                   epoch_us(day) AS day_us,
                   epoch_us(hour) AS hour_us,
                   CASE WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS grain,
                   CAST(count(*) AS BIGINT) AS events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     AS value_sum
            FROM e
            GROUP BY GROUPING SETS ((event_type, day, hour),
                                    (event_type, day))
        """,
        "doc_distinct_sketch": """
            WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents
            ), h AS (
              SELECT DISTINCT source,
                     CAST(CAST(concat('0x', substr(md5(tok), 1, 15))
                               AS BIGINT) AS DOUBLE)
                       / 1152921504606846976.0 AS h
              FROM toks
            ), kth AS (
              SELECT source, max(h) AS h_k, count(*) AS got
              FROM (SELECT source, h,
                           row_number() OVER (PARTITION BY source
                                              ORDER BY h) AS rn
                    FROM h)
              WHERE rn <= 64 GROUP BY source
            ), exact AS (
              SELECT source,
                     CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
              FROM toks GROUP BY source
            )
            SELECT kth.source, exact.exact_distinct,
                   round(CASE WHEN got < 64 THEN CAST(got AS DOUBLE)
                              ELSE 63.0 / h_k END, 2) AS kmv_estimate
            FROM kth JOIN exact USING (source)
        """,
        "doc_char_entropy": _char_entropy_sql(),
        "doc_curate": _CURATE_CORE_CTE
        + _CURATE_TAIL_CTE.replace("__SURV__", "g3"),
        # doc_curate plus the two strict corpus-relative gates between
        # minhash dedup and decontamination: the RefinedWeb dup-ngram
        # cap (5-grams, frac > 0.5 drops) and the CCNet cross-entropy
        # tail-quartile drop, both computed over the near-dup SURVIVORS
        "doc_curate_strict": _CURATE_CORE_CTE
        + _CURATE_STRICT_GATES_CTE
        + _CURATE_TAIL_CTE.replace("__SURV__", "g3c"),
        # the full crawl-to-shards composition: URL hygiene keep-set
        # (blocklist -> robots -> latest snapshot) restricting the
        # curation base, then the strict text pipeline verbatim
        "doc_curate_full": _URL_NORM_CTE
        + _URL_KEEP_CTES
        + _CURATE_CORE_CTE.replace("WITH base AS (", ", base AS (", 1)
        .replace(
            "FROM documents\n), gated AS (",
            "FROM documents JOIN url_keep USING (doc_id)\n), gated AS (",
            1,
        )
        + _CURATE_STRICT_GATES_CTE
        + _CURATE_TAIL_CTE.replace("__SURV__", "g3c"),
        # construction mirror: the Spark side synthesizes REAL PNG
        # bytes and runs the header parser; the oracle states what the
        # parse must recover (format/dims/26-byte payload/match cycle)
        # damaged rows (doc_id%5 in (3,4)) must surface as format NULL
        # with exact byte counts — parser totality under the value hash
        "doc_image_meta": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CASE WHEN doc_id % 5 IN (3, 4) THEN NULL
                        ELSE 'png' END AS format,
                   CASE WHEN doc_id % 5 IN (3, 4) THEN NULL
                        ELSE CAST(doc_id % 640 + 1 AS INT) END AS width,
                   CASE WHEN doc_id % 5 IN (3, 4) THEN NULL
                        ELSE CAST(doc_id % 480 + 1 AS INT) END AS height,
                   CAST(CASE doc_id % 5 WHEN 3 THEN 18 WHEN 4 THEN 17
                        ELSE 26 END AS BIGINT) AS n_bytes,
                   CASE WHEN doc_id % 5 IN (3, 4) THEN NULL
                        ELSE CASE CAST(doc_id % 3 AS INT)
                             WHEN 0 THEN true
                             WHEN 1 THEN false
                             ELSE NULL END END AS meta_matches
            FROM documents
        """,
        # integer-exact quota rule: 40-bit md5 draw < (5 << 40) div
        # host_count — no float boundary, bit-identical cross-engine
        "doc_host_quota": _URL_NORM_CTE.replace(
            "), norm AS (",
            """), hosted AS (
              SELECT doc_id,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                       1) AS host
              FROM u
            ), norm AS (""",
        ) + """
            , hc AS (
              SELECT host, CAST(count(*) AS BIGINT) AS hc
              FROM hosted GROUP BY host
            )
            SELECT CAST(h.doc_id AS BIGINT) AS doc_id, h.host,
                   CAST(concat('0x', substr(md5('hq1:'
                     || CAST(h.doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
                   < (CAST(5 AS BIGINT)
                      * CAST(1099511627776 AS BIGINT)) // hc.hc
                     AS kept
            FROM hosted h JOIN hc USING (host)
        """,
        # identical window arithmetic: starts 0,24,48,... while
        # start < max(n-overlap, 1); DuckDB 1-based inclusive list
        # slicing mirrors Spark's slice(tk, s+1, 32)
        "doc_chunks": """
            WITH base AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     string_split(text, ' ') AS tk,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents
            ), st AS (
              SELECT doc_id, tk, n, greatest(n - 8, 1) AS last
              FROM base
            )
            SELECT doc_id,
                   CAST(s // 24 AS BIGINT) AS chunk_id,
                   COALESCE(array_to_string(
                     tk[CAST(s + 1 AS INT):CAST(s + 32 AS INT)], ' '),
                     '') AS chunk_text,
                   CAST(least(32, n - s) AS BIGINT) AS n_tokens
            FROM st,
                 UNNEST(range(0, (last - 1) - (last - 1) % 24 + 1, 24))
                   AS u(s)
        """,
        # fixed-point idf (round(log2(n/df)*1e6) once per vocab entry,
        # the cross_entropy discipline) -> BIGINT scores, so the top-k
        # ranking is bit-exact cross-engine; ties break on token text
        "doc_tfidf": """
            WITH toksf AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents
            ), tf AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM toksf WHERE tok <> '' GROUP BY doc_id, tok
            ), nd AS (
              SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM documents
            ), idf AS (
              SELECT tok,
                     CAST(round(log2(CAST(n_docs AS DOUBLE)
                                     / CAST(df AS DOUBLE))
                                * 1000000.0, 0) AS BIGINT)
                       AS idf_micro
              FROM (SELECT tok, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY tok), nd
              WHERE CAST(df AS DOUBLE)
                    <= 0.3 * CAST(n_docs AS DOUBLE)
            ), scored AS (
              SELECT t.doc_id, t.tok,
                     t.tf * i.idf_micro AS score_micro
              FROM tf t JOIN idf i USING (tok)
            )
            SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok AS token,
                   score_micro
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score_micro DESC, tok) AS rn
                  FROM scored)
            WHERE rn <= 3
        """,
        # identical synthetic bodies (chr(10) newlines) + the same
        # lag/running-sum grouping windows as urlops.parse_robots
        # closed-form expectation: databot obeys its exact group on
        # even hosts (min of the two numeric delays = k), '*' on odd
        # hosts (k.5); googlebot's delay and the non-numeric line
        # never surface; sitemaps are file-global
        "doc_robots_directives": """
            WITH ks AS (
              SELECT DISTINCT CAST(doc_id % 7 AS BIGINT) AS k
              FROM documents
            )
            SELECT 'h' || CAST(k AS VARCHAR) || '.test' AS host,
                   'crawl_delay' AS directive,
                   CAST(NULL AS VARCHAR) AS value_str,
                   CASE WHEN k % 2 = 0 THEN CAST(k AS DOUBLE)
                        ELSE CAST(k AS DOUBLE) + 0.5 END AS value_num
            FROM ks
            UNION ALL
            SELECT 'h' || CAST(k AS VARCHAR) || '.test', 'sitemap',
                   'https://h' || CAST(k AS VARCHAR) || '.test/sitemap'
                     || CAST(k AS VARCHAR) || '.xml',
                   CAST(NULL AS DOUBLE)
            FROM ks
            UNION ALL
            SELECT 'h' || CAST(k AS VARCHAR) || '.test', 'sitemap',
                   'https://h' || CAST(k AS VARCHAR)
                     || '.test/extra.xml',
                   CAST(NULL AS DOUBLE)
            FROM ks WHERE k % 3 = 0
        """,
        # scheduler over the same closed-form delays; slot = per-host
        # url rank (0-based), not_before = slot * delay_ms
        "doc_fetch_schedule": """
            WITH urls AS (
              SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.test/page' || CAST(doc_id AS VARCHAR)
                       AS url,
                     'h' || CAST(doc_id % 7 AS VARCHAR) || '.test'
                       AS host,
                     CAST(doc_id % 7 AS BIGINT) AS k
              FROM documents
            ), slotted AS (
              SELECT url, host,
                     CAST(row_number() OVER
                       (PARTITION BY host ORDER BY url) - 1 AS BIGINT)
                       AS slot,
                     CAST(round((CASE WHEN k % 2 = 0
                                      THEN CAST(k AS DOUBLE)
                                      ELSE CAST(k AS DOUBLE) + 0.5
                                 END) * 1000) AS BIGINT) AS delay_ms
              FROM urls
            )
            SELECT url, host, slot,
                   CAST(slot * delay_ms AS BIGINT) AS not_before_ms
            FROM slotted
        """,
        "doc_robots_parse": """
            WITH ks AS (
              SELECT DISTINCT CAST(doc_id % 7 AS BIGINT) AS k
              FROM documents
            ), hosts AS (
              SELECT 'h' || CAST(k AS VARCHAR) || '.test' AS host,
                '# robots for host ' || CAST(k AS VARCHAR) || chr(10)
                || 'User-agent: googlebot' || chr(10)
                || 'Disallow: /google-only' || chr(10) || chr(10)
                || 'User-agent: *' || chr(10)
                || 'User-agent: otherbot' || chr(10)
                || 'Disallow: /p' || CAST(k AS VARCHAR) || '/'
                || chr(10)
                || 'Allow: /p' || CAST(k AS VARCHAR) || '/ok'
                || chr(10) || 'Disallow:' || chr(10)
                || CASE WHEN k % 2 = 0
                        THEN 'User-agent: databot' || chr(10)
                             || 'Disallow: /exact'
                             || CAST(k AS VARCHAR) || chr(10)
                        ELSE '' END AS body
              FROM ks
            ), lns AS (
              SELECT host, i AS pos,
                     trim(regexp_replace(arr[i + 1], '#.*', ''))
                       AS line
              FROM (SELECT host,
                           string_split_regex(body,
                             '\\r\\n|\\r|\\n') AS arr
                    FROM hosts),
                   UNNEST(range(0, len(arr))) AS u(i)
            ), parsed AS (
              SELECT host, pos,
                     lower(trim(regexp_extract(line,
                       '^([^:]+):', 1))) AS field,
                     trim(regexp_extract(line,
                       '^[^:]+:(.*)$', 1)) AS value
              FROM lns
            ), flagged AS (
              SELECT *,
                     field = 'user-agent' AS is_ua,
                     (field = 'user-agent') AND NOT COALESCE(
                       lag(field = 'user-agent') OVER
                         (PARTITION BY host ORDER BY pos), false)
                       AS starts
              FROM parsed
            ), grouped AS (
              SELECT *,
                     sum(CASE WHEN starts THEN 1 ELSE 0 END) OVER
                       (PARTITION BY host ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
              FROM flagged
            ), uas AS (
              SELECT host, grp,
                     bool_or(lower(value) = 'databot') AS is_exact,
                     bool_or(value = '*') AS star
              FROM grouped WHERE is_ua GROUP BY host, grp
            ), hx AS (
              SELECT host, bool_or(is_exact) AS has_exact
              FROM uas GROUP BY host
            ), sel AS (
              SELECT u.host, u.grp
              FROM uas u JOIN hx USING (host)
              WHERE CASE WHEN hx.has_exact THEN u.is_exact
                         ELSE u.star END
            )
            SELECT DISTINCT g.host, g.field = 'allow' AS allow,
                   g.value AS prefix
            FROM grouped g
            JOIN sel ON sel.host = g.host AND sel.grp = g.grp
            WHERE g.field IN ('allow', 'disallow') AND g.value <> ''
        """,
        # identical seeded-md5 positions + 63-bit word packing on both
        # engines, so even the deterministic false positives hash-match
        "doc_bloom_dedup": """
            WITH newdocs AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     CASE WHEN doc_id % 2 = 1
                          THEN text || ' novelmarker'
                               || CAST(doc_id AS VARCHAR)
                          ELSE text END AS text
              FROM documents
            ), seenpos AS (
              SELECT DISTINCT
                     CAST(concat('0x', substr(md5('bl'
                       || CAST(i AS VARCHAR) || ':' || text), 1, 15))
                       AS BIGINT) % 65536 AS p
              FROM documents, UNNEST(range(0, 5)) AS u(i)
            ), words AS (
              SELECT p // 63 AS word,
                     bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT))
                       AS bits
              FROM seenpos GROUP BY 1
            ), probes AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5('bl'
                       || CAST(i AS VARCHAR) || ':' || text), 1, 15))
                       AS BIGINT) % 65536 AS p
              FROM newdocs, UNNEST(range(0, 5)) AS u(i)
            )
            SELECT p.doc_id,
                   min(CASE WHEN w.bits IS NOT NULL
                            AND ((w.bits >> CAST(p.p % 63 AS INT))
                                 & 1) = 1
                       THEN 1 ELSE 0 END) = 1 AS probably_seen
            FROM probes p LEFT JOIN words w ON w.word = p.p // 63
            GROUP BY p.doc_id
        """,
        "doc_unigram_stats": """
            WITH toks AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents
            ), vocab AS (
              SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
              FROM toks GROUP BY source, tok
            ), per_doc AS (
              SELECT t.doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(v.cnt) AS BIGINT) AS sum_cnt,
                     CAST(sum(CASE WHEN v.cnt = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS hapax
              FROM toks t JOIN vocab v USING (source, tok)
              GROUP BY t.doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   COALESCE(p.n_tokens, 0) AS n_tokens,
                   CASE WHEN COALESCE(p.n_tokens, 0) > 0
                        THEN round(CAST(p.sum_cnt AS DOUBLE)
                                   / CAST(p.n_tokens AS DOUBLE), 6)
                        ELSE 0.0 END AS mean_token_freq,
                   CASE WHEN COALESCE(p.n_tokens, 0) > 0
                        THEN round(CAST(p.hapax AS DOUBLE)
                                   / CAST(p.n_tokens AS DOUBLE), 6)
                        ELSE 0.0 END AS hapax_frac
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
        """,
        "doc_decontaminate": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(tk[i:i+2], ' ') AS shingle
              FROM toks, UNNEST(CASE WHEN len(tk) >= 3
                                     THEN range(1, len(tk) - 1)
                                     ELSE [] END) AS u(i)
            ), bench AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
            ), hits AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS hit_shingles
              FROM sh JOIN bench USING (shingle)
              GROUP BY doc_id
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   COALESCE(h.hit_shingles, 0) AS hit_shingles,
                   COALESCE(h.hit_shingles, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        "doc_pii_redact": """
            WITH aug AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     text || ' contact u' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                       || '@mail.example.com from 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR)
                       || '.7 call +14155550'
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                     '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\\+\\d[\\d\\-]{7,14}\\d')) AS BIGINT) AS n_phone,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IPV4>', 'g'),
                     '\\+\\d[\\d\\-]{7,14}\\d', '<PHONE>', 'g')
                     AS redacted_text
            FROM aug
        """,
        "doc_sample": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
            FROM documents
            WHERE CAST(CAST(concat('0x',
                       substr(md5(concat_ws(':', 's1', doc_id)), 1, 15))
                       AS BIGINT) AS DOUBLE) / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 0.5
                              WHEN 'es' THEN 0.25 ELSE 0.0 END
        """,
        "doc_pack_shards": """
            WITH t AS (
              SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT source, doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER w - n_tokens)
                              / 4096.0) AS BIGINT) AS shard
            FROM t
            WINDOW w AS (PARTITION BY source ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "events_last_max": """
            SELECT event_type, max_value, CAST(event_id AS BIGINT) AS last_event_id
            FROM (
              SELECT event_type, event_id,
                     max(value) OVER (PARTITION BY event_type) AS max_value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(count(*) AS BIGINT) AS count_order,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avg_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_revenue_by_nation": """
            SELECT n_name,
                   CAST(count(*) AS BIGINT) AS orders_cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
    }
    for merged, a, b, b_cols, *key in _ORACLE_MERGES:
        sql[merged] = _merged_sql(sql.pop(a), sql.pop(b), b_cols, *key)
    return sql
