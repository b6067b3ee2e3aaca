"""Text-analysis + deduplication operators over a documents table.

Most operators are Catalyst expressions (split/transform/aggregate/
md5/window). The hash-heavy ones — shingling, MinHash, SimHash and the
DSIR features — are map-only Arrow kernels instead: md5 at C speed in
the Python worker, a worker-resident memo for Zipf-repeated grams, and
no explode or shuffle. Each operator has a matching ANSI-SQL oracle in
__spark_entry__.py.

Scale notes:
* exact_dedup / fingerprint: one hash-shuffle on the group key; at
  10^12 rows group by md5(text) (fixed 32-byte key) rather than raw
  text to keep shuffle rows small.
* minhash: one mapInArrow pass takes each document's per-seed min
  md5 over its shingles and hashes the bands (no explode, no groupBy);
  band hashes then bucket candidates without any pairwise join.
* ngram_jaccard: pairwise join restricted to a blocking key (source)
  so the candidate space stays bounded; the general path is
  minhash-band blocking first, exact jaccard only within buckets.
"""

from __future__ import annotations

import functools
import re
from hashlib import md5

from pyspark.sql import DataFrame, functions as F

from dce_spark.spark.udf import map_rows

STOPWORDS_EN = (
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
)

# tiny per-language function-word profiles for the lang-id heuristic
LANG_PROFILES = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "von"),
    "fr": ("le", "la", "et", "les", "des", "est"),
}


def tokens_col():
    return F.split(F.col("text"), " ")


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Input-split guard ahead of per-document text work (MD5,
    shingling, n-grams, line and quality scans). A single-row-group
    parquet file yields a 1-partition scan, which would serialize a
    map-only kernel no matter how many cores the session has. When the
    scan has fewer partitions than the session's default parallelism,
    hash-repartition on ``doc_id`` up to it (hash, not round-robin:
    deterministic placement under task retry); with healthily split
    inputs the condition is false and the plan is untouched. Costs one
    exchange of the columns the caller has already projected.

    Only this module's text operators call it, where it was measured
    to pay: without it the MD5 and shingle queries lost 0.2-0.55 s
    each (sf0.1, 4 cores). The embedding kernels (simsearch) and the
    events queries read their input as given, because there they ran
    faster without it: ``emb_kmeans`` 0.67-0.80 -> 0.51-0.58 s,
    ``emb_semdedup`` best 1.37 -> 1.17 s, ``events_type_stats`` best
    0.56 -> 0.46 s. For NumPy kernels over 1-2k vectors the exchange
    costs more than it saves.

    The ``df.rdd.getNumPartitions()`` probe plans ``df`` on the
    driver. On an input with a shuffle below it (a gated or deduped
    frame rather than a scan), that runs the shuffle stages as
    separate jobs while the operator is still being built."""
    try:
        n = df.rdd.getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if 0 < n < target:
        return df.repartition(target, F.col("doc_id"))
    return df


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per identical text."""
    return (
        documents.groupBy("text")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


# Worker-resident hash caches for the Arrow kernels. Module-level on
# purpose: with spark.python.worker.reuse (the default) a worker
# process survives across tasks, so Zipf-repeated shingles/tokens/
# grams hash ONCE per worker instead of once per occurrence (the
# bench corpus measures ~93%% duplicate 3-shingles; real crawls are
# also heavily Zipf). Bounded by BYTES, not entries: each cache key
# holds at most _WORKER_CACHE_BYTES // entry_bytes entries, where
# entry_bytes is the tracemalloc-measured footprint of one entry
# (key string + value + dict slot), and is cleared wholesale past
# that cap — deterministic values, so eviction can never change a
# result.
_WORKER_CACHE_BYTES = 128 << 20
_WORKER_CACHES: dict = {}
_INT_ENTRY_BYTES = 192  # one gram -> int (SimHash mask, DSIR bucket)


# MinHash LSH layout shared by every MinHash operator and its oracles:
# 8 md5 seeds, split into 2 bands of 4 rows
_MINHASH_SEEDS = 8
_MINHASH_BANDS = 2
# one cached shingle: the seeds' 16-byte digests in a list
_MINHASH_ENTRY_BYTES = 256 + 56 * _MINHASH_SEEDS
# label_components raises past this many contraction levels
_CC_MAX_LEVELS = 32


@functools.lru_cache(maxsize=None)
def _minhash_bases() -> tuple:
    """One md5 state per seed, primed with its ``"{seed}:"`` prefix
    (copied per shingle); built once per worker (md5 states do not
    pickle, so the kernel closure cannot carry them)."""
    return tuple(md5(f"{s}:".encode()) for s in range(_MINHASH_SEEDS))


def _worker_cache(key, entry_bytes: int) -> tuple[dict, int]:
    """(cache, cap) for one worker-resident memo; callers clear the
    dict before inserting once ``len(cache) >= cap``."""
    return (
        _WORKER_CACHES.setdefault(key, {}),
        _WORKER_CACHE_BYTES // entry_bytes,
    )


_BLOOM_BITS_PER_WORD = 63  # bits 0..62 only: bit 63 is the BIGINT
# sign bit, and arithmetic-shift semantics on negative values differ
# subtly across engines — wasting one bit per word buys bit-exact
# cross-engine parity for the packed filter


def _filter_broadcasts(spark, n_bits: int) -> bool:
    """Whether the packed filter's size bound, ceil(n_bits/63) rows of
    24 bytes (Spark's size estimate for a row of two longs), fits under
    ``spark.sql.autoBroadcastJoinThreshold`` ("10485760b", "10MB", "-1")."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").lower()
    n, unit = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", raw.strip()).groups()
    limit = int(n) << 10 * "_kmgtp".index(unit or "_")
    return -(-n_bits // _BLOOM_BITS_PER_WORD) * 24 <= limit


def _bloom_positions(text, n_hashes: int, n_bits: int):
    """Array of n_hashes deterministic bit positions for one text:
    seeded md5 -> 60-bit int -> pmod n_bits. Same construction as the
    minhash seeds — engine-independent, no native hash functions."""
    if n_hashes < 1 or n_bits < 1:
        # n_hashes=0 would make every probe vacuously a member (the
        # fold over zero positions), silently flagging ALL docs seen
        raise ValueError("n_hashes and n_bits must be >= 1")
    return F.array(*[
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bl{i}:"), text)), 1, 15
                ),
                16, 10,
            ).cast("long"),
            F.lit(n_bits).cast("long"),
        )
        for i in range(n_hashes)
    ])


def bloom_filter_words(
    documents: DataFrame, n_hashes: int = 5, n_bits: int = 1 << 20,
) -> DataFrame:
    """Distributed Bloom filter over the corpus texts, AS A DATAFRAME:
    (word: long, bits: long) — word w holds bits [w*63, w*63+62] of
    the filter, OR-folded with a map-side-partial bit_or aggregate.
    At most ceil(n_bits/63) rows regardless of corpus size, so the
    filter for 10^9 bits is ~16M rows / ~250 MB — broadcastable; the
    build itself is explode -> one hash shuffle on the word key.

    Spark's internal BloomFilterAggregate is not a public function;
    this formulation is, and unlike an opaque binary blob it is
    deterministic, mergeable (bit_or of two filters' rows), prunable,
    and oracle-checkable cross-engine."""
    p = F.col("p")
    return (
        documents.select(
            F.explode(
                _bloom_positions(F.col("text"), n_hashes, n_bits)
            ).alias("p")
        )
        .select(
            F.expr(f"p div {_BLOOM_BITS_PER_WORD}").alias("word"),
            F.pmod(p, _BLOOM_BITS_PER_WORD).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).alias("bits")
        )
    )


def bloom_dedup(
    new_docs: DataFrame, seen_docs: DataFrame, n_hashes: int = 5,
    n_bits: int = 1 << 20,
) -> DataFrame:
    """Incremental corpus dedup: flag docs in ``new_docs`` whose text
    is (probably) already in ``seen_docs`` — the new-crawl-batch vs
    historical-corpus membership pass. An exact anti-join dedup against
    a 100 TB historical corpus shuffles BOTH sides on every ingest;
    here the history collapses once into the packed filter table
    (bloom_filter_words) and each batch probes it with a join on the
    word key — the history is never re-shuffled. The filter broadcasts
    when its size bound from ``n_bits`` fits under the session's
    ``spark.sql.autoBroadcastJoinThreshold``; otherwise the probe is a
    shuffled join on the same key.

    Asymmetric error, the right direction for dedup: might-contain has
    NO false negatives (every true duplicate is flagged), and false
    positives (a novel doc flagged seen, rate ~(1-e^(-kn/m))^k) only
    cost a few novel docs. Size ``n_bits`` ~10 bits/doc for ~1% FP at
    k=5.

    Returns (doc_id, probably_seen) — total over new_docs."""
    flt = bloom_filter_words(seen_docs, n_hashes, n_bits)
    if _filter_broadcasts(new_docs.sparkSession, n_bits):
        flt = F.broadcast(flt)
    probes = new_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            _bloom_positions(F.col("text"), n_hashes, n_bits)
        ).alias("p"),
    ).withColumn("word", F.expr(f"p div {_BLOOM_BITS_PER_WORD}"))
    hit = F.when(F.col("bits").isNull(), F.lit(0)).otherwise(
        F.expr(
            f"CAST(shiftright(bits, CAST(pmod(p,"
            f" {_BLOOM_BITS_PER_WORD}) AS INT)) & 1 AS INT)"
        )
    )
    return (
        probes.join(flt, "word", "left")
        .groupBy("doc_id")
        .agg((F.min(hit) == 1).alias("probably_seen"))
    )


def token_count(documents: DataFrame) -> DataFrame:
    documents = ensure_scan_parallelism(documents)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens_col()).cast("long").alias("token_count"),
    )


# BPE-ish pre-tokenization pattern (GPT-2 family shape, restricted to
# constructs whose semantics are identical in Java regex and RE2):
# letter runs, digit runs, single non-alphanumeric non-space chars.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Subword-style token counting via regex pre-tokenization — the
    cheap cross-engine-deterministic stand-in for a real BPE pass."""
    documents = ensure_scan_parallelism(documents)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("bpe_token_count"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features."""
    documents = ensure_scan_parallelism(documents)
    toks = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "long"
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        (F.length("text").cast("double") / n_tok.cast("double")).alias(
            "avg_token_len"
        ),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
    )


def lang_distribution(documents: DataFrame) -> DataFrame:
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("doc_count"),
            (
                F.sum("n_chars").cast("double") / F.count("*").cast("double")
            ).alias("avg_chars"),
        )
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Exact-document fingerprint: md5 over the normalized text."""
    documents = ensure_scan_parallelism(documents)
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )


def rolling_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token stream, h = fold(tokens, (h*31 + v(tok)) mod (2^31-1)),
    v(tok) = first 8 md5 hex digits as an integer.

    Unlike the md5-of-normalized-text fingerprint this is a sequential
    fold (token order matters, token substitutions shift everything
    after them) — the rolling-hash family used for shift-resistant
    chunk fingerprinting. Values stay < 2^31 so the fold arithmetic
    (< 2^36) is exact in 64-bit on any engine; the DuckDB oracle
    mirrors it with list_reduce."""
    documents = ensure_scan_parallelism(documents)
    toks = tokens_col()
    m = F.lit(2147483647).cast("long")
    vals = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    h = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * F.lit(31).cast("long") + v) % m,
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        h.alias("rolling_hash"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Function-word-profile language ID (n-gram-heuristic family)."""
    documents = ensure_scan_parallelism(documents)
    toks = tokens_col()

    def _contains(arr):
        # closure (NOT a 2-arg lambda: PySpark would bind arg 2 as the
        # element index)
        return lambda t: F.array_contains(arr, t)

    scores = {}
    for lang, words in LANG_PROFILES.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, _contains(arr)))
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            F.lit("en"),
        )
        .when(
            (scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]),
            F.lit("es"),
        )
        .when(scores["de"] >= scores["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), pred.alias("pred_lang")
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Gopher gate thresholds (Rae et al. 2021, §A1.1), applied once in
# _gopher_signal_cols for gopher_quality and filter_funnel
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def _gopher_signal_cols():
    """The four Gopher §A1.1 signal columns over ``text`` and the four
    pass flags that gate them — (n_words, mean_word_len, alpha_frac,
    stop_hits), (words, word length, alpha, stopwords) — shared by
    gopher_quality (per-doc signals) and filter_funnel (per-source
    telemetry) so the rules cannot diverge."""
    toks = tokens_col()
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_word_len = sum_len.cast("double") / n_words.cast("double")
    alpha_cnt = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    alpha_frac = alpha_cnt.cast("double") / n_words.cast("double")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("long")
    passes = (
        (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS),
        (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN),
        alpha_frac >= GOPHER_MIN_ALPHA_FRAC,
        stop_hits >= GOPHER_MIN_STOP_HITS,
    )
    return (n_words, mean_word_len, alpha_frac, stop_hits), passes


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length bounds, fraction of words with
    an alphabetic character, and a required minimum of canonical
    stopword hits. Emits the signals plus the combined keep flag — all
    pure Catalyst array expressions, one projection, no shuffle."""
    documents = ensure_scan_parallelism(documents)
    signals, passes = _gopher_signal_cols()
    n_words, mean_word_len, alpha_frac, stop_hits = signals
    p_words, p_wordlen, p_alpha, p_stop = passes
    keep = p_words & p_wordlen & p_alpha & p_stop
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and the
    share of the token stream covered by the most frequent 2-gram
    (ties broken by lexicographically smallest bigram, so the mode is
    deterministic across engines). Every signal is per-document, so
    the whole operator is ONE map-only Arrow kernel — no explode, no
    aggregate shuffles (see the kernel comment below)."""
    # One map-only Arrow kernel per document (guide §4.2): the former
    # shape exploded every bigram and ran TWO aggregate shuffles
    # (per-(doc, bigram) counts, then the per-doc struct-min mode);
    # every signal here is per-document, so the kernel computes the
    # identical values with zero exchanges. Bit-exact notes:
    # dup_token_frac = 1.0 - n_dist/n_tok in the same f64 op order;
    # the mode is min over (-count, bigram) — Python tuple min over
    # (int, str) matches the struct-min, and Python str ordering
    # equals Spark's UTF8String byte ordering because UTF-8 is
    # code-point-order-preserving; top_bigram_frac = (cnt * 2.0) / n
    # in the same op order (a null-text doc reproduces the Catalyst
    # size(null) = -1 row: n_tokens -1, frac -0.0).
    def signals(doc_id, t):
        if t is None:
            yield doc_id, -1, 0.0, None, 0, 0.0 * 2.0 / -1.0
            return
        toks = t.split(" ")
        n = len(toks)
        n_dist = len(set(toks))
        counts: dict = {}
        for a, b in zip(toks, toks[1:]):
            bg = a + " " + b
            counts[bg] = counts.get(bg, 0) + 1
        if counts:
            neg, bg = min((-c, g) for g, c in counts.items())
            cnt = -neg
        else:
            bg, cnt = None, 0
        yield (
            doc_id, n, 1.0 - float(n_dist) / float(n), bg, cnt,
            (float(cnt) * 2.0) / float(n),
        )

    return map_rows(
        ensure_scan_parallelism(
            documents.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            )
        ),
        "doc_id long, n_tokens long, dup_token_frac double,"
        " top_bigram string, top_bigram_cnt long, top_bigram_frac double",
        signals,
    )


def deterministic_sample(
    documents: DataFrame, rates: dict[str, float]
) -> DataFrame:
    """Reproducible stratified sampling by language: keep a row iff the
    md5-derived uniform of ("s1", doc_id) falls under its stratum's
    rate. Hash-based (not RNG-based like sampleBy), so the SAME rows
    are kept on every engine, every run, any partitioning — the
    property training-data pipelines need for resumable sampling.
    Unknown strata default to rate 0."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("s1"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("double")
        / float(16**15)
    )
    rate = None
    for lang, r in sorted(rates.items()):
        clause = (F.when if rate is None else rate.when)
        rate = clause(F.col("lang") == lang, F.lit(float(r)))
    rate = rate.otherwise(F.lit(0.0)) if rate is not None else F.lit(0.0)
    return documents.filter(u < rate).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )


def pack_shards(documents: DataFrame, token_budget: int = 4096) -> DataFrame:
    """Deterministic training-shard assignment: within each source,
    documents in doc_id order are packed contiguously into shards of
    ~token_budget tokens (a doc opens a new shard when its tokens would
    cross the budget boundary — floor((cumsum - tokens) / budget), the
    streaming analogue of sequence packing).

    The cumulative sum is PARTITIONED by source: a global-order window
    would funnel every row through one task at 10^12 rows, while
    per-source packing parallelizes across sources and matches how
    sharding pipelines actually stream per corpus. Shard ids are stable
    under any partitioning because (source, doc_id) is a total order."""
    from pyspark.sql.window import Window

    n_tok = F.size(tokens_col()).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = documents.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.alias("n_tokens"),
    ).withColumn("cum", F.sum("n_tokens").over(w))
    return with_cum.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("cum") - F.col("n_tokens"))
            / F.lit(token_budget).cast("double")
        ).cast("long").alias("shard"),
    )


# 12 high-signal character classes + implicit 'other': the most frequent
# English letters individually, the remaining letters pooled, digits,
# space. Small enough that the fused projection stays within the JVM's
# generated-method limits (a per-letter alphabet blew the 64KB cap and
# pushed Spark into interpreted fallback).
# each class is a literal character SET (regex ranges expanded), so the
# per-class count can use translate() — straight codegen'd char-set
# removal, no regex engine on the hot path
_ENTROPY_CLASSES = (
    "e", "t", "a", "o", "i", "n", "s", "r",
    "bcdfghjklmpquvwxyz", "0123456789", " ",
)


def char_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy (bits) of the lowercased character distribution
    over FIXED classes (top English letters, pooled other letters,
    digits, space, other) — a classic machine-text/quality signal
    (gibberish and encoded blobs sit far from prose entropy).

    The fixed, ordered class list makes the floating-point fold
    DETERMINISTIC (same summation order on every engine/partitioning),
    so the value itself is oracle-checkable — unlike an explode+groupBy
    entropy whose sum order varies. Per-class counts via translate()
    char-set removal (codegen, no regex engine); all pure Catalyst, no
    shuffle.

    Staged projections are load-bearing: lowered text, then the class
    counts, then the entropy arithmetic each materialize as CONCRETE
    columns. Inlining instead duplicates every count 3-4x inside the
    entropy terms (and `other` re-inlines all of them), exploding the
    expression tree past the codegen method limit into interpreted
    eval with no subexpression reuse — measured ~40x slower.
    CollapseProject keeps the stages separate because each column is
    expensive and multiply-referenced."""
    documents = ensure_scan_parallelism(documents)
    with_lower = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.col("text")).alias("_lt"),
    )
    cnt_cols = [
        (
            F.length("_lt") - F.length(F.translate(F.col("_lt"), cls, ""))
        ).cast("double").alias(f"_c{i}")
        for i, cls in enumerate(_ENTROPY_CLASSES)
    ]
    with_counts = with_lower.select(
        "doc_id",
        F.length("_lt").cast("double").alias("_total"),
        *cnt_cols,
    )
    counts = [F.col(f"_c{i}") for i in range(len(_ENTROPY_CLASSES))]
    total = F.col("_total")
    other = total - sum(counts[1:], counts[0])
    with_other = with_counts.select(
        "doc_id", "_total", *[f"_c{i}" for i in range(len(counts))],
        other.alias(f"_c{len(counts)}"),
    )
    log2 = F.log(F.lit(2.0))
    entropy = None
    for i in range(len(_ENTROPY_CLASSES) + 1):
        c = F.col(f"_c{i}")
        p = c / total
        term = F.when(c > 0, -p * F.log(p) / log2).otherwise(F.lit(0.0))
        entropy = term if entropy is None else entropy + term
    return with_other.select(
        "doc_id",
        F.when(total > 0, F.round(entropy, 6)).otherwise(F.lit(0.0))
        .alias("char_entropy"),
    )


def kmv_distinct_sketch(documents: DataFrame, k: int = 64) -> DataFrame:
    """K-minimum-values distinct-token estimator per source.

    The KMV sketch keeps the k smallest hash values of the stream; with
    h uniform on [0,1), E[distinct] = (k-1)/h_(k). Unlike HLL(++) whose
    register layouts differ per engine, KMV over md5 (first 15 hex
    digits -> uniform in [0, 16^15)) is DETERMINISTIC and bit-identical
    in ANSI SQL, so the estimate itself is oracle-checkable. This is
    :func:`kmv_sketch_only` joined with an exact distinct count that
    rides along to show the estimation error.
    """
    exact = (
        documents.select("source", F.explode(tokens_col()).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("exact_distinct"))
    )
    return kmv_sketch_only(documents, k).join(exact, "source").select(
        "source", "exact_distinct", "kmv_estimate"
    )


def unigram_stats(documents: DataFrame) -> DataFrame:
    """Corpus-frequency language-model proxy (the CCNet-style idea of
    scoring documents under a corpus LM, with exact cross-engine math):
    per document, the mean corpus frequency of its tokens and the
    hapax fraction (tokens occurring exactly once in the whole source).
    Fluent in-domain text has high mean frequency / low hapax share;
    gibberish, encoded blobs, and OOV-heavy text sit at the other end.

    All aggregations are INTEGER (sum of counts, token counts), with a
    single final division — deterministic on every engine and
    partitioning, unlike a -log p sum whose f64 order varies. Shape:
    one explode, one (source, token) vocab count with map-side
    partials, one co-partitioned join back, one per-doc groupBy. The
    vocab side is Zipf-small relative to the token stream; AQE
    broadcasts it at small scale and shuffles both sides on the token
    key at corpus scale. Total over documents."""
    # stays Catalyst: the vocab side broadcasts, so the occurrence
    # stream is never shuffled — measured FASTER than the per-doc
    # count kernel here, whose output is re-evaluated once per plan
    # reference (opaque Python stages get no cross-branch reuse)
    documents = ensure_scan_parallelism(documents)
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.explode(tokens_col()).alias("tok"),
    )
    vocab = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )
    per_doc = (
        toks.join(vocab, ["source", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("cnt").cast("long").alias("_sum_cnt"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("long")
            .alias("_hapax"),
        )
    )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .na.fill({"n_tokens": 0, "_sum_cnt": 0, "_hapax": 0})
        .select(
            "doc_id",
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("_sum_cnt").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_token_freq"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("_hapax").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("hapax_frac"),
        )
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, k: int = 3
) -> DataFrame:
    """Benchmark decontamination — the standard training-data hygiene
    op: flag every document sharing ANY word k-gram with a held-out
    benchmark/test set, so eval data can be excluded from training
    corpora.

    Spark shape: the benchmark's distinct shingles are the small side
    — broadcast them against the corpus shingle table (scan-side probe,
    no shuffle of the big side). At a 10^8-ngram benchmark, drop the
    hint: AQE falls back to a shuffled hash join on the shingle key,
    still linear. Output is TOTAL over documents (hit_shingles = number
    of distinct contaminated shingles in the doc, 0 when clean).
    """
    bench_sh = (
        benchmark.select(F.explode(_shingles(k)).alias("shingle")).distinct()
    )
    # corpus-side shingles via the Arrow kernel (guide §4.2): the
    # broadcast probe and the per-doc hit count are unchanged, only
    # the shingle generation moves off the Catalyst transform chain
    doc_sh = _doc_shingles_arrow(documents, k, with_source=False).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("hit_shingles"))
    )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(hits, "doc_id", "left")
        .na.fill({"hit_shingles": 0})
        .select(
            "doc_id",
            "hit_shingles",
            (F.col("hit_shingles") > 0).alias("contaminated"),
        )
    )


# PII patterns written to the common subset of Java regex (Spark) and
# RE2 (DuckDB/Go scanners): no lookaround, no backrefs.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+\d[\d\-]{7,14}\d"),
)


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrubbing for training text: count and redact emails, IPv4
    addresses, and international-format phone numbers. Pure projection
    (regexp_count + chained regexp_replace — whole-stage codegen, no
    shuffle, no Python). Redaction order is part of the contract:
    emails first (their local parts can contain digits), then IPs,
    then phones."""
    documents = ensure_scan_parallelism(documents)
    text = F.col("text")
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    red = text
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *counts,
        red.alias("redacted_text"),
    )


def kmv_minima(documents: DataFrame, k: int = 64) -> DataFrame:
    """The KMV sketch itself: the k smallest distinct token-hash values
    per source, as a sorted ``array<double>``.

    This is the mergeable object (union two sketches' arrays, sort,
    keep the k smallest = sketch of the union), and the production
    path: a cheap ``approx_count_distinct`` pre-pass (HLL — map-side
    mergeable, JVM-side) derives a per-source hash threshold keeping
    ~8k candidates, so the k-th-smallest selection sorts a BOUNDED set
    instead of every distinct hash — no exact countDistinct anywhere.
    With HLL rsd 5% and 8x headroom the probability of the filter
    starving the sketch (<k survivors when distinct >= k) is nil; when
    distinct < 8k the threshold clamps to 1.0 and every hash survives.
    """
    documents = ensure_scan_parallelism(documents)
    m = float(16**15)
    toks = documents.select(
        "source", F.explode(tokens_col()).alias("tok")
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("double") / m,
    )
    acd = toks.groupBy("source").agg(
        F.approx_count_distinct("tok", 0.05).alias("acd")
    )
    cand = (
        toks.join(F.broadcast(acd), "source")
        .filter(
            F.col("h")
            <= F.least(F.lit(1.0), F.lit(8.0 * k) / F.col("acd"))
        )
        .select("source", "h")
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("h")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("h")).alias("minima"))
    )


def kmv_estimate_from_minima(minima_col, k: int = 64):
    """Column expression: the KMV estimate from a sorted minima array."""
    got = F.size(minima_col)
    return F.when(got < k, got.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.element_at(minima_col, k)
    )


def kmv_sketch_only(documents: DataFrame, k: int = 64) -> DataFrame:
    """Production KMV estimate: sketch only, NO exact countDistinct
    rider (the rider :func:`kmv_distinct_sketch` adds is an O(distinct)
    full pass kept solely so the oracle query can show the estimation
    error; at 10^12 tokens it costs what the sketch exists to avoid).
    """
    return kmv_minima(documents, k).select(
        "source",
        F.round(kmv_estimate_from_minima(F.col("minima"), k), 2).alias(
            "kmv_estimate"
        ),
    )


def _shingles(k: int = 3):
    """Distinct k-word shingles of the text column."""
    toks = tokens_col()
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    # guard: sequence() descends when n < k, so emit no shingles there
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def _doc_shingles_arrow(
    documents: DataFrame, k: int, with_source: bool = False
) -> DataFrame:
    """One (doc_id[, source], shingles array<string>) row per document
    via mapInArrow — the per-doc distinct k-shingle list built in the
    Python worker (C-speed split/join/dict) instead of the Catalyst
    transform+slice+concat_ws+array_distinct chain (guide §4.2). The
    array stays unexploded, so consumers that only need per-doc COUNTS
    read ``size(shingles)`` map-only with no explode and no shuffle.

    Bit-identical values: Python ``str.split(" ")`` matches Java
    ``Pattern.split`` (limit -1) for the literal single-space pattern;
    ``" ".join`` is concat_ws; dict.fromkeys preserves the
    first-occurrence order of array_distinct; null text or < k tokens
    yields an empty array exactly like the guarded sequence()."""
    cols = [F.col("doc_id").cast("long").alias("doc_id")]
    schema = "doc_id long"
    if with_source:
        cols.append(F.col("source"))
        schema += ", source string"
    cols.append(F.col("text"))
    schema += ", shingles array<string>"

    def shingles(doc_id, *rest):
        *source, t = rest
        toks = [] if t is None else t.split(" ")
        yield (doc_id, *source, list(dict.fromkeys(
            " ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)
        )))

    return map_rows(
        ensure_scan_parallelism(documents.select(*cols)), schema, shingles
    )


def ngram_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.1,
) -> DataFrame:
    """Pairwise k-shingle Jaccard within a blocking key (source).

    Hot-shingle guard: a shingle shared by d docs within one source
    produces d^2 pre-aggregation join rows, so stop-phrase shingles
    ("of the and") are a quadratic skew bomb at corpus scale. Standard
    practice is a document-frequency cap: shingles with df > 64
    carry ~no similarity signal and are dropped BEFORE pair generation
    (sizes stay full-set, so the score is a lower bound for pairs whose
    overlap was mostly stop-shingles). The hot-set anti-join is left
    unhinted: at bench scale AQE broadcasts it (the set is the
    vocabulary head), while at 10^12 rows — where the Zipf mid-tail
    makes df > 64 shingles too numerous to broadcast — it falls back
    to a shuffle join on the same (source, shingle) key the pair
    groupBy needs anyway.
    """
    docsh = _doc_shingles_arrow(documents, k, with_source=True)
    # per-doc distinct-shingle counts map-only off the unexploded
    # array: the former sh.groupBy(doc_id) shuffled every shingle row
    # just to count them (guide §2.4 — remove the exchange outright)
    sizes = docsh.select(
        "doc_id", F.size("shingles").cast("long").alias("sz")
    ).filter(F.col("sz") > 0)
    sh = docsh.select(
        "doc_id", "source", F.explode("shingles").alias("shingle")
    )
    hot = (
        sh.groupBy("source", "shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 64)
        .select("source", "shingle")
    )
    rare = sh.join(hot, ["source", "shingle"], "left_anti")
    # Inverted-index pair generation instead of a string-keyed self-join:
    # one groupBy collects each shingle's doc list (bounded <= 64 by
    # the anti-join, so agg-buffer memory is bounded), then the i<j
    # combinations explode in-memory — the same pair multiset the
    # self-join produced, without shuffling the shingle table twice.
    posting = rare.groupBy("source", "shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    n = F.size("ids")
    pair_arrays = posting.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, n),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    inter = (
        pair_arrays.select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _minhash_bands_arrow(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, bands array<string>) via one mapInArrow pass — the
    portable-hash (md5) MinHash signature computed per document in the
    Python worker instead of explode + 8 Catalyst md5 calls per
    shingle row + a groupBy shuffle of the hash strings (guide §4.2:
    map-only, C-speed OpenSSL md5, zero exchanges).

    Bit-identical to the Catalyst formulation: Python ``str.split(" ")``
    matches Java ``Pattern.split`` (limit -1) for the literal
    single-space pattern incl. leading/trailing empties; md5 runs over
    the same UTF-8 bytes; the per-seed min is the same byte-wise
    lexicographic min over lowercase hex strings; duplicate shingles
    cannot change a min, so skipping array_distinct is value-neutral.
    Docs that produce no shingle (null text or < k tokens) emit no row,
    exactly like the groupBy over an empty explode."""
    r = _MINHASH_SEEDS // _MINHASH_BANDS

    def bands(doc_id, t):
        if t is None:
            return
        toks = t.split(" ")
        n = len(toks)
        if n < k:
            return
        bases = _minhash_bases()
        cache, cap = _worker_cache("minhash", _MINHASH_ENTRY_BYTES)
        # compare raw digests: hex encoding is byte-order-preserving,
        # so the min digest IS the min hex string
        mins: list = [None] * _MINHASH_SEEDS
        for j in range(n - k + 1):
            sh = " ".join(toks[j:j + k])
            digs = cache.get(sh)
            if digs is None:
                if len(cache) >= cap:
                    cache.clear()
                raw = sh.encode("utf-8")
                digs = []
                for base in bases:
                    d = base.copy()
                    d.update(raw)
                    digs.append(d.digest())
                cache[sh] = digs
            for s in range(_MINHASH_SEEDS):
                h = digs[s]
                if mins[s] is None or h < mins[s]:
                    mins[s] = h
        hexes = [m.hex() for m in mins]
        yield doc_id, [
            md5("".join(hexes[b * r:(b + 1) * r]).encode()).hexdigest()
            for b in range(_MINHASH_BANDS)
        ]

    return map_rows(
        ensure_scan_parallelism(
            documents.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            )
        ),
        "doc_id long, bands array<string>",
        bands,
    )


def minhash_bands(documents: DataFrame) -> DataFrame:
    """MinHash signature (lexicographic min per seed over 3-word
    shingles) + 2 LSH band hashes of 4 seeds each. Candidate duplicate
    groups share a band. Hashes derive from md5 hex digests so the
    exact same values are computable in ANSI SQL (see
    ``_minhash_bands_arrow``)."""
    sig = _minhash_bands_arrow(documents, 3)
    return sig.select(
        "doc_id",
        F.element_at("bands", 1).alias("band_a"),
        F.element_at("bands", 2).alias("band_b"),
    )


def minhash_band_table(documents: DataFrame, k: int = 3) -> DataFrame:
    """MinHash LSH in LONG form over ``k``-word shingles: one
    (doc_id, band) row per band, the shape the dedup operators join
    and store. At k=3 the band values are bit-identical to
    minhash_bands' band_a/band_b."""
    sig = _minhash_bands_arrow(documents, k)
    return sig.select("doc_id", F.explode("bands").alias("band"))


def minhash_dedup(documents: DataFrame, k: int = 3) -> DataFrame:
    """Near-dup dedup decision: among docs sharing an LSH band, keep the
    smallest doc_id (the standard minhash-band dedup pass; at scale the
    exact-jaccard verify runs only within these buckets).

    The decision table is TOTAL over the input: documents too short to
    shingle (< k tokens) produce no bands, so they are left-joined back
    and kept as their own keepers — a consumer can treat this as a
    complete keep/drop decision."""
    both = minhash_band_table(documents, k)
    keeper = both.groupBy("band").agg(F.min("doc_id").alias("keep_id"))
    decided = (
        both.join(keeper, "band")
        .groupBy("doc_id")
        .agg(F.min("keep_id").alias("keep_id"))
    )
    all_docs = documents.select(F.col("doc_id").cast("long").alias("doc_id"))
    total = all_docs.join(decided, "doc_id", "left")
    return total.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("keep_id"), F.col("doc_id")).cast("long").alias("keep_id"),
        (
            F.col("doc_id")
            == F.coalesce(F.col("keep_id"), F.col("doc_id"))
        ).alias("is_kept"),
    )


def dsir_weights(
    raw: DataFrame, target: DataFrame, n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score each raw
    document by the log-likelihood ratio of its hashed n-gram features
    (unigram + bigram occurrences hashed into ``n_buckets``) under the
    TARGET distribution vs the RAW distribution. Resampling keeps the
    highest-weight documents, tilting a crawl toward a target domain
    without training a classifier — the standard lightweight
    data-selection pass ahead of quality models.

    Exact, portable arithmetic: bucket probabilities are add-one
    smoothed; each bucket's log ratio
    log2((cnt_t+1)/(N_t+B)) - log2((cnt_r+1)/(N_r+B)) is rounded to
    1e-6 fixed point ONCE per bucket, and a document's weight is the
    INTEGER sum of its features' fixed-point ratios — associative, so
    identical under any partitioning, and exactly what the ANSI-SQL
    oracle computes. No per-doc division: (weight_micro, n_features)
    lets the consumer normalize (or Gumbel-sample) as it likes.

    Scale shape: both distribution builds are feature-explode ->
    groupBy(bucket) with map-side partials collapsing into at most
    ``n_buckets`` rows; the per-bucket ratio table (<= n_buckets rows)
    broadcasts to the raw side's feature stream; one integer agg per
    doc. No windows, and no joins on Zipf-heavy token keys — the
    bucket key is uniform by construction, which is the whole point of
    the hashing trick at 10^12 documents.
    """
    B = int(n_buckets)

    def feats(df: DataFrame) -> DataFrame:
        """(doc_id, bucket, c) — per-doc hashed-feature COUNTS via one
        mapInArrow pass (guide §4.2 + §2.3 map-side pre-aggregation):
        the former Catalyst shape exploded every unigram/bigram
        occurrence and paid an md5 + base-16 conv per row; the kernel
        hashes each distinct gram once per worker (C-speed md5, Zipf
        cache) and emits per-(doc, bucket) counts, so every downstream
        aggregate sums ``c`` instead of counting occurrence rows —
        identical integers, far fewer rows through the exchanges."""

        def bucket_counts(doc_id, t):
            if t is None:
                return
            cache, cap = _worker_cache(("dsir", B), _INT_ENTRY_BYTES)
            toks = t.split(" ")
            counts: dict = {}
            for g in toks + [a + " " + b for a, b in zip(toks, toks[1:])]:
                b = cache.get(g)
                if b is None:
                    if len(cache) >= cap:
                        cache.clear()
                    h = md5(f"ds1:{g}".encode("utf-8")).hexdigest()
                    b = cache[g] = int(h[:8], 16) % B
                counts[b] = counts.get(b, 0) + 1
            for b, c in counts.items():
                yield doc_id, b, c

        return map_rows(
            ensure_scan_parallelism(
                df.select(
                    F.col("doc_id").cast("long").alias("doc_id"), "text"
                )
            ),
            "doc_id long, bucket long, c long",
            bucket_counts,
        )

    raw_feats = feats(raw)
    raw_cnt = raw_feats.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("cnt_r")
    )
    tgt_cnt = feats(target).groupBy("bucket").agg(
        F.sum("c").cast("long").alias("cnt_t")
    )
    # raw docs only ever hit raw-side buckets, so the ratio domain is
    # the raw bucket table; totals ride a 1-row broadcast cross join
    joined = raw_cnt.join(tgt_cnt, "bucket", "left").na.fill(
        {"cnt_t": 0}
    )
    # totals from the FULL count tables: N_t includes target buckets
    # no raw feature hashes into (they still carry probability mass)
    totals = raw_cnt.agg(F.sum("cnt_r").alias("n_r")).crossJoin(
        tgt_cnt.agg(F.sum("cnt_t").alias("n_t"))
    )
    ratio = joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log2(F.col("cnt_t") + 1)
                - F.log2(F.col("n_t") + F.lit(B))
                - F.log2(F.col("cnt_r") + 1)
                + F.log2(F.col("n_r") + F.lit(B))
            )
            * 1e6
        ).cast("long").alias("lr_micro"),
    )
    return (
        raw_feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lr_micro")).cast("long")
            .alias("weight_micro"),
            F.sum("c").cast("long").alias("n_features"),
        )
    )


def minhash_incremental_dedup(
    new_docs: DataFrame, stored_bands: DataFrame
) -> DataFrame:
    """Cross-crawl incremental near-dup gate — the MinHash analogue of
    bloom_dedup's historical Bloom probe: a NEW crawl batch
    is deduped against an already-signed history WITHOUT recomputing
    history signatures. ``stored_bands`` is the persisted
    minhash_band_table output for the historical corpus ((doc_id, band)
    long form at the default k = 3, and
    doc_ids must be unique across history + new — monotone crawl ids
    satisfy both).

    Decision semantics are EXACTLY batch minhash_dedup over the union
    corpus restricted to the new batch's rows (when historical ids
    precede new ids): per band the keeper is the smallest doc_id across
    history + new, and each new doc adopts the smallest keeper across
    its bands. Only the new batch is shingled; history costs one scan
    of its stored band table — at crawl scale that is the difference
    between re-shingling 10^12 historical docs per batch and reading a
    compact (doc_id, band) parquet.

    Returns (doc_id, keep_id, is_kept, dup_of_history), total over
    new_docs (shingle-less docs keep themselves). dup_of_history marks
    docs whose keeper lives in history; the winner's provenance rides
    the min-struct through both aggregations, so the flag costs no
    extra join.
    """
    new_bands = minhash_band_table(new_docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "band",
        F.lit(False).alias("is_hist"),
    )
    hist = stored_bands.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("band").cast("string").alias("band"),
        F.lit(True).alias("is_hist"),
    )
    both = new_bands.unionByName(hist)
    keeper = both.groupBy("band").agg(
        F.min(F.struct("doc_id", "is_hist")).alias("kw")
    )
    decided = (
        new_bands.select("doc_id", "band")
        .join(keeper, "band")
        .groupBy("doc_id")
        .agg(F.min("kw").alias("kw"))
    )
    all_new = new_docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return (
        all_new.join(decided, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("kw.doc_id"), F.col("doc_id"))
            .cast("long").alias("keep_id"),
            (
                F.col("doc_id")
                == F.coalesce(F.col("kw.doc_id"), F.col("doc_id"))
            ).alias("is_kept"),
            F.coalesce(F.col("kw.is_hist"), F.lit(False))
            .alias("dup_of_history"),
        )
    )


def minhash_dedup_best(documents: DataFrame) -> DataFrame:
    """Quality-aware near-dup keeper selection: like minhash_dedup,
    but each LSH band keeps its BEST-scoring document (``n_chars``
    descending, doc_id ascending on ties) instead of the smallest id —
    what production corpus dedup actually wants (keep the longest /
    cleanest copy of a template family, not whichever crawled first).
    A document adopts the best-scoring keeper across its bands (same
    tie-break); ties are broken deterministically, so the decision is
    partitioning-independent.

    Same scale shape as minhash_dedup: bucketed band aggregation with
    map-side partials (max(struct) instead of min), join back on the
    band key, one agg per doc, left-join totalization for
    shingle-less docs. No windows, no pair joins.

    Returns (doc_id, keep_id, keep_score, is_kept), total over input.
    """
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("_score"),
    )
    bands = minhash_band_table(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), "band"
    ).join(docs, "doc_id")
    # winner rides a max(struct): (score, -doc_id) so the tie-break is
    # the SMALLEST id among equal scores
    winner = F.struct(
        F.col("_score").alias("s"),
        (-F.col("doc_id")).alias("neg_id"),
    )
    keeper = bands.groupBy("band").agg(F.max(winner).alias("kw"))
    decided = (
        bands.select("doc_id", "band")
        .join(keeper, "band")
        .groupBy("doc_id")
        .agg(F.max("kw").alias("kw"))
        .select(
            "doc_id",
            (-F.col("kw.neg_id")).cast("long").alias("keep_id"),
            F.col("kw.s").cast("long").alias("keep_score"),
        )
    )
    return (
        docs.join(decided, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("keep_id", "doc_id").cast("long").alias("keep_id"),
            F.coalesce("keep_score", "_score").cast("long")
            .alias("keep_score"),
            (
                F.col("doc_id") == F.coalesce("keep_id", "doc_id")
            ).alias("is_kept"),
        )
    )


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash over tokens: per bit, sign of the sum of token
    weights (+1/-1 per md5-derived bit).

    Token bits come from the md5 hex digest (digit k, bit k%4) rather
    than xxhash64 so the exact same hash is computable in ANSI SQL —
    the DuckDB oracle in __spark_entry__ mirrors it digit for digit.

    Computed per document in ONE mapInArrow pass (guide §4.2): the
    former Catalyst shape exploded every token and shuffled 16 digit
    columns per token into a 64-conditional-sum groupBy; the kernel
    hashes each DISTINCT token once per batch (md5 at C speed, Zipf
    cache), accumulates the 64 per-bit counts in NumPy, and emits one
    row per doc with zero exchanges. Bit-exact: the first 16 hex
    digits map to bits via mask = int(hex[:16][::-1], 16) — digit k
    contributes its 4 low bits at positions 4k..4k+3, exactly the
    instr()-derived digit/bit layout — and ``bit set iff
    sum(+-1) > 0`` is ``2 * ones > n_tokens``. A doc with null text
    emits nothing (explode of a null array), matching the groupBy."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        from hashlib import md5

        cache, cap = _worker_cache("simhash", _INT_ENTRY_BYTES)
        shifts = np.arange(64, dtype=np.uint64)
        weights = (np.uint64(1) << shifts)

        def mask_of(tok: str):
            m = cache.get(tok)
            if m is None:
                if len(cache) >= cap:
                    cache.clear()
                m = int(md5(tok.encode("utf-8")).hexdigest()[15::-1], 16)
                cache[tok] = m
            return m

        def flush(out_ids, masks, starts, n_toks):
            marr = np.array(masks, dtype=np.uint64)
            bits = (
                (marr[:, None] >> shifts[None, :]) & np.uint64(1)
            ).astype(np.int32)
            ones = np.add.reduceat(bits, np.array(starts), axis=0)
            n = np.array(n_toks, dtype=np.int32)
            set_bits = (2 * ones) > n[:, None]
            sim = (set_bits.astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            ).view(np.int64)
            return pa.record_batch({
                "doc_id": pa.array(out_ids, type=pa.int64()),
                "simhash": pa.array(sim, type=pa.int64()),
            })

        for tbl in batches:
            ids = tbl.column("doc_id").to_pylist()
            texts = tbl.column("text").to_pylist()
            out_ids: list = []
            masks: list = []
            starts: list = []
            n_toks: list = []
            got_any = False
            for doc_id, t in zip(ids, texts):
                if t is None:
                    continue
                toks = t.split(" ")
                out_ids.append(doc_id)
                starts.append(len(masks))
                n_toks.append(len(toks))
                masks.extend(mask_of(tok) for tok in toks)
                # bound the bit matrix: ~200k tokens x 64 x int32
                if len(masks) >= 200_000:
                    yield flush(out_ids, masks, starts, n_toks)
                    got_any = True
                    out_ids, masks, starts, n_toks = [], [], [], []
            if out_ids:
                yield flush(out_ids, masks, starts, n_toks)
            elif not got_any:
                yield pa.record_batch({
                    "doc_id": pa.array([], type=pa.int64()),
                    "simhash": pa.array([], type=pa.int64()),
                })

    return ensure_scan_parallelism(
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    ).mapInArrow(kernel, "doc_id long, simhash long")


def _contract_partitions(memb: DataFrame) -> DataFrame:
    """(id, NULL, lbl) per id, (NULL, grp, lbl) per grp of each
    partition after a REBALANCE on grp: lbl is the component minimum."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        # nodes: the sorted distinct ids, then the grps
        ids = np.concatenate([b.column("id").to_numpy() for b in batches])
        uid, u = np.unique(ids, return_inverse=True)
        enc = pc.dictionary_encode(
            pa.concat_arrays([b.column("grp") for b in batches]))
        grps, g = enc.dictionary, pc.fill_null(enc.indices, -1).to_numpy()
        n, u, v = len(uid), u[g >= 0], g[g >= 0] + len(uid)
        # min-label hooking with pointer jumping: every unsettled edge
        # hooks its larger root under the smaller, then nodes jump
        parent = np.arange(n + len(grps))
        while not np.array_equal(parent[u], parent[v]):
            pu, pv = parent[u], parent[v]
            np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
            while not np.array_equal(parent[parent], parent):
                parent = parent[parent]
        yield pa.RecordBatch.from_arrays([
            pa.concat_arrays([pa.array(uid), pa.nulls(len(grps), pa.int64())]),
            pa.concat_arrays([pa.nulls(n, grps.type), grps]),
            pa.array(uid[parent])], names=["id", "grp", "lbl"])

    grp = memb.schema["grp"].dataType.simpleString()
    return memb.hint("rebalance", "grp").mapInArrow(
        kernel, f"id long, grp {grp}, lbl long")


def _component_min(memb: DataFrame, level: int) -> DataFrame:
    """(id, lo), lo the smallest id of the id's component."""
    keys = _contract_partitions(memb).groupBy("id", "grp").agg(
        F.collect_set("lbl").alias("lbls")).localCheckpoint(eager=False)
    labels = keys.where(F.col("id").isNotNull()).select(
        "id", F.array_min("lbls").alias("lo"))
    split = keys.where(F.size("lbls") > 1)
    if not split.take(1):
        return labels
    if level + 1 == _CC_MAX_LEVELS:
        raise RuntimeError(f"label_components: {split.count()} ids or groups"
                           f" still disagree at contraction level {level}")
    # contract: each key that disagrees links its labels under the one
    # hashing lowest, seeded by level so id order cannot slow a chain
    centre = F.array_min(F.transform("lbls", lambda x: F.named_struct(
        F.lit("h"), F.xxhash64(F.lit(level), x), F.lit("l"), x)))
    roots = _component_min(split.select(
        F.explode("lbls").alias("id"), centre["l"].alias("grp")), level + 1
    ).toDF("lo", "root")
    return labels.join(roots, "lo", "left").select(
        "id", F.coalesce("root", "lo").alias("lo"))


def label_components(membership: DataFrame) -> DataFrame:
    """Connected components of a bipartite membership graph
    (``id`` <-> ``grp``): (id, component), component the smallest id
    in the id's component (ids sharing a grp are connected,
    transitively). NULL ids are dropped; a NULL grp links nothing.

    Local contraction (Kiveris et al., SoCC'14; Łącki et al., 2018): a
    REBALANCE on grp bounds each partition by AQE's advisory size, a
    NumPy kernel labels each partition's ids and grps with their
    component minimum there, a groupBy collects each key's labels and
    one probe asks if any key has two. If none has, the labels are
    exact: each is a piece's minimum, and labels agreeing on every
    shared key are constant on the component. Otherwise the keys that
    disagree form a contracted graph over the labels, solved one level
    down (a lazy local checkpoint per level) and remapped through one
    join; past _CC_MAX_LEVELS levels it raises RuntimeError.
    """
    memb = membership.select(
        F.col(membership.columns[0]).cast("long").alias("id"),
        F.col(membership.columns[1]).alias("grp"),
    ).where(F.col("id").isNotNull())
    return _component_min(memb, 0).withColumnRenamed("lo", "component")


def minhash_dedup_cc(documents: DataFrame, k: int = 3) -> DataFrame:
    """Transitive-closure dedup decision: cluster_id is the smallest
    doc_id in the doc's CONNECTED COMPONENT of the band-sharing graph.

    minhash_dedup's single-pass rule is intentionally one shuffle
    deep; on a chain A~B~C (A shares a band with B, B with C, A NOT
    with C) it can emit keep(C)=B while B itself is dropped for A — a
    consumer keeping only is_kept rows then drops B AND C but keeps a
    near-dup pair (A, C-cluster) split across keepers. This operator
    closes the relation: every chained group collapses to one
    canonical doc. Small groups cost label_components one contraction
    level (two shuffles); run it on the dup-dense slice at 10^12
    scale, the one-pass decision everywhere else.

    Total over the input: shingle-less docs are their own clusters.
    """
    comp = label_components(minhash_band_table(documents, k))
    all_docs = documents.select(F.col("doc_id").cast("long").alias("doc_id"))
    total = all_docs.join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    )
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return total.select(
        "doc_id",
        cluster.cast("long").alias("cluster_id"),
        (F.col("doc_id") == cluster).alias("is_canonical"),
    )


def line_dedup(documents: DataFrame) -> DataFrame:
    """Corpus-level line deduplication (the CCNet-style pass: crawl
    boilerplate — cookie banners, nav rows, footers — repeats across
    MILLIONS of pages, so dedup below document granularity is what
    actually removes it). A line survives only at its FIRST corpus
    occurrence, ordered by (doc_id, position); every later copy in any
    document is dropped, and documents are reassembled from their
    surviving lines in order. Blank (whitespace-only) lines are exempt
    — they are paragraph STRUCTURE, not repeatable content, and always
    survive in place.

    Plan shape: posexplode -> one groupBy(line) with a min(struct)
    partial aggregate (the first-owner table; map-side combine eats
    the heavy hitters, so a banner line occurring 10^8 times ships one
    row per map task, not 10^8 shuffle rows) -> one groupBy(doc_id)
    reassembly with sort_array (no window, no per-doc ordering shuffle
    beyond the agg itself). There is NO join back on the line key: the
    min(struct(doc_id, pos)) winner rows ARE the kept occurrences, so
    the kept set is a pure projection of the aggregate — the Zipf-head
    banner line can never concentrate a join partition because no
    line-keyed join exists. Total over the input: a document whose
    every line is owned elsewhere comes back with text_dedup = ''.
    """
    lines = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    # blank lines are STRUCTURE (paragraph boundaries), not content —
    # deduping them would merge paragraphs corpus-wide after the first
    # document; they bypass the first-owner pass entirely
    blank = F.trim(F.col("line")) == F.lit("")
    content = lines.filter(~blank)
    first_owner = content.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    # (doc_id, pos) identifies exactly one line, so projecting the
    # winner struct reconstructs the kept occurrence — no join back
    kept = (
        first_owner.select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.pos").alias("pos"),
            "line",
        )
        .unionByName(lines.filter(blank).select("doc_id", "pos", "line"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), "\n")).alias("n_lines"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.col("n_lines").cast("long").alias("n_lines"),
    )


def mixture_sample(
    documents: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
) -> DataFrame:
    """Data mixing: draw a per-source token budget
    (``weight * total_tokens``) from each corpus — the pretraining
    step that turns N heterogeneous corpora into one mixture with
    chosen proportions. Within a source, documents are taken in a
    reproducible SHUFFLED order (md5("mix1:" doc_id) — prefix-by-doc_id
    would bias the sample toward whatever the upstream writer emitted
    first) until the running token count crosses the budget; the
    boundary document is included, so every non-empty source meets
    its budget. Sources without a weight contribute nothing.

    Same scale shape as pack_shards: the cumulative sum is partitioned
    by source, so no global-order window funnels 10^12 rows through
    one task; determinism is total because (md5 key, doc_id) is a
    total order and the hash is engine-independent.
    """
    from pyspark.sql.window import Window

    budget = None
    for src, wt in sorted(weights.items()):
        clause = F.when if budget is None else budget.when
        budget = clause(
            F.col("source") == src,
            # round, don't truncate: 0.7*350 is 244.9999... in
            # binary floating point; int() would lose the boundary
            # document the stated weight*total contract includes
            F.lit(int(round(wt * total_tokens))).cast("long"),
        )
    budget = (
        budget.otherwise(F.lit(0).cast("long"))
        if budget is not None
        else F.lit(0).cast("long")
    )
    w = Window.partitionBy("source").orderBy("mix_key", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = documents.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(":", F.lit("mix1"), F.col("doc_id"))
        ).alias("mix_key"),
        budget.alias("budget"),
    ).withColumn("cum", F.sum("n_tokens").over(w))
    return with_cum.filter(
        F.col("cum") - F.col("n_tokens") < F.col("budget")
    ).select("source", "doc_id", "n_tokens")


def linear_quality_score(
    documents: DataFrame,
    weights: list[int] | None = None,
    bias: int = 0,
) -> DataFrame:
    """Model-based quality scoring plumbing (the fastText-classifier
    shape used by LLM data pipelines: hashed bag-of-words -> linear
    score -> threshold). Each token hashes to a feature bucket (first
    8 md5 hex digits mod n_buckets — engine-independent); the document
    score is the mean bucket weight plus a bias.

    ``weights`` are INTEGER tenths (e.g. 7 = 0.7): the per-document
    accumulation is then an exact integer sum — order-independent and
    identical on every engine and partitioning — with ONE final f64
    division, the same determinism discipline as unigram_stats. A real
    deployment broadcasts its trained weights as this literal array
    (any size; the array lives in the plan, not in a join); the
    default is a deterministic stand-in so the plumbing is testable
    without a trained model.

    Shape: one projection (no explode — the per-token work happens
    inside array transform/aggregate on the row), no shuffle, no
    Python. Empty documents score exactly bias/10."""
    documents = ensure_scan_parallelism(documents)
    if weights is None:
        # stand-in weights in [-10, 10] tenths, fixed by bucket index
        weights = [((b * 37) % 21) - 10 for b in range(64)]
    n_buckets = len(weights)
    toks = tokens_col()
    warr = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    tok_w = F.transform(
        toks,
        lambda t: F.element_at(
            warr,
            (
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                % n_buckets
                + 1
            ).cast("int"),
        ),
    )
    n_tok = F.size(toks).cast("long")
    s = F.aggregate(
        tok_w, F.lit(0).cast("long"), lambda acc, w: acc + w
    )
    score = F.when(n_tok == 0, F.lit(float(bias) / 10.0)).otherwise(
        F.round(
            (s.cast("double") / n_tok.cast("double") + F.lit(float(bias)))
            / F.lit(10.0),
            6,
        )
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        score.alias("quality_score"),
    )


def length_quantiles(documents: DataFrame) -> DataFrame:
    """Per-language length-distribution telemetry: exact p50/p90/p99
    of n_chars plus the doc count — the dashboard numbers curation
    jobs watch to catch a broken extractor or a crawl-mix shift (a
    p99 collapse means truncation upstream; a p50 collapse means
    boilerplate won).

    EXACT percentiles (Spark's `percentile`, linear interpolation —
    bit-identical to DuckDB's quantile_cont) — one per-group sort of
    n_chars values. That is fine for the ~10^2-cardinality lang key
    whose groups are telemetry-sized; at 10^12 rows switch the call
    site to approx_percentile(n_chars, ...) (t-digest family, no full
    sort) and accept the documented error bound — same schema, same
    query shape."""
    q = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    agg = documents.groupBy("lang").agg(
        q.alias("_q"), F.count("*").cast("long").alias("n_docs")
    )
    return agg.select(
        "lang",
        F.col("_q")[0].alias("p50_chars"),
        F.col("_q")[1].alias("p90_chars"),
        F.col("_q")[2].alias("p99_chars"),
        "n_docs",
    )


def unigram_cross_entropy(documents: DataFrame) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score each document by its cross-entropy under a corpus
    unigram model, then split every source into head/middle/tail
    buckets at the per-source quartiles — head (lowest cross-entropy,
    most in-domain) is what a pretraining mix keeps first.

    H(d) = log2(N_source) - (1/n_d) * sum_t log2(cnt(t)); cnt comes
    from the corpus itself so there is no OOV mass (cnt >= 1).

    Cross-engine determinism: a raw f64 sum of logs is ordering-
    dependent, so each token's log2(cnt) is first rounded to 1e-6
    fixed point and summed as INTEGERS (associative, partitioning-
    independent); the per-doc score stays an integer (truncating
    division by n_d). Bucket thresholds are the sorted per-source
    score elements at ranks ceil(n/4) and ceil(3n/4) — integer rank
    selection, NOT interpolated percentiles: Spark's `percentile`
    and DuckDB's quantile_cont interpolate with different float
    expressions (lower*(1-f)+upper*f vs lower+(upper-lower)*f),
    which can disagree by 1 ulp exactly when tied values straddle a
    quartile and flip a bucket; element-at-rank on integers cannot.

    Scale shape: explode -> vocab groupBy (map-side partials; Zipf-
    small vs the token stream) -> join back on (source, tok) -> one
    integer per-doc agg -> two tiny broadcast joins (per-source token
    totals, per-source thresholds). No windows, no low-cardinality
    window keys. The threshold agg collects per-source doc scores
    (fine to ~10^8 docs/source); at 10^12 docs derive thresholds
    from a deterministic_sample (hash filter) — same query shape."""
    documents = ensure_scan_parallelism(documents)
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.explode(tokens_col()).alias("tok"),
    )
    vocab = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # per-type fixed-point log2(cnt), computed once per vocab entry
    vocab = vocab.withColumn(
        "lp_micro",
        F.round(F.log2(F.col("cnt")) * F.lit(1e6), 0).cast("long"),
    )
    totals = vocab.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_total")
    ).withColumn(
        "logN_micro",
        F.round(F.log2(F.col("n_total")) * F.lit(1e6), 0).cast("long"),
    )
    per_doc = (
        toks.join(vocab, ["source", "tok"])
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lp_micro").cast("long").alias("_sum_lp"),
        )
    )
    scored = per_doc.join(F.broadcast(totals), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.col("logN_micro")
            - F.expr("_sum_lp div n_tokens")
        ).cast("long").alias("_h_micro"),
    )
    # one collect + ONE sort per source; rank extraction happens in
    # the post-agg projection so the broadcast carries only two longs
    thresholds = (
        scored.groupBy("source")
        .agg(
            F.array_sort(F.collect_list("_h_micro")).alias("_sorted"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "source",
            F.expr(
                "element_at(_sorted, cast(ceil(0.25 * _n) as int))"
            ).alias("_q25"),
            F.expr(
                "element_at(_sorted, cast(ceil(0.75 * _n) as int))"
            ).alias("_q75"),
        )
    )
    return scored.join(F.broadcast(thresholds), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(F.col("_h_micro").cast("double") / F.lit(1e6), 6).alias(
            "cross_entropy"
        ),
        F.when(F.col("_h_micro") <= F.col("_q25"), F.lit("head"))
        .when(F.col("_h_micro") > F.col("_q75"), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )


def dup_ngram_fraction(
    documents: DataFrame, k: int = 5, threshold: float = 0.3
) -> DataFrame:
    """RefinedWeb/Gopher-style corpus-duplicate n-gram filter
    (Penedo et al. 2023 §3.3): for each document, the fraction of its
    DISTINCT word k-grams that also occur in at least one OTHER
    document. High fractions mark boilerplate/template pages that
    survive exact and near-dup passes because the novel remainder
    differs.

    Integer math end to end (counts, one final division, round 6) —
    deterministic under any partitioning.

    Scale shape: shingle explode (distinct per doc already, see
    _shingles) -> one groupBy on the shingle key for document
    frequency (map-side partials; Zipf head is the hot key but the
    agg is a count, not a pair join — no d^2 blowup, unlike
    ngram_jaccard which needs the df cap). There is NO join back on
    the shingle key: a shingle with df == 1 occurs in exactly one
    document, so min(doc_id) in the same aggregate names its sole
    owner, and a doc's duplicated-shingle count is just
    n_ngrams - (its unique-shingle count) — both per-doc aggregates
    keyed on doc_id, whose multiplicity is bounded by document length,
    never by corpus-wide shingle popularity. Final left join for
    totality over input docs (docs shorter than k words have no
    shingles, frac 0)."""
    # no source column here: the df aggregate keys on the shingle
    # alone, so projecting source out before the explode sheds bytes
    # from the exchange (guide §2.3)
    docsh = _doc_shingles_arrow(documents, k, with_source=False)
    sh = docsh.select("doc_id", F.explode("shingles").alias("shingle"))
    uniq_per_doc = (
        sh.groupBy("shingle")
        .agg(
            F.count("*").cast("long").alias("_df"),
            F.min("doc_id").alias("_owner"),
        )
        .filter(F.col("_df") == 1)
        .groupBy(F.col("_owner").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("_n_uniq"))
    )
    # per-doc distinct-shingle counts map-only off the unexploded
    # array (the former groupBy shuffled every shingle row to count
    # them); docs with zero shingles surface as n_ngrams = 0 exactly
    # like the missing-row + na.fill path did
    per_doc = (
        docsh.select(
            "doc_id", F.size("shingles").cast("long").alias("n_ngrams")
        )
        .join(uniq_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            (F.col("n_ngrams") - F.coalesce(F.col("_n_uniq"), F.lit(0)))
            .cast("long")
            .alias("_n_dup"),
        )
    )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .na.fill({"n_ngrams": 0, "_n_dup": 0})
        .select(
            "doc_id",
            "n_ngrams",
            F.when(
                F.col("n_ngrams") > 0,
                F.round(
                    F.col("_n_dup").cast("double")
                    / F.col("n_ngrams").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ngram_frac"),
            (
                F.when(
                    F.col("n_ngrams") > 0,
                    F.col("_n_dup").cast("double")
                    / F.col("n_ngrams").cast("double"),
                ).otherwise(F.lit(0.0))
                > F.lit(float(threshold))
            ).alias("flagged"),
        )
    )


_C4_TERMINALS = (".", "!", "?", '"')


def c4_filter(documents: DataFrame) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, §2.2) as one fused
    projection — entirely inside whole-stage codegen, no shuffle:

    line level — keep only lines that (a) end in a terminal
    punctuation mark, (b) contain >= 5 words, (c) do not
    mention 'javascript';
    page level — drop the page when the raw text contains
    'lorem ipsum' or a curly brace (code), or when fewer than
    3 sentences survive line cleaning.

    Output is total over input docs: cleaned_text plus the keep
    decision and the counters a curation dashboard tracks. At 10^12
    rows this is a pure map — partitioning-independent, no state.

    Staged projections on purpose: the line-filter lambda and the
    regexp sentence count are expensive, and naming each intermediate
    in its own select means every downstream column references the
    alias instead of re-inlining the expression (CollapseProject
    keeps stages apart when a non-cheap alias is referenced more
    than once) — one lambda evaluation per row, not five."""
    documents = ensure_scan_parallelism(documents)
    keep_line = lambda ln: (
        F.right(F.rtrim(ln), F.lit(1)).isin(*_C4_TERMINALS)
        & (F.size(F.split(F.trim(ln), " ")) >= F.lit(5))
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    staged = (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            F.split(F.col("text"), "\n").alias("_lines"),
        )
        .withColumn("_kept", F.filter(F.col("_lines"), keep_line))
        .withColumn("_cleaned", F.array_join(F.col("_kept"), "\n"))
        .withColumn(
            "_n_sent",
            F.regexp_count(F.col("_cleaned"), F.lit(r"[.!?]")),
        )
        .withColumn(
            "_drop",
            F.contains(F.lower(F.col("text")), F.lit("lorem ipsum"))
            | F.contains(F.col("text"), F.lit("{"))
            | (F.col("_n_sent") < F.lit(3)),
        )
    )
    return staged.select(
        "doc_id",
        F.size(F.col("_lines")).cast("long").alias("n_lines"),
        F.size(F.col("_kept")).cast("long").alias("n_kept_lines"),
        F.col("_n_sent").cast("long").alias("n_sentences"),
        (~F.col("_drop")).alias("kept"),
        F.when(~F.col("_drop"), F.col("_cleaned"))
        .otherwise(F.lit(None).cast("string"))
        .alias("cleaned_text"),
    )


def filter_funnel(documents: DataFrame) -> DataFrame:
    """Per-source filter-funnel telemetry: for each Gopher gate, how
    many documents pass it independently AND how many survive the
    gates applied in order — the dashboard numbers a curation job
    watches to see WHICH rule is eating the corpus (a pass-rate
    collapse on one gate after a crawl-mix shift is the first alarm).

    One projection of the _gopher_signal_cols pass flags followed by
    one integer groupBy on source — map-side partials, output rows =
    |sources|. Pure counts, deterministic under any partitioning;
    linear at 10^12 rows."""
    _, passes = _gopher_signal_cols()

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    flags = documents.select("source", *[
        p.alias(a) for p, a in zip(passes, ("_pw", "_pl", "_pa", "_ps"))
    ])
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cnt(F.col("_pw")).alias("pass_words"),
        cnt(F.col("_pl")).alias("pass_wordlen"),
        cnt(F.col("_pa")).alias("pass_alpha"),
        cnt(F.col("_ps")).alias("pass_stopwords"),
        cnt(F.col("_pw") & F.col("_pl")).alias("surv_wordlen"),
        cnt(F.col("_pw") & F.col("_pl") & F.col("_pa")).alias(
            "surv_alpha"
        ),
        cnt(
            F.col("_pw") & F.col("_pl") & F.col("_pa") & F.col("_ps")
        ).alias("surv_all"),
    )


def span_dedup(
    documents: DataFrame, n: int = 3, hot_min_count: int = 1024,
) -> DataFrame:
    """C4 three-sentence-span deduplication (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring
    more than once in the data set") — the sub-document dedup that
    removes syndicated article bodies and licence blurbs which
    line-level dedup misses because surrounding lines differ.

    Sentences split on the RE2/Java-common '[.!?] ' boundary (RE2 has
    no lookbehind, so the terminator is consumed; the rebuilt text
    joins surviving sentences with ' | ' — this operator feeds dedup
    decisions and span stats, not byte-preserving reconstruction).
    A span survives only at its FIRST corpus occurrence ordered by
    (doc_id, pos); every later occurrence drops its n sentences.

    Plan shape: one span groupBy with a min(struct) partial (map-side
    combine eats the 10^8-occurrence syndicated span), then the
    duplicate occurrences are found with a SKEW-PROOF two-phase
    join-back — unlike line_dedup, the duplicates themselves are
    needed here, so the occurrence table must be probed. The heaviest
    keys (count >= ``hot_min_count``, top 100,000 by count,
    deterministically ordered) are broadcast, so their occurrences
    resolve map-side and never enter a shuffled join; everything else
    goes through the equi-join whose per-key multiplicity is bounded
    below hot_min_count (or by the 100,000th hottest count) by
    construction — no reliance on AQE skew splitting. With no key
    over the threshold the hot table is empty and the plan degenerates
    to the plain join. Duplicate occurrences explode to their covered
    sentence positions, one anti-join removes them, one groupBy(doc)
    reassembles with sort_array — no windows anywhere. Total over
    input docs; a doc with fewer than n sentences has no spans and
    passes through unchanged."""
    documents = ensure_scan_parallelism(documents)
    arr = F.split(F.col("text"), r"[.!?] ")
    m = F.size(arr)
    span_struct = f"array<struct<pos:int,span:string>>"
    spans_arr = F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - (n - 1)),
            lambda i: F.struct(
                (i - 1).alias("pos"),
                F.concat_ws(" | ", F.slice(arr, i, n)).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast(span_struct))
    spans = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(spans_arr).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"),
             F.col("s.span").alias("span"))
    first_owner = spans.groupBy("span").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("_n"),
    )
    hot = (
        first_owner.filter(F.col("_n") >= hot_min_count)
        .orderBy(F.desc("_n"), "span")
        .limit(100_000)
        .select("span", F.col("first").alias("_hot_first"))
    )
    not_winner = lambda w: ~(
        (F.col("doc_id") == w["doc_id"]) & (F.col("pos") == w["pos"])
    )
    tagged = spans.join(F.broadcast(hot), "span", "left")
    hot_dups = tagged.filter(
        F.col("_hot_first").isNotNull()
        & not_winner(F.col("_hot_first"))
    ).select("doc_id", "pos")
    cold_dups = (
        tagged.filter(F.col("_hot_first").isNull())
        .select("doc_id", "pos", "span")
        .join(first_owner.select("span", "first"), "span")
        .filter(not_winner(F.col("first")))
        .select("doc_id", "pos")
    )
    covered = (
        hot_dups.unionByName(cold_dups)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("spos"),
        )
        .distinct()
    )
    sentences = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(arr).alias("spos", "sent"),
    )
    kept = sentences.join(covered, ["doc_id", "spos"], "anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("spos", "sent"))),
                lambda x: x["sent"],
            ),
            " | ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        m.alias("n_sentences"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
    )


def tfidf_keywords(
    documents: DataFrame, top_k: int = 5, max_df_frac: float = 0.3,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the standard corpus
    summarization / topic-tagging primitive. Returns one row per
    (doc_id, rank) with the token and its integer score.

    Determinism: idf is the fixed-point integer
    round(log2(n_docs / df) * 1e6) computed ONCE per vocab entry (the
    unigram_cross_entropy discipline — a raw f64 sum of logs is
    ordering-dependent; the 1e-6 rounding absorbs libm/JVM ULPs), and
    the per-doc score tf * idf_micro is BIGINT, so ranking is
    bit-exact under any partitioning. Ties break by token text.

    Scale shape: one (doc_id, tok) count aggregate (map-side
    partials), one df aggregate over it, a broadcast join to attach
    idf (vocab-sized — fits comfortably to ~10^8 entries, and the
    ``max_df_frac`` cap has already REMOVED the Zipf head: a token in
    more than that fraction of docs is a stopword, not a keyword),
    then one per-doc top-k via sort+slice inside an aggregate — no
    Window, no global sort. Docs whose every token was df-capped yield
    no rows."""
    documents = ensure_scan_parallelism(documents)
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col()).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = documents.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df").cast("double")
            <= F.lit(float(max_df_frac)) * F.col("n_docs").cast("double")
        )
        .select(
            "tok",
            F.round(
                F.log2(
                    F.col("n_docs").cast("double")
                    / F.col("df").cast("double")
                ) * F.lit(1e6),
                0,
            ).cast("long").alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(idf), "tok").select(
        "doc_id", "tok",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    ranked = (
        scored.groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("score_micro")).alias("neg"),
                            F.col("tok").alias("tok"),
                        )
                    )
                ),
                1, top_k,
            ).alias("top")
        )
        .select("doc_id", F.posexplode("top").alias("idx", "t"))
        .select(
            "doc_id",
            (F.col("idx") + 1).cast("long").alias("rank"),
            F.col("t.tok").alias("token"),
            (-F.col("t.neg")).cast("long").alias("score_micro"),
        )
    )
    return ranked


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 2048, overlap: int = 128,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    — the pretraining prep step between extraction and shard packing
    (a 200k-token page must become ~2k-token training rows; the
    overlap preserves context across the cut).

    Pure projection: tokens array -> sequence of window starts
    (stride = chunk_tokens - overlap) -> per-start slice + join. No
    shuffle, no state — at 10^12 docs this is map-only and the output
    rows inherit the input partitioning. The final window is the
    remainder (>= 1 token); a document shorter than chunk_tokens
    yields exactly one chunk equal to itself (empty text yields one
    empty chunk — totality over input rows). Deterministic chunk ids
    (doc_id, chunk_id ascending from 0)."""
    documents = ensure_scan_parallelism(documents)
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    tk = tokens_col()
    n = F.size(tk)
    # starts: 0, stride, 2*stride, ... while start < max(n - overlap, 1)
    # (the last window covers the tail; a start that would yield only
    # already-covered overlap tokens is not emitted)
    last = F.greatest(n - F.lit(overlap), F.lit(1))
    starts = F.sequence(
        F.lit(0),
        ((last - 1) - F.pmod(last - 1, F.lit(stride))).cast("int"),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(
                F.slice(tk, s + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.least(
                F.lit(chunk_tokens).cast("long"),
                (n - s).cast("long"),
            ).alias("n_tok"),
        ),
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(chunks).alias("chunk_id", "c"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("c.chunk").alias("chunk_text"),
        F.col("c.n_tok").alias("n_tokens"),
    )


def boilerplate_lines(documents: DataFrame, min_docs: int = 3) -> DataFrame:
    """Per-SITE template-line removal — the CCNet-style boilerplate
    strip that complements ``line_dedup``: a line occurring on
    >= ``min_docs`` DISTINCT documents of the same host (``source``) is template
    chrome (navigation rows, cookie banners, footers) and is removed
    from EVERY page of that host — unlike line_dedup's first-owner
    rule, because a nav row is not content on the first page that
    shipped it either. Lines below the threshold survive everywhere,
    so page-specific text is never touched. Blank (whitespace-only)
    lines are paragraph STRUCTURE and always survive in place, and a
    page whose host is NULL belongs to no site, so it keeps every line.

    Plan shape: posexplode -> distinct(line-key, doc) with map-side
    partials (per-page repetition of a line collapses before the
    shuffle) -> groupBy(line-key) count -> the boiler set joins back
    MANY-TO-ONE on the line key (the build side is duplicate-free, so
    a Zipf-head banner fans out without blowup and the key carries the
    host, so a global banner spreads across host keys; AQE skew-join
    covers a mega-host) -> one groupBy(doc_id) reassembly with
    sort_array, no window anywhere. Total over the input: a page that
    is 100% template comes back with text_clean = ''.

    The line key is ``xxhash64(host, line)`` — 8 bytes — so neither
    the distinct/count aggregation nor the join-back shuffles raw
    line text as a KEY; at corpus scale that is the difference between
    exchanging the corpus bytes twice through wide string comparisons
    and exchanging fixed-width ints (guide §2.3, §8: decide on a
    lightweight proxy). Accepted 64-bit risk, documented: two distinct
    lines of one host colliding could miscount or misstrip — at 10^12
    lines the per-host birthday bound keeps this ~0, and no false
    NEGATIVES exist (a boiler line always matches itself).

    Returns (doc_id, text_clean, n_lines, n_boiler).
    """
    documents = ensure_scan_parallelism(documents)
    lines = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("_host"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("_lh", F.xxhash64(F.col("_host"), F.col("line")))
    blank = F.trim(F.col("line")) == ""
    # a NULL host is no site: its lines never count as template
    # (xxhash64 of a NULL host is still non-null, so filter explicitly)
    boiler = (
        lines.filter(~blank & F.col("_host").isNotNull())
        .select("_lh", "doc_id")
        .distinct()
        .groupBy("_lh")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_lh", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(boiler, ["_lh"], "left")
    keep = blank | F.col("_boiler").isNull()
    return (
        marked.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep,
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda x: x.line,
                ),
            ).alias("text_clean"),
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias(
                "n_boiler"
            ),
        )
    )


def split_assign(
    documents: DataFrame, val_permille: int = 10, test_permille: int = 10,
) -> DataFrame:
    """Deterministic train/validation/test assignment — the step every
    training-data pipeline runs last, with the leakage hygiene most
    get wrong: the hash is keyed on the md5 of the TEXT, so
    byte-identical duplicates land in the SAME split by construction
    (an exact dup straddling train and test silently inflates eval;
    run near-dup dedup upstream for the fuzzy version of the same
    guarantee).

    Map-only projection (no shuffle, no state): bucket = the first 8
    md5 hex digits of ("split1:" + md5(text)) as an integer mod 1000,
    compared to the permille thresholds — engine-exact in any SQL
    dialect, stable across runs, partitionings and cluster sizes. Returns
    (doc_id, split) with split in {'train', 'validation', 'test'}.
    """
    if val_permille + test_permille >= 1000:
        raise ValueError("holdout permilles must sum below 1000")
    key = F.md5(F.col("text"))
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split1:"), key)), 1, 8),
        16, 10,
    ).cast("long") % 1000
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(bucket < test_permille, F.lit("test"))
        .when(bucket < test_permille + val_permille, F.lit("validation"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
