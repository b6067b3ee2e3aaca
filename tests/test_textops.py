"""Training-data operators: behavioral tests on small controlled data.

Cross-engine value parity with DuckDB is the driver's CORRECTNESS gate
(tools/check_oracles.py runs the same comparison locally); these tests
pin the operator semantics themselves.
"""

import contextlib

import pytest
from pyspark.sql import functions as F

from dce_spark.functions import textops
from dce_spark.functions.simsearch import (
    brute_force_topk,
    cosine_pairs_threshold,
    lsh_topk,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "en", "s1", 22),
        (2, "the cat sat on the mat", "en", "s1", 22),  # exact dup of 1
        (3, "the cat sat on the red mat", "en", "s1", 26),  # near dup
        (4, "completely different words entirely here now", "en", "s2", 45),
        (5, "el la de que y los palabras", "es", "s2", 27),
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_exact_dedup(docs):
    out = {r.keep_id: r.dup_count for r in textops.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1+2 merged, min id kept
    assert out[3] == 1 and out[4] == 1 and out[5] == 1
    assert 2 not in out


def test_token_count(docs):
    out = {r.doc_id: r.token_count for r in textops.token_count(docs).collect()}
    assert out[1] == 6
    assert out[4] == 6
    assert out[5] == 7


def test_quality_score(docs):
    out = {r.doc_id: r for r in textops.quality_score(docs).collect()}
    assert out[1].n_tokens == 6
    assert out[1].stopword_ratio == pytest.approx(3 / 6)  # 'the' x2 + 'on'
    assert out[4].stopword_ratio == 0.0


def test_fingerprint_matches_dups(docs):
    out = {r.doc_id: r.fingerprint for r in textops.fingerprint(docs).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_lang_id(docs):
    out = {r.doc_id: r.pred_lang for r in textops.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "es"


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.ngram_jaccard_pairs(docs, k=3, threshold=0.05).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] < 1.0  # near dup
    # different source blocks are never compared
    assert not any(a == 4 or b == 4 for a, b in pairs if (a, b) != (4, 4))


def test_ngram_jaccard_hot_shingle_capped(spark):
    # one stop-shingle shared by ALL docs must not quadratically explode
    # the self-join: with the df-cap it is dropped before joining, so
    # unrelated docs that share ONLY the hot shingle yield no pair,
    # while real near-dups still match via their rare shingles
    hot = "of the and"
    rows = [
        (i, f"{hot} unique{i} filler{i} words{i} tail{i}", "en", "s1", 40)
        for i in range(200)
    ]
    # 200 and 201: genuine near-dups sharing rare shingles
    rows.append((200, f"{hot} alpha beta gamma delta epsilon", "en", "s1", 40))
    rows.append((201, f"{hot} alpha beta gamma delta zeta", "en", "s1", 40))
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.ngram_jaccard_pairs(
            docs, k=3, threshold=0.05
        ).collect()
    }
    assert (200, 201) in pairs  # near-dups survive the cap
    # hot-only overlaps produce no pairs at all
    assert all({a, b} == {200, 201} for a, b in pairs)


def test_minhash_dedup_total_over_short_docs(spark):
    rows = [
        (1, "a b c d e", "en", "s1", 9),
        (2, "a b c d e", "en", "s1", 9),   # dup of 1
        (3, "xy", "en", "s1", 2),          # < k tokens: no shingles
        (4, "", "en", "s1", 0),            # empty
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in textops.minhash_dedup(docs).collect()}
    assert set(out) == {1, 2, 3, 4}  # decision table is total
    assert out[2].keep_id == 1 and not out[2].is_kept
    assert out[3].keep_id == 3 and out[3].is_kept
    assert out[4].keep_id == 4 and out[4].is_kept


def test_minhash_bands_group_dups(docs):
    out = {r.doc_id: (r.band_a, r.band_b) for r in textops.minhash_bands(docs).collect()}
    assert out[1] == out[2]  # identical docs -> identical signature
    assert out[1] != out[4]


def test_simhash_near_dup_hamming(docs):
    out = {r.doc_id: r.simhash for r in textops.simhash64(docs).collect()}
    assert out[1] == out[2]
    ham_near = bin((out[1] ^ out[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((out[1] ^ out[4]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


@pytest.fixture(scope="module")
def embeddings(spark):
    import math

    rows = []
    for vid in range(30):
        cluster = vid % 3
        base = [0.0] * 8
        base[cluster] = 1.0
        # small deterministic perturbation
        vec = [
            b + 0.01 * math.sin(vid * 7 + d) for d, b in enumerate(base)
        ]
        rows.append((vid, vec, cluster))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk_finds_cluster(embeddings):
    out = brute_force_topk(embeddings, n_queries=3, k=3).collect()
    labels = {r.vec_id: r.label for r in embeddings.collect()}
    for r in out:
        if r.rank == 1:
            assert labels[r.cand_id] == labels[r.query_id]


def test_cosine_threshold_set(embeddings):
    out = cosine_pairs_threshold(embeddings, n_queries=3, threshold=0.9).collect()
    labels = {r.vec_id: r.label for r in embeddings.collect()}
    assert out
    for r in out:
        assert labels[r.cand_id] == labels[r.query_id]


def test_lsh_topk_recall_vs_brute(embeddings):
    brute = {
        (r.query_id, r.rank): r.cand_id
        for r in brute_force_topk(embeddings, n_queries=3, k=1).collect()
    }
    lsh = {
        (r.query_id, r.rank): r.cand_id
        for r in lsh_topk(embeddings, n_queries=3, k=1, n_planes=4, dim=8).collect()
    }
    # rank-1 recall of LSH vs brute force on separable clusters
    hits = sum(1 for k, v in brute.items() if lsh.get(k) == v)
    assert hits >= 2


def test_lsh_multiprobe_recall_vs_brute_force(spark):
    """LSH searches a subset of the exact candidates, so on the sf0.1
    embeddings (2000 vectors) its r-th score per query never beats
    brute force's r-th score; and the derived plane and table counts
    keep bucket occupancy constant as the corpus grows."""
    import os

    import pytest as _pytest

    from dce_spark.functions.simsearch import derive_n_planes

    path = "/root/testdata/sf0.1/embeddings.parquet"
    if not os.path.exists(path):
        _pytest.skip("sf0.1 testdata not present")
    emb = spark.read.parquet(path)

    def scores(df):
        return {(r.query_id, r.rank): r.cosine_r for r in df.collect()}

    exact = scores(brute_force_topk(emb, n_queries=10, k=5))
    approx = scores(lsh_topk(emb, n_queries=10, k=5, n_planes=6))
    assert len(exact) == 50 and approx
    assert all(s <= exact[key] for key, s in approx.items())

    # derive_n_planes: constant bucket occupancy as the corpus grows —
    # NOT clamped into the quadratic regime anymore (10^12/2^32 ~ 233
    # per bucket); recall past 16 planes comes from multi-table
    # amplification (tables_for_planes)
    assert derive_n_planes(0) == 6
    assert derive_n_planes(500) == 6
    assert derive_n_planes(10**9) == 22
    assert derive_n_planes(10**12) == 32
    assert derive_n_planes(10**30) == 48  # int64 bucket-id cap
    # amplification tracks the planes IN USE, pinned or derived
    from dce_spark.functions.simsearch import tables_for_planes

    assert tables_for_planes(6) == 1
    assert tables_for_planes(16) == 1
    assert tables_for_planes(32) == 3
    assert tables_for_planes(48) == 5


def test_pinned_planes_still_get_multitable_amplification(spark):
    """n_planes pinned + n_tables=None must derive the table count
    from the PINNED plane count (a caller-pinned 20-plane code has the
    same single-table recall cliff as a derived one), and output
    cardinality must equal the input row count regardless of
    n_tables (repeated vec_ids are preserved, not collapsed)."""
    import numpy as np

    from dce_spark.functions.simsearch import embedding_dedup

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)])
            for i in range(40)]
    rows.append(rows[5])  # repeated vec_id
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    auto = embedding_dedup(emb, threshold=0.99, n_planes=20, dim=16)
    explicit = embedding_dedup(
        emb, threshold=0.99, n_planes=20, dim=16,
        n_tables=2,  # tables_for_planes(20)
    )
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, explicit.collect()))
    assert a == b  # the derived table count matched the pinned planes
    assert len(a) == 41  # total over INPUT rows, duplicate id intact
    single = embedding_dedup(emb, threshold=0.99, n_planes=4, dim=16)
    assert single.count() == 41  # same cardinality rule at n_tables=1


def test_lsh_multitable_recall_and_oracle_stability(spark):
    """Banded multi-table LSH: (a) n_tables=1 output is IDENTICAL to
    the round-2 single-table path at pinned planes (oracle stability);
    (b) on a 10x corpus with long codes, L tables recover the recall
    single-table long codes lose; (c) recall >= 0.9 vs brute force on
    clustered data."""
    import numpy as np

    from dce_spark.functions.simsearch import embedding_dedup

    rng = np.random.RandomState(7)
    dim = 16
    # 40 well-separated cluster centers x 50 members = 2000 vectors
    # (the '10x corpus' vs the 200-vector fixtures elsewhere)
    centers = rng.randn(40, dim) * 4.0
    rows = []
    vid = 0
    for c in range(40):
        for _ in range(50):
            v = centers[c] + rng.randn(dim) * 0.05
            rows.append((vid, [float(x) for x in v], f"c{c}"))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    def topk_set(df):
        return {(r.query_id, r.cand_id) for r in df.collect()}

    # (a) pinned single-table == legacy behavior (same call, n_tables=1)
    base = topk_set(
        lsh_topk(emb, n_queries=5, k=3, n_planes=6, dim=dim, n_tables=1)
    )
    again = topk_set(
        lsh_topk(emb, n_queries=5, k=3, n_planes=6, dim=dim)
    )
    assert base == again

    # (b)+(c) long codes, multi-table: recall >= 0.9 vs brute force
    exact = topk_set(brute_force_topk(emb, n_queries=5, k=3))
    multi = topk_set(
        lsh_topk(emb, n_queries=5, k=3, n_planes=12, dim=dim, n_tables=4)
    )
    single = topk_set(
        lsh_topk(emb, n_queries=5, k=3, n_planes=12, dim=dim, n_tables=1)
    )
    recall_multi = len(multi & exact) / len(exact)
    recall_single = len(single & exact) / len(exact)
    assert recall_multi >= recall_single  # amplification never hurts
    assert recall_multi >= 0.9

    # dedup totality holds through the multi-table path
    dd = embedding_dedup(
        emb, threshold=0.95, n_planes=12, dim=dim, n_tables=4
    )
    assert dd.count() == 2000


def _lsh_bucket_fold(emb_col, n_planes: int, dim: int, table: int = 0):
    """Per-plane Catalyst fold of the hyperplane code: the witness the
    NumPy ``_lsh_codes`` kernel is checked against."""
    from dce_spark.functions.simsearch import _dot, _hyperplane_weights

    planes = _hyperplane_weights(n_planes, dim, table)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        w = F.array(*[F.lit(float(x)) for x in planes[p]])
        bit = F.when(_dot(emb_col, w) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(1 << p).cast("long"))
    return bucket


@pytest.mark.parametrize("n_planes", [6, 16, 48])
def test_lsh_codes_match_catalyst_fold(spark, n_planes):
    """Hyperplane codes from the Arrow kernel equal the Catalyst fold
    bit for bit, per table and through the one-row-per-table explode,
    on seeded vectors (integer coordinates give exact-zero dots) and
    on the rows the fold maps specially: a zero vector, -0.0, NaN,
    +-inf (a zero weight times inf is NaN), and the NULL embedding,
    NULL element and wrong-length rows whose code is 0."""
    import numpy as np

    from dce_spark.functions.simsearch import _lsh_codes

    dim = 16
    rng = np.random.RandomState(n_planes)
    vecs = [rng.randn(dim).astype(np.float32).tolist() for _ in range(40)]
    vecs += [rng.randint(-2, 3, dim).astype(float).tolist() for _ in range(40)]

    def put(d, x, base=1.0):
        v = [base] * dim
        v[d] = x
        return v

    nan, inf = float("nan"), float("inf")
    null_rows = [None, put(4, None), [1.0] * (dim - 1), [1.0] * (dim + 1)]
    vecs += [
        [0.0] * dim,
        [-0.0] * dim,
        put(3, -0.0, -1.0),
        put(7, nan),
        put(10, inf),  # w(0, 10, 0) == 0: plane 0's product is NaN
        put(3, -inf),
        put(2, inf, -1.0)[:5] + [-inf] + [0.5] * (dim - 6),  # inf - inf
        # plane 0 of table 0 weighs (-9, 9, 8): left to right the -9
        # rounds away and the dot is 0, where the exact sum is -9
        [2.0**60, -1.0, 9 * 2.0**57] + [0.0] * (dim - 3),
    ] + null_rows
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    tables = (0, 1, 3)
    want = {
        (r.vec_id, t): r[f"t{t}"]
        for r in df.select(
            "vec_id",
            *[
                _lsh_bucket_fold(F.col("embedding"), n_planes, dim, t).alias(f"t{t}")
                for t in tables
            ],
        ).collect()
        for t in tables
    }

    def codes(ts):
        out = _lsh_codes(df, n_planes, dim, ts).select("vec_id", "tbl", "bucket")
        return {(r.vec_id, r.tbl): r.bucket for r in out.collect()}

    got = codes(tables)
    assert len(got) == len(vecs) * len(tables)
    assert got == want
    for t in tables:
        assert codes((t,)) == {k: v for k, v in want.items() if k[1] == t}
    for i in range(len(vecs) - len(null_rows), len(vecs)):
        assert [got[(i, t)] for t in tables] == [0, 0, 0]
    assert len({v for (i, t), v in got.items() if t == 0}) > 1


def test_rolling_fingerprint_order_sensitive(spark):
    rows = [
        (1, "alpha beta gamma", "en", "s1", 16),
        (2, "alpha beta gamma", "en", "s1", 16),  # identical
        (3, "gamma beta alpha", "en", "s1", 16),  # same tokens, reordered
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {
        r.doc_id: r.rolling_hash
        for r in textops.rolling_fingerprint(docs).collect()
    }
    assert out[1] == out[2]  # deterministic
    assert out[1] != out[3]  # order matters (unlike md5-of-set)
    assert 0 <= out[1] < 2147483647


def test_embedding_dedup_decision(embeddings):
    from dce_spark.functions.simsearch import embedding_dedup

    emb = embeddings.select("vec_id", "embedding")
    out = {
        r.vec_id: r
        for r in embedding_dedup(
            emb, threshold=0.95, n_planes=4, dim=8
        ).collect()
    }
    assert len(out) == 30  # total over input
    # same-cluster vectors (vid % 3) are near-identical: every cluster
    # must collapse at least partially — some vector is dropped
    dropped = [v for v in out.values() if not v.is_kept]
    assert dropped
    labels = {r.vec_id % 3 for r in embeddings.collect()}
    for v in dropped:
        # keeper must be an earlier vector of the same cluster
        assert v.keep_id < v.vec_id
        assert v.keep_id % 3 == v.vec_id % 3
    # keepers are self-consistent
    kept = {v.vec_id for v in out.values() if v.is_kept}
    assert all(v.keep_id in kept or v.keep_id == v.vec_id
               for v in out.values())


def test_gopher_quality_rules(spark):
    good = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(60)]
    )
    rows = [
        (1, good, "en", "s1", len(good)),
        (2, "too short to keep and that", "en", "s1", 27),  # < 50 words
        (3, " ".join(["x"] * 80), "en", "s1", 159),  # mean len 1 < 3
        (4, " ".join(["12345"] * 80), "en", "s1", 479),  # alpha_frac 0
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in textops.gopher_quality(docs).collect()}
    assert out[1].keep
    assert out[1].stop_hits == 5 and out[1].n_words == 65
    assert not out[2].keep  # word count
    assert not out[3].keep  # mean word length
    assert not out[4].keep  # alphabetic fraction


def test_repetition_signals(spark):
    rows = [
        (1, "a b a b a b a b", "en", "s1", 15),   # "a b" dominates
        (2, "q w e r t y u i", "en", "s1", 15),   # all distinct
        (3, "solo", "en", "s1", 4),               # no bigrams
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in textops.repetition_signals(docs).collect()}
    assert out[1].top_bigram == "a b" and out[1].top_bigram_cnt == 4
    assert out[1].dup_token_frac == pytest.approx(1 - 2 / 8)
    assert out[1].top_bigram_frac == pytest.approx(8 / 8)
    assert out[2].dup_token_frac == 0.0 and out[2].top_bigram_cnt == 1
    assert out[3].top_bigram is None and out[3].top_bigram_cnt == 0


def test_kmv_sketch_accuracy(spark):
    # 1000 distinct tokens in one source: KMV(k=64) estimates within
    # ~2/sqrt(k) ~ 25%; a source with < k distinct tokens is exact
    big = " ".join(f"tok{i}" for i in range(1000))
    small = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, big, "en", "big", len(big)), (2, small, "en", "small", 30)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.source: r for r in textops.kmv_distinct_sketch(docs, k=64).collect()}
    assert out["big"].exact_distinct == 1000
    assert abs(out["big"].kmv_estimate - 1000) / 1000 < 0.35
    assert out["small"].exact_distinct == 30
    assert out["small"].kmv_estimate == 30.0  # < k: exact by construction


def test_kmv_sketch_only_matches_and_merges(spark):
    """kmv_sketch_only's estimate equals the KMV formula over its own
    minima, and the minima sketch merges: union two halves' minima
    arrays, keep the k smallest -> same estimate as sketching the union
    directly."""
    k = 64
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    half_a = [(i, " ".join(f"tok{j}" for j in range(i * 40, i * 40 + 40)),
               "en", "s", 40) for i in range(10)]
    half_b = [(100 + i, " ".join(f"tok{j}" for j in range(300 + i * 40,
               300 + i * 40 + 40)), "en", "s", 40) for i in range(10)]
    da = spark.createDataFrame(half_a, cols)
    db = spark.createDataFrame(half_b, cols)
    both = spark.createDataFrame(half_a + half_b, cols)

    prod = {r.source: r.kmv_estimate
            for r in textops.kmv_sketch_only(both, k=k).collect()}

    def estimate(minima):
        return (float(len(minima)) if len(minima) < k
                else (k - 1) / minima[k - 1])

    ma = textops.kmv_minima(da, k=k).collect()[0].minima
    mb = textops.kmv_minima(db, k=k).collect()[0].minima
    merged = sorted(set(ma) | set(mb))[:k]
    whole = textops.kmv_minima(both, k=k).collect()[0].minima
    assert len(whole) == k  # 700 distinct tokens: the formula branch
    assert prod == {"s": round(estimate(list(whole)), 2)}
    assert merged == list(whole)  # sketch of union == merged sketches
    assert round(estimate(merged), 2) == prod["s"]


def test_deterministic_sample_reproducible(spark):
    rows = [(i, f"text {i}", "en" if i % 2 else "es", "s1", 8)
            for i in range(400)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    a = {r.doc_id for r in textops.deterministic_sample(
        docs, {"en": 0.5, "es": 0.1}).collect()}
    b = {r.doc_id for r in textops.deterministic_sample(
        docs.repartition(7), {"en": 0.5, "es": 0.1}).collect()}
    assert a == b  # partitioning-independent
    en = sum(1 for d in a if d % 2)
    es = sum(1 for d in a if not d % 2)
    assert 0.3 < en / 200 < 0.7  # ~50% of en stratum
    assert es / 200 < 0.25  # ~10% of es stratum


def test_pack_shards_budget_and_order(spark):
    rows = [(i, " ".join(["w"] * 100), "en", f"s{i % 2}", 199)
            for i in range(10)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = sorted(textops.pack_shards(docs, token_budget=250).collect(),
                 key=lambda r: (r.source, r.doc_id))
    # per source: 5 docs x 100 tokens, budget 250 -> docs 0,1,2 in
    # shard 0 (cum-start 0,100,200), doc 3 (cum-start 300) shard 1, ...
    for source in ("s0", "s1"):
        shards = [r.shard for r in out if r.source == source]
        assert shards == [0, 0, 0, 1, 1]


def test_char_entropy_quality_signal(spark):
    prose = ("the quick brown fox jumps over the lazy dog and keeps "
             "running through the quiet evening fields") * 3
    repeat = "aaaa bbbb " * 30
    rows = [
        (1, prose, "en", "s1", len(prose)),
        (2, repeat, "en", "s1", len(repeat)),
        (3, "", "en", "s1", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    ent = {r.doc_id: r.char_entropy
           for r in textops.char_entropy(docs).collect()}
    assert ent[1] > ent[2]  # prose carries more entropy than repetition
    assert ent[3] == 0.0


def test_decontaminate_flags_overlap(spark):
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high", "en", "s", 30),
            (2, "completely different words here now", "en", "s", 35),
            (3, "we saw the quick brown fox yesterday", "en", "s", 37),
            (4, "ab", "en", "s", 2),  # shorter than one 3-gram: clean
        ],
        cols,
    )
    bench = spark.createDataFrame(
        [(99, "a quick brown fox appeared", "en", "b", 26)], cols
    )
    out = {r.doc_id: r for r in textops.decontaminate(docs, bench).collect()}
    assert len(out) == 4  # total over input
    # bench 3-grams: "a quick brown", "quick brown fox",
    # "brown fox appeared" -> docs 1 and 3 each share exactly
    # "quick brown fox"
    assert out[1].contaminated and out[1].hit_shingles == 1
    assert out[3].contaminated and out[3].hit_shingles == 1
    assert not out[2].contaminated and out[2].hit_shingles == 0
    assert not out[4].contaminated


def test_pii_redact_counts_and_replacement(spark):
    docs = spark.createDataFrame(
        [
            (1, "write to alice.b+spam@corp.example.org or call +12345678901 "
                "from 192.168.0.12 thanks", "en", "s", 80),
            (2, "no pii in this text at all", "en", "s", 26),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in textops.pii_redact(docs).collect()}
    r1 = out[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_phone) == (1, 1, 1)
    assert "<EMAIL>" in r1.redacted_text
    assert "<IPV4>" in r1.redacted_text
    assert "<PHONE>" in r1.redacted_text
    assert "alice" not in r1.redacted_text
    assert "192.168" not in r1.redacted_text
    r2 = out[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone) == (0, 0, 0)
    assert r2.redacted_text == "no pii in this text at all"


def test_unigram_stats_semantics(spark):
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = spark.createDataFrame(
        [
            (1, "common common common rare1", "en", "s", 26),
            (2, "common rare2", "en", "s", 12),
            (3, "", "en", "s", 0),
        ],
        cols,
    )
    out = {r.doc_id: r for r in textops.unigram_stats(docs).collect()}
    # corpus counts: common=4, rare1=1, rare2=1 (doc3's "" token counts
    # once — split('', ' ') yields [''])
    r1 = out[1]
    assert r1.n_tokens == 4
    assert r1.mean_token_freq == pytest.approx((4 + 4 + 4 + 1) / 4)
    assert r1.hapax_frac == pytest.approx(1 / 4)
    r2 = out[2]
    assert r2.mean_token_freq == pytest.approx((4 + 1) / 2)
    assert 3 in out  # total over input


def test_curate_corpus_stages_all_bite(spark):
    """Every curation stage must actually remove its target class:
    short docs, exact dups, near-dups, contaminated docs; survivors
    get deterministic shard ids."""
    from dce_spark.functions.curation import curate_corpus

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    long_a = " ".join(f"alpha{i} beta{i}" for i in range(15))   # 30 toks
    long_b = " ".join(f"gamma{i} delta{i}" for i in range(15))
    near_a = long_a.replace("alpha3", "ALPHA3")  # near-dup of long_a
    bench_text = " ".join(f"bench{i} mark{i}" for i in range(15))
    rows = [
        (1, long_a, "en", "s1", len(long_a)),
        (2, long_a, "en", "s1", len(long_a)),        # exact dup -> drop
        (3, near_a, "en", "s1", len(near_a)),        # near dup -> drop
        (4, long_b, "en", "s1", len(long_b)),        # survivor
        (5, "too short", "en", "s1", 9),             # gate -> drop
        (6, bench_text, "en", "s1", len(bench_text)),  # contaminated
    ]
    docs = spark.createDataFrame(rows, cols)
    benchmark = spark.createDataFrame(
        [(99, bench_text, "en", "b", len(bench_text))], cols
    )
    out = {r.doc_id: r for r in curate_corpus(
        docs, benchmark, min_tokens=20, token_budget=40
    ).collect()}
    assert set(out) == {1, 4}
    assert out[1].shard == 0
    assert out[4].shard == 0  # 30 cum -> (60-30)/40 = 0


def test_label_components_chain_and_isolates(spark):
    from dce_spark.functions.textops import label_components

    memb = spark.createDataFrame(
        [(1, "x"), (2, "x"), (2, "y"), (3, "y"), (3, "z"), (4, "z"),
         (9, "w"), (9, "w")],  # duplicate membership rows tolerated
        ["id", "grp"],
    )
    out = {r.id: r.component for r in label_components(memb).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}
    # a longer chain takes the partition kernel several hooking and
    # pointer-jumping rounds; group g_j links ids j and j+1: a 20-id
    # path graph
    chain = spark.createDataFrame(
        [(i, f"g{j}") for i in range(20) for j in (i - 1, i)
         if 0 <= j < 19],
        ["id", "grp"],
    )
    got = {r.id: r.component for r in label_components(chain).collect()}
    assert got == {i: 0 for i in range(20)}
    # a NULL id names no member; a NULL grp links nothing
    nulls = spark.createDataFrame(
        [(5, None), (6, None), (None, "q"), (7, "q"), (8, "q")],
        "id long, grp string",
    )
    got = {r.id: r.component for r in label_components(nulls).collect()}
    assert got == {5: 5, 6: 6, 7: 7, 8: 7}


@contextlib.contextmanager
def _conf(spark, settings):
    """Session settings for one block, restored (or unset) after it."""
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_UNCOALESCED = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


def _union_find(rows):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first = {}
    for i, g in rows:
        find(i)
        if g in first:
            a, b = find(i), find(first[g])
            parent[max(a, b)] = min(a, b)
        else:
            first[g] = i
    return {x: find(x) for x in parent}


def test_label_components_long_paths_across_partitions(spark):
    """Paths of diameter 95 and 63 contracted over 8 uncoalesced
    partitions: every level leaves labels that disagree, and the
    recursion must still end at the exact minima. One path runs over
    shuffled ids, the other over ids that increase along it."""
    import random

    from dce_spark.functions.textops import label_components

    shuffled = list(range(96))
    random.Random(7).shuffle(shuffled)
    rising = list(range(200, 264))
    # group <tag><i> links the path's i-th and (i+1)-th ids
    rows = [(path[i + d], f"{tag}{i}")
            for tag, path in (("s", shuffled), ("r", rising))
            for i in range(len(path) - 1) for d in (0, 1)]
    with _conf(spark, _UNCOALESCED):
        got = {r.id: r.component for r in label_components(
            spark.createDataFrame(rows, ["id", "grp"])).collect()}
    assert got == {**{i: 0 for i in range(96)}, **{i: 200 for i in rising}}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_label_components_match_union_find(spark, seed):
    """Seeded random membership graphs (a few hub groups, many pairs,
    isolated ids) against a pure-Python union-find, once with AQE's
    coalescing and once over 8 uncoalesced partitions fed to the
    kernel in Arrow batches of 64 rows."""
    import random

    from dce_spark.functions.textops import label_components

    rng = random.Random(seed)
    ids = rng.sample(range(10_000), 300)
    rows = [(rng.choice(ids), f"p{rng.randrange(220)}") for _ in range(400)]
    rows += [(i, f"hub{rng.randrange(3)}") for i in rng.sample(ids, 12)]
    rows += [(i, f"own{i}") for i in ids]
    want = _union_find(rows)
    memb = spark.createDataFrame(rows, ["id", "grp"])
    got = {r.id: r.component for r in label_components(memb).collect()}
    assert got == want
    small_batches = {"spark.sql.execution.arrow.maxRecordsPerBatch": "64"}
    with _conf(spark, {**_UNCOALESCED, **small_batches}):
        got = {r.id: r.component for r in label_components(memb).collect()}
    assert got == want


def _hot_group(spark):
    # 400 ids in one group, read from 4 partitions, then 50 pairs
    rows = [(i, "hot") for i in range(400)]
    rows += [(i, f"pair{i // 2}") for i in range(400, 500)]
    return spark.createDataFrame(rows, ["id", "grp"]).repartition(4)


_SPLIT_HOT = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}


def test_label_components_hot_group_split_across_partitions(spark):
    """A 1 KB advisory size makes the REBALANCE split the hot group
    over several partitions, each piece labelled apart with no id in
    common; the groupBy over groups must still join the pieces."""
    memb = _hot_group(spark)
    with _conf(spark, _SPLIT_HOT):
        pieces = textops._contract_partitions(
            memb.select(F.col("id").cast("long").alias("id"), "grp")
        ).where(F.col("grp") == "hot").select("lbl").distinct().count()
        got = {r.id: r.component
               for r in textops.label_components(memb).collect()}
    assert pieces > 1
    assert got == {i: 0 if i < 400 else i - i % 2 for i in range(500)}


def test_label_components_raises_at_the_depth_cap(spark, monkeypatch):
    """Labels that still disagree at the last level raise instead of
    coming back unconverged."""
    monkeypatch.setattr(textops, "_CC_MAX_LEVELS", 1)
    with _conf(spark, _SPLIT_HOT):
        with pytest.raises(RuntimeError, match=r": 1 ids or groups still "
                           r"disagree at contraction level 0$"):
            textops.label_components(_hot_group(spark))


def test_doc_minhash_cc_job_count(spark, tmp_path):
    """doc_minhash_cc over the curate_ops benchmark's documents table
    (3000 docs, 10% near-dups) runs at most 10 jobs, counted through
    its job group. The former round loop ran 28."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from perfbench.gen import documents_table

    pq.write_table(documents_table(1, 3000, 0.10),
                   tmp_path / "documents.parquet")
    sc = spark.sparkContext
    group = f"cc-jobs-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        rows = entry.queries()["doc_minhash_cc"](spark, str(tmp_path)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 3000
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 10, jobs


def test_minhash_dedup_cc_closes_chains(spark):
    """Transitive closure vs the single-pass keeper rule: on a chained
    component the one-pass decision can point a doc at a keeper that
    is itself dropped; CC must name one canonical doc for the whole
    chain and be total over the input."""
    from dce_spark.functions.textops import label_components, minhash_dedup_cc

    # engineered chain at the membership level
    memb = spark.createDataFrame(
        [(10, "a"), (11, "a"), (11, "b"), (12, "b")], ["id", "grp"])
    comp = {r.id: r.component for r in label_components(memb).collect()}
    assert comp == {10: 10, 11: 10, 12: 10}

    # end-to-end over texts: identical docs cluster, distinct ones
    # don't, shingle-less docs are their own canonical rows
    rows = [
        (0, "a", "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "a", "alpha beta gamma delta epsilon zeta eta theta"),
        (5, "a", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "a", "completely different content with other words"),
        (3, "a", "xy"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    cc = {r.doc_id: (r.cluster_id, r.is_canonical)
          for r in minhash_dedup_cc(docs).collect()}
    assert cc == {0: (0, True), 1: (0, False), 5: (0, False),
                  2: (2, True), 3: (3, True)}
    # exactly one canonical doc per cluster
    clusters = {}
    for doc, (cl, canon) in cc.items():
        clusters.setdefault(cl, []).append(canon)
    assert all(sum(v) == 1 for v in clusters.values())


def test_line_dedup_first_owner_semantics(spark):
    """A line survives only at its first (doc_id, pos) corpus
    occurrence; docs reassemble in order; totality over line-less
    survivors."""
    rows = [
        (1, "banner\nunique one\nfooter"),
        (2, "banner\nunique two\nfooter"),   # loses banner+footer
        (3, "banner\nbanner\nfooter"),       # loses everything
        (4, "alone"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in textops.line_dedup(docs).collect()}
    assert out[1].text_dedup == "banner\nunique one\nfooter"
    assert out[1].n_kept == 3 and out[1].n_lines == 3
    assert out[2].text_dedup == "unique two"
    assert out[2].n_kept == 1 and out[2].n_lines == 3
    assert out[3].text_dedup == "" and out[3].n_kept == 0
    assert out[4].text_dedup == "alone" and out[4].n_kept == 1
    # repeated line within ONE doc also dedups (doc 3's second banner
    # would have been dropped even if doc 3 owned the line)
    solo = spark.createDataFrame([(7, "x\nx\ny")], ["doc_id", "text"])
    r = textops.line_dedup(solo).collect()[0]
    assert r.text_dedup == "x\ny" and r.n_kept == 2 and r.n_lines == 3
    # blank lines are paragraph STRUCTURE: never deduped, even across
    # docs — paragraph boundaries survive everywhere
    paras = spark.createDataFrame(
        [(1, "A\n\nB"), (2, "C\n\nD"), (3, "A\n \nE")],
        ["doc_id", "text"],
    )
    out2 = {r.doc_id: r.text_dedup
            for r in textops.line_dedup(paras).collect()}
    assert out2[1] == "A\n\nB"
    assert out2[2] == "C\n\nD"          # its blank line survives
    assert out2[3] == " \nE"             # 'A' owned by doc 1; ws-line kept


def test_mixture_sample_budgets_and_shuffle_order(spark):
    rows = [
        (i, " ".join(["w"] * 10), "en", f"s{i % 2}", 20) for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    # s0 and s1 each hold 100 tokens; 50/50 split of 60 tokens
    out = textops.mixture_sample(
        docs, {"s0": 0.5, "s1": 0.5}, total_tokens=60
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # 30-token budget over 10-token docs: exactly 3 docs per source
    assert {s: len(v) for s, v in by_src.items()} == {"s0": 3, "s1": 3}
    # the taken set is a md5-shuffle prefix, not a doc_id prefix
    taken = sorted(r.doc_id for r in out)
    assert taken != [0, 1, 2, 3, 4, 5]
    # reproducible across runs
    again = sorted(
        r.doc_id
        for r in textops.mixture_sample(
            docs, {"s0": 0.5, "s1": 0.5}, total_tokens=60
        ).collect()
    )
    assert again == taken
    # boundary doc included: budget 25 still yields 3 docs (20 < 25)
    out25 = textops.mixture_sample(
        docs, {"s0": 0.5}, total_tokens=50
    ).collect()
    assert len(out25) == 3 and all(r.source == "s0" for r in out25)
    # unweighted sources contribute nothing
    assert not [r for r in out25 if r.source == "s1"]
    # budgets ROUND rather than truncate: 0.7*350 is 244.999... in
    # binary floats. With 61-token docs the fifth doc starts at offset
    # 244 — taken under the correct budget 245, lost under a truncated
    # 244.
    docs61 = spark.createDataFrame(
        [(i, " ".join(["w"] * 61), "en", "a", 122) for i in range(10)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out245 = textops.mixture_sample(
        docs61, {"a": 0.7}, total_tokens=350
    ).collect()
    assert len(out245) == 5


def test_linear_quality_score_hashed_buckets(spark):
    """Score = mean(weight[md5-bucket(token)]) in integer tenths, one
    final division; pluggable weights steer it; exact vs a Python
    reimplementation of the same hash."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha alpha"), (3, "")],
        ["doc_id", "text"],
    )
    weights = [((b * 37) % 21) - 10 for b in range(64)]
    out = {r.doc_id: r.quality_score
           for r in textops.linear_quality_score(docs).collect()}

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64

    for doc_id, text in ((1, "alpha beta gamma"), (2, "alpha alpha alpha")):
        toks = text.split(" ")
        want = round(
            sum(weights[bucket(t)] for t in toks) / len(toks) / 10.0, 6
        )
        assert out[doc_id] == want, (doc_id, out[doc_id], want)
    # empty text splits to [''] in both engines — scored via bucket('')
    assert out[3] == round(weights[bucket("")] / 10.0, 6)
    # custom weights change the decision: all-positive weights push
    # every doc above an all-negative weighting
    hi = {r.doc_id: r.quality_score for r in textops.linear_quality_score(
        docs, weights=[5] * 16).collect()}
    lo = {r.doc_id: r.quality_score for r in textops.linear_quality_score(
        docs, weights=[-5] * 16).collect()}
    assert all(hi[d] > lo[d] for d in hi)
    assert hi[1] == 0.5 and lo[1] == -0.5


def test_length_quantiles_exact_interpolation(spark):
    rows = [(i, "t", "en", "s", c) for i, c in enumerate((10, 20, 30, 40))]
    rows += [(9, "t", "de", "s", 7)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.lang: r for r in textops.length_quantiles(docs).collect()}
    # linear interpolation: p50 of [10,20,30,40] = 25, p90 = 37
    assert out["en"].p50_chars == 25.0
    assert out["en"].p90_chars == pytest.approx(37.0)
    assert out["en"].n_docs == 4
    assert out["de"].p50_chars == 7.0 and out["de"].n_docs == 1


def test_unigram_cross_entropy_buckets(spark):
    # 8 docs in one source: "common" appears everywhere (low H),
    # docs of rare words score high; bucket split at ranks 2 and 6
    rows = []
    for i in range(6):
        rows.append((i, "common common common", "en", "s0", 0))
    rows.append((6, "rare1 rare2 rare3", "en", "s0", 0))
    rows.append((7, "rare4 rare5 rare6", "en", "s0", 0))
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in
           textops.unigram_cross_entropy(docs).collect()}
    assert len(out) == 8
    # N = 24 tokens; common docs: H = log2(24) - log2(18) = log2(4/3)
    import math
    h_common = (round(math.log2(24) * 1e6) -
                round(math.log2(18) * 1e6)) / 1e6
    assert out[0].cross_entropy == pytest.approx(round(h_common, 6))
    # rare docs: H = log2(24) - log2(1) = log2(24), strictly higher
    assert out[6].cross_entropy > out[0].cross_entropy
    # ranks: q25 = 2nd lowest (common), q75 = 6th (common) -> the six
    # common docs are head, the two rare docs are tail
    assert all(out[i].bucket == "head" for i in range(6))
    assert out[6].bucket == "tail" and out[7].bucket == "tail"
    assert out[6].n_tokens == 3


def test_unigram_cross_entropy_per_source_thresholds(spark):
    # two sources with disjoint vocab: bucketing is within-source, so
    # each source gets its own head/tail split even though one
    # source's H values are globally higher
    rows = [(i, " ".join(["a"] * 4), "en", "sA", 0) for i in range(3)]
    rows += [(3, "x y z", "en", "sA", 0)]
    rows += [(10 + i, f"u{i} v{i}", "en", "sB", 0) for i in range(4)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in
           textops.unigram_cross_entropy(docs).collect()}
    assert out[3].bucket == "tail"          # the one rare doc in sA
    # sB: all docs tie (every token hapax) -> all land on the q25
    # element -> all head, deterministically
    assert all(out[10 + i].bucket == "head" for i in range(4))


def test_dup_ngram_fraction(spark):
    shared = "one two three four five six"      # 2 distinct 5-grams
    rows = [
        (1, shared, "en", "s", 0),
        (2, shared + " seven", "en", "s", 0),    # 3 5-grams, 2 shared
        (3, "p q r s t u v", "en", "s", 0),      # 3 unique 5-grams
        (4, "too short", "en", "s", 0),          # no 5-grams
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in
           textops.dup_ngram_fraction(docs, k=5).collect()}
    assert out[1].n_ngrams == 2 and out[1].dup_ngram_frac == 1.0
    assert out[1].flagged
    assert out[2].n_ngrams == 3
    assert out[2].dup_ngram_frac == pytest.approx(round(2 / 3, 6))
    assert out[3].dup_ngram_frac == 0.0 and not out[3].flagged
    assert out[4].n_ngrams == 0 and out[4].dup_ngram_frac == 0.0


def test_c4_filter_rules(spark):
    good = "Here is a perfectly fine sentence with words."
    rows = [
        # 3 good sentences -> kept
        (1, "\n".join([good, good, good]), "en", "s", 0),
        # only 2 sentences survive -> page dropped
        (2, "\n".join([good, good]), "en", "s", 0),
        # line without terminal punctuation is filtered out
        (3, "\n".join([good, good, good,
                       "no terminal punctuation on this line"]),
         "en", "s", 0),
        # short line filtered; javascript line filtered
        (4, "\n".join([good, good, good, "tiny.",
                       "Please enable javascript to continue now."]),
         "en", "s", 0),
        # lorem ipsum anywhere kills the page
        (5, "\n".join([good, good, good, "lorem ipsum dolor."]),
         "en", "s", 0),
        # curly brace kills the page
        (6, "\n".join([good, good, good, "var x = { a: 1 };"]),
         "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in textops.c4_filter(docs).collect()}
    assert out[1].kept and out[1].cleaned_text == "\n".join([good] * 3)
    assert out[1].n_sentences == 3 and out[1].n_kept_lines == 3
    assert not out[2].kept and out[2].cleaned_text is None
    assert out[3].kept and out[3].n_kept_lines == 3  # bad line dropped
    assert out[3].n_lines == 4
    assert out[4].kept and out[4].n_kept_lines == 3
    assert not out[5].kept
    assert not out[6].kept
    # a quote-terminated line counts as a sentence-ending line
    q = 'He said the word "finally there was quiet."'
    docs2 = spark.createDataFrame(
        [(7, "\n".join([good, good, q]), "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = textops.c4_filter(docs2).collect()[0]
    assert row.n_kept_lines == 3 and row.kept


def test_minhash_band_table_general(spark):
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(10):
        base = [rng.choice(vocab) for _ in range(20)]
        edited = list(base)
        for _ in range(rng.randint(2, 5)):  # near-dup partner
            edited[rng.randrange(20)] = rng.choice(vocab)
        rows.append((2 * d, " ".join(base), "en", "s", 0))
        rows.append((2 * d + 1, " ".join(edited), "en", "s", 0))
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    # the long form == the oracled wide minhash_bands, exactly
    wide = textops.minhash_bands(docs)
    wide_set = set()
    for r in wide.collect():
        wide_set.add((r.doc_id, r.band_a))
        wide_set.add((r.doc_id, r.band_b))
    long2 = {(r.doc_id, r.band)
             for r in textops.minhash_band_table(docs).collect()}
    assert long2 == wide_set


def test_worker_cache_fits_byte_budget():
    """Each worker-resident hash cache holds at most
    _WORKER_CACHE_BYTES of entries: cap x the tracemalloc-measured
    bytes of one realistic entry stays within the budget."""
    import tracemalloc
    from hashlib import md5

    def minhash_entry(i):
        sh = f"token{i} word{i} other{i}"
        digs = []
        for base in textops._minhash_bases():
            d = base.copy()
            d.update(sh.encode())
            digs.append(d.digest())
        return sh, digs

    def simhash_entry(i):
        t = f"token{i}"
        return t, int(md5(t.encode()).hexdigest()[15::-1], 16)

    def dsir_entry(i):
        g = f"token{i} word{i}"
        return g, int(md5(b"ds1:" + g.encode()).hexdigest()[:8], 16) % 4096

    kinds = [
        ("minhash", textops._MINHASH_ENTRY_BYTES, minhash_entry),
        ("simhash", textops._INT_ENTRY_BYTES, simhash_entry),
        (("dsir", 4096), textops._INT_ENTRY_BYTES, dsir_entry),
    ]
    n = 20_000
    for key, entry_bytes, make in kinds:
        cache, cap = textops._worker_cache(key, entry_bytes)
        cache.clear()
        tracemalloc.start()
        try:
            before = tracemalloc.get_traced_memory()[0]
            for i in range(n):
                k, v = make(i)
                cache[k] = v
            per_entry = (tracemalloc.get_traced_memory()[0] - before) / n
        finally:
            tracemalloc.stop()
            cache.clear()
        assert cap * per_entry <= textops._WORKER_CACHE_BYTES, (
            key, per_entry, entry_bytes)


def test_dsir_weights_exact_and_directional(spark):
    """dsir_weights == a Python fixed-point replica bucket-for-bucket,
    and documents resembling the target domain outscore off-domain
    ones (the resampling property the op exists for)."""
    import hashlib
    import math

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    target = spark.createDataFrame(
        [(100 + i, "market revenue analyst filing quarterly revenue",
          "en", "t", 0) for i in range(4)], cols)
    raw_rows = [
        (1, "market revenue analyst quarterly filing", "en", "r", 0),
        (2, "lithium battery storage harvest municipal", "en", "r", 0),
        (3, "market revenue lithium battery", "en", "r", 0),
    ]
    raw = spark.createDataFrame(raw_rows, cols)
    B = 64
    out = {r.doc_id: r for r in textops.dsir_weights(
        raw, target, n_buckets=B).collect()}

    def buckets(text):
        tk = text.split(" ")
        grams = tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        return [int(hashlib.md5(f"ds1:{g}".encode()).hexdigest()[:8], 16)
                % B for g in grams]

    cnt_r, cnt_t = {}, {}
    for _, text, *_ in raw_rows:
        for b in buckets(text):
            cnt_r[b] = cnt_r.get(b, 0) + 1
    for i in range(4):
        for b in buckets("market revenue analyst filing quarterly revenue"):
            cnt_t[b] = cnt_t.get(b, 0) + 1
    n_r, n_t = sum(cnt_r.values()), sum(cnt_t.values())

    def lr(b):
        v = (math.log2(cnt_t.get(b, 0) + 1) - math.log2(n_t + B)
             - math.log2(cnt_r[b] + 1) + math.log2(n_r + B)) * 1e6
        # HALF_UP like Spark/DuckDB round()
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    for doc_id, text, *_ in raw_rows:
        bs = buckets(text)
        assert out[doc_id].n_features == len(bs)
        assert out[doc_id].weight_micro == sum(lr(b) for b in bs), doc_id
    # directionality: in-domain > mixed > off-domain (per-feature avg)
    avg = {d: out[d].weight_micro / out[d].n_features for d in (1, 2, 3)}
    assert avg[1] > avg[3] > avg[2]


def test_minhash_incremental_matches_batch_on_union(spark):
    """Cross-crawl probe == batch dedup over the union corpus,
    restricted to the new batch (monotone crawl ids): same keep_id /
    is_kept per new doc, and dup_of_history iff the keeper's id is
    historical."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for d in range(24):
        if d and rng.random() < 0.5:
            # near-dup of an earlier doc (possibly across the split)
            src = rows[rng.randrange(len(rows))][1].split()
            edited = list(src)
            for _ in range(rng.randint(0, 2)):
                edited[rng.randrange(len(edited))] = rng.choice(vocab)
            text = " ".join(edited)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(18))
        rows.append((d, text, "en", "s", 0))
    rows.append((24, "xy", "en", "s", 0))  # < k tokens: no bands
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    union = spark.createDataFrame(rows, cols)
    split = 12
    hist = union.filter(f"doc_id < {split}")
    new = union.filter(f"doc_id >= {split}")

    stored = textops.minhash_band_table(hist)  # persisted-shape input
    inc = {r.doc_id: r for r in textops.minhash_incremental_dedup(
        new, stored).collect()}
    batch = {r.doc_id: r for r in textops.minhash_dedup(union).collect()
             if r.doc_id >= split}

    assert set(inc) == set(batch)
    for d, b in batch.items():
        assert (inc[d].keep_id, inc[d].is_kept) == (b.keep_id, b.is_kept), d
        assert inc[d].dup_of_history == (b.keep_id < split), d
    # shingle-less doc is total and kept fresh
    assert inc[24].is_kept and not inc[24].dup_of_history


def test_chunk_documents_windows(spark):
    text = " ".join(f"t{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, text), (2, "short doc")], ["doc_id", "text"]
    )
    out = textops.chunk_documents(docs, chunk_tokens=16, overlap=4)
    rows = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in out.collect()
    )
    # shorter than one window: a single chunk equal to the text
    assert [r for r in rows if r[0] == 2] == [(2, 0, "short doc", 2)]
    d1 = [r for r in rows if r[0] == 1]
    # stride 12, last-start bound max(50-4,1)=46 -> starts 0,12,24,36
    assert [c for _, c, _, _ in d1] == [0, 1, 2, 3]
    toks = text.split(" ")
    for _, cid, t, n in d1:
        s = cid * 12
        assert t == " ".join(toks[s:s + 16])
        assert n == min(16, 50 - s)
    # every token of the doc is covered by some chunk
    covered = set()
    for _, cid, t, _ in d1:
        covered.update(t.split(" "))
    assert covered == set(toks)
    with pytest.raises(ValueError):
        textops.chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_tfidf_keywords_ranking_and_cap(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare1 rare1 mid"),
            (2, "common mid rare2"),
            (3, "common other stuff here"),
            (4, "common filler words again"),
        ],
        ["doc_id", "text"],
    )
    out = textops.tfidf_keywords(docs, top_k=2, max_df_frac=0.6)
    rows = {(r.doc_id, r.rank): (r.token, r.score_micro)
            for r in out.collect()}
    # 'common' is in 4/4 docs -> df-capped out entirely
    assert all(t != "common" for t, _ in rows.values())
    # doc 1: tf=3 'rare1' (df=1) dominates 'mid' (df=2)
    assert rows[(1, 1)][0] == "rare1"
    assert rows[(1, 2)][0] == "mid"
    # integer score: 3 * round(log2(4/1)*1e6) = 6_000_000
    assert rows[(1, 1)][1] == 6_000_000
    # deterministic under partitioning
    out2 = {(r.doc_id, r.rank): (r.token, r.score_micro)
            for r in textops.tfidf_keywords(
                docs.repartition(7), top_k=2, max_df_frac=0.6
            ).collect()}
    assert out2 == rows


def test_bloom_dedup_no_false_negatives(spark):
    seen = spark.createDataFrame(
        [(i, f"historical document number {i} body") for i in range(200)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(i, f"historical document number {i} body") for i in range(100)]
        + [(1000 + i, f"completely novel text {i}") for i in range(100)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.probably_seen
           for r in textops.bloom_dedup(new, seen, n_bits=1 << 16).collect()}
    # no false negatives: every true duplicate is flagged
    assert all(out[i] for i in range(100))
    # FP rate at this load (~1000 set bits in 65536) is ~1e-9: the
    # novel docs must come back unseen
    assert not any(out[1000 + i] for i in range(100))


def test_bloom_filter_words_mergeable_and_bounded(spark):
    a = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    b = spark.createDataFrame([(3, "gamma")], ["doc_id", "text"])
    both = a.unionByName(b)
    n_bits = 1 << 12
    wa = {r.word: r.bits
          for r in textops.bloom_filter_words(a, n_bits=n_bits).collect()}
    wb = {r.word: r.bits
          for r in textops.bloom_filter_words(b, n_bits=n_bits).collect()}
    wu = {r.word: r.bits
          for r in textops.bloom_filter_words(both, n_bits=n_bits).collect()}
    merged = {w: wa.get(w, 0) | wb.get(w, 0) for w in set(wa) | set(wb)}
    assert merged == wu  # bit_or of filters == filter of union
    assert len(wu) <= -(-n_bits // 63)  # word count bounded by n_bits


def test_curate_corpus_url_layer(spark):
    # the crawl-hygiene stages each bite: doc 1 domain-blocked, doc 2
    # robots-disallowed, doc 3 an older capture of doc 4's canonical
    # URL (utm + host case collapse), docs 4/5 survive to packing
    from dce_spark.functions.curation import curate_corpus

    words = lambda tag: " ".join(f"{tag}{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, words(t), "en", "s", 0)
         for i, t in [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    urls = spark.createDataFrame(
        [
            (1, "https://ads.blocked.bad/x", 5),
            (2, "https://ok.net/private/page", 5),
            (3, "https://ok.net/story?utm_source=x", 3),
            (4, "https://OK.net/story", 7),
            (5, "https://ok.net/fine", 1),
        ],
        ["doc_id", "url", "ts"],
    )
    bl = spark.createDataFrame([("blocked.bad",)], ["host"])
    rules = spark.createDataFrame(
        [("ok.net", False, "/private")], ["host", "allow", "prefix"]
    )
    out = curate_corpus(
        docs, docs.filter(F.col("doc_id") < 0), min_tokens=5,
        urls=urls, blocklist=bl, robots_rules=rules, latest_only=True,
    )
    assert sorted(r.doc_id for r in out.collect()) == [4, 5]


def test_curate_corpus_robots_bodies_and_cc(spark):
    # raw robots.txt bodies parse inline and gate like pre-parsed
    # rules; cc_dedup swaps the band keeper for transitive closure
    from dce_spark.functions.curation import curate_corpus

    words = lambda tag: " ".join(f"{tag}{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, words(t), "en", "s", 0)
         for i, t in [(1, "a"), (2, "b"), (3, "c")]],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    urls = spark.createDataFrame(
        [(1, "https://ok.net/private/page", 1),
         (2, "https://ok.net/fine", 1),
         (3, "https://ok.net/also-fine", 1)],
        ["doc_id", "url", "ts"],
    )
    bodies = spark.createDataFrame(
        [("ok.net", "User-agent: *\nDisallow: /private\n")],
        ["host", "body"],
    )
    out = curate_corpus(
        docs, docs.filter(F.col("doc_id") < 0), min_tokens=5,
        urls=urls, robots_bodies=bodies, cc_dedup=True,
    )
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    import pytest as _pt
    with _pt.raises(ValueError):
        curate_corpus(
            docs, docs, urls=urls, robots_bodies=bodies,
            robots_rules=bodies,
        )


def test_curate_corpus_strict_gates_bite(spark):
    """The two strict gates must each remove their target class on top
    of the base pipeline: a boilerplate doc built almost entirely from
    5-grams shared with another doc (dup-ngram cap), and a doc of
    corpus-rare tokens (cross-entropy tail)."""
    from dce_spark.functions.curation import curate_corpus

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    # docs 1-4: the same 10-word vocabulary traversed with coprime
    # strides — common (low cross-entropy) tokens but fully disjoint
    # adjacencies, so no shared shingles: all four survive every
    # dedup family and the dup-ngram cap
    rows = [
        (i + 1, " ".join(f"c{(j * s) % 10}" for j in range(25)),
         "en", "s1", 0)
        for i, s in enumerate((1, 3, 7, 9))
    ]
    # rare-vocab doc: every token hapax -> highest cross-entropy
    rows.append((6, " ".join(f"zz{i} qq{i}" for i in range(15)),
                 "en", "s1", 0))
    # boilerplate pair: a 30-token shared run plus a distinct 16-token
    # half each — similarity too low for minhash, but >1/2 of each
    # doc's 5-grams live in the shared run, so the dup cap drops BOTH
    shared_run = " ".join(f"p{i}" for i in range(30))
    rows.append((7, shared_run + " " + " ".join(
        f"d7x{i}" for i in range(16)), "en", "s1", 0))
    rows.append((8, shared_run + " " + " ".join(
        f"d8y{i}" for i in range(16)), "en", "s1", 0))
    docs = spark.createDataFrame(rows, cols)
    benchmark = spark.createDataFrame(
        [(99, " ".join(f"b{i} c{i}" for i in range(15)), "en", "b", 0)],
        cols,
    )
    base = {r.doc_id for r in curate_corpus(
        docs, benchmark, min_tokens=20, token_budget=4096
    ).collect()}
    strict = {r.doc_id for r in curate_corpus(
        docs, benchmark, min_tokens=20, token_budget=4096,
        max_dup_ngram_frac=0.5, drop_tail_bucket=True, dup_k=5,
    ).collect()}
    assert strict <= base                 # gates only remove docs
    assert base == {1, 2, 3, 4, 6, 7, 8}  # base pipeline keeps all
    # dup-ngram cap: both copies of the boilerplate run exceed 0.5
    assert 7 not in strict and 8 not in strict
    # cross-entropy tail: over the dup-cap survivors {1,2,3,4,6},
    # q75 is a common-vocab doc's score; the hapax doc is the tail
    assert 6 not in strict
    assert strict == {1, 2, 3, 4}


def test_filter_funnel_counts(spark):
    good = " ".join(["the"] * 2 + [f"word{i}" for i in range(60)])
    rows = [
        (1, good, "en", "sA", 0),                       # passes all
        (2, "short one", "en", "sA", 0),                # fails words
        # enough words but every "word" is a digit: fails alpha +
        # wordlen (mean len 1) + stopwords
        (3, " ".join(["1"] * 60), "en", "sA", 0),
        (4, good, "en", "sB", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.source: r for r in textops.filter_funnel(docs).collect()}
    a = out["sA"]
    assert a.n_docs == 3
    assert a.pass_words == 2          # docs 1 and 3
    assert a.pass_alpha == 2          # docs 1 and 2
    assert a.pass_stopwords == 1      # doc 1
    assert a.surv_wordlen == 1 and a.surv_all == 1
    b = out["sB"]
    assert b.n_docs == 1 and b.surv_all == 1
    # funnel is monotone: each stage can only shrink
    for r in (a, b):
        assert r.pass_words >= r.surv_wordlen >= r.surv_alpha >= r.surv_all


def test_span_dedup_first_owner_and_coverage(spark):
    shared = "One shared sentence. Two shared sentence. Three shared sentence. "
    rows = [
        (1, shared + "unique tail for one", "en", "s", 0),
        (2, shared + "unique tail for two", "en", "s", 0),
        (3, "Too short. Only two sentences here", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in textops.span_dedup(docs, n=3).collect()}
    # doc 1 owns the shared triple: everything survives
    assert out[1].n_sentences == 4 and out[1].n_kept == 4
    assert out[1].text_dedup == (
        "One shared sentence | Two shared sentence"
        " | Three shared sentence | unique tail for one"
    )
    # doc 2: the duplicated span drops its 3 sentences; the unique
    # tail survives (its own spans overlap dropped sentences, but
    # sentence-level removal only covers duplicated-span positions)
    assert out[2].n_kept == 1
    assert out[2].text_dedup == "unique tail for two"
    # fewer than n sentences -> no spans -> untouched
    assert out[3].n_kept == 2 and out[3].n_sentences == 2


def test_span_dedup_hot_key_split_identical(spark):
    # one syndicated span in EVERY doc — the Zipf-head case the
    # two-phase join-back exists for. With the threshold forced low
    # the heavy key must resolve through the broadcast (hot) path and
    # produce byte-identical output to the plain-join (cold-only) path.
    shared = "Alpha beta. Gamma delta. Epsilon zeta. "
    rows = [
        (i, shared + f"Tail {i} one. Tail {i} two. Tail {i} three. end",
         "en", "s", 0)
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    hot = textops.span_dedup(docs, n=3, hot_min_count=2)
    plain = textops.span_dedup(docs, n=3, hot_min_count=1 << 40)
    hot_rows = sorted(map(tuple, hot.collect()))
    assert hot_rows == sorted(map(tuple, plain.collect()))
    # the shared triple survives only in doc 0
    kept_shared = [r for r in hot_rows if "Alpha beta" in r[1]]
    assert len(kept_shared) == 1 and kept_shared[0][0] == 0
    # hot path genuinely active: the heavy span is served by a
    # broadcast join, and the cold equi-join never sees a key with
    # count >= hot_min_count
    plan = hot._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_line_dedup_matches_python_replica_random(spark):
    """The join-free winner-projection formulation against a
    brute-force Python replica over randomized corpora with heavy
    cross-doc repetition."""
    import random

    rng = random.Random(77)
    vocab = [f"line {i} text" for i in range(12)] + ["", "  "]
    for trial in range(3):
        docs = [
            (d, "\n".join(rng.choice(vocab)
                          for _ in range(rng.randint(1, 9))))
            for d in range(8)
        ]
        # replica: first (doc_id, pos) owner per non-blank line wins
        seen, keep = set(), {d: [] for d, _ in docs}
        for d, text in docs:
            for pos, ln in enumerate(text.split("\n")):
                if ln.strip() == "":
                    keep[d].append(ln)
                elif ln not in seen:
                    seen.add(ln)
                    keep[d].append(ln)
        expected = {d: "\n".join(ls) for d, ls in keep.items()}
        out = {r.doc_id: r.text_dedup for r in textops.line_dedup(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()}
        assert out == expected, trial


def test_span_dedup_hot_cold_equivalence_random(spark):
    """Randomized corpora: the hot/cold two-phase join-back is
    byte-identical to the plain-join path at every threshold."""
    import random

    rng = random.Random(31)
    sents = [f"Sentence number {i} here." for i in range(6)]
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(sents)
                         for _ in range(rng.randint(3, 10))))
            for d in range(10)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        plain = sorted(map(tuple, textops.span_dedup(
            df, n=3, hot_min_count=1 << 40).collect()))
        for hot_min in (2, 3, 5):
            hot = sorted(map(tuple, textops.span_dedup(
                df, n=3, hot_min_count=hot_min).collect()))
            assert hot == plain, (trial, hot_min)


def test_span_dedup_within_doc_repeat(spark):
    # the same triple twice inside ONE document: the second
    # occurrence (positions 3-5) is dropped, the first kept
    tri = "Aa aa. Bb bb. Cc cc. "
    rows = [(1, tri + tri + "tail end", "en", "s", 0)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    r = textops.span_dedup(docs, n=3).collect()[0]
    assert r.n_sentences == 7
    assert r.text_dedup == "Aa aa | Bb bb | Cc cc | tail end"


def test_dup_ngram_fraction_matches_python_replica_random(spark):
    import random

    rng = random.Random(9)
    vocab = [f"v{i}" for i in range(8)]
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 14))), "s")
            for d in range(12)
        ]
        k = 3
        sh = {
            d: {" ".join(t.split()[i:i + k])
                for i in range(len(t.split()) - k + 1)}
            for d, t, _ in docs
        }
        from collections import Counter
        df_counts = Counter(s for ss in sh.values() for s in ss)
        expected = {}
        for d, _, _ in docs:
            n = len(sh[d])
            dup = sum(1 for s in sh[d] if df_counts[s] >= 2)
            expected[d] = (n, round(dup / n, 6) if n else 0.0)
        out = {r.doc_id: (r.n_ngrams, r.dup_ngram_frac)
               for r in textops.dup_ngram_fraction(
                   spark.createDataFrame(
                       docs, ["doc_id", "text", "source"]),
                   k=k).collect()}
        assert out == expected, trial


def test_span_dedup_matches_python_replica_random(spark):
    """Complete-semantics replica (RE2-style '[.!?] ' split with the
    terminator consumed, (doc_id,pos) first-owner, n-sentence
    coverage removal, ' | ' reassembly) vs the operator on random
    corpora with heavy cross-document span repetition."""
    import random
    import re

    rng = random.Random(123)
    pool = [f"Common sentence {i} text" for i in range(4)] + [
        f"Rare sentence {i} words" for i in range(12)
    ]

    def replica(docs, n=3):
        arrs = {d: re.split(r"[.!?] ", t) for d, t in docs}
        occ = []
        for d in sorted(arrs):
            arr = arrs[d]
            if len(arr) >= n:
                for pos in range(len(arr) - n + 1):
                    occ.append((d, pos, " | ".join(arr[pos:pos + n])))
        first = {}
        for d, pos, s in occ:
            if s not in first or (d, pos) < first[s]:
                first[s] = (d, pos)
        covered = {}
        for d, pos, s in occ:
            if first[s] != (d, pos):
                covered.setdefault(d, set()).update(range(pos, pos + n))
        out = {}
        for d, arr in arrs.items():
            keep = [s for i, s in enumerate(arr)
                    if i not in covered.get(d, set())]
            out[d] = (" | ".join(keep), len(keep), len(arr))
        return out

    for trial in range(3):
        docs = []
        for d in range(10):
            sents = [rng.choice(pool)
                     for _ in range(rng.randint(2, 8))]
            text = ". ".join(sents) + " end"
            docs.append((d, text))
        expected = replica(docs)
        out = {r.doc_id: (r.text_dedup, r.n_kept, r.n_sentences)
               for r in textops.span_dedup(
                   spark.createDataFrame(docs, ["doc_id", "text"]),
                   n=3).collect()}
        assert out == expected, trial


def test_minhash_dedup_best_keeps_best_copy(spark):
    """Quality-aware keeper: the highest-scoring member of a near-dup
    family wins regardless of crawl order; ties break to smallest id;
    shingle-less docs keep themselves."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [
        (1, "the cat sat on the mat", "en", "s", 22),
        (2, "the cat sat on the mat", "en", "s", 90),   # best copy
        (3, "the cat sat on the mat", "en", "s", 90),   # tie -> id 2
        (4, "completely different words entirely here", "en", "s", 40),
        (5, "xy", "en", "s", 2),                        # < k tokens
    ]
    docs = spark.createDataFrame(rows, cols)
    out = {r.doc_id: r for r in textops.minhash_dedup_best(docs).collect()}
    assert len(out) == 5
    for d in (1, 2, 3):
        assert (out[d].keep_id, out[d].keep_score) == (2, 90), d
    assert out[2].is_kept and not out[1].is_kept and not out[3].is_kept
    assert out[4].is_kept and out[4].keep_id == 4
    assert out[5].is_kept and out[5].keep_score == 2


def test_kmeans_embeddings_separates_and_is_deterministic(embeddings, spark):
    """k-means on the 3-cluster fixture: perfect separation after a
    few rounds, identical assignment under any input partitioning
    (integer fixed-point arithmetic end to end), and k bounds
    enforced."""
    import pytest as _pytest

    from dce_spark.functions.simsearch import kmeans_embeddings

    out = kmeans_embeddings(embeddings, k=3, n_iters=3, dim=8).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id % 3)
    assert all(len(v) == 1 for v in by_cluster.values())
    assert len(by_cluster) == 3
    again = kmeans_embeddings(
        embeddings.repartition(7), k=3, n_iters=3, dim=8).collect()
    assert sorted((r.vec_id, r.cluster) for r in out) == sorted(
        (r.vec_id, r.cluster) for r in again)
    with _pytest.raises(ValueError):
        kmeans_embeddings(embeddings, k=100)


def test_semdedup_within_cluster_pruning(embeddings, spark):
    """Near-identical same-cluster vectors collapse to the lowest
    vec_id; vectors in different clusters never prune each other even
    at cosine ~1 across the corpus boundary; total over input."""
    from dce_spark.functions.simsearch import semdedup

    out = {r.vec_id: r for r in semdedup(
        embeddings, k=3, n_iters=3, dim=8, threshold=0.999).collect()}
    assert len(out) == 30
    # fixture: vid%3 defines the cluster axis; same-axis vectors have
    # cosine ~1 (0.01-scale perturbations), cross-axis ~0
    kept = [v for v in out.values() if v.is_kept]
    by_cluster = {}
    for r in out.values():
        by_cluster.setdefault(r.cluster, []).append(r)
    for cl, rows in by_cluster.items():
        keepers = {r.keep_id for r in rows}
        # everyone in a cluster points at a keeper inside the cluster
        ids = {r.vec_id for r in rows}
        assert keepers <= ids
    # at threshold 0.999 the ~1-cosine same-axis family collapses hard
    assert 3 <= len(kept) <= 12


def test_kmeans_uncapped_k(spark):
    """The k <= 99 argmin-encoding cap is gone: k=64 and k=120 both
    run and spread vectors over many clusters."""
    import math

    from dce_spark.functions.simsearch import kmeans_embeddings

    rows = []
    for vid in range(150):
        vec = [math.sin(vid * 13 + d * 5) for d in range(8)]
        rows.append((vid, vec))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = kmeans_embeddings(emb, k=64, n_iters=2, dim=8).collect()
    assert len(a) == 150 and len({r.cluster for r in a}) > 8
    big = kmeans_embeddings(emb, k=120, n_iters=1, dim=8).collect()
    assert len(big) == 150
    assert max(r.cluster for r in big) >= 100  # beyond the old cap


def test_kmeans_k1_single_cluster(embeddings):
    """k=1 (documented valid) no longer breaks the argmin expression:
    every vector lands in cluster 0."""
    from dce_spark.functions.simsearch import kmeans_embeddings

    out = kmeans_embeddings(embeddings, k=1, n_iters=1, dim=8).collect()
    assert len(out) == 30 and {r.cluster for r in out} == {0}


def test_semdedup_bounded_matches_unbounded_when_cap_loose(embeddings):
    """A cap no cluster exceeds leaves the decision bit-identical to
    the paper's plain within-cluster semantics (sub and chunk collapse
    to constants)."""
    from dce_spark.functions.simsearch import semdedup

    plain = sorted(
        tuple(r) for r in semdedup(
            embeddings, k=3, n_iters=3, dim=8, threshold=0.999
        ).collect()
    )
    capped = sorted(
        tuple(r) for r in semdedup(
            embeddings, k=3, n_iters=3, dim=8, threshold=0.999,
            max_cluster_size=1000,
        ).collect()
    )
    assert plain == capped


def test_semdedup_tight_cap_total_and_deterministic(embeddings):
    """With a tight cap the decision stays total over the input, every
    keeper is a real same-cluster member, and the output is identical
    under any input partitioning (LSH sub-shard and vec_id-ordered
    chunking are both deterministic)."""
    from dce_spark.functions.simsearch import semdedup

    out = semdedup(
        embeddings, k=3, n_iters=3, dim=8, threshold=0.999,
        max_cluster_size=3,
    ).collect()
    assert len(out) == 30
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    for r in out:
        assert r.keep_id in by_cluster[r.cluster]
        assert r.is_kept == (r.keep_id == r.vec_id)
    again = semdedup(
        embeddings.repartition(7), k=3, n_iters=3, dim=8,
        threshold=0.999, max_cluster_size=3,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_split_bits_formula(spark):
    """semdedup's in-plan _split_bits column == its definition: the
    smallest p with cnt <= cap * 2^p (0 for fitting clusters), capped
    at 16, over every count around each power-of-two boundary."""
    from dce_spark.functions.simsearch import _split_bits

    def want(cnt, cap):
        return next(p for p in range(17) if p == 16 or cnt <= cap << p)

    for cap in (1, 32, 64):
        cnts = sorted({1, 10**9} | {
            c for p in range(18) for c in (
                (cap << p) - 1, cap << p, (cap << p) + 1) if c > 0})
        got = spark.createDataFrame([(c,) for c in cnts], "cnt long") \
            .select("cnt", _split_bits(cap).alias("bits")).collect()
        assert {r.cnt: r.bits for r in got} == {
            c: want(c, cap) for c in cnts}, cap


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with 2 probes on an 8-mode corpus recovers >= 0.9 of the
    exact brute-force top-k pairs (mirrors the LSH recall bar)."""
    import math

    from dce_spark.functions.simsearch import brute_force_topk, ivf_topk

    rows = []
    for vid in range(200):
        axis = vid % 8
        base = [0.0] * 16
        base[axis * 2] = 1.0
        vec = [
            b + 0.02 * math.sin(vid * 7 + d) for d, b in enumerate(base)
        ]
        rows.append((vid, vec))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bf = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(emb, n_queries=10, k=5).collect()
    }
    ivf = {
        (r.query_id, r.cand_id)
        for r in ivf_topk(
            emb, n_queries=10, k=5, n_clusters=8, n_iters=2, dim=16,
            n_probes=2,
        ).collect()
    }
    assert len(bf) == 50
    assert len(ivf & bf) / len(bf) >= 0.9


def test_boilerplate_lines_strips_template_keeps_content(spark):
    """Per-site template lines (>= min_docs distinct docs of one host)
    vanish from EVERY page of that host; sub-threshold repeats and
    unique body lines survive; blank lines are structure and always
    survive; the same line on another host is NOT boilerplate there
    (host-scoped); a 100% template page comes back empty."""
    rows = [
        (1, "a", "MENU\nbody one\n\nfooter co"),
        (2, "a", "MENU\nbody two\nfooter co"),
        (3, "a", "MENU\nbody three\nrare line\nfooter co"),
        (4, "a", "MENU\nfooter co"),            # pure template page
        (5, "a", "rare line\nbody five"),        # rare = 2 docs < 3
        (6, "b", "MENU\nother host body"),       # MENU fine on host b
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.doc_id: r for r in textops.boilerplate_lines(
        docs, min_docs=3).collect()}
    assert len(out) == 6
    assert out[1].text_clean == "body one\n"          # blank survives
    assert out[2].text_clean == "body two"
    assert out[3].text_clean == "body three\nrare line"
    assert out[4].text_clean == "" and out[4].n_boiler == 2
    assert out[5].text_clean == "rare line\nbody five"
    assert out[6].text_clean == "MENU\nother host body"
    assert (out[1].n_lines, out[1].n_boiler) == (4, 2)
    # deterministic under repartition
    again = {r.doc_id: r for r in textops.boilerplate_lines(
        docs.repartition(5), min_docs=3).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()}


def test_boilerplate_lines_null_host_is_no_site(spark):
    """Pages without a host belong to no site: a line they all share
    is never template, matching the doc_boilerplate_strip oracle's
    host equi-join (which NULL never satisfies)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ])
    rows = [(i, None, f"shared line\nbody {i}") for i in (1, 2, 3)]
    docs = spark.createDataFrame(rows, schema)
    out = {r.doc_id: r for r in textops.boilerplate_lines(
        docs, min_docs=3).collect()}
    for i in (1, 2, 3):
        assert out[i].text_clean == f"shared line\nbody {i}"
        assert out[i].n_boiler == 0


def test_semdedup_centroid_far_keeps_atypical(embeddings):
    """The paper's keeper rule: within each near-dup family the
    survivor is the member LEAST similar to its cluster centroid (ties
    to lower id) — so keepers differ from min_id's first-seen rule,
    while the family PARTITION (who is grouped with whom) and totality
    are unchanged."""
    from dce_spark.functions.simsearch import semdedup

    s_min = {r.vec_id: r for r in semdedup(
        embeddings, k=3, n_iters=3, dim=8, threshold=0.999).collect()}
    s_far = {r.vec_id: r for r in semdedup(
        embeddings, k=3, n_iters=3, dim=8, threshold=0.999,
        keep_policy="centroid_far").collect()}
    assert len(s_far) == 30
    assert {r.vec_id: r.cluster for r in s_far.values()} == {
        r.vec_id: r.cluster for r in s_min.values()}
    # every vector points at a same-cluster keeper; keepers keep
    # themselves; the two policies pick DIFFERENT survivors here
    # (the lowest-id member is not the centroid-farthest one)
    for r in s_far.values():
        assert s_far[r.keep_id].is_kept
        assert s_far[r.keep_id].cluster == r.cluster
        assert r.is_kept == (r.keep_id == r.vec_id)
    assert {r.keep_id for r in s_far.values()} != {
        r.keep_id for r in s_min.values()}
    with pytest.raises(ValueError):
        semdedup(embeddings, k=3, dim=8, keep_policy="bogus")


def test_split_assign_content_keyed_and_deterministic(spark):
    """Exact duplicate texts land in the SAME split (content keying =
    holdout leakage hygiene); assignment is reproducible under any
    partitioning; thresholds validate."""
    rows = [(i, f"text {i % 40}") for i in range(200)]  # 5x dup groups
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.split for r in textops.split_assign(
        docs, val_permille=200, test_permille=200).collect()}
    assert len(out) == 200
    for i in range(200):  # every dup family agrees
        assert out[i] == out[i % 40]
    assert {"train", "validation", "test"} == set(out.values())
    again = {r.doc_id: r.split for r in textops.split_assign(
        docs.repartition(7), val_permille=200, test_permille=200
    ).collect()}
    assert out == again
    with pytest.raises(ValueError):
        textops.split_assign(docs, val_permille=600, test_permille=500)


def test_boilerplate_lines_random_property(spark):
    """Random corpora property: output is total over input, kept+
    removed == line count, a removed line really does occur on
    >= min_docs distinct docs of its host, and a kept non-blank line
    occurs on fewer."""
    import random as _random

    rng = _random.Random(20260817)
    vocab = [f"w{k}" for k in range(12)]
    rows = []
    did = 0
    for host in ("h1", "h2", "h3"):
        for _ in range(rng.randrange(4, 9)):
            lines = [
                " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(1, 4)))
                for _ in range(rng.randrange(1, 6))
            ]
            if rng.random() < 0.3:
                lines.insert(rng.randrange(len(lines) + 1), "  ")
            rows.append((did, host, "\n".join(lines)))
            did += 1
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.doc_id: r for r in textops.boilerplate_lines(
        docs, min_docs=2).collect()}
    assert len(out) == len(rows)
    # recompute ground truth in plain Python
    freq: dict = {}
    for d, h, t in rows:
        for ln in set(x for x in t.split("\n") if x.strip()):
            freq[(h, ln)] = freq.get((h, ln), 0) + 1
    for d, h, t in rows:
        lines = t.split("\n")
        kept = [
            ln for ln in lines
            if ln.strip() == "" or freq[(h, ln)] < 2
        ]
        r = out[d]
        assert r.n_lines == len(lines), d
        assert r.n_boiler == len(lines) - len(kept), d
        assert r.text_clean == "\n".join(kept), d


def test_boilerplate_lines_wide_lines_hashed_key(spark):
    """The (host, line) decision key is xxhash64-hashed, so the
    aggregation/join exchanges carry 8-byte ints even when lines are
    kilobytes wide; the strip decisions must be unchanged. Brute-force
    reference computed in Python."""
    from dce_spark.functions.textops import boilerplate_lines

    wide = "banner " + "x" * 4096
    rows = []
    for d in range(4):
        rows.append((d, "h1", f"{wide}\nunique body {d}\n\nfooter"))
    rows.append((4, "h2", f"{wide}\nother host copy"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in boilerplate_lines(df, min_docs=3).collect()
    }
    # wide banner + footer stripped on h1 (>= 3 docs), body + blank kept
    for d in range(4):
        assert out[d].text_clean == f"unique body {d}\n", d
        assert out[d].n_boiler == 2
        assert out[d].n_lines == 4
    # h2's single copy survives (per-host threshold)
    assert out[4].text_clean == f"{wide}\nother host copy"
    assert out[4].n_boiler == 0
