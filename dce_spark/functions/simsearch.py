"""Similarity search over an embedding column (array<float/double>).

Two candidate-generation paths:

* Brute-force cosine: zip_with product + sequential aggregate fold
  (deterministic left-to-right f64 summation — matters for oracle
  parity AND for reproducible thresholds across engines);
* LSH-bucketed: deterministic integer hyperplanes (no RNG) bucket
  vectors by sign pattern (codes from one NumPy Arrow row map,
  ``_lsh_codes``); candidates share a bucket, and the exact
  within-bucket decisions run in a grouped Arrow kernel whose NumPy
  Gram accumulation reproduces the Catalyst fold bit-for-bit (see
  _seq_gram_block). At 10^12 scale the bucket grouping replaces the
  O(N*Q) crossJoin with one shuffle on bucket id, and per-bucket cost
  is one matmul instead of a fold per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _f64(a):
    """Embeddings are stored float32; promote exactly to float64 so the
    similarity math is engine-independent f64."""
    return a.cast("array<double>")


def _emb_matrix(tbl, dim: int):
    """(ids int64, X float64) from an Arrow group table with vec_id +
    embedding (list<float>) columns. float32 -> float64 is exact."""
    import numpy as np

    ids = (
        tbl.column("vec_id").combine_chunks()
        .to_numpy(zero_copy_only=False).astype(np.int64)
    )
    emb = tbl.column("embedding").combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False)
    X = np.asarray(flat, dtype=np.float64).reshape(len(ids), dim)
    return ids, X


def _seq_gram_block(X, s, e):
    """Gram block G[s:e, :] and squared norms via a PER-DIMENSION
    accumulation loop: G := G + x_d * y_d one dimension at a time in
    f64, which reproduces the sequential left-to-right fold of
    ``_dot``/``_norm`` BIT-EXACTLY (each product of two f32-valued
    doubles is exact — 48-bit mantissa — and each += rounds once, in
    the same order as the Catalyst fold). A plain ``X @ X.T`` would
    use pairwise/blocked summation and could differ in the last ulp,
    flipping threshold comparisons."""
    import numpy as np

    n, dim = X.shape
    Gb = np.zeros((e - s, n))
    nsq = np.zeros(n)
    for d in range(dim):
        c = X[:, d]
        Gb += c[s:e, None] * c[None, :]
        nsq += c * c
    return Gb, nsq


def _neighbor_masks(X, threshold: float):
    """Blocked neighbor masks over one group's vectors: yields
    ``(s, e, mask)`` per block of up to 2048 rows, where
    ``mask[r, j]`` says vector j is a neighbor of vector s + r —
    cosine >= threshold or NaN (a zero-norm vector; NaN cosines compare
    as neighbors, matching Spark/DuckDB NaN-is-largest ordering), and
    never the vector itself. Cosines come from ``_seq_gram_block``, so
    the decisions are bit-identical to the Catalyst fold."""
    import numpy as np

    n = len(X)
    bs = 2048
    for s in range(0, n, bs):
        e = min(s + bs, n)
        Gb, nsq = _seq_gram_block(X, s, e)
        norms = np.sqrt(nsq)
        denom = norms[s:e, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            C = Gb / denom
        mask = (C >= threshold) | np.isnan(C)
        rows = np.arange(s, e)
        mask[rows - s, rows] = False  # self is not a neighbor
        yield s, e, mask


def _far_neighbor_kernel(threshold: float, dim: int):
    """Grouped-map Arrow kernel for the SemDeDup ``centroid_far``
    keeper: for one pairing group, each vector's (cs, id)-minimal
    qualifying neighbor — min over neighbors b of the lexicographic
    struct (cs_b, b), where cs is the per-vector rounded centroid
    similarity computed upstream (carried in as a column). Neighbors
    come from ``_neighbor_masks``, as in ``_min_neighbor_kernel``."""
    import numpy as np
    import pyarrow as pa

    int_max = np.iinfo(np.int64).max

    def fn(tbl):
        if tbl.num_rows <= 1:
            return pa.table({
                "a": pa.array([], type=pa.int64()),
                "s": pa.array([], type=pa.float64()),
                "i": pa.array([], type=pa.int64()),
            })
        ids, X = _emb_matrix(tbl, dim)
        cs = (
            tbl.column("cs").combine_chunks()
            .to_numpy(zero_copy_only=False).astype(np.float64)
        )
        # Spark's struct-min orders NaN cs LARGEST; cosine is in
        # [-1, 1] or NaN (never +-inf: a zero norm makes 0/0), so
        # +inf is a safe NaN-is-largest ordering sentinel
        cs_key = np.where(np.isnan(cs), np.inf, cs)
        out_a, out_s, out_i = [], [], []
        for s0, e0, mask in _neighbor_masks(X, threshold):
            has = mask.any(axis=1)
            s_cand = np.where(mask, cs_key[None, :], np.inf)
            m_s = s_cand.min(axis=1)
            id_cand = np.where(
                mask & (cs_key[None, :] == m_s[:, None]),
                ids[None, :], int_max,
            )
            m_i = id_cand.min(axis=1)
            # un-sentinel: an inf key means the chosen neighbor's cs
            # was NaN (only possible when every masked cs is NaN)
            m_s = np.where(np.isinf(m_s) & has, np.nan, m_s)
            out_a.append(ids[s0:e0][has])
            out_s.append(m_s[has])
            out_i.append(m_i[has])
        return pa.table({
            "a": pa.array(np.concatenate(out_a), type=pa.int64()),
            "s": pa.array(np.concatenate(out_s), type=pa.float64()),
            "i": pa.array(np.concatenate(out_i), type=pa.int64()),
        })

    return fn


def _min_neighbor_kernel(threshold: float, dim: int):
    """Grouped-map Arrow kernel: for one LSH bucket, each vector's
    LOWEST-id neighbor with cosine >= threshold (rows with no
    qualifying neighbor emit nothing). Replaces the per-pair Catalyst
    ``cosine_similarity_col`` fold (3 array folds + a zip_with
    allocation per candidate pair — quadratic in bucket size) with one
    NumPy Gram accumulation per bucket (``_neighbor_masks``), with
    bit-identical decisions."""
    import numpy as np
    import pyarrow as pa

    int_max = np.iinfo(np.int64).max

    def fn(tbl):
        if tbl.num_rows <= 1:
            return pa.table({
                "a": pa.array([], type=pa.int64()),
                "nbr": pa.array([], type=pa.int64()),
            })
        ids, X = _emb_matrix(tbl, dim)
        out_a, out_nbr = [], []
        for s, e, mask in _neighbor_masks(X, threshold):
            cand = np.where(mask, ids[None, :], int_max)
            nbr = cand.min(axis=1)
            has = mask.any(axis=1)
            out_a.append(ids[s:e][has])
            out_nbr.append(nbr[has])
        return pa.table({
            "a": pa.array(np.concatenate(out_a), type=pa.int64()),
            "nbr": pa.array(np.concatenate(out_nbr), type=pa.int64()),
        })

    return fn


def _dot(a, b):
    """Deterministic sequential dot product (left-to-right fold)."""
    return F.aggregate(
        F.zip_with(_f64(a), _f64(b), lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(_f64(a), F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, cand_id, cosine_r) rows per query as
    (query_id, cand_id, rank, cosine_r). Ranks on the ROUNDED score
    (ties then by cand_id): deterministic and engine-independent,
    unlike raw-f64 ordering at ULP distance."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("cand_id").cast("long").alias("cand_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("cosine_r"),
        )
    )


def brute_force_topk(
    embeddings: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for the query vectors (vec_id <
    ``n_queries``) among the rest.

    The query side is tiny -> broadcast crossJoin; candidates stream
    through one whole-stage-codegen projection; top-k via a window on
    the (small) query partition count.
    """
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = embeddings.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    ).filter(F.col("cand_id") >= n_queries)
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .withColumn(
            "cosine_r",
            F.round(cosine_similarity_col(F.col("q_emb"), F.col("c_emb")), 6),
        )
        .select("query_id", "cand_id", "cosine_r")
    )
    return _topk(scored, k)


def cosine_pairs_threshold(
    embeddings: DataFrame, n_queries: int = 10, threshold: float = 0.5
) -> DataFrame:
    """Set-semantics variant (oracle-friendly: no rank instability):
    all (query, candidate) pairs with cosine >= threshold."""
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = embeddings.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    return (
        cands.crossJoin(F.broadcast(queries))
        .withColumn("cosine", cosine_similarity_col(F.col("q_emb"), F.col("c_emb")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("cand_id").cast("long").alias("cand_id"),
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


def _lsh_shape(embeddings: DataFrame, n_planes, n_tables, n_candidates):
    """(n_planes, n_tables) with each unset one derived. Occupancy comes
    from a caller-supplied corpus size when available: at scale the
    count is already known (catalog stats, the ingest manifest), and a
    count job per call is a driver action the pipeline shouldn't pay.
    Amplification follows the planes actually IN USE: a caller-pinned
    long code needs its multi-table recall restore as much as a derived
    one."""
    if n_planes is None:
        n_planes = derive_n_planes(
            n_candidates if n_candidates is not None
            else embeddings.count()
        )
    if n_tables is None:
        n_tables = tables_for_planes(n_planes)
    return n_planes, n_tables


def embedding_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    dim: int = 64,
    n_tables: int | None = None,
    n_candidates: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup decision.

    LSH buckets generate the candidates (grouped on (table, bucket)
    id — no crossJoin anywhere), an exact-cosine Arrow kernel decides
    within each bucket, and each vector keeps the smallest vec_id
    among itself and its >= threshold neighbors — the same single-pass keeper rule as
    minhash_dedup (a transitive closure would need iteration; one pass
    is the standard streaming-friendly decision). The output is TOTAL
    over the input: vectors with no qualifying neighbors keep
    themselves.

    Banded multi-table LSH (``n_tables`` > 1, the 10^12-scale path):
    occupancy is controlled by ``n_planes`` ALONE (expected bucket size
    N/2^planes per table), so the plane count can grow with the corpus
    without a recall cliff — each of the L independent tables re-draws
    the hyperplanes, and a true neighbor pair is a candidate if it
    collides in ANY table (P[hit] = 1-(1-p^b)^L, the classic
    Indyk-Motwani amplification). Duplicate cross-table edges are
    deduped before the keeper aggregation.
    """
    n_planes, n_tables = _lsh_shape(
        embeddings, n_planes, n_tables, n_candidates
    )
    with_bucket = _with_table_buckets(embeddings, n_planes, dim, n_tables)
    # Per-bucket min-qualifying-neighbor in ONE grouped Arrow kernel
    # (guide §4.2): the former a-join-b candidate join evaluated the
    # cosine fold per pair — O(bucket^2) zip_with allocations + 3 array
    # folds each, the dominant cost at scale — and then shuffled the
    # symmetric edge list again for the keeper min. The kernel computes
    # the same decisions from one per-dimension Gram accumulation
    # (bit-identical f64 sequence, see _seq_gram_block) and emits one
    # (a, nbr) row per vector that HAS a neighbor: the min over b of
    # the symmetric edge set, fused into the bucket pass.
    nbr_part = with_bucket.groupBy("tbl", "bucket").applyInArrow(
        _min_neighbor_kernel(float(threshold), dim), "a long, nbr long"
    )
    # a vector appears once per table (and a REPEATED vec_id once per
    # occurrence); the global nbr is the min over those rows — the
    # aggregate also keeps the left-join side unique so repeated
    # vec_ids keep input cardinality, exactly like the former
    # symmetric-edge groupBy. Skinny (a, nbr) rows, map-side partials.
    nbr_min = nbr_part.groupBy("a").agg(F.min("nbr").alias("nbr"))
    # totalization reads the INPUT, not the bucket projection: listing
    # ids through with_bucket would re-evaluate n_tables*n_planes
    # hyperplane dot products per vector (plus a distinct shuffle of
    # the exploded id stream) just to enumerate ids, and its
    # distinct() would collapse repeated vec_ids only when n_tables>1
    # (output cardinality changing with a tuning knob)
    ids = embeddings.select(F.col("vec_id").cast("long").alias("vec_id"))
    total = ids.join(nbr_min, ids.vec_id == nbr_min.a, "left")
    keep = F.least(F.col("vec_id"), F.coalesce(F.col("nbr"), F.col("vec_id")))
    return total.select(
        F.col("vec_id"),
        keep.cast("long").alias("keep_id"),
        (F.col("vec_id") == keep).alias("is_kept"),
    )


def derive_n_planes(n_candidates: int) -> int:
    """Plane count must grow with the corpus: 2^planes buckets sized so
    the EXPECTED bucket holds ~256 candidates (at 10^9 vectors a fixed
    64-bucket table degenerates to ~10^7-candidate buckets), at least
    6 planes. At 10^12 vectors this returns 32 — the recall cost of
    long codes is paid back by multi-table amplification (see
    tables_for_planes), NOT by clamping occupancy into the quadratic
    regime (a 24-plane clamp meant ~60k-vector buckets at 10^12). The
    48 cap only guards the int64 bucket id."""
    import math

    if n_candidates <= 0:
        return 6
    need = math.ceil(math.log2(max(n_candidates / 256, 1.0)))
    return max(6, min(48, need))


def tables_for_planes(n_planes: int) -> int:
    """Table count that restores the recall a code length costs: one
    extra table per ~8 planes past 16, capped at 8. Applies whether
    the plane count was derived OR pinned by the caller — a pinned
    32-plane code has the same single-table recall cliff as a derived
    one. <=16 planes is the short-code regime: one table suffices, so
    every sandbox-scale plan (and pinned oracle) stays single-table."""
    if n_planes <= 16:
        return 1
    return min(1 + ((n_planes - 16) + 7) // 8, 8)


def _with_table_buckets(
    embeddings: DataFrame, n_planes: int, dim: int, n_tables: int
) -> DataFrame:
    """(vec_id, embedding, tbl, bucket) — one row per (vector, table),
    the codes from ``_lsh_codes``."""
    return _lsh_codes(
        embeddings.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding"),
        n_planes, dim, range(max(n_tables, 1)),
    )


def _hyperplane_weights(n_planes: int, dim: int, table: int = 0):
    """Deterministic integer 'hyperplanes':
    w(p, d, t) = ((p*73 + d*37 + t*7919) % 19) - 9.
    Integer weights keep sign(dot) exactly reproducible across engines;
    table=0 reproduces the round-2 family exactly (oracle-pinned), each
    further table re-draws an independent sign pattern."""
    off = table * 7919
    return [
        [((p * 73 + d * 37 + off) % 19) - 9 for d in range(dim)]
        for p in range(n_planes)
    ]


def _lsh_codes(df: DataFrame, n_planes: int, dim: int, tables) -> DataFrame:
    """``df`` with (tbl int, bucket long) appended, one row per (row,
    table in ``tables``): the ``n_planes``-bit hyperplane code of
    ``embedding``, sum of bit_p << p, bit_p = dot_p >= 0 or NaN (Spark
    and DuckDB order NaN largest). One map-only Arrow kernel; dots
    accumulate one dimension at a time in f64 as in ``_seq_gram_block``,
    so every bit matches the left-to-right ``_dot`` fold. A NULL
    embedding, a NULL element or a length other than ``dim`` gets code
    0, as the fold's NULL sum does."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    W = np.asarray([_hyperplane_weights(n_planes, dim, t) for t in tables], np.float64)
    tables = np.asarray(list(tables), dtype=np.int32)
    shift, span = np.arange(n_planes), np.arange(dim)

    def codes(emb):
        off, vals = emb.offsets.to_numpy(), emb.values
        ok = (np.diff(off) == dim) & emb.is_valid().to_numpy(zero_copy_only=False)
        idx = off[:-1][ok, None] + span
        full = vals.is_valid().to_numpy(zero_copy_only=False)[idx].all(1)
        ok[ok] = full
        X = vals.to_numpy(zero_copy_only=False)[idx[full]].astype(np.float64)
        out = np.zeros((len(emb), len(tables)), dtype=np.int64)
        with np.errstate(invalid="ignore"):  # 0 * inf, inf - inf: NaN
            for i, w in enumerate(W):
                acc = np.zeros((len(X), n_planes))
                for d in range(dim):
                    acc += X[:, d, None] * w[None, :, d]
                out[ok, i] = (((acc >= 0) | np.isnan(acc)).astype(np.int64) << shift).sum(1)
        return out

    def kernel(batches):
        for b in batches:
            if b.num_rows:
                c = codes(b.column("embedding"))
                if len(tables) > 1:
                    b = b.take(pa.array(np.repeat(np.arange(b.num_rows), len(tables))))
                yield b.append_column("tbl", pa.array(np.tile(tables, len(c)))).append_column(
                    "bucket", pa.array(c.reshape(-1))
                )

    return df.mapInArrow(kernel, StructType(df.schema.fields + [
        StructField("tbl", IntegerType(), False),
        StructField("bucket", LongType(), False),
    ]))


def lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_planes: int | None = None,
    dim: int = 64,
    n_tables: int | None = None,
    n_candidates: int | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: candidates join queries on bucket id only.

    At scale this is the path: the crossJoin becomes an equi-join on
    bucket (shuffle on an int key), trading recall for a 1/2^planes
    candidate reduction.

    * ``n_planes=None`` derives the plane count from the corpus size
      via derive_n_planes, so bucket occupancy stays ~constant as the
      corpus grows. Pass ``n_candidates`` (catalog/manifest row count)
      to avoid the count() driver action; it is only consulted when
      n_planes is underived.
    * ``n_tables`` > 1 (banded multi-table LSH, the 10^12-scale path):
      L independent hyperplane families; candidates occupy one bucket
      PER table and a (query, cand) pair is scored if it collides in
      any table (cross-table duplicates deduped before ranking). This
      is what lets ``n_planes`` track the corpus size — occupancy stays
      N/2^planes linear while recall is amplified 1-(1-p^b)^L.
    """
    n_planes, n_tables = _lsh_shape(
        embeddings, n_planes, n_tables, n_candidates
    )
    # each branch filters before it codes: Spark pushes no filter below
    # a MapInArrow, so coding first would run the kernel over the whole
    # corpus once per branch
    queries = _with_table_buckets(
        embeddings.filter(F.col("vec_id") < n_queries), n_planes, dim, n_tables
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("tbl"),
        F.col("bucket"),
    )
    cands = _with_table_buckets(
        embeddings.filter(F.col("vec_id") >= n_queries), n_planes, dim, n_tables
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("tbl"),
        F.col("bucket"),
    )
    scored = (
        cands.join(F.broadcast(queries), ["tbl", "bucket"])
        .withColumn(
            "cosine_r",
            F.round(cosine_similarity_col(F.col("q_emb"), F.col("c_emb")), 6),
        )
        .select("query_id", "cand_id", "cosine_r")
    )
    if n_tables > 1:
        # same pair found via several tables: the score is identical
        # (deterministic f64 fold + round), so a plain distinct dedups
        scored = scored.distinct()
    return _topk(scored, k)


def _quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """(vec_id, em): vectors quantized ONCE to 1e-6 fixed point
    (integer micro-coordinates) so every distance downstream is an
    exact integer sum — no float accumulation order anywhere."""
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as bigint))"
        ).alias("em"),
    )


def _centroid_df(spark, centroids: list[list[int]]):
    """Centroid table (j, c) — k rows of dim bigints, broadcast into
    the ivf_topk probe ranking and the centroid_far similarity join.
    A TABLE, not k per-row literal arrays: the
    plan size is independent of k, so tens-of-thousands of clusters
    (the SemDeDup corpus-scale regime) compile and broadcast fine."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("j", IntegerType(), False),
        StructField("c", ArrayType(LongType(), False), False),
    ])
    return spark.createDataFrame(
        [(j, [int(v) for v in c]) for j, c in enumerate(centroids)],
        schema,
    )


_SQDIST = (
    "aggregate(zip_with(em, c, (a, b) -> (a - b) * (a - b)),"
    " cast(0 as bigint), (acc, x) -> acc + x)"
)


def _micro_matrix(tbl, dim: int):
    """(n, dim) int64 matrix of a record batch's ``em`` column (the
    1e-6 fixed-point coordinates from ``_quantize_embeddings``)."""
    import numpy as np

    return (
        tbl.column("em").flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64).reshape(tbl.num_rows, dim)
    )


def _nearest(X, C):
    """Exact argmin of squared distance from each row of X to the
    centroids C: one int64 ``|x|^2 - 2 X @ C.T + |c|^2`` and
    ``np.argmin``, which takes the FIRST minimum — ties go to the
    lower cluster id. int64 throughout (micro-coords <= ~2e6, dot
    terms <= 64 * 4e12 — exact), so the decision matches the oracle's
    integer struct-min."""
    import numpy as np

    d = (
        (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    return np.argmin(d, axis=1)


def _assign_arrow(em: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, cluster): each vector's nearest centroid via one
    map-only Arrow kernel (see ``_nearest``) — no N*k row blowup and
    no shuffle, so k may run to the tens of thousands."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.int64)
    dim = C.shape[1]

    def kernel(batches):
        for tbl in batches:
            if not tbl.num_rows:
                continue
            yield pa.record_batch({
                "vec_id": tbl.column("vec_id"),
                "cluster": pa.array(
                    _nearest(_micro_matrix(tbl, dim), C), type=pa.int64()
                ),
            })

    return em.select("vec_id", "em").mapInArrow(
        kernel, "vec_id long, cluster long"
    )


def _update_partials_arrow(em: DataFrame, centroids: list[list[int]]):
    """Fused assignment + per-cluster coordinate partial sums for one
    Lloyd update, as ONE map-only Arrow kernel: each batch takes the
    ``_nearest`` assignment (the same decision as ``_assign_arrow``)
    and emits at most k*dim partial rows (cluster, pos, s, c) — the
    exchange carries k*dim-row partials per task instead of the corpus
    (guide §2.3: aggregate before you shuffle). Integer sums are
    associative, so the reduced (s, c) are identical under any
    partitioning."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.int64)
    k, dim = C.shape

    def kernel(batches):
        for tbl in batches:
            if not tbl.num_rows:
                continue
            X = _micro_matrix(tbl, dim)
            a = _nearest(X, C)
            s = np.zeros((k, dim), dtype=np.int64)
            np.add.at(s, a, X)
            c = np.bincount(a, minlength=k)
            present = np.flatnonzero(c)
            yield pa.record_batch({
                "cluster": pa.array(
                    np.repeat(present, dim), type=pa.int64()
                ),
                "pos": pa.array(
                    np.tile(np.arange(dim), len(present)),
                    type=pa.int32(),
                ),
                "s": pa.array(
                    s[present].reshape(-1), type=pa.int64()
                ),
                "c": pa.array(
                    np.repeat(c[present], dim).astype(np.int64),
                    type=pa.int64(),
                ),
            })

    return em.select("em").mapInArrow(
        kernel, "cluster long, pos int, s long, c long"
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    n_iters: int = 2,
    dim: int = 64,
) -> list[list[int]]:
    """Fit Lloyd's k-means and return the FINAL centroids as k lists
    of dim fixed-point (1e-6) integers — the reusable model behind
    ``kmeans_embeddings``, ``semdedup`` sharding, and ``ivf_topk``
    routing.

    Deterministic and engine-exact by construction:

    * initial centroids are the ``k`` lowest-vec_id vectors (j = rank);
    * assignment is argmin of exact integer squared distance with ties
      to the lower cluster id (``_nearest`` — no k cap);
    * centroid updates take floor(sum/count) per coordinate (computed
      in double, exact below 2^53), and a cluster that loses all its
      members keeps its previous centroid.

    Scale shape: per iteration the k*dim-integer centroids ride the
    closure of one map-only Arrow kernel that assigns each batch and
    emits k*dim-row partial sums (``_update_partials_arrow``), one
    (cluster, pos) hash aggregation of those partials, and a
    k*dim-row collect — the standard k-means control-plane scalar
    (MLlib's runs the same loop).
    """
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    em = _quantize_embeddings(embeddings)
    init = em.orderBy("vec_id").limit(k).collect()
    if len(init) < k:
        raise ValueError(
            f"k={k} exceeds the number of vectors ({len(init)})"
        )
    centroids = [list(r.em) for r in init]
    for _ in range(n_iters):
        # fused assignment + k*dim-row partial sums per task (see
        # _update_partials_arrow)
        sums = (
            _update_partials_arrow(em, centroids)
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        nxt: dict = {}
        for r in sums:
            nxt.setdefault(int(r.cluster), [0] * dim)[int(r.pos)] = (
                math.floor(r.s / r.c)
            )
        centroids = [  # empty cluster keeps its previous centroid
            nxt.get(j, centroids[j]) for j in range(k)
        ]
    return centroids


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 4,
    n_iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means over the embedding column — the clustering pass
    behind SemDeDup-style semantic dedup sharding and corpus domain
    analysis (cluster first, then run within-cluster near-dup /
    pruning where the candidates actually live). Returns
    (vec_id, cluster); see ``kmeans_fit`` for the model semantics and
    the scale shape."""
    centroids = kmeans_fit(embeddings, k, n_iters, dim)
    return _assign_arrow(_quantize_embeddings(embeddings), centroids)


_SUB_PLANES = 16  # bits of semdedup's sub-shard LSH code


def _split_bits(cap: int):
    """Bits of LSH sub-bucket a cluster of ``cnt`` members (column
    ``cnt``) needs so the EXPECTED sub-cluster size is <= cap: the
    smallest p with cnt <= cap * 2^p, at most ``_SUB_PLANES``. Written
    as ceil(log2(m + 1)) for m = (cnt - 1) div cap — integer-derived,
    so the identical formula is float-safe in SQL (log2 of a small
    exact integer never lands a ULP below an integer boundary; the
    DuckDB oracle computes the same expression)."""
    return F.when(
        F.col("cnt") <= cap, F.lit(0)
    ).otherwise(
        F.least(
            F.lit(_SUB_PLANES).cast("long"),
            F.ceil(F.log2(F.expr(f"(cnt - 1) div {cap}") + 1)),
        )
    ).cast("int")


def semdedup(
    embeddings: DataFrame, k: int = 4, n_iters: int = 1, dim: int = 64,
    threshold: float = 0.95, max_cluster_size: int | None = None,
    keep_policy: str = "min_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means shards the
    embedding space, then cosine pruning runs WITHIN clusters only —
    each vector keeps the lowest vec_id among itself and its
    >= threshold same-cluster neighbors. The clustering is what makes
    the pairwise step tractable: pair candidates are bounded by
    cluster size, so ``k`` should scale with N / target-cluster-size
    at corpus scale (the paper uses tens of thousands of clusters for
    billions of docs; the equi-join on cluster id is the same
    bucketed shape as the LSH path, never a crossJoin).

    ``max_cluster_size`` bounds the pairwise step BY CONSTRUCTION —
    the 100 TB guard against skewed clusters (k-means on web corpora
    reliably produces a few giant template clusters whose c^2 pair
    count would dominate the job):

    * clusters over the cap are sub-sharded by deterministic
      integer-hyperplane LSH signs (family table=1; similar vectors
      land in the same sub-bucket, so recall degrades gracefully, not
      arbitrarily). Each cluster masks the shared 16-bit bucket
      down to its OWN ``_split_bits`` low bits (from its count) via a
      broadcast (cluster -> mask) table, so small clusters keep
      sub = 0 and are untouched;
    * a final deterministic chunk pass (row_number by vec_id within
      (cluster, sub), cap-sized chunks) HARD-caps every pairing group
      at ``max_cluster_size`` rows even for adversarial inputs LSH
      cannot split (e.g. millions of identical vectors — which exact
      dedup should have removed upstream). The chunk window sorts one
      (cluster, sub) group per task: worst case N log N in one
      partition, still incomparably cheaper than the c^2 pair join it
      prevents.

    The pair join key is then (cluster, sub, chunk) — pair count
    <= groups * cap^2 by construction. ``max_cluster_size=None``
    keeps the paper's plain within-cluster semantics (and the
    round-5 plan/oracle byte-identically).

    ``keep_policy`` picks the SURVIVOR of each near-dup family:

    * ``"min_id"`` (default) — lowest vec_id among self + neighbors,
      the streaming-friendly first-seen rule shared with minhash/
      embedding dedup;
    * ``"centroid_far"`` — the paper's actual rule (Abbas et al. §3:
      "keep the examples with the lowest cosine similarity to cluster
      centroids"): among self + neighbors, survive the vector LEAST
      similar to its cluster centroid (ties to the lower vec_id) —
      keeping the atypical exemplar preserves diversity where min_id
      keeps whatever crawled first. Similarities are the rounded-f64
      cosine against the integer fixed-point centroid, so the
      decision is engine-exact.

    Deterministic end to end: kmeans_embeddings is integer-exact, the
    sub-shard is integer-sign LSH, the chunk order is vec_id, and the
    cosine is the sequential f64 fold. Returns
    (vec_id, cluster, keep_id, is_kept), total over input.
    """
    from pyspark.sql.window import Window

    if keep_policy not in ("min_id", "centroid_far"):
        raise ValueError(f"unknown keep_policy {keep_policy!r}")
    centroids = kmeans_fit(embeddings, k, n_iters, dim)
    assigned = _assign_arrow(_quantize_embeddings(embeddings), centroids)
    withv = assigned.join(
        embeddings.select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        ),
        "vec_id",
    )
    if keep_policy == "centroid_far":
        cent = F.broadcast(
            _centroid_df(withv.sparkSession, centroids).select(
                F.col("j").cast("long").alias("cluster"), "c"
            )
        )
        withv = withv.join(cent, "cluster").withColumn(
            "cs",
            F.round(
                cosine_similarity_col(F.col("embedding"), F.col("c")), 6
            ),
        ).drop("c")
    group_key = ["cluster"]
    if max_cluster_size is not None:
        cap = int(max_cluster_size)
        if cap < 1:
            raise ValueError("max_cluster_size must be >= 1")
        # (cluster -> mask) derived IN-PLAN from a broadcast size
        # aggregate, so the mask table rides the one query plan with no
        # control-plane job. mask = 2^_split_bits - 1 (0 for clusters
        # within the cap).
        info = F.broadcast(
            assigned.groupBy("cluster")
            .agg(F.count("*").alias("cnt"))
            .select("cluster", _split_bits(cap).alias("_bits"))
            .select(
                "cluster",
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(_bits as int))"
                    " - 1"
                ).alias("mask"),
            )
        )
        withv = _lsh_codes(withv, _SUB_PLANES, dim, (1,)).join(info, "cluster", "left")
        withv = withv.withColumn(
            "sub", F.col("bucket").bitwiseAND(F.coalesce("mask", F.lit(0).cast("long")))
        ).drop("tbl", "bucket", "mask")
        w = Window.partitionBy("cluster", "sub").orderBy("vec_id")
        withv = withv.withColumn(
            "chunk",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(cap)),
        )
        group_key = ["cluster", "sub", "chunk"]
    far = keep_policy == "centroid_far"
    # Pairing via ONE grouped Arrow kernel per (cluster[, sub, chunk])
    # group (guide §4.2): the former a-join-b within-group candidate
    # join paid 3 Catalyst array folds + a zip_with allocation per
    # pair, then re-shuffled the symmetric edge list for the keeper
    # aggregate. The kernels compute the identical decisions from one
    # per-dimension Gram accumulation per group (bit-identical f64
    # sequence, see _seq_gram_block) and emit one row per vector that
    # HAS a qualifying neighbor — the group key is the same
    # (cluster, sub, chunk), so the pair count stays bounded by
    # construction exactly as before.
    if far:
        # each vector learns its (cs, id)-minimal qualifying neighbor;
        # the survivor of a family is its (cs, id)-minimal member
        # min-struct aggregate over the per-occurrence kernel rows:
        # keeps repeated vec_ids from fanning out the totalization
        # join (one row per a), matching the former edge groupBy
        nbr_best = (
            withv.groupBy(*group_key)
            .applyInArrow(
                _far_neighbor_kernel(float(threshold), dim),
                "a long, s double, i long",
            )
            .groupBy("a")
            .agg(
                F.min(
                    F.struct(F.col("s"), F.col("i"))
                ).alias("m")
            )
        )
        own = F.struct(F.col("cs").alias("s"), F.col("vec_id").alias("i"))
        best = F.least(own, F.coalesce(F.col("m"), own))
        return (
            withv.join(nbr_best, withv.vec_id == nbr_best.a, "left")
            .select(
                "vec_id",
                F.col("cluster").cast("long").alias("cluster"),
                best.getField("i").cast("long").alias("keep_id"),
                (best.getField("i") == F.col("vec_id")).alias("is_kept"),
            )
        )
    nbr_min = (
        withv.groupBy(*group_key)
        .applyInArrow(
            _min_neighbor_kernel(float(threshold), dim),
            "a long, nbr long",
        )
        # one row per a even for repeated vec_ids (see embedding_dedup)
        .groupBy("a")
        .agg(F.min("nbr").alias("nbr"))
    )
    return (
        assigned.join(nbr_min, assigned.vec_id == nbr_min.a, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.least(
                F.col("vec_id"), F.coalesce("nbr", F.col("vec_id"))
            ).cast("long").alias("keep_id"),
            (
                F.col("vec_id")
                <= F.coalesce("nbr", F.col("vec_id"))
            ).alias("is_kept"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_clusters: int = 8,
    n_iters: int = 1,
    dim: int = 64,
    n_probes: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse k-means quantizer routes each
    candidate into ONE inverted list (its nearest centroid); a query
    probes its ``n_probes`` nearest centroids and exact cosine runs
    only within the probed lists. The alternative to hyperplane LSH
    (``lsh_topk``) with better recall/cost at high dimension: bucket
    boundaries follow the DATA (learned centroids) instead of random
    hyperplanes, and recall is tuned by ``n_probes`` alone without
    re-bucketing the corpus.

    Same bucketed-equi-join shape as the LSH path — candidates join
    query probes on the int cluster id, never a crossJoin over the
    corpus. A candidate lives in exactly one list, so a (query, cand)
    pair is produced at most once regardless of ``n_probes`` — no
    dedup pass needed (unlike multi-table LSH). At 10^12 rows
    ``n_clusters`` scales with N / target-list-size (the Arrow
    assignment has no k cap).

    Deterministic end to end: kmeans_fit is integer-exact, probe
    ranking orders by exact integer (distance, j), and final ranking
    by (rounded cosine desc, cand_id). Output
    (query_id, cand_id, rank, cosine_r) — the lsh_topk schema.
    """
    from pyspark.sql.window import Window

    centroids = kmeans_fit(embeddings, n_clusters, n_iters, dim)
    em = _quantize_embeddings(embeddings)
    cands = (
        _assign_arrow(em.filter(F.col("vec_id") >= n_queries), centroids)
        .join(
            embeddings.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("embedding").alias("c_emb"),
            ),
            "vec_id",
        )
        .select(F.col("vec_id").alias("cand_id"), "c_emb", "cluster")
    )
    cent = F.broadcast(_centroid_df(em.sparkSession, centroids))
    qw = Window.partitionBy("vec_id").orderBy("d", "j")
    probes = (
        em.filter(F.col("vec_id") < n_queries)
        .crossJoin(cent)
        .select(
            "vec_id", F.expr(_SQDIST).alias("d"), F.col("j").alias("j")
        )
        .withColumn("pr", F.row_number().over(qw))
        .filter(F.col("pr") <= n_probes)
        .join(
            embeddings.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("embedding").alias("q_emb"),
            ),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("query_id"), "q_emb",
            F.col("j").cast("long").alias("cluster"),
        )
    )
    scored = (
        cands.join(F.broadcast(probes), "cluster")
        .withColumn(
            "cosine_r",
            F.round(
                cosine_similarity_col(F.col("q_emb"), F.col("c_emb")), 6
            ),
        )
        .select("query_id", "cand_id", "cosine_r")
    )
    return _topk(scored, k)
