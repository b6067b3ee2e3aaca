"""Host-graph analytics over the link-edge list.

host_link_edges (urlops) produces the web graph's edge list; this
module ranks it. PageRank here is INTEGER fixed-point on purpose:
floating-point PageRank sums are ordering-dependent (different
partitionings give different low bits, and cross-engine parity is
unprovable), while micro-unit BIGINT arithmetic with per-edge
truncating division is associative and bit-exact on every engine and
partitioning — the same determinism discipline as
textops.unigram_cross_entropy. The DuckDB oracle unrolls the same
iterations and matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RANK_UNIT = 1_000_000  # 1.0 in micro-units
DAMPING_MICRO = 850_000  # d = 0.85 in micro-units


def host_pagerank(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links) edges in
    micro-unit integers: r'(v) = (1e6 - d) + d * sum_u((r(u) *
    w_uv) div outdeg(u)) div 1e6, starting from r0 = 1e6, for a fixed
    number of iterations. Self/internal edges are dropped (intra-site
    nav links would otherwise dominate inter-site authority). Ranks are
    relative signals: mass on hosts without out-edges is not
    redistributed.

    Scale shape per iteration: one join of the edge list with the
    rank vector on src (both shuffled on host), one groupBy(dst) sum
    with map-side partials, one left join back to the node set for
    the teleport base. Each iteration localCheckpoints (as each
    label_components level does) so K iterations cost K fixed plans,
    not an exponentially deep lineage. Overflow headroom: ranks stay
    ~1e6-scale micro-units, so the damped sum fits BIGINT up to
    ~10^12 nodes; beyond that move the accumulator to DECIMAL(38,0).
    """
    # the node set comes from the UNFILTERED edges: a host whose links
    # are all internal must still get its teleport-base row, or the
    # output is not total over input hosts
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = edges.filter(F.col("src_host") != F.col("dst_host")).select(
        "src_host", "dst_host", F.col("n_links").cast("long").alias("w"))
    outdeg = e.groupBy("src_host").agg(F.sum("w").alias("od"))
    # checkpoint the weighted edge list once: each iteration reuses
    # the materialized copy instead of re-deriving the outdeg shuffle
    # from the source K times
    ew = e.join(outdeg, "src_host").localCheckpoint(eager=False)

    base = F.lit(RANK_UNIT - DAMPING_MICRO).cast("long")
    ranks = nodes.withColumn("r", F.lit(RANK_UNIT).cast("long"))
    for _ in range(iterations):
        inc = (
            ew.join(ranks, ew.src_host == ranks.host)
            .select(
                F.col("dst_host").alias("host"),
                F.expr("(r * w) div od").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("inc"))
        )
        # lazy checkpoint: materialization fuses into the next
        # iteration's join instead of costing a scheduled job per
        # iteration
        ranks = (
            nodes.join(inc, "host", "left")
            .select(
                "host",
                (
                    base
                    + F.expr(f"({DAMPING_MICRO} * coalesce(inc, 0))"
                             f" div {RANK_UNIT}")
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("host", F.col("r").alias("rank_micro"))
