"""Integer fixed-point PageRank over the host edge list."""

import pytest
from pyspark.sql import functions as F

from dce_spark.functions.graphops import (
    DAMPING_MICRO, RANK_UNIT, host_pagerank)

pytestmark = pytest.mark.spark


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, ["src_host", "dst_host", "n_links"]
    )


def test_pagerank_authority_concentrates(spark):
    # star: everyone links to hub; hub links to one spoke
    rows = [(f"s{i}.net", "hub.net", 1) for i in range(5)]
    rows.append(("hub.net", "s0.net", 1))
    out = {r.host: r.rank_micro
           for r in host_pagerank(_edges(spark, rows)).collect()}
    assert len(out) == 6
    # the hub outranks every spoke; the linked spoke outranks the rest
    assert out["hub.net"] > out["s0.net"] > out["s1.net"]
    # teleport floor: nothing ranks below (1 - d)
    assert all(r >= RANK_UNIT - 850_000 for r in out.values())


def test_pagerank_internal_edges_dropped_and_dangling(spark):
    rows = [
        ("a.net", "a.net", 100),   # self nav storm: ignored
        ("a.net", "b.net", 1),
        ("b.net", "c.net", 1),     # c is dangling (no out-edges)
    ]
    out = {r.host: r.rank_micro
           for r in host_pagerank(_edges(spark, rows)).collect()}
    # a receives nothing (only the teleport base)
    assert out["a.net"] == RANK_UNIT - 850_000
    assert out["c.net"] > out["b.net"] > 0


def test_pagerank_partitioning_independent(spark):
    rows = [(f"h{i}.org", f"h{(i * 7) % 23}.org", 1 + i % 3)
            for i in range(23)]
    e = _edges(spark, rows)
    r1 = {r.host: r.rank_micro
          for r in host_pagerank(e.repartition(1)).collect()}
    r13 = {r.host: r.rank_micro
           for r in host_pagerank(e.repartition(13)).collect()}
    # integer arithmetic: bit-identical under any partitioning, and
    # equal to the arbitrary-precision replica
    assert r1 == r13 == _replica(rows)


def _replica(rows):
    """Arbitrary-precision integer replica of host_pagerank's exact
    3-iteration formula (Python // == SQL div on the nonnegative operands used)."""
    hosts = sorted({r[0] for r in rows} | {r[1] for r in rows})
    ext = [(s, d, w) for s, d, w in rows if s != d]
    od: dict[str, int] = {}
    for s, _, w in ext:
        od[s] = od.get(s, 0) + w
    r = {h: RANK_UNIT for h in hosts}
    base = RANK_UNIT - DAMPING_MICRO
    for _ in range(3):
        inc = {h: 0 for h in hosts}
        for s, d, w in ext:
            inc[d] += (r[s] * w) // od[s]
        r = {h: base + (DAMPING_MICRO * inc[h]) // RANK_UNIT
             for h in hosts}
    return r


def test_pagerank_total_over_all_internal_hosts(spark):
    # a host whose only edges are internal must still appear with the
    # teleport-base rank, and so must a normal pair
    rows = [
        ("island.net", "island.net", 50),   # all-internal host
        ("a.net", "b.net", 1),
    ]
    out = {r.host: r.rank_micro
           for r in host_pagerank(_edges(spark, rows)).collect()}
    assert set(out) == {"island.net", "a.net", "b.net"}
    assert out["island.net"] == RANK_UNIT - 850_000
