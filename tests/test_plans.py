"""Physical-plan shape assertions — the plans we designed for must be
the plans Catalyst actually picks."""

import pytest

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_revenue_join_broadcasts_nation(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_partial_agg(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_pricing_summary"](spark, SF))
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")  # partial below
    # scan reads only the 4 needed columns
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in plan


def test_dedup_stays_codegen(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_exact_dedup"](spark, SF))
    assert "partial_min" in plan or "partial_count" in plan
    assert "Python" not in plan  # no Python in the dedup path


def test_extraction_plan_shape(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["cetd_extract_content"](spark, SF))
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    # exactly one exchange: the explicit salting repartition
    assert plan.count("Exchange") <= 2  # salt + union alignment


def test_brute_topk_broadcasts_queries(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["emb_brute_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_new_textops_plans_pruned_and_codegen(spark):
    # asserted on the OPERATOR functions directly: the registry now
    # packages these per-doc projections as doc_id-joined merged
    # entries (driver-gate budget), which would hide the individual
    # shuffle-free plan shape
    from dce_spark.functions import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for name, op in (
        ("gopher_quality", textops.gopher_quality),
        ("rolling_fingerprint", textops.rolling_fingerprint),
    ):
        plan = _plan(op(docs))
        assert "Python" not in plan, name  # pure Catalyst
        # shuffle-free projection, except the ONE conditional
        # input-split repartition (ensure_scan_parallelism) that fires
        # only on an unsplittable single-partition scan, as here
        assert plan.count("Exchange") <= 1, name
        assert "text:string" in plan and "lang" not in plan.split(
            "ReadSchema"
        )[1][:120], name  # only doc_id+text scanned

    plan = _plan(textops.repetition_signals(docs))
    # map-only Arrow kernel: no aggregate shuffles, no row-at-a-time
    # Python; at most ONE exchange — the conditional scan-parallelism
    # repartition (ensure_scan_parallelism) that fires only when the
    # input is an unsplittable single-partition file, as here
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan
    assert plan.count("Exchange") <= 1


def test_ngram_jaccard_no_sortmerge_selfjoin(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_ngram_jaccard"](spark, SF))
    # the round-1 string-keyed self-join is gone: pair generation is an
    # in-memory combination explode over bounded posting lists
    assert "SortMergeJoin" not in plan


def test_emb_dedup_no_crossjoin(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["emb_dedup"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Python" not in plan


def test_lsh_codes_not_a_catalyst_fold(spark):
    """Hyperplane codes come from the NumPy Arrow map, and neither
    query computes a Catalyst cosine: no zip_with in either plan."""
    import __spark_entry__ as e

    for q in ("emb_semdedup", "emb_dedup"):
        plan = _plan(e.queries()[q](spark, SF))
        assert "zip_with" not in plan, q


def test_lsh_topk_codes_each_row_once(spark):
    """Each branch of lsh_topk filters on vec_id BELOW its code
    kernel: Spark pushes no filter through a MapInArrow, so a filter
    above it would code the whole corpus once per branch."""
    import __spark_entry__ as e

    df = e.queries()["emb_lsh_topk"](spark, SF)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()

    def node_col(line):
        return len(line) - len(line.lstrip(" :+-"))

    maps = [i for i, line in enumerate(lines) if "MapInArrow" in line]
    assert len(maps) == 2, maps
    for i in maps:
        col = node_col(lines[i])
        below = []
        for line in lines[i + 1:]:
            if node_col(line) <= col:
                break
            below.append(line)
        assert any(
            "Filter" in line and "vec_id" in line for line in below
        ), "\n".join(lines)


def test_events_last_max_partial_agg_no_window(spark):
    import __spark_entry__ as e

    # registry packages last-max inside events_type_stats; the merged
    # plan must still show the aggregate shape and never a Window
    plan = _plan(e.queries()["events_type_stats"](spark, SF))
    # top-1 per type is an aggregate with map-side partial combine, not
    # a row_number window over the ~5-value key (one reducer per type)
    assert "Window" not in plan
    assert "partial_max" in plan


def test_lsh_multitable_no_crossjoin(spark):
    """The 10^12-scale banded LSH path stays an equi-join on
    (tbl, bucket) — no cartesian/broadcast-nested-loop anywhere, and
    the cross-table pair dedup is a hash aggregate, not a sort."""
    from dce_spark.functions.simsearch import embedding_dedup, lsh_topk

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    for df in (
        lsh_topk(emb, n_queries=5, k=3, n_planes=10, n_tables=3),
        embedding_dedup(emb, threshold=0.9, n_planes=10, n_tables=3),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "Python" not in plan


def test_simsearch_supplied_count_runs_no_action(spark, monkeypatch):
    """With a caller-supplied corpus count (catalog/manifest stats),
    embedding_dedup and lsh_topk must stay pure plan builders — no
    count() (or any other driver action) fired per call."""
    from dce_spark.functions.simsearch import embedding_dedup, lsh_topk

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    # patch the concrete class: the classic DataFrame overrides every
    # method of the pyspark.sql.DataFrame base
    DataFrame = type(emb)

    def boom(self):
        raise AssertionError("driver action during plan build")

    for action in ("count", "collect", "take", "first", "head"):
        monkeypatch.setattr(DataFrame, action, boom)
    # nor a partition-count probe: simsearch reads its input as given.
    # Recorded as well as raised, since a probe may swallow the error.
    probes = []

    def probe(self):
        probes.append(self)
        boom(self)

    monkeypatch.setattr(DataFrame, "rdd", property(probe))
    embedding_dedup(emb, threshold=0.9, n_candidates=200)
    lsh_topk(emb, n_queries=5, k=3, n_candidates=200)
    assert not probes, "DataFrame.rdd read during plan build"


def test_decontaminate_broadcast_and_pii_projection(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan  # benchmark shingles broadcast
    assert "Python" not in plan

    plan2 = _plan(e.queries()["doc_pii_redact"](spark, SF))
    # pure projection: no aggregates/joins — the only exchange allowed
    # is the conditional input-split repartition (fires only on an
    # unsplittable single-partition scan, as here)
    assert plan2.count("Exchange") <= 1
    assert "Python" not in plan2


def test_line_dedup_partial_first_owner_agg(spark):
    """The first-owner table must form with a map-side partial
    min(struct) — that partial is what collapses a 10^8-occurrence
    banner line before the shuffle — and the whole path stays JVM-side
    (no Python, no window)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_line_dedup"](spark, SF))
    assert "partial_min" in plan
    assert "Python" not in plan
    assert "Window" not in plan
    # no join keyed on the line text anywhere: the kept set is a pure
    # projection of the min(struct) aggregate, so a 10^8-occurrence
    # banner line cannot concentrate a join partition
    assert "Join [line#" not in plan


def test_url_ops_plans(spark):
    """url_dedup / host_stats: canonical keys are computed in the
    projection before their single hash-aggregation; no Python."""
    import __spark_entry__ as e

    for q in ("doc_url_dedup", "doc_host_stats"):
        plan = _plan(e.queries()[q](spark, SF))
        assert "Python" not in plan, q
        assert "HashAggregate" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_cross_entropy_plan_broadcast_thresholds_no_window(spark):
    # operator-direct (registry packages this inside doc_lm_scores)
    from dce_spark.functions.textops import unigram_cross_entropy

    plan = _plan(unigram_cross_entropy(
        spark.read.parquet(f"{SF}/documents.parquet")))
    # integer per-doc agg with map-side partials; the per-source
    # totals and thresholds come back as broadcast joins; no Window
    # operator anywhere (rank selection happens inside an aggregate)
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_dup_ngrams_plan_no_pair_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_dup_ngrams"](spark, SF))
    # df counting is a plain aggregate on the shingle key — no
    # self-join pair explosion, no cartesian, all JVM-side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "Python" not in plan
    # no join keyed on the shingle either: duplicated-shingle counts
    # derive from unique-shingle ownership (min(doc_id) at df == 1),
    # so the Zipf-head shingle never concentrates a join partition
    assert "Join [shingle#" not in plan


def test_c4_filter_pure_projection(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_c4_filter"](spark, SF))
    # map-only aside from the ONE conditional input-split repartition
    # (ensure_scan_parallelism, fires only on an unsplittable
    # single-partition scan, as here); no Python
    assert plan.count("Exchange") <= 1
    assert "Python" not in plan
    # the staged projections keep the expensive line-filter lambda
    # from being re-inlined into every output column: exactly one
    # filter(...) evaluation per row survives optimization
    assert plan.count("lambdafunction") == 1, plan.count("lambdafunction")


def test_url_latest_max_struct_no_window(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_url_latest"](spark, SF))
    # argmax via max(struct) — map-side partial agg, no Window sort
    assert "partial_max" in plan
    assert "Window" not in plan
    assert "Python" not in plan


def test_url_blocklist_broadcast_semi(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_url_blocklist"](spark, SF))
    # suffix probe is a broadcast semi-join; no cartesian, no Python
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_span_dedup_partial_min_no_window(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_span_dedup"](spark, SF))
    # first-owner table forms with a map-side min(struct) partial;
    # reassembly is an aggregate sort_array, never a Window
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_window_broadcast_idf(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_tfidf"](spark, SF))
    # top-k via sort+slice inside an aggregate, never a Window; the
    # vocab idf table attaches by broadcast
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_chunks_map_only(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_chunks"](spark, SF))
    # fixed-window chunking is a pure projection: no shuffle beyond
    # the ONE conditional input-split repartition (fires only on an
    # unsplittable single-partition scan, as here)
    assert plan.count("Exchange") <= 1
    assert "Python" not in plan


def test_host_quota_single_agg_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_host_quota"](spark, SF))
    # one count aggregate on host + one join back; integer keep rule
    # stays in codegen — no Python, no window, no cartesian
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_bloom_dedup_broadcast_probe(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_bloom_dedup"](spark, SF))
    # the packed filter table broadcasts; the probe is a broadcast
    # join + aggregate — the historical side is never re-shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert "partial_min" in plan  # map-side combine of the k probes

    # doc_bloom_dedup's filter (n_bits = 2^16) has at most
    # ceil(2^16/63) rows of 24 bytes; one byte under that bound the
    # probe falls back to a shuffled join
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(-(-(1 << 16) // 63) * 24 - 1))
    try:
        plan = _plan(e.queries()["doc_bloom_dedup"](spark, SF))
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_url_robots_broadcast_rules(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_url_robots"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_pagerank_plan_no_cartesian(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_host_pagerank"](spark, SF))
    # per-iteration shape: host-keyed joins + summed contribs; the
    # edge list is checkpointed (scans appear as ExistingRDD, not a
    # re-derivation of the whole upstream per iteration)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_dsir_plan_broadcasts_ratio_no_token_join(spark):
    """DSIR: the per-bucket ratio table broadcasts to the feature
    stream; no cartesian beyond the 1-row totals cross join, no
    Window, no Python."""
    from dce_spark.functions.textops import dsir_weights

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = dsir_weights(
        docs.filter("source <> 'src0'"), docs.filter("source = 'src0'"),
        n_buckets=256,
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # map-side partials on the bucket aggregations
    assert "partial_count" in plan or "partial_sum" in plan


def test_minhash_incremental_plan_no_window_no_cartesian(spark):
    """Incremental probe: union + two hash aggs + one totalizing
    join — no Window, no cartesian, and history's band table is
    scanned, never re-shingled (no explode on the stored side)."""
    from dce_spark.functions.textops import (
        minhash_band_table,
        minhash_incremental_dedup,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")
    stored = minhash_band_table(docs.filter("doc_id < 100"))
    df = minhash_incremental_dedup(docs.filter("doc_id >= 100"), stored)
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_schedule_fetches_plan_single_host_window(spark):
    """Scheduler: exactly one Window (per-host sequencing is the honest
    shape) and the delay table joins as a broadcast."""
    from dce_spark.functions.urlops import schedule_fetches

    frontier = spark.read.parquet(SF + "/documents.parquet").selectExpr(
        "concat('https://h', cast(doc_id % 7 as string), '.test/p',"
        " cast(doc_id as string)) as url"
    )
    directives = spark.createDataFrame(
        [("h0.test", "crawl_delay", None, 2.0)],
        "host string, directive string, value_str string,"
        " value_num double",
    )
    plan = _plan(schedule_fetches(frontier, directives))
    assert plan.count("Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_bounded_pair_group_key(spark):
    """The 100 TB SemDeDup guard: pairing runs as ONE grouped Arrow
    kernel per (cluster, sub, chunk) group — group sizes bounded by
    construction via LSH sub-shards + hard chunking, so the kernel's
    in-memory Gram block is bounded too — and the corpus side never
    meets itself in a cartesian or a row-at-a-time Python eval. (The
    k-means assignment's broadcast of the tiny centroid table is a
    BroadcastNestedLoop by design, so only CartesianProduct is
    banned.)"""
    import __spark_entry__ as e

    for q in ("emb_semdedup", "emb_semdedup_far"):
        plan = _plan(e.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time UDFs
        lines = plan.splitlines()
        ok = False
        for i, ln in enumerate(lines):
            if "FlatMapGroupsInArrow" not in ln:
                continue
            blk = "\n".join(lines[i:i + 8])
            if "cluster" in blk and "sub" in blk and "chunk" in blk:
                ok = True
        assert ok, (q, plan)


def test_ivf_topk_plan_bucketed_no_cartesian(spark):
    """IVF ANN stays a bucketed equi-join on the cluster id: no
    CartesianProduct anywhere. The assignment is the map-only Arrow
    matmul (no N*k row blowup, no per-vector struct-min shuffle); no
    row-at-a-time Python anywhere."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["emb_ivf_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan  # the matmul assignment path


def test_boilerplate_strip_plan_no_window(spark):
    """Template-line removal is aggregates + ONE many-to-one join on
    the 8-byte xxhash64(host, line) key: no window anywhere
    (reassembly is collect_list + array_sort inside the agg), no
    cartesian, line frequency counted via distinct + count with
    map-side partials, and no exchange or join keyed on the raw line
    text (the shuffle carries fixed-width ints, not the corpus)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_boilerplate_strip"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    # the line-frequency aggregation and join key on the hash, never
    # on the raw line string
    assert "_lh" in plan
    assert "hashpartitioning(_host" not in plan
    assert "hashpartitioning(line" not in plan


def test_split_assign_map_only(spark):
    """Split assignment is a pure projection: no shuffle, no window —
    the plan must be scan -> project, nothing else."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["doc_split_assign"](spark, SF))
    assert "Exchange" not in plan
    assert "Window" not in plan and "Sort" not in plan
