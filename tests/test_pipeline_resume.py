"""Tier-3: pipeline semantics — resume-from-manifest, exactly-once per
url, lineage counters, bucket-clustered write layout."""

import pytest
from pyspark.sql import functions as F

from dce_spark.spark.corpus import build_pages_df
from dce_spark.spark.pipeline import (
    completed_buckets,
    read_extracted,
    read_manifest,
    run_pipeline,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages")
    build_pages_df(spark, n_synthetic=48, include_fixtures=True).write.parquet(p)
    return p


def test_kill_and_rerun_exactly_once(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "extracted")
    # simulate a crash: only 2 of 4 commits happen
    r1 = run_pipeline(
        spark, pages_path, out, buckets=8, buckets_per_commit=2, max_commits=2
    )
    assert r1["committed"] == 2 and r1["remaining"] > 0
    mid = read_extracted(spark, out).count()
    total_in = spark.read.parquet(pages_path).count()
    assert 0 < mid < total_in

    # resume: picks up only missing buckets
    r2 = run_pipeline(spark, pages_path, out, buckets=8, buckets_per_commit=2)
    assert r2["resumed_from"] == 4
    assert r2["remaining"] == 0

    result = read_extracted(spark, out)
    assert result.count() == total_in
    assert result.select("url").distinct().count() == total_in

    # idempotence: a third run does nothing
    r3 = run_pipeline(spark, pages_path, out, buckets=8, buckets_per_commit=2)
    assert r3["committed"] == 0
    assert read_extracted(spark, out).count() == total_in


def test_manifest_lineage_counters(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "extracted")
    run_pipeline(spark, pages_path, out, buckets=4, buckets_per_commit=4)
    mf = read_manifest(spark, out)
    rows = mf.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    total_in = spark.read.parquet(pages_path).count()
    assert sum(r.url_count for r in rows) == total_in
    assert all(r.bytes_in > 0 for r in rows)
    assert sum(r.pages_ok for r in rows) == total_in  # all fixture rows ok
    assert all(r.wall_ms >= 0 for r in rows)


def test_commit_writes_a_file_per_bucket_slice(spark, tmp_path):
    """Files per commit follow the bucket rebalance, not tasks x
    buckets: on a corpus where 40% of urls share one host, each of two
    commits runs at least one write task per core, and a task writes
    at most two files (two buckets can hash into one rebalance
    partition). The advisory size and the partition overwrite mode are
    the caller's again afterwards, and a glob input path is sized like
    a directory."""
    import random

    rng = random.Random(7)
    rows = [
        (f"https://hot.example.com/{i}" if i < 200 else f"https://site-{i}.example.org/x",
         b"<p>%s</p>" % b" ".join(b"%f" % rng.random() for _ in range(200)))
        for i in range(500)
    ]
    pages = str(tmp_path / "pages")
    spark.createDataFrame(rows, "url string, html binary").repartition(8).write.parquet(pages)
    out = tmp_path / "out"
    sc = spark.sparkContext
    keys = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.sources.partitionOverwriteMode")
    spark.conf.set(keys[1], "STATIC")  # a caller value no earlier test left
    before = [spark.conf.get(k) for k in keys]

    def write_tasks(name, **kw):
        sc.setJobGroup(name, name)
        try:
            run_pipeline(spark, pages + "/*.parquet", str(out), buckets=8,
                         buckets_per_commit=4, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        # a commit's jobs end with the data write and the manifest write
        write_job = sorted(st.getJobIdsForGroup(name))[-2]
        return st.getStageInfo(max(st.getJobInfo(write_job).stageIds)).numTasks

    group = f"layout-{tmp_path.name}"
    tasks = [write_tasks(group + "-1", max_commits=1), write_tasks(group + "-2")]
    assert [spark.conf.get(k) for k in keys] == before
    files = [
        sum(len(list((out / "data" / f"bucket={b}").glob("*.parquet"))) for b in chunk)
        for chunk in (range(4), range(4, 8))
    ]
    cores = sc.defaultParallelism
    assert all(t >= cores for t in tasks), (tasks, files)
    assert all(f <= 2 * t for f, t in zip(files, tasks)), (tasks, files)


def test_iceberg_sink_commit_contract(spark, pages_path, tmp_path_factory,
                                      monkeypatch):
    """Contract test for sink='table' with the default iceberg provider
    and stub writers (no iceberg runtime needed): verifies the
    commit sequence — first chunk creates the table partitioned by
    bucket via using('iceberg'), later chunks land as overwriting
    insertInto snapshots, the manifest gates visibility, and resume
    skips committed buckets — by persisting the stubbed table to
    parquet so spark.table round-trips."""
    from pyspark.sql.readwriter import DataFrameWriter as _DFW

    try:  # pyspark>=4: the session produces classic.DataFrame instances
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame as _DF

    table_dir = str(tmp_path_factory.mktemp("icb") / "tbl")
    out = str(tmp_path_factory.mktemp("icb") / "meta")
    calls: list[str] = []
    tables: set[str] = set()

    class StubWriter:
        def __init__(self, df, table):
            self._df, self._table = df, table
            self._using = None
            self._partitioned = None

        def using(self, fmt):
            self._using = fmt
            calls.append(f"using:{fmt}")
            return self

        def partitionedBy(self, col):
            self._partitioned = col
            calls.append("partitionedBy")
            return self

        def create(self):
            assert self._using == "iceberg"
            assert self._partitioned is not None
            calls.append(f"create:{self._table}")
            tables.add(self._table)
            self._df.write.mode("overwrite").partitionBy("bucket").parquet(
                table_dir
            )

    def insert_into(self, table, overwrite=None):
        if table not in tables:
            raise RuntimeError("NoSuchTableException (stub)")
        assert overwrite is True
        calls.append(f"insertInto:{table}")
        self._df.write.mode("overwrite").partitionBy("bucket").parquet(
            table_dir
        )

    monkeypatch.setattr(
        _DF, "writeTo",
        lambda self, table: StubWriter(self, table), raising=True,
    )
    monkeypatch.setattr(_DFW, "insertInto", insert_into, raising=True)
    real_table = type(spark).table
    monkeypatch.setattr(
        type(spark), "table",
        lambda self, name: (
            self.read.parquet(table_dir) if name == out
            else real_table(self, name)
        ),
    )

    # run half the commits, "crash", then resume
    r1 = run_pipeline(
        spark, pages_path, out, buckets=4, buckets_per_commit=2,
        max_commits=1, sink="table", manifest_path=out,
    )
    assert r1["committed"] == 1 and r1["remaining"] > 0
    # first chunk: overwrite attempt failed (no table), then create
    assert calls.count(f"create:{out}") == 1

    r2 = run_pipeline(
        spark, pages_path, out, buckets=4, buckets_per_commit=2,
        sink="table", manifest_path=out,
    )
    assert r2["resumed_from"] == 2 and r2["remaining"] == 0
    # second chunk appended via a snapshot overwrite, not a re-create
    assert f"insertInto:{out}" in calls
    assert calls.count(f"create:{out}") == 1

    mf = read_manifest(spark, out)
    total_in = spark.read.parquet(pages_path).count()
    assert sum(r.url_count for r in mf.collect()) == total_in


def test_bucketed_input_partition_pruning(spark, tmp_path_factory):
    """Pre-bucketed input: the stored bucket column is validated, the
    per-commit filter prunes partitions, no exchange runs,
    and results equal the compute-bucket path."""
    from dce_spark.spark.corpus import write_bucketed_pages

    src = str(tmp_path_factory.mktemp("bk") / "pages")
    out = str(tmp_path_factory.mktemp("bk") / "extracted")
    write_bucketed_pages(spark, src, 40, buckets=8, files_per_bucket=2)
    res = run_pipeline(spark, src, out, buckets=8, buckets_per_commit=4)
    assert res["committed"] == 2 and res["remaining"] == 0
    total = spark.read.parquet(src).count()
    got = read_extracted(spark, out)
    assert got.count() == total
    assert got.select("url").distinct().count() == total

    # wrong bucket count: the validation must refuse, not mis-bucket
    with pytest.raises(ValueError, match="does not match"):
        run_pipeline(spark, src, out + "2", buckets=16, buckets_per_commit=4)


def test_bucketed_input_rejects_multiple_bucket_count(spark,
                                                      tmp_path_factory):
    # stored=16, run=8: every stored bucket k<16 with k>=8 falls outside
    # range(8) — must refuse loudly instead of silently dropping rows
    from dce_spark.spark.corpus import write_bucketed_pages

    src = str(tmp_path_factory.mktemp("bk2") / "pages")
    write_bucketed_pages(spark, src, 40, buckets=16, files_per_bucket=1)
    with pytest.raises(ValueError, match="outside range"):
        run_pipeline(spark, src, str(tmp_path_factory.mktemp("bk2") / "o"),
                     buckets=8, buckets_per_commit=4)


def test_iceberg_branch_executes_v2_catalog(tmp_path_factory):
    """The sink='table' branch executes UNMOCKED: an in-memory Spark
    V2 TableCatalog (tools/memcatalog, built against the public
    connector API) receives the actual
    writeTo(...).using('iceberg').partitionedBy(bucket).create() CTAS
    and the write.insertInto(overwrite=True) dynamic-overwrite snapshot
    commits, including
    kill-and-resume and idempotent partition rewrite. Runs in a
    subprocess because the catalog jar must be on the driver classpath
    at JVM launch."""
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    if shutil.which("javac") is None or shutil.which("jar") is None:
        pytest.skip("JDK (javac/jar) not available")

    root = Path(__file__).resolve().parent.parent
    mc = root / "tools" / "memcatalog"
    jar = mc / "memcatalog.jar"
    if not jar.exists():
        import pyspark

        jars_dir = Path(pyspark.__file__).parent / "jars"
        classes = mc / "classes"
        classes.mkdir(exist_ok=True)
        subprocess.run(
            ["javac", "-encoding", "UTF-8", "-cp", f"{jars_dir}/*",
             "-d", str(classes)]
            + [str(p) for p in (mc / "src" / "memcat").glob("*.java")],
            check=True, capture_output=True,
        )
        subprocess.run(
            ["jar", "cf", str(jar), "-C", str(classes), "."],
            check=True, capture_output=True,
        )

    wd = str(tmp_path_factory.mktemp("memcat_wd"))
    r = subprocess.run(
        [sys.executable, str(mc / "driver.py"), str(jar), wd],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "MEMCAT_OK" in r.stdout


def test_table_sink_requires_manifest_path(spark, pages_path):
    # a catalog table name is not a filesystem path: defaulting the
    # manifest root to it would pin resume to the driver's cwd
    with pytest.raises(ValueError, match="manifest_path"):
        run_pipeline(spark, pages_path, "cat.db.extracted",
                     sink="table")


def test_unknown_mode_or_sink_fails_at_plan_time(spark, pages_path,
                                                 tmp_path_factory):
    # a misspelt mode used to extract nothing and report status 'ok';
    # a misspelt sink used to write parquet under the table's name
    from dce_spark.core.api import extract_page
    from dce_spark.spark.udf import attach_extraction

    with pytest.raises(ValueError, match="unknown mode"):
        extract_page(b"<p>text</p>", mode="contnet")
    pages = spark.read.parquet(pages_path)
    with pytest.raises(ValueError, match="unknown mode"):
        attach_extraction(pages, mode="contnet")
    out = tmp_path_factory.mktemp("typo") / "out"
    sc = spark.sparkContext
    sc.setJobGroup("sink-typo", "unknown sink")
    try:
        with pytest.raises(ValueError, match="unknown sink"):
            run_pipeline(spark, pages_path, str(out), sink="tabel")
        assert sc.statusTracker().getJobIdsForGroup("sink-typo") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not out.exists()


def test_table_sink_surfaces_real_write_faults(spark, pages_path,
                                               tmp_path_factory,
                                               monkeypatch):
    """A failure that is NOT 'table does not exist' must re-raise from
    the chunk write, never be retried as CTAS (which would die on
    TableAlreadyExists and bury the root cause)."""
    from pyspark.sql.readwriter import DataFrameWriter as _DFW

    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame as _DF

    created = []

    def faulty_insert(self, table, overwrite=None):
        raise RuntimeError("executor lost mid-write")

    class FaultyWriter:
        def __init__(self, df, table):
            pass

        def using(self, fmt):
            created.append("using")
            return self

        def partitionedBy(self, col):
            return self

        def create(self):
            created.append("create")

    monkeypatch.setattr(
        _DF, "writeTo",
        lambda self, table: FaultyWriter(self, table), raising=True,
    )
    monkeypatch.setattr(_DFW, "insertInto", faulty_insert, raising=True)
    out = str(tmp_path_factory.mktemp("fault") / "meta")
    with pytest.raises(RuntimeError, match="executor lost"):
        run_pipeline(spark, pages_path, out, buckets=4,
                     buckets_per_commit=4, sink="table",
                     manifest_path=out)
    assert created == []  # no CTAS fallback on a non-missing-table fault


def test_is_missing_table_classifier():
    from dce_spark.spark.pipeline import _is_missing_table

    assert _is_missing_table(RuntimeError("NoSuchTableException: t"))
    assert _is_missing_table(
        Exception("[TABLE_OR_VIEW_NOT_FOUND] The table `t` cannot be found")
    )
    assert not _is_missing_table(RuntimeError("executor lost"))
    assert not _is_missing_table(Exception("schema mismatch for column x"))
    from pyspark.errors import AnalysisException

    # JVM-captured exceptions carry the condition in the message text;
    # the Python constructor can't mint JVM error classes directly
    assert _is_missing_table(
        AnalysisException("[TABLE_OR_VIEW_NOT_FOUND] cannot be found")
    )
    assert not _is_missing_table(
        AnalysisException("[INCOMPATIBLE_DATA_FOR_TABLE] bad schema")
    )


def _manifest_and_data_counters(spark, manifest_root, committed, buckets):
    """Per-bucket (url_count, bytes_in, pages_ok, pages_failed) from the
    manifest, and the same counters from an independent groupBy over
    the committed rows (zeros for a bucket without rows)."""
    got = {
        r.bucket: (r.url_count, r.bytes_in, r.pages_ok, r.pages_failed)
        for r in read_manifest(spark, manifest_root).collect()
    }
    want = {b: (0, 0, 0, 0) for b in range(buckets)}
    ok = F.col("status") == "ok"
    for r in committed.groupBy("bucket").agg(
        F.count("*"),
        F.sum("bytes_in"),
        F.sum(ok.cast("long")),
        F.sum((~ok).cast("long")),
    ).collect():
        want[r[0]] = tuple(r[1:])
    return got, want


@pytest.fixture(scope="module")
def mixed_pages_path(spark, tmp_path_factory):
    """A few synthetic pages plus an empty and a NULL html row."""
    from dce_spark.spark.schema import PAGES_SCHEMA

    p = str(tmp_path_factory.mktemp("mixed") / "pages")
    bad = spark.createDataFrame(
        [("https://bad.test/empty", None, b"", None, None),
         ("https://bad.test/null", None, None, None, None)],
        PAGES_SCHEMA,
    )
    build_pages_df(spark, n_synthetic=12, include_fixtures=False).unionByName(
        bad
    ).write.parquet(p)
    return p


@pytest.mark.parametrize("sink", ["parquet", "table"])
def test_manifest_matches_committed_rows(spark, mixed_pages_path, sink,
                                         tmp_path, monkeypatch):
    """The counters the write job observes equal a groupBy over what it
    committed; with far more buckets than rows, empty buckets get a zero
    row. No input makes extract_page fail, so the kernel marks the two
    bad.test rows failed. The table sink commits everything in one chunk
    here; test_table_sink_commits_every_chunk_on_session_catalog and
    tools/memcatalog/driver.py check the same parity across a CTAS and
    an insertInto commit."""
    import pyarrow.compute as pc

    from dce_spark.spark import udf

    real = udf.extract_batches

    def with_failures(batches, mode="both"):
        for b in real(batches, mode=mode):
            bad = pc.starts_with(b.column("url"), "https://bad.test/")
            i = b.schema.get_field_index("status")
            status = pc.if_else(bad, "error:Injected", b.column("status"))
            yield b.set_column(i, b.schema.field(i), status)

    monkeypatch.setattr(udf, "extract_batches", with_failures)
    buckets = 32
    root = str(tmp_path / "out")
    if sink == "parquet":
        run_pipeline(spark, mixed_pages_path, root, buckets=buckets,
                     buckets_per_commit=16)
        got, want = _manifest_and_data_counters(
            spark, root, spark.read.parquet(root + "/data"), buckets
        )
    else:
        db = f"dce_parity_{tmp_path.name}".replace("-", "_")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'wh'}'")
        try:
            run_pipeline(spark, mixed_pages_path, f"{db}.extracted",
                         buckets=buckets, buckets_per_commit=buckets,
                         sink="table", table_provider="parquet",
                         manifest_path=root)
            got, want = _manifest_and_data_counters(
                spark, root, spark.table(f"{db}.extracted"), buckets
            )
        finally:
            spark.sql(f"DROP DATABASE {db} CASCADE")
    assert got == want
    total = spark.read.parquet(mixed_pages_path).count()
    assert sum(v[0] for v in got.values()) == total
    assert sum(v[3] for v in got.values()) == 2
    assert any(v == (0, 0, 0, 0) for v in got.values())


def test_table_sink_commits_every_chunk_on_session_catalog(
        spark, mixed_pages_path, tmp_path):
    """A V1 session-catalog table takes the first chunk's CTAS and every
    later chunk's dynamic partition overwrite: two commits land every
    row, the manifest equals a groupBy over the table, and rewriting
    committed buckets on a fresh manifest duplicates nothing."""
    buckets = 4
    db = f"dce_v1_{tmp_path.name}".replace("-", "_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'wh'}'")
    tbl = f"{db}.extracted"
    root = str(tmp_path / "manifests")
    try:
        r = run_pipeline(spark, mixed_pages_path, tbl, buckets=buckets,
                         buckets_per_commit=2, sink="table",
                         table_provider="parquet", manifest_path=root)
        assert r["committed"] == 2 and r["remaining"] == 0, r
        total = spark.read.parquet(mixed_pages_path).count()
        table = spark.table(tbl)
        assert table.count() == total
        got, want = _manifest_and_data_counters(spark, root, table, buckets)
        assert got == want
        assert sum(v[0] for v in got.values()) == total

        r = run_pipeline(spark, mixed_pages_path, tbl, buckets=buckets,
                         buckets_per_commit=2, max_commits=1, sink="table",
                         table_provider="parquet",
                         manifest_path=str(tmp_path / "manifests2"))
        assert r["committed"] == 1, r
        table = spark.table(tbl)
        assert table.count() == total
        assert table.select("url").distinct().count() == total
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_bad_manifest_path_raises_before_extraction(spark, pages_path):
    """Only a missing manifest path means "nothing committed yet"; an
    unusable manifest_path fails on the driver before the first chunk
    is extracted, so no table is created."""
    name = "dce_bad_manifest_probe"
    try:
        with pytest.raises(Exception, match="nosuchfs"):
            run_pipeline(spark, pages_path, name, buckets=4,
                         buckets_per_commit=4, sink="table",
                         table_provider="parquet",
                         manifest_path="nosuchfs://m")
        assert not spark.catalog.tableExists(name)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_output_dirs_keep_uri_authority():
    from dce_spark.spark.pipeline import _data_dir, _manifest_dir

    assert _manifest_dir("s3a://bkt/out/") == "s3a://bkt/out/_manifest"
    assert _data_dir("s3a://bkt/out") == "s3a://bkt/out/data"


@pytest.mark.parametrize("input_format", ["parquet", "warc"])
def test_commit_runs_no_bookkeeping_job(spark, pages_path, tmp_path,
                                        input_format):
    """Jobs per commit: the read + bucket rebalance, the data write
    (which also yields the manifest counters) and the manifest write.
    A re-read of the output, a Python-task bookkeeping job or a WARC
    range-plan job raises the count."""
    import gzip

    from test_warc import HTML1, make_record

    sc = spark.sparkContext
    src = pages_path
    if input_format == "warc":
        src = tmp_path / "warc"
        src.mkdir()
        for k in range(2):
            (src / f"part-{k}.warc.gz").write_bytes(b"".join(
                gzip.compress(make_record(f"https://j.test/{k}/{i}", HTML1))
                for i in range(12)
            ))
        src = str(src)

    def jobs(name, **kw):
        sc.setJobGroup(name, name)
        try:
            run_pipeline(spark, src, str(tmp_path / name), buckets=4,
                         buckets_per_commit=2, input_format=input_format,
                         **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    group = f"commit-jobs-{tmp_path.name}"
    two = jobs(group + "-2")
    one = jobs(group + "-1", max_commits=1)
    assert two - one == 3, (one, two)

    # nothing committed yet: the resume check runs no job at all
    sc.setJobGroup(group + "-0", "resume check")
    try:
        assert completed_buckets(spark, str(tmp_path / "none")) == set()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group + "-0") == []


def test_committed_at_is_utc_in_any_session_time_zone(spark, pages_path,
                                                      tmp_path):
    import time

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        t0 = time.time()
        run_pipeline(spark, pages_path, str(tmp_path / "out"), buckets=4,
                     buckets_per_commit=2)
        t1 = time.time()
        got = [
            r[0]
            for r in read_manifest(spark, str(tmp_path / "out"))
            .select(F.col("committed_at").cast("double"))
            .collect()
        ]
    finally:
        spark.conf.set(key, old)
    assert len(got) == 4
    assert all(t0 <= v <= t1 for v in got), (t0, got, t1)


_RETRY_DRIVER = r"""
import os, sys

repo, pages, out, flag = sys.argv[1:5]
sys.path.insert(0, repo)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[2,2]")  # 2 attempts per task
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from dce_spark.spark import udf
from dce_spark.spark.pipeline import read_manifest, run_pipeline

real = udf.extract_batches


def fail_once(batches, mode="both"):
    # the first attempt-0 task to emit rows dies right after emitting
    # them, so its partial counters reached the observed aggregate
    from pyspark import TaskContext

    for batch in real(batches, mode=mode):
        yield batch
        if TaskContext.get().attemptNumber() == 0:
            try:
                os.close(os.open(flag, os.O_CREAT | os.O_EXCL))
            except FileExistsError:
                continue
            raise RuntimeError("injected write-task failure")


udf.extract_batches = fail_once
run_pipeline(spark, pages, out, buckets=4, buckets_per_commit=4)
assert os.path.exists(flag), "no task failed"
data = spark.read.parquet(out + "/data")
want = {r.bucket: r[1] for r in data.groupBy("bucket").count().collect()}
got = {r.bucket: r.url_count for r in read_manifest(spark, out).collect()}
total = spark.read.parquet(pages).count()
assert data.count() == total == sum(got.values()), (data.count(), total, got)
assert got == want, (got, want)
spark.stop()
print("RETRY_OK")
"""


def test_retried_write_task_is_counted_once(pages_path, tmp_path):
    """A write task that fails after emitting its rows and succeeds on
    retry adds its rows to the manifest once. Runs in a subprocess
    because task retries need a local[N,F] master."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(root))
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_DRIVER, str(root), pages_path,
         str(tmp_path / "out"), str(tmp_path / "failed_once")],
        capture_output=True, text=True, timeout=420, cwd=str(root), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "RETRY_OK" in r.stdout


_TWO_FRESH_RUNS = r"""
import sys

repo, pages, out = sys.argv[1:4]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from dce_spark.spark.pipeline import run_pipeline

for k in range(2):
    run_pipeline(spark, pages, f"{out}{k}", buckets=2, buckets_per_commit=2)
spark.stop()
"""


def test_fresh_output_logs_no_listener_error(pages_path, tmp_path):
    """Two run_pipeline calls on fresh output paths in one session: the
    manifest probe checks existence through the Hadoop FileSystem and
    runs no failing read, so Spark's observation listener (registered
    by the first commit) logs no ERROR pointing at a non-failure."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(root))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    r = subprocess.run(
        [sys.executable, "-c", _TWO_FRESH_RUNS, str(root), pages_path,
         str(tmp_path / "out")],
        capture_output=True, text=True, timeout=420, cwd=str(root), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "Listener threw an exception" not in r.stderr
    assert "PATH_NOT_FOUND" not in r.stderr
