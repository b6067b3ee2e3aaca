"""Tier-3: pipeline semantics — resume-from-manifest, exactly-once per
url, lineage counters, salting distribution."""

import pytest
from pyspark.sql import functions as F

from dce_spark.spark.corpus import build_pages_df
from dce_spark.spark.pipeline import (
    read_extracted,
    read_manifest,
    run_pipeline,
    salt_partitions,
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


def test_salting_spreads_hot_domain(spark):
    # 40% of urls share one host; after the salted exchange no partition
    # should hold a grossly disproportionate share of rows
    rows = [(f"https://hot.example.com/{i}",) for i in range(200)] + [
        (f"https://site-{i}.example.org/x",) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["url"])
    parts = salt_partitions(df, num_partitions=4, salt_factor=2)
    sizes = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8
    assert max(counts) < 2.5 * (500 / 8)


def test_iceberg_sink_commit_contract(spark, pages_path, tmp_path_factory,
                                      monkeypatch):
    """Contract test for sink='iceberg' with a stub writeTo (no iceberg
    runtime in this sandbox): verifies the commit sequence — first chunk
    creates the table partitioned by bucket via using('iceberg'), later
    chunks land as overwritePartitions snapshots, the manifest gates
    visibility, and resume skips committed buckets — by persisting the
    stubbed table to parquet so spark.table round-trips."""
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

        def overwritePartitions(self):
            if self._table not in tables:
                raise RuntimeError("NoSuchTableException (stub)")
            calls.append(f"overwritePartitions:{self._table}")
            self._df.write.mode("overwrite").partitionBy("bucket").parquet(
                table_dir
            )

    monkeypatch.setattr(
        _DF, "writeTo",
        lambda self, table: StubWriter(self, table), raising=True,
    )
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
        max_commits=1, sink="iceberg", manifest_path=out,
    )
    assert r1["committed"] == 1 and r1["remaining"] > 0
    # first chunk: overwrite attempt failed (no table), then create
    assert calls.count(f"create:{out}") == 1

    r2 = run_pipeline(
        spark, pages_path, out, buckets=4, buckets_per_commit=2,
        sink="iceberg", manifest_path=out,
    )
    assert r2["resumed_from"] == 2 and r2["remaining"] == 0
    # second chunk appended via a snapshot overwrite, not a re-create
    assert f"overwritePartitions:{out}" in calls
    assert calls.count(f"create:{out}") == 1

    mf = read_manifest(spark, out)
    total_in = spark.read.parquet(pages_path).count()
    assert sum(r.url_count for r in mf.collect()) == total_in


def test_bucketed_input_partition_pruning(spark, tmp_path_factory):
    """Pre-bucketed input: the stored bucket column is validated, the
    per-commit filter prunes partitions, no salting re-shuffle runs,
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
    """The sink='iceberg' branch executes UNMOCKED: an in-memory Spark
    V2 TableCatalog (tools/memcatalog, built against the public
    connector API) receives the actual
    writeTo(...).using('iceberg').partitionedBy(bucket).create() CTAS
    and writeTo(...).overwritePartitions() snapshot commits, including
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
                     sink="iceberg")


def test_table_sink_surfaces_real_write_faults(spark, pages_path,
                                               tmp_path_factory,
                                               monkeypatch):
    """A failure that is NOT 'table does not exist' must re-raise from
    overwritePartitions, never be retried as CTAS (which would die on
    TableAlreadyExists and bury the root cause)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame as _DF

    created = []

    class FaultyWriter:
        def __init__(self, df, table):
            pass

        def overwritePartitions(self):
            raise RuntimeError("executor lost mid-write")

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
    out = str(tmp_path_factory.mktemp("fault") / "meta")
    with pytest.raises(RuntimeError, match="executor lost"):
        run_pipeline(spark, pages_path, out, buckets=4,
                     buckets_per_commit=4, sink="iceberg",
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
