"""Subprocess driver: exercises run_pipeline's sink="table" branch with
the default iceberg provider — the REAL writer calls (the
.using(...).partitionedBy(bucket).create() CTAS, then
write.insertInto(overwrite=True) under dynamic partition overwrite) —
against the in-memory V2 catalog (memcatalog.jar), including
kill-and-resume.

Run by tests/test_pipeline_resume.py::test_iceberg_branch_executes_v2_catalog
in a fresh process because the catalog jar must be on the driver
classpath at JVM launch.

Usage: python driver.py <jar_path> <workdir>
Prints MEMCAT_OK as the last line on success.
"""

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent.parent))

jar, workdir = sys.argv[1], sys.argv[2]
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .appName("memcat-sink-driver")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.jars", jar)
    .config("spark.driver.extraClassPath", jar)
    .config("spark.sql.catalog.memcat", "memcat.MemCatalog")
    .getOrCreate()
)

from dce_spark.spark.corpus import build_pages_df  # noqa: E402
from dce_spark.spark.pipeline import read_manifest, run_pipeline  # noqa: E402

pages_path = str(Path(workdir) / "pages")
build_pages_df(spark, n_synthetic=24, include_fixtures=False).write.parquet(
    pages_path
)
total_in = spark.read.parquet(pages_path).count()

tbl = "memcat.default.extracted"
mdir = str(Path(workdir) / "manifests")

# partial run: 1 of 2 commits, then "crash"
r1 = run_pipeline(
    spark, pages_path, tbl, buckets=4, buckets_per_commit=2,
    max_commits=1, sink="table", manifest_path=mdir,
)
assert r1["committed"] == 1 and r1["remaining"] > 0, r1
mid = spark.table(tbl)
got_buckets = {r.bucket for r in mid.select("bucket").distinct().collect()}
assert got_buckets == {0, 1}, got_buckets
first_urls = {r.url for r in mid.select("url").collect()}
assert 0 < len(first_urls) < total_in

# resume: remaining chunk lands via the overwriting insertInto on the
# EXISTING table; committed buckets survive untouched
r2 = run_pipeline(
    spark, pages_path, tbl, buckets=4, buckets_per_commit=2,
    sink="table", manifest_path=mdir,
)
assert r2["resumed_from"] == 2 and r2["remaining"] == 0, r2
after = spark.table(tbl)
assert after.count() == total_in
survived = {
    r.url for r in after.filter("bucket in (0, 1)").select("url").collect()
}
assert survived == first_urls

# the counters observed by the CTAS and the insertInto write
# jobs equal a groupBy over what the table holds
ok = F.col("status") == "ok"
want = {
    r[0]: tuple(r[1:])
    for r in after.groupBy("bucket").agg(
        F.count("*"), F.sum("bytes_in"), F.sum(ok.cast("long")),
        F.sum((~ok).cast("long")),
    ).collect()
}
got = {
    r.bucket: (r.url_count, r.bytes_in, r.pages_ok, r.pages_failed)
    for r in read_manifest(spark, mdir).collect()
}
assert got == want, (got, want)

# re-extract one committed bucket pair on a fresh manifest dir: dynamic
# overwrite rewrites those partitions idempotently (no url duplication)
r3 = run_pipeline(
    spark, pages_path, tbl, buckets=4, buckets_per_commit=2,
    max_commits=1, sink="table",
    manifest_path=str(Path(workdir) / "manifests2"),
)
assert r3["committed"] == 1, r3
assert spark.table(tbl).count() == total_in
assert spark.table(tbl).select("url").distinct().count() == total_in

mf = read_manifest(spark, mdir)
assert sum(r.url_count for r in mf.collect()) == total_in

spark.stop()
print("MEMCAT_OK")
