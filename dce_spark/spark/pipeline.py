"""End-to-end extraction pipeline: scan -> bucket rebalance -> Arrow map
-> bucket-committed write with lineage manifests + resume.

Physical plan (the job's ONLY shuffle is the bucket rebalance):

    Scan parquet/Iceberg [url, html]          (column-pruned, pushed down)
      -> Exchange REBALANCE(bucket)                    (one bucket per task)
      -> PythonMapInArrow extract_batches              (the CETD map)
      -> CollectMetrics per-bucket manifest counters   (observe)
      -> Write bucket=k partitions + manifest commit   (resume unit)

WARC input replaces the scan with the driver's archive plan:

    LocalTableScan [path]                  (planned once, no exchange)
      -> MapInArrow WARC records [url, html, ...]    (one archive per row)
      -> Exchange REBALANCE(bucket) -> ...             (as above)

Scale notes (10^12-row framing):

* Skew: Common-Crawl inputs cluster by host and by page size. A bucket
  is a uniform xxhash64(url) slice, so host skew cannot concentrate in
  one; page-size skew shows up as bytes, which AQE splits each
  rebalanced bucket by, so a straggler page delays one slice of one
  bucket and a write task writes one file.
* Resumability: output is committed per url-hash *bucket* (pmod of
  xxhash64). A bucket is visible only after its manifest row is
  written; rerun processes only buckets missing from the manifest and
  rewrites them with dynamic partition overwrite, giving exactly-once
  per url at bucket granularity. On Iceberg this maps 1:1 to snapshot
  commits + an anti-join on the manifest table.
* Lineage: per-bucket url/byte/ok/failed counters live in the manifest
  table; the write job observes the first three (failed = urls - ok),
  so no job re-reads the output.
"""

from __future__ import annotations

import datetime as _dt
import re
import time

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from dce_spark.spark.schema import MANIFEST_SCHEMA
from dce_spark.spark.udf import attach_extraction

__all__ = ["run_pipeline", "read_manifest"]

_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
_OVERWRITE = "spark.sql.sources.partitionOverwriteMode"


def _is_missing_table(exc: Exception) -> bool:
    """True only for 'the target table does not exist' failures, the
    one case where falling back to CTAS is correct. V2 catalogs raise
    NoSuchTableException, the session catalog raises AnalysisException
    with condition TABLE_OR_VIEW_NOT_FOUND; both are captured-side
    AnalysisExceptions in PySpark, so match the error condition first
    and the class names in the message as the fallback."""
    if isinstance(exc, AnalysisException):
        cond = exc.getCondition() or ""
        if cond == "NO_SUCH_TABLE" or cond.startswith("TABLE_OR_VIEW_NOT_FOUND"):
            return True
    msg = str(exc)
    return "NoSuchTable" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg


def _manifest_dir(output_path: str) -> str:
    return output_path.rstrip("/") + "/_manifest"


def _data_dir(output_path: str) -> str:
    return output_path.rstrip("/") + "/data"


def _manifest_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Manifest rows via Arrow on the driver: no Python task, one file."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(MANIFEST_SCHEMA))
    return spark.createDataFrame(table, MANIFEST_SCHEMA).coalesce(1)


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    """The committed manifest; empty while no commit has written one.
    Only a missing path means that, and it is checked through the
    Hadoop FileSystem, so a fresh output runs no failing read (whose
    listener failure Spark would log as an ERROR). Any other failure
    (unknown URI scheme, unreachable store) raises."""
    path = _manifest_dir(output_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return _manifest_frame(spark, [])
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def completed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    mf = read_manifest(spark, output_path)
    return {r.bucket for r in mf.select("bucket").distinct().collect()}


def url_bucket(buckets: int):
    """The url-hash bucket column, pmod(xxhash64(url), buckets): the one
    definition that resume, the pre-bucketed layout check and
    ``corpus.write_bucketed_pages`` share."""
    return F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int")


def _observe_counters(df: DataFrame, chunk: list[int]):
    """The chunk's manifest counters as metrics of the write job itself,
    one struct per bucket. Spark merges them from successful task
    attempts only, so a retried task is counted once. The kernel sets
    a status on every row, so the driver derives pages_failed as
    url_count - pages_ok."""
    ok = F.col("status") == "ok"

    def counters(b: int):
        mine = F.col("bucket") == b
        return F.struct(
            F.count(F.when(mine, 1)).alias("url_count"),
            F.coalesce(F.sum(F.when(mine, F.col("bytes_in"))), F.lit(0))
            .alias("bytes_in"),
            F.count(F.when(mine & ok, 1)).alias("pages_ok"),
        ).alias(str(b))

    obs = Observation()
    return df.observe(obs, *map(counters, chunk)), obs


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    buckets: int = 16,
    buckets_per_commit: int = 4,
    mode: str = "both",
    max_commits: int | None = None,
    sink: str = "parquet",
    table_provider: str = "iceberg",
    manifest_path: str | None = None,
    input_format: str = "parquet",
) -> dict:
    """Run (or resume) the extraction job.

    Input rows are assigned to ``buckets`` deterministic url-hash
    buckets; each commit processes ``buckets_per_commit`` of them,
    writes their output partitions, then appends one manifest row per
    bucket (the commit point), its counters observed by the data write
    job. Only a missing manifest path means "nothing committed"; any
    other failure to read it raises before the first extraction.
    ``max_commits`` exists for kill-and-rerun tests.

    Input that is not pre-bucketed goes through one ``REBALANCE(bucket)``
    exchange per commit. AQE splits each bucket into slices of the
    advisory partition size, set from the input's bytes during the run
    (restored afterwards, with the partition overwrite mode), so a
    write task writes one file per bucket held.

    ``sink="table"`` writes each chunk with
    ``write.insertInto(output_path, overwrite=True)`` under dynamic
    partition overwrite, after a ``writeTo(...).partitionedBy(bucket)``
    CTAS on first contact — ``output_path`` is then a catalog table
    name and ``table_provider`` the table format (iceberg by default).
    The same calls serve V2 catalogs and the session catalog's V1
    tables; in environments without the iceberg-spark runtime jar they
    are exercised against an in-memory V2 catalog (tools/memcatalog).
    ``manifest_path`` (REQUIRED for the table sink — a table name is
    not a filesystem path) locates the lineage manifests; the parquet
    sink defaults it to ``<output_path>/_manifest``.
    """
    if sink not in ("parquet", "table"):
        raise ValueError(f"unknown sink: {sink!r}")
    table_sink = sink == "table"
    if table_sink and manifest_path is None:
        # Checked before any Spark job runs. output_path is a catalog
        # table NAME here: a manifest root derived from it would be a
        # cwd-relative directory ("catalog.db.tbl/_manifest"), making
        # resume depend on the driver's working directory.
        raise ValueError(
            "sink='table' needs an explicit manifest_path "
            "(a filesystem or object-store URI for the lineage "
            "manifests); the catalog table name cannot serve as one"
        )
    if input_format == "warc":
        # straight-from-crawl ingestion: .warc(.gz) archives through
        # the streaming record reader; no bucket column exists, so the
        # bucket rebalance below applies
        from dce_spark.spark.warc import read_warc

        pages = read_warc(spark, input_path)
    elif input_format == "parquet":
        pages = spark.read.parquet(input_path)
    else:
        raise ValueError(f"unknown input_format: {input_format!r}")
    if "bucket" in pages.columns:
        # Pre-bucketed input (hive layout bucket=k / Iceberg bucket(url)
        # partition spec): the per-commit isin filter becomes a PARTITION
        # filter, so each commit scans only its buckets' files instead of
        # re-reading the whole corpus once per commit — the difference
        # between O(input) and O(input * buckets/buckets_per_commit)
        # total bytes read at 100 TB. The stored column must be
        # pmod(xxhash64(url), buckets) with the SAME bucket count;
        # validated on a sample below.
        # Range check first: a stored bucket count that is a MULTIPLE of
        # `buckets` (e.g. stored 32, run 16) would pass a sampled
        # equality check on low buckets while the isin filters silently
        # never select buckets >= `buckets` — half the corpus lost. The
        # distinct partition values expose that immediately.
        # Prefer the PARTITION LISTING (driver-side file metadata — no
        # Spark job over the data) to enumerate stored bucket values; a
        # full distinct() scan of a 100-TB input just to validate its
        # layout would defeat the pruning this branch exists for. When
        # `bucket` is a plain data column (no hive dirs), fall back to a
        # LIMIT-bounded distinct: among any `buckets`+1 DISTINCT ints at
        # least one is outside range(buckets) (pigeonhole), so the limit
        # is provably sufficient to detect a mismatched bucket count.
        stored: set | None = None
        dir_vals = {
            m.group(1)
            for f in pages.inputFiles()
            for m in [re.search(r"/bucket=([^/]+)/", f)]
            if m
        }
        if dir_vals:
            try:
                stored = {int(v) for v in dir_vals}
            except ValueError:
                stored = None  # exotic partition values: re-derive below
        if stored is None:
            stored = {
                r.bucket
                for r in pages.select("bucket")
                .distinct()
                .limit(buckets + 1)
                .collect()
            }
        if any(b is None or b < 0 or b >= buckets for b in stored):
            raise ValueError(
                f"input 'bucket' partition values {sorted(stored, key=str)[:8]}"
                f"... fall outside range({buckets}); the input was written "
                "with a different bucket count — rewrite it or pass the "
                "count it was partitioned with"
            )
        # pmod equality probe across SEVERAL buckets (a single limit(100)
        # typically reads one partition dir and sees no bucket diversity).
        probe_buckets = sorted(stored)
        step = max(1, len(probe_buckets) // 4)
        probe_buckets = probe_buckets[::step][:4]
        sample = []
        for b in probe_buckets:
            sample.extend(
                pages.filter(F.col("bucket") == b)
                .select("bucket", url_bucket(buckets).alias("_expect"))
                .limit(25)
                .collect()
            )
        if any(r.bucket != r._expect for r in sample):
            raise ValueError(
                "input has a 'bucket' column that does not match "
                f"pmod(xxhash64(url), {buckets}); rewrite the input or "
                "pass the bucket count it was partitioned with"
            )
        pages = pages.withColumn("bucket", F.col("bucket").cast("int"))
        bucket_bytes = None  # scan splits hold one bucket each: no exchange
    else:
        pages = pages.withColumn("bucket", url_bucket(buckets))
        # input bytes from driver-side Hadoop content summaries, no job
        jpath = spark._jvm.org.apache.hadoop.fs.Path(input_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        bucket_bytes = sum(
            fs.getContentSummary(f.getPath()).getLength() for f in fs.globStatus(jpath)
        ) / buckets

    manifest_root = manifest_path if manifest_path is not None else output_path
    done = completed_buckets(spark, manifest_root)
    todo = [b for b in range(buckets) if b not in done]
    commits = 0
    # Rebalance slices: about 4 per core over the commit's share of the
    # input's bytes, at most Spark's 64 MB default.
    slices = 4 * spark.sparkContext.defaultParallelism
    caller_conf = {k: spark.conf.get(k) for k in (_ADVISORY, _OVERWRITE)}
    spark.conf.set(_OVERWRITE, "dynamic")

    try:
        for lo in range(0, len(todo), buckets_per_commit):
            if max_commits is not None and commits >= max_commits:
                break
            chunk = todo[lo : lo + buckets_per_commit]
            t0 = time.time()
            subset = pages.filter(F.col("bucket").isin(chunk)).select("url", "html", "bucket")
            if bucket_bytes is not None:
                subset = subset.hint("rebalance", "bucket")
                size = min(64 << 20, int(bucket_bytes * len(chunk) / slices))
                spark.conf.set(_ADVISORY, str(max(1, size)))
            extracted = attach_extraction(subset, mode=mode)
            extracted = extracted.withColumn("bucket", url_bucket(buckets))
            extracted, counters = _observe_counters(extracted, chunk)

            # Dynamic partition overwrite: rewriting a bucket is idempotent,
            # so a crash between data write and manifest append cannot
            # duplicate urls on rerun (the bucket is simply rewritten).
            if table_sink:
                # Same protocol on a table partitioned by bucket: an
                # overwriting insertInto under dynamic partition overwrite
                # replaces exactly the chunk's buckets, as one snapshot on a
                # V2 catalog (OverwritePartitionsDynamic) and as a partition
                # rewrite on a V1 session-catalog table. Columns go by
                # position, in the order the first-contact CTAS fixed.
                try:
                    extracted.write.insertInto(output_path, overwrite=True)
                except Exception as exc:
                    if not _is_missing_table(exc):
                        # a write fault on an EXISTING table (executor
                        # loss, schema drift, capability error) must
                        # surface as itself — falling through to CTAS
                        # would die on TableAlreadyExists and bury the
                        # root cause
                        raise
                    # first contact: CTAS partitioned by bucket
                    (
                        extracted.writeTo(output_path)
                        .using(table_provider)
                        .partitionedBy(F.col("bucket"))
                        .create()
                    )
            else:
                (
                    extracted.write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(_data_dir(output_path))
                )

            wall_ms = int((time.time() - t0) * 1000)
            # The commit point: a row per bucket, also one without input
            # rows, or resume would reprocess it forever.
            seen = counters.get
            now = _dt.datetime.now(_dt.timezone.utc)
            rows = []
            for b in chunk:
                c = seen[str(b)].asDict()
                c["pages_failed"] = c["url_count"] - c["pages_ok"]
                rows.append(dict(bucket=b, **c, wall_ms=wall_ms, committed_at=now))
            _manifest_frame(spark, rows).write.mode("append").parquet(
                _manifest_dir(manifest_root)
            )
            commits += 1
    finally:
        for k, v in caller_conf.items():
            spark.conf.set(k, v)

    return {
        "buckets": buckets,
        "resumed_from": len(done),
        "committed": commits,
        "remaining": max(0, len(todo) - commits * buckets_per_commit),
    }


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Read back ONLY committed buckets (manifest-gated visibility)."""
    data = spark.read.parquet(_data_dir(output_path))
    mf = read_manifest(spark, output_path).select("bucket").distinct()
    return data.join(F.broadcast(mf), "bucket", "inner")
