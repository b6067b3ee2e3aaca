"""The benchmark's workloads: inputs, one pass, output checks.

Each workload drives dce_spark only through its public entry points
and returns the number of input rows a pass processed. Checks run
outside the timed region and raise ``CheckFailed`` on a wrong output.
"""

from __future__ import annotations

import hashlib
import random
import shutil
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen

# Fields of the extraction UDF's output that the scalar path also gives.
EXTRACTED_FIELDS = ("extracted_text", "article_text", "extracted_md", "status",
                    "node_count", "primary_script", "content_links")


class CheckFailed(Exception):
    pass


def _md5(s: str | None) -> str:
    return hashlib.md5((s or "").encode("utf-8")).hexdigest()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def check_against_scalar(rows: dict[str, dict], htmls: dict[str, bytes],
                         mode: str) -> int:
    """Compare Spark output rows with ``extract_page`` run in-process;
    returns the number of mismatching urls."""
    from dce_spark.core.api import extract_page

    bad = 0
    for url, html in htmls.items():
        got = rows.get(url)
        want = extract_page(html, mode=mode)
        if got is None or any(
            got[f] != want.get(f) for f in EXTRACTED_FIELDS
        ):
            bad += 1
    return bad


def fixture_pages() -> list[tuple[str, bytes]]:
    """The inline degenerate fixture rows plus the seed-42 synthetic
    pages the committed goldens cover (the reference pages are optional
    and left out)."""
    from dce_spark.spark.corpus import fixture_rows, synth_page

    rows = fixture_rows(include_reference=False) + [synth_page(i) for i in range(32)]
    return [(r["url"], r["html"]) for r in rows]


def golden_mismatches(root: Path, rows: dict[str, dict], mode: str) -> tuple[int, int]:
    """(covered, mismatching) urls of ``rows`` against the golden md5s."""
    covered = bad = 0
    for name, field, col in (("golden_cetd_content", "extracted_text", "text_md5"),
                             ("golden_cetd_markdown", "extracted_md", "md_md5")):
        if mode != "all" and field == "extracted_md":
            continue
        g = pq.read_table(root / "testdata" / f"{name}.parquet", columns=["url", col])
        for r in g.to_pylist():
            if r["url"] in rows:
                covered += 1
                bad += _md5(rows[r["url"]][field]) != r[col]
    return covered, bad


class IngestCommit:
    """Seeded ``.warc.gz`` archives through ``run_pipeline(input_format=
    "warc", mode="all")``: WARC reader, url-hash salting exchange,
    extraction (markdown included), partitioned parquet writes and
    per-commit manifests. The archives also carry the inline fixture
    pages and the golden-covered synthetic pages, so the checked output
    is the timed output."""

    name = "ingest_commit"
    n_pages = 2000
    n_archives = 8
    buckets = 8
    buckets_per_commit = 4
    mode = "all"
    sample = 48

    def __init__(self, bench) -> None:
        self.bench = bench
        self.seed = bench.seed
        self.warc_dir = bench.work / "in" / "warc"
        self.out_root = bench.work / "out"
        self.pages: dict[str, bytes] = {}
        self.fixed_urls: list[str] = []
        self.last_out: Path | None = None
        self.pass_info: dict[str, dict] = {}

    def generate(self) -> None:
        extra = fixture_pages()
        self.fixed_urls = [u for u, _ in extra]
        self.pages = gen.write_warc_corpus(self.warc_dir, self.seed, self.n_pages,
                                           self.n_archives, extra)
        self.archive_bytes = _dir_bytes(self.warc_dir)

    def run_pass(self, spark, label: str, buckets_per_commit: int | None = None) -> int:
        from dce_spark.spark.pipeline import run_pipeline

        per_commit = buckets_per_commit or self.buckets_per_commit
        out = self.out_root / label
        shutil.rmtree(out, ignore_errors=True)
        res = run_pipeline(
            spark, str(self.warc_dir), str(out), buckets=self.buckets,
            buckets_per_commit=per_commit, mode=self.mode, input_format="warc",
        )
        if res["committed"] != self.buckets // per_commit:
            raise CheckFailed(f"pipeline committed {res}")
        return len(self.pages)

    def cold_pass(self, spark, label: str) -> int:
        """The cold (warm-up) pass: the same jobs, but all buckets in one
        commit, so the cold JVM compiles the same code in about half the
        jobs."""
        return self.run_pass(spark, label, buckets_per_commit=self.buckets)

    def check_pass(self, label: str) -> int:
        """Manifest and output checks; returns rows with status != ok."""
        out = self.out_root / label
        man = pq.read_table(out / "_manifest").to_pylist()
        if sorted(r["bucket"] for r in man) != list(range(self.buckets)):
            raise CheckFailed(f"{label}: manifest buckets {sorted(r['bucket'] for r in man)}")
        if sum(r["url_count"] for r in man) != len(self.pages):
            raise CheckFailed(f"{label}: manifest url_count != {len(self.pages)}")
        urls = ds.dataset(out / "data", format="parquet",
                          partitioning="hive").to_table(columns=["url"]).column("url")
        urls = urls.to_pylist()
        if len(urls) != len(set(urls)) or set(urls) != self.pages.keys():
            raise CheckFailed(f"{label}: {len(urls)} rows, {len(set(urls))} distinct urls")
        commits = {r["committed_at"]: r["wall_ms"] for r in man}
        self.pass_info[label] = {
            "commits": len(commits),
            "commit_wall_s": sum(commits.values()) / 1000.0,
            "output_mb": _dir_bytes(out / "data") / 2**20,
        }
        if self.last_out is not None and self.last_out != out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return sum(r["pages_failed"] for r in man)

    def final_check(self) -> dict:
        """The last committed output vs the scalar ``extract_page`` path on
        a seeded sample plus every fixture page, and vs the golden md5s."""
        rng = random.Random(f"sample:{self.seed}")
        seeded = sorted(set(self.pages) - set(self.fixed_urls))
        urls = rng.sample(seeded, self.sample) + self.fixed_urls
        table = ds.dataset(self.last_out / "data", format="parquet",
                           partitioning="hive").to_table(
            columns=["url", *EXTRACTED_FIELDS],
            filter=ds.field("url").isin(urls))
        rows = {r["url"]: r for r in table.to_pylist()}
        bad = check_against_scalar(rows, {u: self.pages[u] for u in urls}, self.mode)
        covered, gbad = golden_mismatches(self.bench.root, rows, self.mode)
        if bad or gbad or covered == 0:
            raise CheckFailed(f"{bad} of {len(urls)} rows differ from extract_page; "
                              f"{gbad} of {covered} golden md5s differ")
        return {"compared": len(urls), "golden": covered}


class CurateOps:
    """A fixed list of registered curation queries over seeded sf-style
    ``documents``/``embeddings`` tables. Each pass collects every
    query's rows (a few thousand), and every collected result is checked
    against ``oracle_sql()`` on DuckDB after timing."""

    name = "curate_ops"
    queries = ("doc_minhash_cc", "emb_semdedup")
    n_docs = 3000
    n_vecs = 1200
    near_dup_share = 0.10

    def __init__(self, bench) -> None:
        self.bench = bench
        self.seed = bench.seed
        self.sf_dir = bench.work / "in" / "sf"
        self.results: dict[str, dict[str, tuple[list, list]]] = {}
        self.pass_info: dict[str, dict] = {}

    def generate(self) -> None:
        gen.write_curation_tables(self.sf_dir, self.seed, self.n_docs, self.n_vecs,
                                  self.near_dup_share)

    def run_pass(self, spark, label: str) -> int:
        import __spark_entry__ as entry

        qs = entry.queries()
        sc = spark.sparkContext
        out = self.results[label] = {}
        for q in self.queries:
            with self.bench.driver_span(f"functions.{q}"):
                sc.setLocalProperty("perfbench.query", q)
                try:
                    sdf = qs[q](spark, str(self.sf_dir))
                    out[q] = (sdf.columns, [list(r) for r in sdf.collect()])
                finally:
                    sc.setLocalProperty("perfbench.query", None)
        return self.n_docs * len(self.queries)

    def cold_pass(self, spark, label: str) -> int:
        return self.run_pass(spark, label)

    def check_pass(self, label: str) -> int:
        return 0

    def final_check(self) -> dict:
        """Every collected result vs the DuckDB oracle, compared the way
        tools/check_oracles.py compares them."""
        import duckdb

        import __spark_entry__ as entry

        check = _load_oracle_checker(self.bench.root)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir / (t + '.parquet')}'")
            want = {}
            for q in self.queries:
                res = con.execute(oracles[q])
                dcols = [d[0] for d in res.description]
                want[q] = (sorted(dcols), check.rows_canon(dcols, res.fetchall()))
        finally:
            con.close()
        bad = [
            (label, q) for label, got in self.results.items()
            for q, (scols, srows) in got.items()
            if (sorted(scols), check.rows_canon(scols, srows)) != want[q]
        ]
        if bad:
            raise CheckFailed(f"oracle mismatch: {bad}")
        return {"passes_checked": len(self.results), "rows": {
            q: len(rows) for q, (_, rows) in want.items()}}


def _load_oracle_checker(root: Path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", root / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (IngestCommit, CurateOps)}
