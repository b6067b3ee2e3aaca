#!/usr/bin/env python3
"""One benchmark run: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root.

A run generates its inputs from the seed, starts a local[nproc] Spark
session (timed as ``setup_s``), warms up with one untimed cold pass
that also checks outputs, then runs timed passes until ``--seconds``
have elapsed (at least one) and reports each metric's median over them.
``--trace 1`` runs an untraced and a traced pass in one session and
reports the per-layer metrics instead. The last stdout line is one JSON object; per-pass
diagnostics go to stderr as ``perfbench-pass {...}`` lines.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import eventlog, procstat, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "pages_per_s": "1/s", "cpu_s": "s",
    "worker_rss_peak_mb": "MB",
}
WORKER_LAYERS = ("udf.extract_batches", "udf.input", "api.extract_page",
                 "htmlparse.parse_html", "cetd.from_html", "cetd.density_sum",
                 "cetd.select", "textnorm.detect_primary_script",
                 "markdown.render", "warc.read")
FUNCTION_QUERIES = ("doc_minhash_cc", "emb_semdedup")
SPARK_METRICS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                 "sched_delay_s", "task_p99_s", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "core_util", "shuffle_write_s",
                 "fetch_wait_s", "input_mb", "output_mb", "write_stage_run_s",
                 "map_stage_run_s", "other_stage_run_s")
PROC_KINDS = ("python", "jvm_jit", "jvm_gc", "jvm_task", "jvm_other")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (the ``--trace 1`` output)."""
    u = {
        "session.start_s": "s", "session.first_job_s": "s",
        "udf.rows": "count", "udf.batches": "count", "udf.bytes_in": "bytes",
        "udf.bytes_out": "bytes", "udf.self_s": "s", "udf.input_wait_s": "s",
        "api.extract_page_s": "s", "api.self_s": "s", "api.page_ms_p50": "ms",
        "api.page_ms_p99": "ms",
        "htmlparse.parse_s": "s", "htmlparse.nodes": "count", "htmlparse.bytes": "bytes",
        "cetd.build_s": "s", "cetd.density_sum_s": "s", "cetd.select_s": "s",
        "textnorm.detect_script_s": "s",
        "markdown.render_s": "s", "markdown.page_ms_p99": "ms",
        "warc.records": "count", "warc.compressed_mb": "MB", "warc.read_s": "s",
        "warc.input_passes": "count",
        "pipeline.commits": "count", "pipeline.commit_wall_s": "s",
        "pipeline.outside_commit_s": "s", "pipeline.output_mb": "MB",
        "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
        "trace.worker_busy_s": "s", "trace.python_outside_s": "s",
        "trace.jvm_side_s": "s", "trace.core_idle_s": "s", "trace.driver_only_s": "s",
        "proc.python_forks": "count",
    }
    for k in PROC_KINDS:
        u[f"proc.{k}_cpu_s"] = "s"
    for q in FUNCTION_QUERIES:
        u[f"functions.{q}.wall_s"] = "s"
        u[f"functions.{q}.jobs"] = "count"
    for m in SPARK_METRICS:
        u[f"spark.{m}"] = ("count" if m in ("jobs", "stages", "tasks")
                           else "ratio" if m == "core_util"
                           else "MB" if m.endswith("_mb") else "s")
    return u


def quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _fsync_tree(path: Path) -> None:
    for p in path.rglob("*"):
        if p.is_file():
            fd = os.open(p, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def log(kind: str, payload: dict) -> None:
    print(f"perfbench-{kind} {json.dumps(payload, sort_keys=True)}", file=sys.stderr,
          flush=True)


class Bench:
    """Owns the run's work directory, Spark session and child processes."""

    def __init__(self, args) -> None:
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.min_passes = args.min_passes
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
        self.spark = None
        self.driver_spans: list[dict] = []
        self._tag: str | None = None
        self._pass_id: str | None = None
        self.workload = WORKLOADS[args.workload](self)

    # ---- environment and session ------------------------------------

    def _configure(self) -> None:
        for d in ("conf", "tmp", "spark-local", "eventlog", "spans", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            # C1 only: the JIT does most of its compiling within the cold
            # pass. With the C2 tier it still spent 3-7 CPU-s in every one
            # of six later passes, on the 4 cores the tasks run on.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = f"file://{self.work / 'eventlog'}"
            conf["spark.python.daemon.module"] = "perfbench.tracehook"
            os.environ[trace.ENV_FORK_LOG] = str(self.work / "forks.log")
        (self.work / "conf" / "spark-defaults.conf").write_text(
            "".join(f"{k} {v}\n" for k, v in conf.items()))
        (self.work / "conf" / "log4j2.properties").write_text(
            "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
        os.environ["SPARK_CONF_DIR"] = str(self.work / "conf")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    def start(self) -> dict:
        """Session creation plus the first one-batch extraction job."""
        from dce_spark.spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload.name}",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=2 * self.cores)
        t1 = time.perf_counter()
        from dce_spark.spark.udf import attach_extraction

        # one row in each of ``cores`` partitions: every task slot starts
        # a Python worker and imports dce_spark, the same way each run
        rows = [(f"https://setup.test/{i}", b"<html><body><p>setup page</p></body></html>")
                for i in range(self.cores)]
        df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, self.cores), "url string, html binary")
        if any(r["status"] != "ok" for r in attach_extraction(df, mode="both").collect()):
            raise RuntimeError("setup job failed")
        t2 = time.perf_counter()
        return {"start_s": t1 - t0, "first_job_s": t2 - t1, "setup_s": t2 - t0}

    def close(self) -> None:
        """Stop Spark, end the JVM and every process under this one, and
        remove the work directory."""
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while procstat.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in procstat.descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        while procstat.descendants(os.getpid()) and time.time() < deadline + 10:
            time.sleep(0.2)
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench_work").rmdir()

    # ---- spans and passes -------------------------------------------

    @contextlib.contextmanager
    def driver_span(self, name: str):
        span = {"id": f"d:{len(self.driver_spans)}", "parent": self._pass_id,
                "name": name, "start": time.perf_counter(), "end": 0.0,
                "tag": self._tag, "n": 0, "b": 0}
        self.driver_spans.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()

    def timed_pass(self, label: str, tag: str | None) -> dict:
        sc = self.spark.sparkContext
        ctl = procstat.control_ms()
        if tag is not None:
            sc.setLocalProperty(trace.PROP_TAG, tag)
            sc.setLocalProperty(trace.PROP_TRACE_DIR, str(self.work / "spans"))
        self._tag = tag
        kinds0 = procstat.cpu_by_kind(os.getpid())
        steal0, cpu0 = procstat.steal_s(), procstat.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        span = {"id": f"pass:{label}", "parent": None, "name": "pass", "start": t0,
                "end": 0.0, "tag": tag, "n": 0, "b": 0}
        self._pass_id = span["id"]
        rows = self.workload.run_pass(self.spark, label)
        t1 = time.perf_counter()
        span["end"] = t1
        cpu1, steal1 = procstat.tree_cpu_s(os.getpid()), procstat.steal_s()
        kinds1 = procstat.cpu_by_kind(os.getpid())
        self._pass_id = None
        self._tag = None
        if tag is not None:
            sc.setLocalProperty(trace.PROP_TAG, None)
            sc.setLocalProperty(trace.PROP_TRACE_DIR, None)
        self.driver_spans.append(span)
        failed = self.workload.check_pass(label)
        rec = {"label": label, "tag": tag, "wall_s": t1 - t0, "rows": rows,
               "failed": failed, "cpu_s": cpu1 - cpu0, "steal_s": steal1 - steal0,
               "control_ms": ctl, "proc": {k: kinds1[k] - kinds0[k] for k in kinds1}}
        log("pass", {"workload": self.workload.name, "seed": self.seed, **rec})
        return rec

    # ---- the run -----------------------------------------------------

    def run(self) -> dict:
        self._configure()
        t = time.perf_counter()
        self.workload.generate()
        _fsync_tree(self.work / "in")  # keep input write-back out of setup_s
        log("gen", {"seconds": time.perf_counter() - t})
        setup = self.start()
        log("setup", setup)
        # one untimed cold pass; with the C1-only JIT, passes after it
        # show no trend left (evidence/*_curve.json)
        t = time.perf_counter()
        self.workload.cold_pass(self.spark, "warm0")
        failed = self.workload.check_pass("warm0")
        log("warm", {"index": 0, "wall_s": time.perf_counter() - t, "failed": failed})
        passes: list[dict] = []
        t_start = time.perf_counter()
        # traced runs pair an untraced pass with a traced one; the
        # difference of their walls is the tracing overhead
        group = (False, True) if self.traced else (False,)
        while (len(passes) < self.min_passes * len(group)
               or time.perf_counter() - t_start < self.seconds):
            for traced in group:
                i = len(passes)
                passes.append(self.timed_pass(f"p{i}", f"t{i}" if traced else None))
        final = self.workload.final_check()
        rss = procstat.python_worker_hwm_mb(os.getpid())
        log("final", {"check": final, "worker_rss_peak_mb": rss})
        attempted = sum(p["rows"] for p in passes)
        failed = sum(p["failed"] for p in passes)
        if self.traced:
            metrics = self.layer_metrics(setup, passes)
        else:
            walls = [p["wall_s"] for p in passes]
            metrics = {
                "setup_s": setup["setup_s"],
                "wall_s": statistics.median(walls),
                "pages_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
                "cpu_s": statistics.median(p["cpu_s"] for p in passes),
                "worker_rss_peak_mb": rss,
            }
        units = per_layer_units() if self.traced else END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    # ---- traced run: per-layer metrics ------------------------------

    def layer_metrics(self, setup: dict, passes: list[dict]) -> dict:
        traced = [p for p in passes if p["tag"] is not None]
        untraced = [p for p in passes if p["tag"] is None]
        spans = trace.load_spans(self.work / "spans")
        forks = trace.load_forks(self.work / "forks.log")
        per_pass = [self._pass_layers(p, [s for s in spans if s["tag"] == p["tag"]], forks)
                    for p in traced]
        # the event log is complete only once the session has stopped
        self.spark.stop()
        walls = {p["tag"]: p["wall_s"] for p in traced}
        events = eventlog.read_events(self.work / "eventlog")
        sp = eventlog.summarise(events, self.cores, walls)
        qjobs = eventlog.jobs_by_query(events, walls)
        for p, m in zip(traced, per_pass):
            for k, v in sp[p["tag"]].items():
                m[f"spark.{k}"] = v
            # the pass's core-seconds: traced dce_spark calls, the rest of
            # task time (JVM scan, exchange, writer, Python outside those
            # calls), and time no task ran on a core
            m["trace.jvm_side_s"] = m["spark.task_run_s"] - m["trace.worker_busy_s"]
            m["trace.core_idle_s"] = self.cores * p["wall_s"] - m["spark.task_run_s"]
            for q in FUNCTION_QUERIES:
                m[f"functions.{q}.jobs"] = qjobs.get((p["tag"], q), 0)
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        tw = statistics.median(p["wall_s"] for p in traced)
        uw = statistics.median(p["wall_s"] for p in untraced)
        out.update({
            "session.start_s": setup["start_s"], "session.first_job_s": setup["first_job_s"],
            "trace.wall_s": tw, "trace.untraced_wall_s": uw, "trace.overhead_s": tw - uw,
        })
        return out

    def _pass_layers(self, p: dict, wspans: list[dict], forks: list[float]) -> dict:
        pid = f"pass:{p['label']}"
        for s in wspans:
            if s["parent"] is None:
                s["parent"] = pid
        dspans = [s for s in self.driver_spans if s["tag"] == p["tag"] or s["id"] == pid]
        allspans = dspans + wspans
        st = trace.self_times(allspans)
        by = {}
        durs: dict[str, list[float]] = {}
        for s in allspans:
            b = by.setdefault(s["name"], {"self": 0.0, "dur": 0.0, "n": 0, "b": 0})
            b["self"] += st[s["id"]]
            b["dur"] += s["end"] - s["start"]
            b["n"] += s["n"]
            b["b"] += s["b"]
            durs.setdefault(s["name"], []).append(s["end"] - s["start"])
        z = {"self": 0.0, "dur": 0.0, "n": 0, "b": 0}

        def g(name):
            return by.get(name, z)

        udf_in = [s for s in wspans if s["name"] == "udf.input"]
        wl = self.workload
        n_records = len(getattr(wl, "pages", ()))
        records = g("warc.read")["n"]
        passes_in = records / n_records if n_records else 0.0
        pinfo = wl.pass_info.get(p["label"], {})
        pspan = next(s for s in dspans if s["id"] == pid)
        n_forks = sum(pspan["start"] <= t <= pspan["end"] for t in forks)
        worker_busy = sum(g(n)["self"] for n in WORKER_LAYERS)
        m = {
            "udf.rows": g("udf.input")["n"],
            "udf.batches": sum(1 for s in udf_in if s["n"]),
            "udf.bytes_in": g("udf.input")["b"],
            "udf.bytes_out": g("udf.extract_batches")["b"],
            "udf.self_s": g("udf.extract_batches")["self"],
            "udf.input_wait_s": g("udf.input")["self"],
            "api.extract_page_s": g("api.extract_page")["dur"],
            "api.self_s": g("api.extract_page")["self"],
            "api.page_ms_p50": 1000 * quantile(durs.get("api.extract_page", []), 0.5),
            "api.page_ms_p99": 1000 * quantile(durs.get("api.extract_page", []), 0.99),
            "htmlparse.parse_s": g("htmlparse.parse_html")["self"],
            "htmlparse.nodes": g("htmlparse.parse_html")["n"],
            "htmlparse.bytes": g("htmlparse.parse_html")["b"],
            "cetd.build_s": g("cetd.from_html")["self"],
            "cetd.density_sum_s": g("cetd.density_sum")["self"],
            "cetd.select_s": g("cetd.select")["self"],
            "textnorm.detect_script_s": g("textnorm.detect_primary_script")["self"],
            "markdown.render_s": g("markdown.render")["self"],
            "markdown.page_ms_p99": 1000 * quantile(durs.get("markdown.render", []), 0.99),
            "warc.records": records,
            "warc.compressed_mb": passes_in * getattr(wl, "archive_bytes", 0) / 2**20,
            "warc.read_s": g("warc.read")["self"],
            "warc.input_passes": passes_in,
            "pipeline.commits": pinfo.get("commits", 0),
            "pipeline.commit_wall_s": pinfo.get("commit_wall_s", 0.0),
            "pipeline.outside_commit_s": (p["wall_s"] - pinfo["commit_wall_s"]
                                          if pinfo else 0.0),
            "pipeline.output_mb": pinfo.get("output_mb", 0.0),
            "trace.worker_busy_s": worker_busy,
            "trace.python_outside_s": p["proc"]["python"] - worker_busy,
            "trace.driver_only_s": st[pid],
            "proc.python_forks": n_forks,
        }
        for k in PROC_KINDS:
            m[f"proc.{k}_cpu_s"] = p["proc"][k]
        for q in FUNCTION_QUERIES:
            m[f"functions.{q}.wall_s"] = g(f"functions.{q}")["dur"]
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--min-passes", type=int, default=1,
                    help="timed passes to run even past --seconds")
    args = ap.parse_args(argv)
    try:
        import dce_spark
    except ImportError as exc:
        print(f"perfbench: dce_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if Path(dce_spark.__file__).resolve().parents[1] != ROOT:
        print(f"perfbench: dce_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        result = bench.run()
    except CheckFailed as exc:
        # a wrong output is a result, not a crash: report it as failed
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        units = per_layer_units() if bench.traced else END_TO_END
        result = {"correct": False, "attempted": 1, "failed": 1,
                  "metrics": {k: {"value": 0.0, "unit": u} for k, u in units.items()}}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
