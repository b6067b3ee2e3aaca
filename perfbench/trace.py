"""Spans around calls into dce_spark's public functions.

A span is (name, start, end, parent, tag, n, b): ``tag`` is the id the
spans of one timed pass share, ``n``/``b`` are a count and a byte
count recorded at the same boundary. Clocks are ``time.perf_counter``
(CLOCK_MONOTONIC on Linux, common to every process on the host), so
worker spans and driver spans share one time axis.

Inside Python workers the wrappers are installed by
``perfbench.tracehook`` (the Spark daemon module of a traced run) and
switch on per task from the task's local properties, so one session
can alternate untraced and traced passes. Spans stay in memory and
are appended to ``<trace_dir>/spans-<pid>.jsonl`` when a task's
top-level span ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections.abc import Iterable, Iterator
from pathlib import Path

PROP_TRACE_DIR = "perfbench.trace_dir"
PROP_TAG = "perfbench.tag"
ENV_FORK_LOG = "PERFBENCH_FORK_LOG"


class Tracer:
    """In-memory span store with a parent stack (one per process)."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.tag: str | None = None
        self.out_dir: str | None = None
        self._written = 0

    @property
    def active(self) -> bool:
        return self.tag is not None

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.tag, 0, 0])
        self._stack.append(sid)
        return sid

    def end(self, sid: int, n: int = 0, b: int = 0) -> None:
        span = self.spans[sid]
        span[2] = time.perf_counter()
        span[5] += n
        span[6] += b
        self._stack.pop()

    def flush(self) -> None:
        """Append finished spans to this process's span file (only between
        top-level spans, so no open span is written or renumbered)."""
        if not self.spans or self.out_dir is None or self._stack:
            return
        path = Path(self.out_dir) / f"spans-{os.getpid()}.jsonl"
        pid, off = os.getpid(), self._written
        with open(path, "a") as f:
            for i, (name, t0, t1, parent, tag, n, b) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": f"{pid}:{off + i}",
                    "parent": None if parent < 0 else f"{pid}:{off + parent}",
                    "name": name, "start": t0, "end": t1,
                    "tag": tag, "n": n, "b": b,
                }) + "\n")
        self._written += len(self.spans)
        self.spans = []


TRACER = Tracer()


def _task_props() -> tuple[str | None, str | None]:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is None:
        return None, None
    return ctx.getLocalProperty(PROP_TAG), ctx.getLocalProperty(PROP_TRACE_DIR)


def wrap_call(fn, name: str, measure=None):
    """Span around each call while a traced task is running.
    ``measure(args, result) -> (n, b)`` records counts."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not TRACER.active:
            return fn(*args, **kwargs)
        sid = TRACER.begin(name)
        n = b = 0
        try:
            out = fn(*args, **kwargs)
            if measure is not None:
                n, b = measure(args, out)
            return out
        finally:
            TRACER.end(sid, n, b)

    return wrapper


def _traced_iter(it: Iterator, name: str, measure) -> Iterator:
    """One span per ``next()`` on ``it`` (time inside the producer only)."""
    while True:
        sid = TRACER.begin(name)
        n = b = 0
        try:
            item = next(it)
            n, b = measure(item)
        except StopIteration:
            return
        finally:
            TRACER.end(sid, n, b)
        yield item


def wrap_task_generator(fn, name: str, measure, wrap_input=None):
    """Wrap a generator function that is a task's top-level kernel.

    Tracing switches on when the task carries ``perfbench.tag``; the
    task's spans are flushed when the generator ends. ``wrap_input``
    ``(arg_index, span_name, measure)`` also times the input iterator,
    so waiting for input is a child span, not the kernel's self time.
    """

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tag, out_dir = _task_props()
        if tag is None:
            yield from fn(*args, **kwargs)
            return
        if wrap_input is not None:
            idx, in_name, in_measure = wrap_input
            args = list(args)
            args[idx] = _traced_iter(iter(args[idx]), in_name, in_measure)
        TRACER.out_dir = out_dir
        inner = iter(fn(*args, **kwargs))
        try:
            while True:
                TRACER.tag = tag
                try:
                    sid = TRACER.begin(name)
                    n = b = 0
                    try:
                        item = next(inner)
                        n, b = measure(item)
                    except StopIteration:
                        return
                    finally:
                        TRACER.end(sid, n, b)
                finally:
                    TRACER.tag = None
                yield item
        finally:
            TRACER.flush()

    return wrapper


def install() -> None:
    """Install wrappers around the public dce_spark functions the
    extraction and WARC paths call. Runs in the Python daemon of a
    traced session, before it forks workers."""
    from dce_spark.core import api, cetd, markdown
    from dce_spark.core.cetd import DensityTree
    from dce_spark.spark import udf, warc

    def batch_rows(batch):
        return batch.num_rows, batch.nbytes

    def input_batch(batch):
        html = batch.column("html")
        return batch.num_rows, html.nbytes

    udf.extract_batches = wrap_task_generator(
        udf.extract_batches, "udf.extract_batches", batch_rows,
        wrap_input=(0, "udf.input", input_batch),
    )
    udf.extract_page = wrap_call(udf.extract_page, "api.extract_page",
                                 lambda a, out: (1, 0))
    cetd.parse_html = wrap_call(
        cetd.parse_html, "htmlparse.parse_html",
        lambda a, doc: (len(doc), len(a[0].encode("utf-8", "surrogatepass"))),
    )
    from_html = DensityTree.__dict__["from_html"].__func__
    DensityTree.from_html = classmethod(wrap_call(from_html, "cetd.from_html"))
    DensityTree.calculate_density_sum = wrap_call(
        DensityTree.calculate_density_sum, "cetd.density_sum")
    for meth in ("extract_content", "extract_article", "node_links"):
        setattr(DensityTree, meth, wrap_call(getattr(DensityTree, meth), "cetd.select"))
    api.detect_primary_script = wrap_call(
        api.detect_primary_script, "textnorm.detect_primary_script")
    markdown.extract_content_as_markdown = wrap_call(
        markdown.extract_content_as_markdown, "markdown.render")
    warc.iter_warc_records = wrap_task_generator(
        warc.iter_warc_records, "warc.read", lambda r: (1, len(r["html"])))


def log_forks(path: str | None) -> None:
    """Append the time of every ``os.fork`` in this process (the Python
    daemon, which forks one process per new worker) to ``path``."""
    if not path:
        return
    fork = os.fork

    def logged_fork():
        pid = fork()
        if pid > 0:
            with open(path, "a") as f:
                f.write(f"{time.perf_counter()}\n")
        return pid

    os.fork = logged_fork


def load_forks(path: Path) -> list[float]:
    if not path.exists():
        return []
    return [float(x) for x in path.read_text().split()]


# ---- reading spans back and self-time arithmetic ---------------------


def load_spans(trace_dir: Path) -> list[dict]:
    spans = []
    for p in sorted(trace_dir.glob("spans-*.jsonl")):
        with open(p) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        t0, t1 = s["start"], s["end"]
        covered = union_length(
            (max(a, t0), min(b, t1)) for a, b in kids.get(s["id"], ()) if min(b, t1) > max(a, t0)
        )
        out[s["id"]] = (t1 - t0) - covered
    return out
