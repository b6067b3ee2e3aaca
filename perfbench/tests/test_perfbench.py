"""Tests for the benchmark's own code (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, gen, procstat, trace  # noqa: E402
from perfbench.run import END_TO_END, per_layer_units  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_warc_corpus_deterministic_per_seed(tmp_path):
    a = gen.write_warc_corpus(tmp_path / "a", seed=3, n_pages=40, n_archives=4)
    b = gen.write_warc_corpus(tmp_path / "b", seed=3, n_pages=40, n_archives=4)
    c = gen.write_warc_corpus(tmp_path / "c", seed=4, n_pages=40, n_archives=4)
    assert a == b and _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a != c and _files(tmp_path / "a") != _files(tmp_path / "c")
    assert len(a) == 40 and len(_files(tmp_path / "a")) == 4


def test_warc_corpus_round_trips_through_reader(tmp_path):
    from dce_spark.spark.warc import iter_warc_records

    pages = gen.write_warc_corpus(tmp_path, seed=1, n_pages=12, n_archives=3)
    got = {}
    for p in sorted(tmp_path.iterdir()):
        for r in iter_warc_records(p.read_bytes()):
            got[r["url"]] = r["html"]
    assert got == pages


def test_curation_tables_deterministic_per_seed():
    for make in (gen.documents_table, gen.embeddings_table):
        assert make(5, 200, 0.1).equals(make(5, 200, 0.1))
        assert not make(5, 200, 0.1).equals(make(6, 200, 0.1))


def test_documents_near_duplicate_share():
    docs = gen.documents_table(7, 2000, 0.10).to_pydict()
    dups = [t for t in docs["text"] if t.endswith(" dup")]
    assert len(dups) == 200
    assert not any(t.endswith(" dup dup") for t in dups)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_metric_names_and_units_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layers == per_layer_units()
    for name in [*e2e, *layers, *(w["name"] for w in bench["workloads"])]:
        assert NAME.fullmatch(name), name


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end}


def test_self_times_on_hand_built_tree():
    spans = [
        _span("root", None, 0.0, 10.0, "pass"),
        _span("a", "root", 1.0, 4.0, "udf"),
        _span("b", "root", 3.0, 6.0, "udf"),      # overlaps a: union [1, 6]
        _span("c", "root", 8.0, 12.0, "udf"),     # clipped to the root: [8, 10]
        _span("a1", "a", 1.5, 2.0, "parse"),
        _span("a2", "a", 2.0, 3.5, "parse"),
        _span("b1", "b", 5.0, 7.0, "parse"),      # clipped to b: [5, 6]
    ]
    st = trace.self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 7.0)
    assert st["a"] == pytest.approx(3.0 - 2.0)
    assert st["b"] == pytest.approx(3.0 - 1.0)
    assert st["c"] == pytest.approx(4.0)
    assert st["b1"] == pytest.approx(2.0)
    # leaves keep their whole duration
    assert st["a1"] == pytest.approx(0.5) and st["a2"] == pytest.approx(1.5)


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_records_parents_and_flushes(tmp_path):
    t = trace.Tracer()
    t.tag, t.out_dir = "t1", str(tmp_path)
    outer = t.begin("outer")
    inner = t.begin("inner")
    t.end(inner, n=2, b=10)
    t.end(outer)
    t.flush()
    spans = trace.load_spans(tmp_path)
    assert [s["name"] for s in spans] == ["outer", "inner"]
    assert spans[0]["parent"] is None and spans[1]["parent"] == spans[0]["id"]
    assert spans[1]["n"] == 2 and spans[1]["b"] == 10 and spans[1]["tag"] == "t1"
    assert t.spans == []


def test_wrappers_pass_through_outside_a_traced_task():
    calls = trace.wrap_call(lambda x: x + 1, "f")
    assert calls(1) == 2 and trace.TRACER.spans == []
    gen_fn = trace.wrap_task_generator(lambda it: (x * 2 for x in it), "g",
                                       lambda item: (1, 0))
    assert list(gen_fn(iter([1, 2, 3]))) == [2, 4, 6]
    assert trace.TRACER.spans == []


def test_eventlog_summary_selects_tagged_jobs():
    def task(stage, launch, finish, run_ms, cpu_ns, written=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Getting Result Time": 0},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 10, "Executor Deserialize Time": 5,
                                 "Result Serialization Time": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20,
                                                           "Shuffle Write Time": 2e8},
                                 "Shuffle Read Metrics": {"Local Bytes Read": 2**20,
                                                          "Remote Bytes Read": 0,
                                                          "Fetch Wait Time": 30},
                                 "Output Metrics": {"Bytes Written": written},
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"perfbench.tag": "t1", "perfbench.query": "q"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(1, 0, 1000, 900, 5e8), task(2, 0, 2000, 1900, 1e9, written=3 * 2**20),
        task(3, 0, 500, 400, 1e8),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    out = eventlog.summarise(events, cores=4, walls={"t1": 2.0})["t1"]
    assert out["jobs"] == 1 and out["stages"] == 1 and out["tasks"] == 2
    assert out["task_run_s"] == pytest.approx(2.8)
    assert out["task_cpu_s"] == pytest.approx(1.5)
    assert out["sched_delay_s"] == pytest.approx(0.19)
    assert out["shuffle_write_mb"] == pytest.approx(2.0)
    assert out["core_util"] == pytest.approx(2.8 / 8.0)
    # stage 2 writes files (a write stage); stage 1 only shuffle output
    assert out["write_stage_run_s"] == pytest.approx(1.9)
    assert out["map_stage_run_s"] == pytest.approx(0.9)
    assert out["other_stage_run_s"] == 0.0
    assert out["output_mb"] == pytest.approx(3.0)
    assert out["shuffle_write_s"] == pytest.approx(0.4)
    assert out["fetch_wait_s"] == pytest.approx(0.06)
    assert eventlog.jobs_by_query(events, {"t1": 2.0}) == {("t1", "q"): 1}


def test_jvm_thread_kinds():
    kinds = {n: procstat.jvm_thread_kind(n) for n in (
        "C2 CompilerThre", "C1 CompilerThre", "GC Thread#3", "G1 Conc#0", "VM Thread",
        "Executor task l", "dag-scheduler-e", "main")}
    assert kinds == {"C2 CompilerThre": "jit", "C1 CompilerThre": "jit",
                     "GC Thread#3": "gc", "G1 Conc#0": "gc", "VM Thread": "gc",
                     "Executor task l": "task", "dag-scheduler-e": "other",
                     "main": "other"}
    cpu = procstat.cpu_by_kind(1)
    assert set(cpu) == {"python", "jvm_jit", "jvm_gc", "jvm_task", "jvm_other"}
