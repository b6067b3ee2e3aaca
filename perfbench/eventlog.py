"""Summarise a Spark event log into the ``spark.*`` per-layer metrics.

Jobs are selected by the ``perfbench.tag`` local property the driver
sets around each timed pass; stages and tasks follow from the jobs.
Task run time is also split by stage kind: a stage whose tasks write
output files is a write stage, else one whose tasks write shuffle
output is a map (exchange) stage; the rest run in other stages.
"""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.trace import PROP_TAG

MB = 1024.0 * 1024.0


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def read_events(log_dir: Path) -> list[dict]:
    """Every event under ``log_dir`` (plain or rolling event-log layout)."""
    events = []
    for p in sorted(log_dir.rglob("*")):
        if p.is_file() and p.name.startswith("events_"):
            with open(p) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def summarise(events: list[dict], cores: int,
              walls: dict[str, float]) -> dict[str, dict[str, float]]:
    """tag -> spark.* metrics for the jobs run under that tag.
    ``walls`` gives each tag's driver wall time for ``core_util``."""
    stage_tag: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(PROP_TAG)
            if tag in walls:
                jobs[tag] = jobs.get(tag, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag[sid] = tag
    out = {
        t: {"jobs": jobs.get(t, 0), "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "shuffle_write_s": 0.0, "fetch_wait_s": 0.0, "input_mb": 0.0,
            "output_mb": 0.0, "write_stage_run_s": 0.0, "map_stage_run_s": 0.0,
            "other_stage_run_s": 0.0}
        for t in walls
    }
    durations: dict[str, list[float]] = {t: [] for t in walls}
    # stage id -> [run s, wrote output, wrote shuffle]
    stages: dict[int, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            tag = stage_tag.get(ev["Stage Info"]["Stage ID"])
            if tag is not None:
                out[tag]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev.get("Stage ID"))
            if tag is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            total_ms = info["Finish Time"] - info["Launch Time"]
            delay_ms = max(0, total_ms - run_ms - m.get("Executor Deserialize Time", 0)
                           - m.get("Result Serialization Time", 0)
                           - (info["Finish Time"] - info["Getting Result Time"]
                              if info.get("Getting Result Time") else 0))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            o = out[tag]
            o["tasks"] += 1
            o["task_run_s"] += run_ms / 1000.0
            o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            o["sched_delay_s"] += delay_ms / 1000.0
            o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            o["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            o["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            o["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            o["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            o["output_mb"] += written / MB
            st = stages.setdefault(ev["Stage ID"], [0.0, False, False])
            st[0] += run_ms / 1000.0
            st[1] |= written > 0
            st[2] |= sw.get("Shuffle Bytes Written", 0) > 0
            durations[tag].append(total_ms / 1000.0)
    for sid, (run_s, wrote, shuffled) in stages.items():
        kind = "write" if wrote else "map" if shuffled else "other"
        out[stage_tag[sid]][f"{kind}_stage_run_s"] += run_s
    for t, o in out.items():
        o["task_p99_s"] = _quantile(durations[t], 0.99)
        o["core_util"] = o["task_run_s"] / (cores * walls[t]) if walls[t] > 0 else 0.0
    return out


def jobs_by_query(events: list[dict], walls: dict[str, float]) -> dict[tuple[str, str], int]:
    """(tag, query) -> jobs, from the ``perfbench.query`` local property."""
    out: dict[tuple[str, str], int] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag, q = props.get(PROP_TAG), props.get("perfbench.query")
            if tag in walls and q:
                out[(tag, q)] = out.get((tag, q), 0) + 1
    return out
