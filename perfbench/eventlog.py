"""Stdlib parser for Spark's JSON-lines event log: aggregates task
metrics per job tag (the `perfbench.span` job-local property)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields

from spans import SPAN_PROPERTY


@dataclass
class StageMetrics:
    """Sums over the tasks (and counts of the jobs) under one tag."""

    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "StageMetrics") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _task_metrics(m: dict) -> StageMetrics:
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return StageMetrics(
        tasks=1,
        task_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
    )


def parse(path: str) -> dict[str | None, StageMetrics]:
    """Per-tag metrics from one event-log file. A stage is attributed to
    the tag in its submission properties; a job to the tag in its start
    properties. Untagged work is keyed by None."""
    stage_tag: dict[tuple[int, int], str | None] = {}
    out: dict[str | None, StageMetrics] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                out.setdefault(tag, StageMetrics()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_tag[key] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                tag = stage_tag.get(key)
                out.setdefault(tag, StageMetrics()).add(
                    _task_metrics(ev.get("Task Metrics") or {})
                )
    return out


def find_log(log_dir: str) -> str:
    """The single completed application log in `log_dir`."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def rollup(per_tag: dict[str | None, StageMetrics], span_ids: set[int]) -> StageMetrics:
    """Sum the metrics of every tag in `span_ids`."""
    total = StageMetrics()
    for tag, m in per_tag.items():
        if tag is not None and int(tag) in span_ids:
            total.add(m)
    return total


def spark_per_pass(per_tag, passes: list[set[int]]) -> dict[str, float]:
    """The `spark.*` per-layer metrics: totals over the given passes (each
    a set of span ids), divided by their number."""
    total = StageMetrics()
    for ids in passes:
        total.add(rollup(per_tag, ids))
    n = len(passes)
    return {
        "spark.jobs": total.jobs / n,
        "spark.tasks": total.tasks / n,
        "spark.task_s": total.task_ms / 1000.0 / n,
        "spark.gc_s": total.gc_ms / 1000.0 / n,
        "spark.shuffle_mb": (total.shuffle_read_bytes + total.shuffle_write_bytes) / 1e6 / n,
        "spark.spill_mb": total.spill_bytes / 1e6 / n,
        "spark.input_mb": total.input_bytes / 1e6 / n,
    }
