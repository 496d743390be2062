"""Spans around the benchmark's calls into the program, with the Spark
counters of the jobs each span ran.

Each span sets its own Spark job group for its duration, so every job a
call launches is attributed to exactly one span. After the span ends the
tracer drains Spark's listener bus and folds the stage rows of those jobs
from the status store into the span: executor CPU time, shuffle bytes
written and bytes spilled. Spans stay in memory until :meth:`Tracer.dump`.
Metric names are in ``names``.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from inputs import CLASSES
from names import EXTRA_COUNTERS, PIPELINE_LAYERS, per_layer_metrics
from stats import median

class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counted_stages: set[int] = set()
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": f"{self.run_id}.{next(self._ids)}",
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent["id"], parent["name"])
            rec.update(self._spark_counters(rec["id"]))
            self.spans.append(rec)

    def _spark_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        cpu_ns = shuffle = spill = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                # a stage re-used by a later job shows up there as skipped;
                # count each stage once, in the span whose job ran it
                if sid in self._counted_stages:
                    continue
                try:
                    data = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never submitted
                    continue
                if data.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                cpu_ns += data.executorCpuTime()
                shuffle += data.shuffleWriteBytes()
                spill += data.memoryBytesSpilled()
        return {
            "jobs": len(job_ids),
            "cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id → duration minus the time its direct children cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def is_layer(name: str) -> bool:
    return (
        name in PIPELINE_LAYERS
        or name.startswith(("sparql.", "execute."))
        or name == "rest.serialize"
    )


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Pipeline layers summed over all their spans; serving layers as
    medians over the requests. Layers the workload never ran read 0."""
    own = self_times(spans)
    out = {name: 0.0 for name, _, _ in per_layer_metrics()}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
        if s["name"] in PIPELINE_LAYERS:
            out[f"{s['name']}.wall_s"] += own[s["id"]]
            for c in ("cpu_s", "shuffle_write_mb", "spill_mb"):
                out[f"{s['name']}.{c}"] += s[c]
        for key, value in s.get("extra", {}).items():
            out[key] += value
    for metric in EXTRA_COUNTERS:
        name, counter = metric.rsplit(".", 1)
        if counter == "jobs" and by_name.get(name):
            out[metric] = median([s["jobs"] for s in by_name[name]])
    for cls in CLASSES:
        compiles = by_name.get(f"sparql.select_text.{cls}", [])
        if compiles:
            out[f"sparql.select_text.{cls}.ms"] = median([1e3 * own[s["id"]] for s in compiles])
            out[f"sparql.select_text.{cls}.jobs"] = median([s["jobs"] for s in compiles])
        runs = by_name.get(f"execute.{cls}", [])
        if runs:
            out[f"execute.{cls}.ms"] = median([1e3 * own[s["id"]] for s in runs])
    for name in ("sparql.parse_select", "rest.serialize"):
        if by_name.get(name):
            out[f"{name}.ms"] = median([1e3 * own[s["id"]] for s in by_name[name]])
    return out


def layer_seconds(spans: list[dict]) -> float:
    """Summed self time of every layer span (pipeline and serving)."""
    own = self_times(spans)
    return sum(own[s["id"]] for s in spans if is_layer(s["name"]))
