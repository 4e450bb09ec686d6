"""Per-layer Spark work from an uncompressed, non-rolling event log.

Each job is assigned to a layer by the benchmark's own time windows: a job
belongs to the window its submission time falls in. Tasks are summed per
layer through their stage's job. Windows come from the benchmark's spans
(one per query) and from the committed stage manifests of the warm ER
build (``committed_at - wall_sec`` to ``committed_at``), so jobs that the
pipeline submits from side threads, which carry no job group, are counted
too.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict


def read(path: str) -> tuple[dict[int, float], dict[int, int], list[dict]]:
    """(job -> submission s, stage -> job, tasks) from one event log."""
    job_at: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                job_at[e["Job ID"]] = e["Submission Time"] / 1000
                for sid in e["Stage IDs"]:
                    # a stage reused by a later job ran under the first one
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "secs": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                })
    return job_at, stage_job, tasks


def per_layer(path: str, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """{layer: {executor_cpu_s, shuffle_write_bytes, task_skew}}.

    ``task_skew`` is max/median task time of the layer's Spark stage with
    the most task time: the stage that sets the layer's wall.
    """
    job_at, stage_job, tasks = read(path)

    def layer_of(job: int | None) -> str | None:
        t = job_at.get(job)
        for layer, spans in windows.items():
            if t is not None and any(a <= t <= b for a, b in spans):
                return layer
        return None

    out = {
        layer: {"executor_cpu_s": 0.0, "shuffle_write_bytes": 0}
        for layer in windows
    }
    stage_times: dict[str, dict[int, list[float]]] = defaultdict(
        lambda: defaultdict(list)
    )
    for t in tasks:
        layer = layer_of(stage_job.get(t["stage"]))
        if layer is None:
            continue
        agg = out[layer]
        agg["executor_cpu_s"] += t["cpu"]
        agg["shuffle_write_bytes"] += t["shuffle_write"]
        stage_times[layer][t["stage"]].append(t["secs"])
    for layer, agg in out.items():
        stages = stage_times.get(layer)
        if not stages:
            agg["task_skew"] = 1.0
            continue
        heavy = max(stages.values(), key=sum)
        med = statistics.median(heavy)
        agg["task_skew"] = max(heavy) / med if med > 0 else 1.0
    return out
