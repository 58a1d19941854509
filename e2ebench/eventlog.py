"""Per-layer Spark totals from an uncompressed, non-rolling event log.

Jobs carry the job group the benchmark set around each call into a layer
(`spark.jobGroup.id`); every task is charged to the group of the first job
that listed its stage.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def layer_totals(log_dir: str, layer_of) -> dict[str, dict[str, float]]:
    """{layer: {"shuffle_mb", "tasks", "failed_tasks"}}. `layer_of` maps a
    job group id (or None) to a layer name, or None to ignore the job."""
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"shuffle_mb": 0.0, "tasks": 0, "failed_tasks": 0}
    )
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            layer = layer_of(group)
            if layer is not None:
                for sid in e["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(e["Stage ID"])
            if layer is None:
                continue
            tot = out[layer]
            tot["tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                tot["failed_tasks"] += 1
            written = (e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            tot["shuffle_mb"] += written.get("Shuffle Bytes Written", 0) / 2**20
    return dict(out)
