"""Workload and metric names, units, directions and bounds, as
`BENCHMARK.json` at the repository root lists them."""
import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

WORKLOADS = tuple(w["name"] for w in BENCHMARK["workloads"])
END_TO_END = BENCHMARK["end_to_end"]
PER_LAYER = BENCHMARK["per_layer"]


def names(trace: int) -> list:
    """(name, unit) of the metrics a run reports: per-layer with trace 1,
    end-to-end with trace 0."""
    return [(m["name"], m["unit"]) for m in (PER_LAYER if trace else END_TO_END)]
