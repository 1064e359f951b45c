"""Workload and metric catalogue, read from BENCHMARK.json at the
repository root, the one place that lists them. The corpus entries,
store formats and operator modules the workloads use are the ones its
per-layer metric names spell out."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)

WORKLOADS = {w["name"]: w["why"] for w in _BENCH["workloads"]}
# (name, unit, better, bound): compared between commits per workload;
# bound is the share of the parent's median a change may lose
END_TO_END = [(m["name"], m["unit"], m["better"], m["bound"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"], m["better"]) for m in _BENCH["per_layer"]]


def _named(layer: str, metric: str) -> list[str]:
    """The ``<x>`` of every per-layer metric ``<layer>.<x>.<metric>``."""
    return [n.split(".")[1] for n, *_ in PER_LAYER if n.startswith(f"{layer}.") and n.endswith(f".{metric}")]


# Four of the nine entries the workload was specified with: d06, t49,
# t37, t07 and v28 are left out to fit the run-time budget (dedup and
# text stay covered by d52 and d22; training is not).
CORPUS_OPS = _named("queries", "build_s")
ARRAY_FORMATS = _named("sources", "write_s")
OPERATOR_MODULES = _named("operators", "self_s")

# Runnable by name but not part of BENCHMARK.json: every listed
# workload multiplies the runs a full benchmark pass makes, and with
# this one they would not fit that pass's time budget.
EXTRA_WORKLOADS = {
    "olap_10x": "closed loop over the ten bench-suite queries on a seeded 10x fixture: scan, shuffle, join and aggregate",
}

# Printed in the report only: they do not apply to every workload
# (n/a elsewhere), read 0 on a healthy run, or (peak_rss_mb) move by
# up to 20% between runs of the same code as the JVM's garbage
# collector sizes its heap, more than any bound could absorb.
REPORT_ONLY = [
    ("peak_rss_mb", "MB"),
    ("error_rate", "ratio"),
    ("max_rate_eps", "events/s"),
    ("write_amp", "ratio"),
]
