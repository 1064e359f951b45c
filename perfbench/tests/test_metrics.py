"""Metric names of the catalogue BENCHMARK.json holds."""

from __future__ import annotations

import re

from perfbench.metrics import ARRAY_FORMATS, CORPUS_OPS, END_TO_END, OPERATOR_MODULES, PER_LAYER, REPORT_ONLY, WORKLOADS

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")  # BENCHMARK.json's name rule


def test_metric_names_are_well_formed_and_unique():
    names = [m[0] for m in END_TO_END + PER_LAYER + REPORT_ONLY] + list(WORKLOADS)
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(names) == len(set(names))
    assert len(PER_LAYER) <= 128


def test_setup_carries_the_largest_bound():
    bounds = {n: b for n, _, _, b in END_TO_END}
    assert bounds["setup_s"] == max(bounds.values())


def test_each_part_the_names_spell_out_has_all_its_metrics():
    names = {n for n, *_ in PER_LAYER}
    assert CORPUS_OPS and ARRAY_FORMATS and OPERATOR_MODULES
    for op in CORPUS_OPS:
        assert {f"queries.{op}.{m}" for m in ("build_s", "exec_s", "jobs", "stages", "tasks")} <= names
    for fmt in ARRAY_FORMATS:
        assert {f"sources.{fmt}.{m}" for m in ("write_s", "read_s", "bytes_per_byte")} <= names
    for mod in OPERATOR_MODULES:
        assert {f"operators.{mod}.{m}" for m in ("self_s", "jobs")} <= names
