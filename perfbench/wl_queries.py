"""olap_10x and corpus_curation: a closed loop with one client over
query-corpus entries, each result hashed in the tests/test_oracle.py
canonical form and compared with the entry's DuckDB oracle."""

from __future__ import annotations

import time

from perfbench import gen, stats, trace
from perfbench.metrics import CORPUS_OPS


def ops_for(workload: str) -> list[str]:
    if workload == "olap_10x":
        from bench import BENCH  # the bench-suite mapping, not a copy

        return list(BENCH.values())
    return CORPUS_OPS


def oracle_hashes(fixture: str, ops: list[str]) -> dict[str, list]:
    """Run each entry's DuckDB oracle once on the generated fixture."""
    import duckdb

    from tests.test_oracle import _canon_unordered
    from zappy_spark.queries import ORACLE
    from zappy_spark.session import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{fixture}/{name}.parquet')")
    out = {}
    for op in ops:
        res = con.execute(ORACLE[op])
        out[op] = list(_canon_unordered([c[0] for c in res.description], res.fetchall()))
    con.close()
    return out


def _check(expected, df_cols, rows) -> bool:
    from tests.test_oracle import _canon_unordered

    return list(_canon_unordered(df_cols, [tuple(r) for r in rows])) == expected


def run(ctx) -> None:
    from zappy_spark.queries import QUERIES, _util

    spark, sc = ctx.spark, ctx.spark.sparkContext
    fixture = ctx.inputs + "/fixture"
    ops = ops_for(ctx.workload)
    expected = ctx.manifest["oracle"]
    table_rows = ctx.manifest["table_rows"]
    tr = trace.TRACER

    loads = {"calls": 0, "hits": 0}
    if tr is not None:
        trace.install_operator_wrappers()
        trace.install_load_table_wrapper(loads)
    traced_load = _util.load_table

    # warm pass (untimed, part of set-up); it also learns which tables
    # each entry reads, which sizes its input rows
    reads: dict[str, set] = {}
    for op in ops:
        seen = reads.setdefault(op, set())

        def spy(s, d, name, _seen=seen):
            _seen.add(name)
            return traced_load(s, d, name)

        _util.load_table = spy
        df = QUERIES[op](spark, fixture)
        if not _check(expected[op], df.columns, df.collect()):
            ctx.errors.append(f"warm {op}: result differs from oracle")
    _util.load_table = traced_load
    in_rows = {op: sum(table_rows[t] for t in reads[op]) for op in ops}
    loads.update(calls=0, hits=0)
    if tr is not None:
        tr.spans.clear()

    per_op: dict[str, dict[str, list]] = {op: {"build": [], "exec": [], "jobs": [], "stages": [], "tasks": [], "cached": []} for op in ops}
    t_start = time.time()
    ctx.window = (t_start, t_start)
    t_end, passes = time.perf_counter() + ctx.seconds, 0
    while passes == 0 or time.perf_counter() + pass_s <= t_end:
        t_pass = time.perf_counter()
        for k, op in enumerate(gen.shuffled(ctx.seed, ops, passes)):
            group = f"p{passes}-{k}-{op}"
            ok, cached = True, 0
            if tr is not None:
                sc.setJobGroup(group, op)
                tr.op = group
                before = set(sc._jsc.getPersistentRDDs().keys())
            t0 = time.perf_counter()
            try:
                with trace.span(f"queries.{op}.build", "queries"):
                    df = QUERIES[op](spark, fixture)
                t1 = time.perf_counter()
                if tr is not None:  # RDDs this entry persisted and still holds
                    cached = len(set(sc._jsc.getPersistentRDDs().keys()) - before)
                with trace.span(f"queries.{op}.exec", "queries"):
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # counted, never fatal
                t1 = t2 = time.perf_counter()
                ok, rows = False, None
                ctx.errors.append(f"{op}: {type(e).__name__}: {e}"[:300])
            if tr is not None:
                tr.op = None
                sc.setJobGroup("idle", "idle")
            ok = ok and _check(expected[op], df.columns, rows)
            ctx.record(t2 - t0, in_rows[op], ok, f"{op}: result differs from oracle")
            rec = per_op[op]
            rec["build"].append(t1 - t0)
            rec["exec"].append(t2 - t1)
            if tr is not None:
                jobs, stages, tasks = trace.job_counts(sc, group)
                rec["jobs"].append(jobs)
                rec["stages"].append(stages)
                rec["tasks"].append(tasks)
                rec["cached"].append(cached)
        passes += 1
        pass_s = time.perf_counter() - t_pass
    ctx.window = (t_start, time.time())
    ctx.report["passes"] = passes
    ctx.report["input_rows_per_pass"] = sum(in_rows.values())
    ctx.report["op_latency_p50_s"] = {
        op: round(stats.median([b + e for b, e in zip(r["build"], r["exec"])]), 4) for op, r in per_op.items()
    }

    if tr is None:
        return
    for op, rec in per_op.items():
        ctx.layers[f"queries.{op}.build_s"] = stats.median(rec["build"])
        ctx.layers[f"queries.{op}.exec_s"] = stats.median(rec["exec"])
        ctx.layers[f"queries.{op}.jobs"] = stats.median(rec["jobs"])
        ctx.layers[f"queries.{op}.stages"] = stats.median(rec["stages"])
        ctx.layers[f"queries.{op}.tasks"] = stats.median(rec["tasks"])
    ctx.layers["operators.cached_rdds_at_action"] = sum(stats.median(rec["cached"]) for rec in per_op.values())
    ctx.report["cached_rdds_at_action"] = {op: stats.median(rec["cached"]) for op, rec in per_op.items()}
    spans = tr.spans
    summary = trace.summarize_spans(spans)
    for layer, s in summary["self_s"].items():
        if layer.startswith("operators."):
            ctx.layers[f"{layer}.self_s"] = s / passes
    for layer, j in summary["jobs"].items():
        if layer.startswith("operators."):
            ctx.layers[f"{layer}.jobs"] = j / passes
    ctx.layers["session.load_table_s"] = (
        sum(s["end"] - s["start"] for s in spans if s["name"] == "session.load_table") / passes
    )
    ctx.layers["session.table_cache_hit_ratio"] = loads["hits"] / loads["calls"] if loads["calls"] else 0.0
    # unattributed share: the part of an operation's wall time (build
    # plus action) spent in builder code outside every traced
    # operator and load_table call, i.e. the query builder's own loop
    share: dict[str, list] = {op: [] for op in ops}
    builds = {s["op"]: s for s in spans if s["name"].endswith(".build")}
    execs = {s["op"]: s for s in spans if s["name"].endswith(".exec")}
    for group, b in builds.items():
        e = execs.get(group)
        if e is None:
            continue
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == b["id"]]
        b_wall = b["end"] - b["start"]
        wall = b_wall + (e["end"] - e["start"])
        share[group.split("-", 2)[2]].append(stats.unattributed_share(b_wall, kids) * b_wall / wall)
    ctx.report["unattributed_share"] = {op: round(stats.median(v), 4) for op, v in share.items() if v}
