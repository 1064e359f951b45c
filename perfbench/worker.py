"""One workload in one fresh process: ``python3 perfbench/worker.py
<args.json>``. perfbench/run.py starts it; it writes ``result.json``
into its run directory."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, stats, trace  # noqa: E402


def main(args_path: str) -> None:
    with open(args_path) as f:
        args = json.load(f)
    ctx = common.Ctx(args)
    if ctx.workload in ("olap_10x", "corpus_curation"):
        from perfbench import wl_queries as wl
    elif ctx.workload == "array_zarr":
        from perfbench import wl_array as wl
    else:
        from perfbench import wl_stream as wl
    ctx.start_session()
    try:
        wl.run(ctx)
        if ctx.traced:
            ctx.action_overhead()
    except Exception:
        ctx.errors.append(traceback.format_exc()[-2000:])
    rss = common.peak_rss_mb()
    ctx.spark.stop()
    t0_ms, t1_ms = ctx.window[0] * 1000.0, ctx.window[1] * 1000.0
    if ctx.traced:
        engine, records = trace.event_log_metrics(ctx.event_dir, t0_ms, t1_ms, ctx.cores)
        ctx.layers.update(engine)
        if hasattr(wl, "from_event_log"):
            wl.from_event_log(ctx, records)
    if not ctx.samples:  # the run broke before its first timed operation
        ctx.errors.append("no timed operation completed")
        ctx.attempted = ctx.failed = max(1, ctx.attempted)
    p50, _ = stats.percentile(ctx.samples or [0.0], 50)
    p90, above = stats.percentile(ctx.samples or [0.0], 90)
    e2e = {
        "setup_s": ctx.window[0] - args["t_spawn"],
        "latency_p50_s": p50,
        "latency_p90_s": p90,
        "throughput_rows_s": ctx.rows / ctx.busy if ctx.busy else 0.0,
        "peak_rss_mb": rss,
        "error_rate": ctx.failed / ctx.attempted if ctx.attempted else 1.0,
    }
    e2e.update(ctx.report.pop("e2e_extra", {}))
    ctx.report.update(samples=len(ctx.samples), samples_above_p90=above, measured_s=ctx.window[1] - ctx.window[0])
    result = {
        "correct": not ctx.errors and ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "e2e": e2e,
        "layers": ctx.layers,
        "report": ctx.report,
        "errors": ctx.errors,
    }
    with open(os.path.join(ctx.run_dir, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
    # the session is stopped and the result written: skip interpreter
    # teardown, which waits on the JVM; perfbench/run.py kills what is
    # left of the process group
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
