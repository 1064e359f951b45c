"""events_stream: an open loop. A generator thread drops seed-ordered
slices of the 10x ``events`` table as parquet files into a watched
directory on a fixed schedule, stepping through a few fixed rates.
The files feed ``streaming/jobs.py::stream_events`` into
``tumbling_with_watermark`` and ``windowed_distinct_users`` in append
mode. A file's latency runs from when it was due to the commit of
the micro-batch that holds it, in both queries."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen, stats

# Small files: below saturation a trigger takes about as long for 50
# rows as for 1000, so more files per second add samples, not load
FILE_ROWS = 50
N_FILES = 400
WARM_FILES = 6
MAX_LATE_S = 45 * 60  # event-time disorder the file order may add (< 1 h watermark)
# (files per second, share of --seconds). The first step is the
# reference rate, 500 events/s: the only step whose files give the
# latencies. A rate sweep on 4 cores (6 s per step, 250 to 3000
# events/s) kept latency flat up to 500 events/s and found the knee
# between 1000 and 1500 events/s, where the backlog starts to grow.
# The later steps, 1000 and 2000 events/s, straddle that knee and
# only probe for max_rate_eps.
STEPS = [(10.0, 0.7), (20.0, 0.15), (40.0, 0.15)]
# 1.5 times the p90 of the unsaturated steps of that sweep (about
# 2 s: a file waits for the running micro-batch, then its own)
P90_LIMIT_S = 3.0
SENTINEL_TS = dt.datetime(2030, 1, 1)


def make_files(seed: int, base_events: int, out_dir: str) -> dict:
    """Slice the seeded 10x events table, in (ts, event_id) order, into
    files of FILE_ROWS rows; the seed then swaps adjacent files where
    that keeps event-time disorder under MAX_LATE_S, so the watermark
    drops no row and the drained result must equal the batch twins."""
    ev = gen.replicate(seed, gen.base_tables(seed, {"events": base_events}, ["events"]))["events"]
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    # UTC-adjusted timestamps, as Spark writes them: the stream reads
    # ts as TIMESTAMP (LTZ), which event-time operators need
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    n_files = min(N_FILES, ev.num_rows // FILE_ROWS)
    slices = [ev.slice(i * FILE_ROWS, FILE_ROWS) for i in range(n_files)]
    ts = [s.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64) for s in slices]
    order = list(range(n_files))
    r = np.random.default_rng([seed, gen.TABLE_IDS["order"], 7])
    i = WARM_FILES
    while i < n_files - 1:
        a, b = order[i], order[i + 1]
        if r.random() < 0.5 and (ts[b].max() - ts[a].min()) / 1e6 < MAX_LATE_S:
            order[i], order[i + 1] = b, a
            i += 2
        else:
            i += 1
    os.makedirs(out_dir)
    for k, src in enumerate(order):
        pq.write_table(slices[src], os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return {"file_rows": [FILE_ROWS] * n_files, "file_order": order}


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _batches(progress: list[dict], t0: float) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0 and _epoch(p["timestamp"]) >= t0]


def check(spark, fed_root: str, tumbling, distinct) -> list[str]:
    """Drained streams against a full batch aggregate of every fed
    file (per-window count and distinct users, no limit) and against
    their batch twins ``s1_tumbling_window`` and ``s13_window_distinct``
    over the same files, under the equivalence tests/test_streaming.py
    pins (append mode; the sentinel row closes every window). The twins
    keep only their first 50 and 100 windows; the full aggregate
    covers the rest."""
    from pyspark.sql import functions as F

    from zappy_spark.queries import QUERIES

    def real(rows, val):
        return {(r["w"], r["event_type"]): r[val] for r in rows if r["w"] < SENTINEL_TS}

    got_c = real(tumbling.collect(), "c")
    got_d = real(distinct.collect(), "du")
    full = (
        spark.read.parquet(os.path.join(fed_root, "events.parquet"))
        .groupBy(F.window("ts", "1 hour").start.alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.countDistinct("user_id").alias("du"))
        .collect()
    )
    s1 = real(QUERIES["s1_tumbling_window"](spark, fed_root).collect(), "c")
    s13 = real(QUERIES["s13_window_distinct"](spark, fed_root).collect(), "du")
    errs = []
    if got_c != real(full, "c") or any(got_c.get(k) != v for k, v in s1.items()):
        errs.append("tumbling_with_watermark differs from the batch count per window")
    if got_d != real(full, "du") or any(got_d.get(k) != v for k, v in s13.items()):
        errs.append("windowed_distinct_users differs from the batch distinct count per window")
    return errs


class ProgressLog(StreamingQueryListener):
    """Traced run: records every micro-batch's progress as JSON."""

    def __init__(self):
        self.events: list[str] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress.json)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def run(ctx) -> None:
    import json

    from zappy_spark.streaming import jobs

    spark = ctx.spark
    src = os.path.join(ctx.inputs, "files")
    files = sorted(os.listdir(src))
    rows_per_file = ctx.manifest["file_rows"]
    fed_root = os.path.join(ctx.run_dir, "fed")
    watched = os.path.join(fed_root, "events.parquet")
    os.makedirs(watched)
    dropped: list[float] = []

    def drop(k: int) -> None:
        tmp = os.path.join(watched, f".{files[k]}.tmp")
        shutil.copyfile(os.path.join(src, files[k]), tmp)
        os.replace(tmp, os.path.join(watched, files[k]))

    listener = ProgressLog()
    if ctx.traced:
        spark.streams.addListener(listener)
    drop(0)
    queries = []
    for name, build in (("tumbling", jobs.tumbling_with_watermark), ("distinct", jobs.windowed_distinct_users)):
        q = (
            build(jobs.stream_events(spark, watched, max_files_per_trigger=1000))
            .writeStream.format("memory")
            .queryName(f"pb_{name}")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(ctx.run_dir, "ckpt", name))
            .start()
        )
        queries.append(q)
    for k in range(WARM_FILES):  # warm: untimed batches, set-up
        if k:
            drop(k)
        for q in queries:
            q.processAllAvailable()

    steps = [(rate, share * ctx.seconds) for rate, share in STEPS]
    t_start = time.time()
    sched = stats.schedule(steps, start=t_start + 0.05)
    sched = sched[: len(files) - WARM_FILES]
    due = [d for d, _ in sched]
    ctx.window = (t_start, t_start)

    def generator() -> None:
        for i, d in enumerate(due):
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            drop(WARM_FILES + i)
            dropped.append(time.time())

    g = threading.Thread(target=generator, daemon=True)
    g.start()
    g.join()
    # drain: wait until both queries have consumed every timed file
    want = sum(rows_per_file[: WARM_FILES + len(due)])
    limit = time.time() + 30
    while time.time() < limit:
        if all(sum(p["numInputRows"] for p in q.recentProgress) >= want for q in queries):
            break
        time.sleep(0.05)
    ctx.window = (t_start, time.time())

    progress = [[json.loads(p.json) for p in q.recentProgress] for q in queries]
    timed_rows = rows_per_file[WARM_FILES : WARM_FILES + len(due)]
    commits = []
    busy = rows = 0.0
    for prog in progress:
        b = _batches(prog, t_start)
        commits.append(stats.commit_times(timed_rows, [(_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0, p["numInputRows"]) for p in b]))
        busy += sum(p["durationMs"]["triggerExecution"] for p in b) / 1000.0
        rows += sum(p["numInputRows"] for p in b)
    committed = [None if None in cs else max(cs) for cs in zip(*commits)]
    acc = stats.lateness(due, dropped, committed)
    per_step = stats.step_summary(steps, sched, acc, committed, t_start + 0.05, P90_LIMIT_S)
    # latency is the reference step's alone: the probe steps run near
    # saturation, where queueing swings with the host's speed
    ctx.samples += per_step[0]["latency"]
    ctx.attempted = len(due)
    ctx.failed = acc["uncommitted"]
    if acc["uncommitted"]:
        ctx.errors.append(f"{acc['uncommitted']} files never committed")
    ctx.rows, ctx.busy = int(rows), busy

    # max_rate_eps: highest step whose backlog stayed flat and whose
    # files met the p90 limit
    ok_rates = [st["rate"] * FILE_ROWS for st in per_step if st["ok"]]
    ctx.report["e2e_extra"] = {"max_rate_eps": max(ok_rates, default=0.0)}
    ctx.report["steps"] = [
        {
            "offered_eps": st["rate"] * FILE_ROWS,
            "files": st["files"],
            "p50_s": round(stats.median(st["latency"]), 4),
            "p90_s": round(st["p90_s"], 4),
            "backlog_files_at_end": st["backlog_files"],
            "gen_late_max_s": round(st["gen_late_max_s"], 4),
        }
        for st in per_step
    ]

    # drain with a far-future sentinel row, then compare with the
    # batch twins
    schema = pq.read_schema(os.path.join(src, files[0]))
    sentinel = pa.table(
        [[10**12], [SENTINEL_TS.replace(tzinfo=dt.timezone.utc)], [10**12], ["view"], [0.0], ["{}"]], schema=schema
    )
    pq.write_table(sentinel, os.path.join(watched, ".sentinel.tmp"))
    os.replace(os.path.join(watched, ".sentinel.tmp"), os.path.join(watched, "zz-sentinel.parquet"))
    for q in queries:
        q.processAllAvailable()
    state_rows = sum(op["numRowsTotal"] for prog in progress for op in (prog[-1].get("stateOperators") or []))
    state_mb = sum(op["memoryUsedBytes"] for prog in progress for op in (prog[-1].get("stateOperators") or [])) / 2**20
    for q in queries:
        q.stop()
    wrong = check(spark, fed_root, spark.table("pb_tumbling"), spark.table("pb_distinct"))
    if wrong:  # no timed file's contribution can be trusted
        ctx.errors += wrong
        ctx.failed = ctx.attempted
    ctx.report["files_timed"] = len(due)
    ctx.report["file_rows"] = FILE_ROWS

    wal = os.path.join(ctx.run_dir, "ckpt")
    fed_bytes = sum(os.path.getsize(os.path.join(watched, f)) for f in os.listdir(watched))
    ckpt_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(wal) for f in fs)
    ctx.report["e2e_extra"]["write_amp"] = ckpt_bytes / fed_bytes

    if not ctx.traced:
        return
    recs = [json.loads(p) for p in listener.events]
    b = [p for p in recs if p["numInputRows"] > 0 and t_start <= _epoch(p["timestamp"]) <= ctx.window[1]]

    def med(key):
        return stats.median([p["durationMs"].get(key, 0) / 1000.0 for p in b])

    # a trigger's time outside its named phases
    phases = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "getBatch")
    ctx.report["unattributed_share"] = round(
        stats.median(
            [
                max(0, p["durationMs"]["triggerExecution"] - sum(p["durationMs"].get(k, 0) for k in phases))
                / max(1, p["durationMs"]["triggerExecution"])
                for p in b
            ]
        ),
        4,
    )

    ctx.layers.update(
        {
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.latest_offset_s": med("latestOffset"),
            "streaming.rows_per_batch": stats.median([p["numInputRows"] for p in b]),
            "streaming.state_rows": state_rows,
            "streaming.state_mb": state_mb,
            "streaming.backlog_files": max(st["backlog_files"] for st in per_step),
            "streaming.gen_late_s": max(acc["gen_late"], default=0.0),
        }
    )
