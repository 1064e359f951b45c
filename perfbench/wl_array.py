"""array_zarr: the paper's own workload. Each pass writes the seeded
count matrix as three stores (zarr v2 zlib, zarr v2 lz4, zarr v3
sharded) through ``ZappyFrame.from_ndarray``, then reads each back
with ``ZappyFrame.from_zarrlite``, runs the scanpy recipe and takes
one ``asndarray`` slice. Every result is checked against numpy."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import gen, stats, trace
from perfbench.metrics import ARRAY_FORMATS

CHUNK_ROWS = 2000
SHARD_ROWS = 4000
MIN_COUNTS = 4.0  # recipe: keep rows whose total count exceeds this
TARGET = 1e4  # recipe: normalize every kept row to this total
SLICE_ROWS = 256


def reference(X: np.ndarray) -> dict:
    keep = X.sum(axis=1) > MIN_COUNTS
    lg = np.log1p(X[keep] / X[keep].sum(axis=1, keepdims=True) * TARGET)
    return {"mean": lg.mean(axis=0), "var": lg.var(axis=0)}


def recipe(zf) -> tuple[np.ndarray, np.ndarray]:
    """filter rows by total count -> normalize_total -> log1p ->
    per-column mean and variance (scanpy's preprocessing recipe)."""
    kept = zf[zf.sum(axis=1) > MIN_COUNTS]
    lg = ((kept / kept.sum(axis=1)) * TARGET).log1p()
    return lg.mean(axis=0), lg.var(axis=0, ddof=0)


def write_store(spark, X: np.ndarray, fmt: str, path: str) -> None:
    from zappy_spark.frame import ZappyFrame
    from zappy_spark.sources.zarrlite import write_zarr_v3

    with trace.span("frame.from_ndarray", "frame"):
        zf = ZappyFrame.from_ndarray(spark, X)
    with trace.span(f"sources.{fmt}.write", "sources"):
        if fmt == "v3_shard":
            write_zarr_v3(zf.df, path, CHUNK_ROWS, zf.ncols, shard_rows=SHARD_ROWS)
        else:
            zf.to_zarr_v2(path, CHUNK_ROWS, compressor=fmt.split("_")[1])


def read_store(spark, path: str, lo: int, group: str | None):
    from zappy_spark.frame import ZappyFrame

    zf = ZappyFrame.from_zarrlite(spark, path)
    if group:  # traced: the recipe's jobs get a group of their own
        spark.sparkContext.setJobGroup(f"{group}-recipe", group)
        trace.TRACER.op = f"{group}-recipe"
    with trace.span("frame.recipe", "frame", count_jobs=True):
        mean, var = recipe(zf)
    if group:
        spark.sparkContext.setJobGroup(group, group)
        trace.TRACER.op = group
    with trace.span("frame.asndarray", "frame"):
        part = zf[lo : lo + SLICE_ROWS, :].asndarray()
    return mean, var, part


def decode_s(spark, path: str) -> float:
    """One full scan of a store: every chunk read and decoded once."""
    from zappy_spark.frame import ZappyFrame

    t0 = time.perf_counter()
    ZappyFrame.from_zarrlite(spark, path).df.selectExpr("sum(size(vec))").collect()
    return time.perf_counter() - t0


def _store_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run(ctx) -> None:
    spark, sc = ctx.spark, ctx.spark.sparkContext
    X = np.load(os.path.join(ctx.inputs, "matrix.npy"))
    n = X.shape[0]
    ref = reference(X)
    tr = trace.TRACER
    root = os.path.join(ctx.run_dir, "stores")

    def one_pass(p: int, timed: bool, keep: bool = False, reads: int = len(ARRAY_FORMATS)) -> None:
        pdir = os.path.join(root, f"p{p}")
        lo = int(np.random.default_rng([ctx.seed, p]).integers(0, n - SLICE_ROWS))
        ops = [("write", f) for f in gen.shuffled(ctx.seed, ARRAY_FORMATS, 2 * p)]
        ops += [("read", f) for f in gen.shuffled(ctx.seed, ARRAY_FORMATS, 2 * p + 1)][:reads]
        for kind, fmt in ops:
            path = os.path.join(pdir, fmt)
            group = f"p{p}-{kind}-{fmt}"
            if tr is not None and timed:
                sc.setJobGroup(group, group)
                tr.op = group
            t0 = time.perf_counter()
            try:
                if kind == "write":
                    with trace.span(group, "op"):
                        write_store(spark, X, fmt, path)
                    dt = time.perf_counter() - t0
                    ok = os.path.exists(os.path.join(path, "zarr.json" if fmt == "v3_shard" else ".zarray"))
                    sizes[fmt] = _store_bytes(path)
                else:
                    with trace.span(group, "op"):
                        mean, var, part = read_store(spark, path, lo, group if tr is not None and timed else None)
                    dt = time.perf_counter() - t0
                    ok = (
                        np.allclose(mean, ref["mean"], rtol=1e-9, atol=1e-9)
                        and np.allclose(var, ref["var"], rtol=1e-9, atol=1e-9)
                        and np.array_equal(part, X[lo : lo + SLICE_ROWS])
                    )
            except Exception as e:  # counted, never fatal
                dt, ok = time.perf_counter() - t0, False
                ctx.errors.append(f"{group}: {type(e).__name__}: {e}"[:300])
            if tr is not None:
                tr.op = None
            if timed:
                ctx.record(dt, n, ok, f"{group}: result differs from numpy")
                lat[(kind, fmt)].append(dt)
            elif not ok:
                ctx.errors.append(f"warm {group}: result differs from numpy")
        if not keep:
            shutil.rmtree(pdir, ignore_errors=True)

    sizes: dict[str, int] = {}
    lat: dict[tuple, list] = {(k, f): [] for k in ("write", "read") for f in ARRAY_FORMATS}
    # warm pass, part of set-up: every writer and one reader start up
    # (a read costs five writes, and the readers share their decode path)
    one_pass(0, timed=False, reads=1)
    if tr is not None:
        tr.spans.clear()
    t_start = time.time()
    ctx.window = (t_start, t_start)
    t_end, passes = time.perf_counter() + ctx.seconds, 0
    while passes == 0 or time.perf_counter() + pass_s <= t_end:
        if passes:
            shutil.rmtree(os.path.join(root, f"p{passes}"), ignore_errors=True)
        t_pass = time.perf_counter()
        passes += 1
        one_pass(passes, timed=True, keep=tr is not None)
        pass_s = time.perf_counter() - t_pass
    ctx.window = (t_start, time.time())

    nbytes = X.nbytes
    ctx.report["passes"] = passes
    ctx.report["matrix"] = f"{n}x{X.shape[1]} float64, {nbytes} bytes, {int((X == 0).mean() * 100)}% zeros"
    ctx.report["e2e_extra"] = {"write_amp": sum(sizes.values()) / (len(sizes) * nbytes)}
    ctx.report["write_p50_s"] = {f: round(stats.median(lat[("write", f)]), 4) for f in ARRAY_FORMATS}
    ctx.report["read_recipe_p50_s"] = {f: round(stats.median(lat[("read", f)]), 4) for f in ARRAY_FORMATS}
    if tr is None:
        return
    by_name: dict[str, list[float]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    med = {k: stats.median(v) for k, v in by_name.items()}
    for key in ("frame.from_ndarray", "frame.recipe", "frame.asndarray"):
        ctx.layers[f"{key}_s"] = med.get(key, 0.0)
    ctx.layers["frame.recipe_jobs"] = stats.median([len(s.get("jobs", ())) for s in tr.spans if s["name"] == "frame.recipe"])
    share: dict[str, list] = {}
    for op in (s for s in tr.spans if s["layer"] == "op"):
        kids = [(c["start"], c["end"]) for c in tr.spans if c["parent"] == op["id"]]
        share.setdefault(op["name"].split("-", 1)[1], []).append(stats.unattributed_share(op["end"] - op["start"], kids))
    ctx.report["unattributed_share"] = {k: round(stats.median(v), 4) for k, v in share.items()}
    ctx.matrix_rows = n
    for fmt in ARRAY_FORMATS:
        ctx.layers[f"sources.{fmt}.write_s"] = med.get(f"sources.{fmt}.write", 0.0)
        ctx.layers[f"sources.{fmt}.read_s"] = decode_s(spark, os.path.join(root, f"p{passes}", fmt))
        ctx.layers[f"sources.{fmt}.bytes_per_byte"] = sizes.get(fmt, 0) / nbytes


def from_event_log(ctx, records: dict[str, int]) -> None:
    """read_amp: chunk rows decoded per stored row over one recipe."""
    per = [r / ctx.matrix_rows for g, r in records.items() if g.endswith("-recipe")]
    ctx.layers["sources.read_amp"] = stats.median(per)
