"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
(once per seed, cached under ``.perfbench/inputs``), then each
workload runs in a fresh worker process with its own Spark session.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0

# Input sizes per workload, in rows; olap_10x replicates its base 10x.
PROFILES = {
    "olap_10x": dict(supplier=100, customer=1500, part=2000, orders=15000, lineitem=60000, events=10000, documents=500, embeddings=500),
    "corpus_curation": dict(supplier=10, customer=150, part=200, orders=1500, lineitem=6000, events=1000, documents=500, embeddings=500),
    "array_zarr": dict(matrix=4000),
    "events_stream": dict(events=100000),
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def settings() -> dict[str, str]:
    """Sizing for this box, exported to the worker and printed."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    local = os.path.join(SCRATCH, "spark-local")
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(2, min(6, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": ROOT,
        # no JVM perf-data file in the system temp dir
        "SPARK_GRAFT_JVM_OPTS": "-XX:-UsePerfData",
    }


def make_inputs(workload: str, seed: int) -> str:
    """Generate (or reuse) the inputs of one workload for one seed."""
    from perfbench import gen

    import hashlib

    prof = PROFILES[workload]
    # the key covers all that shapes the inputs: sizes, the entries the
    # oracle runs, and the generator code (file size, file count, ...)
    key = hashlib.sha1(json.dumps(prof, sort_keys=True).encode())
    if workload in ("olap_10x", "corpus_curation"):
        from perfbench import wl_queries

        key.update(json.dumps(wl_queries.ops_for(workload)).encode())
    for src in ("gen.py", "wl_stream.py"):
        with open(os.path.join(ROOT, "perfbench", src), "rb") as f:
            key.update(f.read())
    tag = key.hexdigest()[:8]
    out = os.path.join(SCRATCH, "inputs", f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info: dict = {"workload": workload, "seed": seed, "sizes": prof}
    if workload in ("olap_10x", "corpus_curation"):
        from perfbench import wl_queries

        names = list(gen.TABLE_IDS)[:10]
        if workload == "olap_10x":
            tables = gen.replicate(seed, gen.base_tables(seed, prof, names))
        else:
            tables = gen.base_tables(seed, prof, names)
        fixture = os.path.join(tmp, "fixture")
        gen.write_tables(tables, fixture)
        info["table_rows"] = {k: v.num_rows for k, v in tables.items()}
        info["oracle"] = wl_queries.oracle_hashes(fixture, wl_queries.ops_for(workload))
    elif workload == "array_zarr":
        import numpy as np

        np.save(os.path.join(tmp, "matrix.npy"), gen.count_matrix(seed, prof["matrix"]))
    else:
        from perfbench import wl_stream

        info.update(wl_stream.make_files(seed, prof["events"], os.path.join(tmp, "files")))
    info["content_hash"] = gen.content_hash(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _reap(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_workload(workload: str, seed: int, seconds: int, traced: bool, env: dict) -> dict:
    t_begin = time.time()
    inputs = make_inputs(workload, seed)
    run_dir = os.path.join(SCRATCH, "runs", f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_spawn = time.time()
    args = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": traced,
        "inputs": inputs,
        "run_dir": run_dir,
        "t_spawn": t_spawn,
    }
    # temp files of Python and the JVM stay in the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {**env, "TMPDIR": tmp, "SPARK_GRAFT_JVM_OPTS": f"{env['SPARK_GRAFT_JVM_OPTS']} -Djava.io.tmpdir={tmp}"}
    args_path = os.path.join(run_dir, "args.json")
    with open(args_path, "w") as f:
        json.dump(args, f)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), args_path],
            cwd=ROOT,
            env={**os.environ, **env},
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: the worker's JVM and Python workers go too
            _reap(proc.pid)
            proc.wait()
    res_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(res_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        _fail(f"{workload}: worker produced no result (exit {proc.returncode})\n{tail}")
    with open(res_path) as f:
        res = json.load(f)
    with open(os.path.join(inputs, "manifest.json")) as f:
        res["input_hash"] = json.load(f)["content_hash"]
    shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(SCRATCH, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{workload}-s{seed}-t{int(traced)}.json"), "w") as f:
        json.dump(res, f)
    return res


def print_report(workload: str, seed: int, traced: bool, res: dict, env: dict) -> None:
    from perfbench.metrics import END_TO_END, PER_LAYER, REPORT_ONLY

    rep = res["report"]
    print(f"== {workload}  seed={seed}  trace={int(traced)}  inputs={res['input_hash']}")
    print("   settings: " + " ".join(f"{k}={v}" for k, v in env.items()))
    print(f"   samples={rep['samples']} (above p90: {rep['samples_above_p90']}) measured_s={rep['measured_s']:.2f}")
    units = {n: u for n, u, *_ in END_TO_END} | dict(REPORT_ONLY)
    for name, unit in units.items():
        v = res["e2e"].get(name)
        print(f"   {name:<20} {'n/a' if v is None else f'{v:.6g}'} {unit}")
    for k, v in rep.items():
        if k not in ("samples", "samples_above_p90", "measured_s"):
            print(f"   {k}: {json.dumps(v)}")
    if traced:
        for name, unit, _ in PER_LAYER:
            if name in res["layers"]:
                print(f"   {name:<48} {res['layers'][name]:.6g} {unit}")
        base = os.path.join(SCRATCH, "results", f"{workload}-s{seed}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                p50 = json.load(f)["e2e"]["latency_p50_s"]
            print(f"   tracing overhead (latency_p50_s traced - untraced): {res['e2e']['latency_p50_s'] - p50:+.4f} s")
        else:
            print("   tracing overhead: n/a (run --trace 0 with this seed first)")
    for e in res["errors"]:
        print(f"   error: {e}")


def result_line(res: dict, traced: bool) -> dict:
    from perfbench.metrics import END_TO_END, PER_LAYER

    if traced:
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u, *_ in END_TO_END}
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("zappy_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"run from the repository root: {need} not found")
    sys.path.insert(0, ROOT)
    from perfbench.metrics import EXTRA_WORKLOADS, WORKLOADS

    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS and n not in EXTRA_WORKLOADS for n in names):
        _fail(f"unknown workload {a.workload!r}; choose from {', '.join([*WORKLOADS, *EXTRA_WORKLOADS])} or all")
    env = settings()
    lines = []
    for name in names:
        res = run_workload(name, a.seed, a.seconds, bool(a.trace), env)
        print_report(name, a.seed, bool(a.trace), res, env)
        lines.append(result_line(res, bool(a.trace)))
    if len(lines) == 1:
        out = lines[0]
    else:
        out = {
            "correct": all(x["correct"] for x in lines),
            "attempted": sum(x["attempted"] for x in lines),
            "failed": sum(x["failed"] for x in lines),
            "metrics": {f"{n}.{k}": v for n, x in zip(names, lines) for k, v in x["metrics"].items()},
        }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
