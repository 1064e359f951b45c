"""What every workload process shares: the session, the clock, peak
memory and the result record it hands back to perfbench/run.py."""

from __future__ import annotations

import json
import os
import resource
import time

from perfbench import stats, trace


class Ctx:
    """One workload process: arguments, session and collected numbers."""

    def __init__(self, args: dict):
        self.args = args
        self.workload = args["workload"]
        self.seed = args["seed"]
        self.seconds = args["seconds"]
        self.traced = bool(args["trace"])
        self.inputs = args["inputs"]
        self.run_dir = args["run_dir"]
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        with open(os.path.join(self.inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.samples: list[float] = []  # per-operation latency, s
        self.rows = 0  # input rows over the timed operations
        self.busy = 0.0  # seconds inside timed operations
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.window = (0.0, 0.0)  # wall clock of the timed window
        self.spark = None

    def start_session(self) -> None:
        from zappy_spark.session import get_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if self.traced:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_session(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t0
        if self.traced:
            trace.TRACER = trace.Tracer(self.spark.sparkContext)

    def record(self, latency: float, rows: int, ok: bool, what: str = "") -> None:
        self.samples.append(latency)
        self.busy += latency
        self.rows += rows
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def action_overhead(self, n: int = 7) -> None:
        xs = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).collect()
            xs.append(time.perf_counter() - t0)
        self.layers["session.action_overhead_s"] = stats.median(xs)


def jvm_pid() -> int | None:
    """The session's JVM: the java child of this process."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[1] != me:
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return int(pid)
        except OSError:
            continue
    return None


def peak_rss_mb() -> float:
    """Peak resident memory of the session's JVM plus this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0
