"""Structured Streaming jobs over the ``events`` stream (SURVEY §2.4).

The reference is batch-only (zappy has no streaming surface); this is
the beyond-reference streaming tier. Design rule: every streaming
transformation here is the SAME logical plan as its batch twin in
``zappy_spark.queries.events_ops`` — Structured Streaming's
incrementalization guarantees the complete-mode result converges to
the batch result once the stream is drained, and
tests/test_streaming.py asserts exactly that equivalence.

At scale: sources become Kafka/file-drop directories; state stores
(RocksDB provider) hold window/session/dedup state keyed by group;
watermarks bound state size — without one, an unbounded-key agg
grows state forever (that is the 100 TB failure mode, and why
``tumbling_with_watermark`` is the production form of
``tumbling_counts``).

Snapshot state (every ``*_apply_batch`` twin, ``incremental_upsert``,
``incremental_hll`` and ``streaming_weighted_sample``) follows one
protocol, ``_commit``: each non-empty micro-batch reads the committed
revision, merges its partial into it, writes a NEW ``rev=<batch_id>``
directory (``rev=<id>/<table>`` for multi-table state) and then swaps
the ``_LATEST`` pointer atomically (a temp file renamed over it with
``os.replace``), so readers only ever see a complete revision.
At-least-once redelivery is absorbed by a guard that skips any batch
id at or below ``_LATEST``. That guard is only sound with the durable
``<state_path>_ckpt`` checkpoint that ``_start`` always sets (see
there).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from zappy_spark.session import load_table


def _replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int,
    table: str,
    *order: str,
) -> None:
    """Write ``table`` as ``n_files`` parquet files of consecutive
    rows in ``order``, one file after the other, so a file-source
    stream (which triggers by modification time) replays them in
    that order."""
    # One distributed sort, checkpointed. Its range partitions are in
    # key order and monotonically_increasing_id is (partition << 33) +
    # row-in-partition, so _i increases along the sort; the partition
    # sizes turn a rank into its _i.
    ranked = (
        load_table(spark, sf_dir, table)
        .orderBy(*order)
        .withColumn("_i", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    sizes = (
        ranked.groupBy(F.shiftright("_i", 33).alias("p"))
        .count()
        .orderBy("p")
        .collect()
    )

    def at(rank: int) -> int:
        for p, c in sizes:
            if rank < c:
                return (p << 33) + rank
            rank -= c
        return (sizes[-1][0] + 1) << 33 if sizes else 0

    per = (sum(c for _, c in sizes) + n_files - 1) // n_files
    bounds = [at(i * per) for i in range(n_files + 1)]
    for lo, hi in zip(bounds, bounds[1:]):
        (
            ranked.filter((F.col("_i") >= lo) & (F.col("_i") < hi))
            .drop("_i")
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )


def replay_events_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Materialize ``events`` as ``n_files`` time-ordered parquet
    files so a file-source stream replays them in event-time order
    (file source triggers by modification time; we write
    sequentially). The nanos→micros repair happens here, so the
    replay dir holds clean timestamps."""
    _replay_dir(spark, sf_dir, out_dir, n_files, "events", "ts", "event_id")


def stream_events(
    spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Open the replay directory as a file-source stream, one file
    per micro-batch."""
    schema = spark.read.parquet(replay_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )


# -- transformations (same plans as the batch S-series) -------------------


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """S1 twin: tumbling 1h window agg (complete mode, no watermark —
    test-only; production uses tumbling_with_watermark)."""
    return (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("s"))
        .select(F.col("window.start").alias("w"), "event_type", "c", "s")
    )


def variant_window_stats(stream: DataFrame) -> DataFrame:
    """S14 twin: tumbling 1h window stats over a VARIANT-extracted
    typed field — ``parse_json``/``variant_get`` run inside the
    streaming stateful aggregate (parse-once semantics per arriving
    row, state keyed on the window). Complete mode for the
    equivalence test; watermarked append in production."""
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.round(F.avg(k), 3).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .select(F.col("window.start").alias("w"), "event_type", "avg_k", "max_k")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """S3 twin: session windows per user (requires a watermark in
    append mode; complete mode used for the equivalence test)."""
    return stream.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count("*").alias("n")
    )


def session_spans(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """S11 twin: per-session span facts — event count and max(ts)
    (the active-span end; session_window.start is min(ts)). The
    session-merge state machine is Spark's session_window; complete
    mode for the equivalence test, watermarked append in
    production."""
    return stream.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count("*").alias("n"), F.max("ts").alias("mx")
    )


def dynamic_session_counts(
    stream: DataFrame,
    gaps: dict[str, str] | None = None,
    default: str = "30 minutes",
) -> DataFrame:
    """S18 twin: session windows whose gap is a PER-EVENT expression
    (``session_window`` with a Column gap — each event extends the
    session by its own type's timeout; e.g. an 'error' only holds a
    session open 5 minutes while normal activity holds 30). The
    merge state machine is Spark's native dynamic session window;
    state per live session, evicted by watermark in production
    (complete mode in the equivalence test). The batch twin's oracle
    replays the merge as running-max-of-window-end gaps-and-islands.
    """
    gaps = gaps if gaps is not None else {"error": "5 minutes"}
    gap = F.lit(default)
    for typ, g in gaps.items():
        gap = F.when(F.col("event_type") == typ, F.lit(g)).otherwise(gap)
    return stream.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count("*").alias("n")
    )


def dedup_first(stream: DataFrame) -> DataFrame:
    """S4 twin: streaming dropDuplicates keeps the first arrival per
    key; the replay writes files in (ts, event_id) order so arrival
    order == event-time order."""
    return stream.dropDuplicates(["user_id", "event_type"])


def dedup_bucket_first(stream: DataFrame, delay: str = "1 hour") -> DataFrame:
    """S9 twin: keep-first per (user_id, event_type, hour-bucket) via
    ``dropDuplicatesWithinWatermark`` — unlike plain dropDuplicates,
    the state for a bucket's key is EVICTED once the watermark passes
    it, so state size is bounded by keys × active buckets, not keys ×
    stream lifetime. Bucketing by event time (not arrival chains)
    makes the kept set deterministic and equal to the batch twin when
    files replay in (ts, event_id) order."""
    return (
        stream.withWatermark("ts", delay)
        .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "bucket"])
    )


def windowed_distinct_users(
    stream: DataFrame, delay: str = "1 hour"
) -> DataFrame:
    """S13 twin: EXACT distinct users per tumbling hour × type,
    incrementally. COUNT(DISTINCT) is not an incremental aggregate,
    so the streaming spelling chains two stateful operators (Spark
    ≥3.4 multi-stateful support): watermarked ``dropDuplicates`` on
    (user, type, hour-bucket) — one state row per distinct key,
    evicted when the watermark passes its bucket — feeding a
    windowed COUNT(*). State is |distinct keys per live window|,
    never a per-window user set; the unbounded-cardinality fallback
    is ``incremental_hll``. Append mode: windows emit once final."""
    return (
        stream.withWatermark("ts", delay)
        .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .dropDuplicates(["user_id", "event_type", "bucket"])
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("du"))
        .select(F.col("window.start").alias("w"), "event_type", "du")
    )


def enrich_with_static(stream: DataFrame, nation: DataFrame) -> DataFrame:
    """S5 twin: stream ⋈ broadcast static dimension."""
    return (
        stream.join(
            F.broadcast(nation),
            (F.col("user_id") % 25).cast("int") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("s"))
    )


def tumbling_with_watermark(stream: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Production tumbling agg: watermark bounds state and drops
    late rows (append mode emits a window only once it finalizes)."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").alias("w"), "event_type", "c")
    )


# -- custom stateful operator (applyInPandasWithState) ---------------------

_RUNNING_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
    ]
)
_RUNNING_STATE = StructType([StructField("n", LongType())])


def _running_count_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def running_count_stateful(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful op via applyInPandasWithState (PySpark's
    mapGroupsWithState surface): running per-user event count,
    emitting the updated total each micro-batch. The zappy-analog
    escape hatch for streaming: arbitrary pandas per group + explicit
    state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _running_count_fn,
        outputStructType=_RUNNING_OUT,
        stateStructType=_RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ANOM_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_seen", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
        StructField("n_anom", LongType()),
    ]
)
_ANOM_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
        StructField("n_anom", LongType()),
    ]
)


def _anomaly_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Welford/Chan merge of per-batch moments into state. Events are
    scored against the state as of the START of the micro-batch
    (|v-mean| > 2σ with ≥8 priors), so within-batch row order never
    matters; the moment merge itself is exact regardless of how the
    stream is split into batches (pinned by the replay test)."""
    import numpy as np

    n, mean, m2, n_anom = (
        tuple(state.get) if state.exists else (0, 0.0, 0.0, 0)
    )
    for pdf in pdfs:
        v = pdf["value"].to_numpy(dtype=float)
        bn = len(v)
        if bn == 0:
            continue
        if n >= 8 and m2 > 0:
            std = (m2 / (n - 1)) ** 0.5
            n_anom += int((np.abs(v - mean) > 2 * std).sum())
        bmean = float(v.mean())
        bm2 = float(((v - bmean) ** 2).sum())
        delta = bmean - mean
        tot = n + bn
        mean = mean + delta * bn / tot
        m2 = m2 + bm2 + delta * delta * n * bn / tot
        n = tot
    state.update((n, mean, m2, n_anom))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_seen": [n],
            "mean": [mean],
            "m2": [m2],
            "n_anom": [n_anom],
        }
    )


def anomaly_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the s12 rolling-anomaly shape: per
    event_type running moments + anomaly counter via
    applyInPandasWithState. The batch query scores against a
    trailing 1-hour window; the streaming form scores against
    all-history state (the production variant would reset state on a
    timer via GroupStateTimeout) — what the replay test pins is the
    part that must be exact: the distributed moment merge."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("event_type").applyInPandasWithState(
        _anomaly_fn,
        outputStructType=_ANOM_OUT,
        stateStructType=_ANOM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
    ]
)
_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)
_DAY_US = 24 * 3600 * 1_000_000


def _funnel_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-user funnel state machine (signup → click ≤24h → purchase
    ≤24h): timestamps as integer micros, 0 = stage not reached.
    Under event-time-ordered replay the first qualifying event IS
    the batch twin's MIN, so the drained machine equals r66's nested
    min-aggregates exactly."""
    t1, t2, t3 = tuple(state.get) if state.exists else (0, 0, 0)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64") // 1000
        for t, et in zip(ts_us, rows["event_type"]):
            t = int(t)
            if et == "signup" and t1 == 0:
                t1 = t
            elif (
                et == "click"
                and t1 != 0
                and t2 == 0
                and t1 < t <= t1 + _DAY_US
            ):
                t2 = t
            elif (
                et == "purchase"
                and t2 != 0
                and t3 == 0
                and t2 < t <= t2 + _DAY_US
            ):
                t3 = t
    state.update((t1, t2, t3))
    stage = 3 if t3 else 2 if t2 else 1 if t1 else 0
    yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})


def funnel_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r66 conversion funnel: per-user stage
    machine via applyInPandasWithState. State is three integers per
    user (bounded by user cardinality, not stream length); each
    micro-batch emits the user's current stage, which is monotone —
    the drained maximum per user equals the batch funnel
    memberships."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_LOCF_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("h_us", LongType()),
        StructField("v_fill", DoubleType()),
    ]
)
_LOCF_STATE = StructType(
    [
        StructField("cur_hour_us", LongType()),
        StructField("cur_val", DoubleType()),
    ]
)
_HOUR_US = 3600 * 1_000_000


def _locf_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-key LOCF grid emitter. A slot emits only when its hour
    CLOSES (an event lands in a later hour) — never before, so a
    later same-hour event in a future micro-batch can't invalidate
    an emitted row. Closing hour H emits the last value seen ≤ end
    of H; skipped hours between events emit the carried value (the
    r64 LOCF semantics, incrementally). State is two numbers per
    key: (open hour, last value)."""
    cur_h, cur_v = (
        tuple(state.get) if state.exists else (-1, 0.0)
    )
    out_h: list[int] = []
    out_v: list[float] = []
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64") // 1000
        for t, v in zip(ts_us, rows["value"]):
            h = (int(t) // _HOUR_US) * _HOUR_US
            if cur_h < 0:
                cur_h = h
            while cur_h < h:
                out_h.append(cur_h)
                out_v.append(cur_v)
                cur_h += _HOUR_US
            cur_v = round(float(v), 2)
    state.update((cur_h, cur_v))
    yield pd.DataFrame({"user_id": key[0], "h_us": out_h, "v_fill": out_v})


def gap_fill_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r64 gap-fill: hourly LOCF slots emitted
    incrementally per user via applyInPandasWithState. Drained over
    an ordered replay it equals the batch spine+fill exactly (the
    equivalence test); state per key is (current grid hour, last
    value) — two numbers, independent of history length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _locf_fn,
        outputStructType=_LOCF_OUT,
        stateStructType=_LOCF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_MED_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("med10", DoubleType()),
    ]
)
_MED_STATE = StructType(
    [StructField("tail", ArrayType(DoubleType()))]
)


def _rolling_median_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-user trailing-10 median emitter. State is the last ≤10
    values in event order (one small array per key — bounded,
    history-independent); each arriving event appends, trims to 10,
    and emits the interpolating median of the current tail —
    numpy's even-count mean-of-middles matches the batch
    ``percentile(value, 0.5)`` exactly. Within a batch rows are
    sorted by (ts, event_id); cross-batch order is the replay's
    time-ordered file contract (same assumption every twin here
    documents)."""
    import numpy as np

    tail: list[float] = list(state.get[0]) if state.exists else []
    ids: list[int] = []
    vals: list[float] = []
    meds: list[float] = []
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        for eid, v in zip(rows["event_id"], rows["value"]):
            tail.append(float(v))
            if len(tail) > 10:
                tail.pop(0)
            ids.append(int(eid))
            vals.append(round(float(v), 2))
            meds.append(round(float(np.median(tail)), 4))
    state.update((tail,))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": ids,
            "value": vals,
            "med10": meds,
        }
    )


_ATTR_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("first_click", LongType()),
        StructField("last_click", LongType()),
    ]
)
_ATTR_STATE = StructType(
    [
        StructField("c_us", ArrayType(LongType())),
        StructField("c_id", ArrayType(LongType())),
    ]
)
_DAY7_US = 7 * 24 * 3600 * 1_000_000


def _attribution_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-user click ledger (clicks in the trailing 7 days, pruned
    as time advances — bounded state) + attribution emitter: each
    purchase emits the earliest and latest retained click with
    click_us ∈ [purchase_us − 7d, purchase_us) — exactly the batch
    RANGE frame [−7d, −1µs]. Ties on click_us break by event_id via
    (us, id) tuple ordering, matching the batch struct min/max."""
    c_us: list[int] = list(state.get[0]) if state.exists else []
    c_id: list[int] = list(state.get[1]) if state.exists else []
    out: dict[str, list] = {
        "event_id": [], "first_click": [], "last_click": []
    }
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        us_col = rows["ts"].astype("int64") // 1000
        for us, eid, et in zip(us_col, rows["event_id"], rows["event_type"]):
            us, eid = int(us), int(eid)
            lo = us - _DAY7_US
            while c_us and c_us[0] < lo:
                c_us.pop(0)
                c_id.pop(0)
            if et == "click":
                c_us.append(us)
                c_id.append(eid)
            elif et == "purchase":
                window = [
                    (u, i) for u, i in zip(c_us, c_id) if lo <= u < us
                ]
                first = min(window) if window else (None, None)
                last = max(window) if window else (None, None)
                out["event_id"].append(eid)
                out["first_click"].append(first[1])
                out["last_click"].append(last[1])
    state.update((c_us, c_id))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": pd.Series(out["event_id"], dtype="int64"),
            "first_click": pd.Series(out["first_click"], dtype="Int64"),
            "last_click": pd.Series(out["last_click"], dtype="Int64"),
        }
    )


def attribution_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r82 first/last-touch attribution: the
    per-user click ledger maintained incrementally via
    applyInPandasWithState; purchases emit credit the moment they
    arrive — the real-time attribution shape. State per key is the
    clicks of the last 7 days (time-pruned FIFO, bounded by click
    rate × window, independent of stream length); drained over an
    ordered replay it equals the batch RANGE-window spelling
    row-for-row (the equivalence test)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _attribution_fn,
        outputStructType=_ATTR_OUT,
        stateStructType=_ATTR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CUSUM_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("max_cusum", LongType()),
        StructField("n_alarms", LongType()),
    ]
)
_CUSUM_STATE = StructType(
    [
        StructField("ps", LongType()),
        StructField("mn", LongType()),
        StructField("mx", LongType()),
        StructField("alarms", LongType()),
    ]
)


def _cusum_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-user CUSUM state: running prefix sum ``ps``, its running
    minimum ``mn``, the max excursion ``mx`` and the alarm count —
    four BIGINTs per key, history-independent. Each batch is sorted
    by (ts, event_id) and folded with vectorized prefix ops
    (cumsum + minimum.accumulate); cents come from
    sign(v)*floor(|v|*100 + 0.5) — half AWAY FROM ZERO for either
    sign, matching the batch s20 / DuckDB ROUND(value*100) exactly
    (round-7 ADVICE fix: the earlier floor(v*100+0.5) was half
    toward +inf, silently diverging from the batch twin if the
    column ever went negative). Cross-batch order is the replay's
    time-ordered file contract (the same assumption every twin here
    documents)."""
    import numpy as np

    ps, mn, mx, alarms = (
        tuple(state.get) if state.exists else (0, 0, 0, 0)
    )
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        v = rows["value"].to_numpy(dtype=float)
        dx = (
            np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)
        ).astype(np.int64) - 5500
        p = ps + np.cumsum(dx)
        m = np.minimum.accumulate(np.minimum(p, mn))
        cusum = p - np.minimum(m, 0)
        ps = int(p[-1])
        mn = int(m[-1])
        mx = max(mx, int(cusum.max()))
        alarms += int((cusum >= 20000).sum())
    state.update((ps, mn, mx, alarms))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "max_cusum": [mx],
            "n_alarms": [alarms],
        }
    )


def cusum_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the s20 CUSUM drift monitor: the prefix-sum
    closed form maintained incrementally per user via
    applyInPandasWithState. Drained over an ordered replay, the
    final per-user (max_cusum, n_alarms) equals the batch two-window
    spelling exactly (both are exact BIGINT arithmetic); state per
    key is four integers — constant memory regardless of stream
    length, which is the point of the closed form: no window buffer,
    no replay."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _cusum_fn,
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rolling_median_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r80 rolling-median baseline: the
    trailing-10 median maintained incrementally per user via
    applyInPandasWithState. Drained over an ordered replay it equals
    the batch window spelling row-for-row (the equivalence test);
    state per key is one ≤10-element array, evicted FIFO — constant
    memory regardless of stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _rolling_median_fn,
        outputStructType=_MED_OUT,
        stateStructType=_MED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# applyInPandasWithState is the custom-state surface here because its
# successor, transformWithStateInPandas, crashes on pyspark 4.1.2
# ("TransformWithStateInPySpark driver worker exited unexpectedly")
# even on a minimal ValueState counter, before the first commit.


def interval_stream_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each click matched to purchases
    by the same user within ``within`` AFTER the click. Both sides
    watermarked so the join state is bounded — the canonical
    stream-stream pattern (state eviction driven by the interval
    condition + watermarks)."""
    c = clicks.withWatermark("ts", within).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {within}")),
    )


def interval_stream_join_outer(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """S10 twin: LEFT OUTER stream-stream interval join — clicks that
    never see a purchase within the interval still emit, with nulls,
    once the watermark passes ``c_ts + within`` (the null row cannot
    be decided earlier: a matching purchase might still arrive).
    State stays bounded exactly as in the inner form; the outer
    semantics only change WHEN unmatched rows emit, which is why a
    drain-to-end test needs a watermark-advancing sentinel event."""
    c = clicks.withWatermark("ts", within).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    )


def incremental_hll(
    stream: DataFrame, state_path: str, lgk: int = 12
) -> "Any":
    """Incremental distinct-user sketches via ``foreachBatch``: each
    micro-batch builds per-day partial HLL sketches (distributed JVM
    aggregate over just the batch) and unions them into the committed
    state table of (day, sketch binary).

    This is the streaming twin of ``operators.sketches.hll_build`` —
    and the reason sketches matter in a pipeline: merge cost is
    proportional to the state table (days × ~KB), independent of
    history size, so the nightly "distinct users ever" query never
    rescans the stream. The state is a rev-dir snapshot (``_commit``);
    at scale the same pattern targets a keyed state store or a
    transactional table format.

    Returns the started StreamingQuery; the caller drains/stops it.
    """

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = (
            batch_df.withColumn("day", F.to_date("ts"))
            .groupBy("day")
            .agg(F.hll_sketch_agg("user_id", lgk).alias("hll"))
        )
        return _merge(cur, part, ["day"], F.hll_union_agg("hll").alias("hll"))

    return _start(
        stream, state_path, lambda df, i: _commit(df, i, state_path, step)
    )


def incremental_upsert(
    stream: DataFrame,
    snapshot_path: str,
    keys: list[str],
    version_col: str,
) -> "Any":
    """CDC-apply: maintain a mutable snapshot from an append-only
    changelog stream. Each micro-batch merges into the current
    snapshot via ``operators.pipeline.upsert_snapshot`` (highest
    version per key wins) and commits a new ``rev=<batch_id>``
    revision (``_commit``) — the snapshot is never overwritten in
    place, so concurrent readers always see a complete revision
    (MVCC-lite; a transactional table format plays this role on
    object stores). Old revisions are retained (cheap time travel;
    clean up out-of-band). Returns the started StreamingQuery."""
    from zappy_spark.operators.pipeline import upsert_snapshot

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        base = cur if cur is not None else batch_df.limit(0)
        return upsert_snapshot(base, batch_df, keys, version_col)

    return _start(
        stream,
        snapshot_path,
        lambda df, i: _commit(df, i, snapshot_path, step),
    )


def streaming_scd2(
    stream: DataFrame,
    history_path: str,
    keys: list[str],
    ts_col: str,
) -> "Any":
    """Streaming SCD-2: maintain a FULL-history dimension from a
    change stream. Each micro-batch is pre-collapsed to its latest
    change per key (``upsert_snapshot`` semantics — scd2_apply
    assumes one change per key per batch), applied with
    ``scd2_apply``, and committed as a new revision — the
    audit-trail streaming twin of the SCD-1 ``incremental_upsert``."""
    return _start(
        stream,
        history_path,
        lambda df, i: scd2_apply_batch(df, i, history_path, keys, ts_col),
    )


def scd2_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    history_path: str,
    keys: list[str],
    ts_col: str,
) -> None:
    """One ``streaming_scd2`` micro-batch, module-level so the
    at-least-once replay guard is directly testable. scd2_apply is
    close-and-append, not max-version-wins, so a replay is NOT
    naturally absorbed: it would re-close and re-append the same
    versions if the guard let it through."""
    from zappy_spark.operators.pipeline import scd2_apply, upsert_snapshot

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        latest = upsert_snapshot(batch_df.limit(0), batch_df, keys, ts_col)
        if cur is None:
            attr = [c for c in batch_df.columns if c not in keys]
            cur = batch_df.limit(0).select(
                *keys,
                *[c for c in attr if c != ts_col],
                F.col(ts_col).alias("valid_from"),
                F.col(ts_col).alias("valid_to"),
            )
        return scd2_apply(cur, latest, keys, ts_col)

    _commit(batch_df, batch_id, history_path, step)


def replay_orders_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Materialize ``orders`` as ``n_files`` date-ordered parquet
    files — the changelog replay for the RFM streaming twin (same
    mechanism as ``replay_events_dir``)."""
    _replay_dir(
        spark, sf_dir, out_dir, n_files, "orders", "o_orderdate", "o_orderkey"
    )


def incremental_rfm_state(stream: DataFrame, state_path: str) -> "Any":
    """Streaming twin of r89's per-customer reduction (VERDICT r5
    item 8): maintain (o_custkey, lastd, freq, mon) from an orders
    changelog by MERGEABLE aggregation per micro-batch — max/count/
    sum are the same build-partials-merge-forever algebra the HLL
    and CMS state jobs ride, so merge cost is proportional to the
    customer state, never to history.

    The quintile GRID is deliberately not maintained here: global
    NTILE boundaries are not incrementally maintainable (one late
    order can shift every boundary), so the stream maintains the
    sufficient statistics and ``rfm_segments_from_state`` ranks the
    bounded customer state at read time through the exact batch
    code path (queries/relational.py::rfm_grid)."""
    return _start(
        stream, state_path, lambda df, i: rfm_apply_batch(df, i, state_path)
    )


def rfm_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_rfm_state`` micro-batch, module-level so
    the replay guard is directly testable: the merge is ADDITIVE
    (sum/count), so a replayed batch would double-count freq/mon."""

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = batch_df.groupBy("o_custkey").agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
        )
        return _merge(
            cur,
            part,
            ["o_custkey"],
            F.max("lastd").alias("lastd"),
            F.sum("freq").alias("freq"),
            F.sum("mon").cast("decimal(18,2)").alias("mon"),
        )

    _commit(batch_df, batch_id, state_path, step)


def rfm_segments_from_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """The RFM quintile grid over the streaming-maintained customer
    state — same code path as the batch r89 (rfm_grid), so drained
    state ⇒ identical grid."""
    from zappy_spark.queries.relational import rfm_grid

    per = _committed(spark, state_path, "RFM")
    return rfm_grid(
        per.select(
            "o_custkey",
            "lastd",
            "freq",
            F.col("mon").cast("decimal(18,2)").alias("mon"),
        )
    )


def streaming_weighted_sample(
    stream: DataFrame,
    state_path: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> "Any":
    """Streaming weighted reservoir (A-ES over a stream): the k
    smallest race keys of a union are the k smallest of the whole —
    A-ES keys are per-row and deterministic (md5(id)-seeded), so the
    reservoir MERGES: each micro-batch races its own rows, unions
    the prior reservoir and keeps the global k smallest. Per batch
    the state is k rows, the work is batch + k rows — a weighted
    sample over an endless stream that equals the batch sample of
    everything seen (pinned in test_streaming), which random
    reservoirs cannot promise."""
    from zappy_spark.operators.sampling import weighted_sample_exact

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        raced = weighted_sample_exact(batch_df, id_col, weight_col, k)
        if cur is None:
            return raced
        return raced.unionByName(cur).orderBy("aes_key", id_col).limit(k)

    return _start(
        stream, state_path, lambda df, i: _commit(df, i, state_path, step)
    )


def streaming_corpus_prep(
    stream: DataFrame,
    dataset_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_frac: float = 0.5,
) -> "Any":
    """Streaming twin of the d22 corpus front door: every arriving
    micro-batch of documents runs quality gate → fingerprint dedup
    (within the batch AND against everything already landed) →
    deterministic hash sample → append to the dataset. The dataset
    is the accumulated corpus a trainer reads directly.

    Exactly-once: each batch writes (mode=overwrite) its own
    ``batch=<id>`` partition directory, so a replayed batch replaces
    itself instead of double-appending. Cross-batch dedup anti-joins
    the new batch's fingerprints against the landed dataset's
    fingerprint column (a 16-byte key scan of prior batches; on a
    real deployment that column is the dataset's primary index).
    First-arrival wins across batches — the streaming analog of
    keep-min, which it equals whenever ingest order follows id
    order (pinned in test_streaming single-batch equivalence)."""
    import glob

    from zappy_spark.operators import dedup as _dedup
    from zappy_spark.operators import text as _text
    from zappy_spark.operators.sampling import hash_sample

    spark = stream.sparkSession
    fp = _dedup.content_key(text_col, "fingerprint")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept_ids = (
            _text.gopher_quality(batch_df, text_col, id_col)
            .filter(F.col("keep") == 1)
            .select(id_col)
        )
        quality = batch_df.join(kept_ids, id_col)
        keep_min = (
            quality.select(fp.alias("fp"), F.col(id_col))
            .groupBy("fp")
            .agg(F.min(id_col).alias("_keep_id"))
        )
        survivors = (
            quality.withColumn("fp", fp)
            .join(keep_min, "fp")
            .filter(F.col(id_col) == F.col("_keep_id"))
            .drop("_keep_id")
        )
        prior = [
            p
            for p in glob.glob(os.path.join(dataset_path, "batch=*"))
            if int(p.rsplit("=", 1)[1]) != batch_id
        ]
        if prior:
            old_fp = spark.read.parquet(*prior).select("fp").distinct()
            survivors = survivors.join(old_fp, "fp", "left_anti")
        sampled = hash_sample(survivors, id_col, sample_frac)
        sampled.write.mode("overwrite").parquet(
            os.path.join(dataset_path, f"batch={batch_id}")
        )

    return _start(stream, dataset_path, apply_batch)


def incremental_moments(
    stream: DataFrame, vec_col: str, state_path: str
) -> "Any":
    """Streaming covariance/PCA state (the streaming sibling of
    operators/linalg.py::moments): each micro-batch computes its
    ADDITIVE moment partials (n, Σx, ΣxxT — a single 1-row write per
    batch, d + d² doubles) into its own ``batch=<id>`` directory;
    ``merged_moments`` sums them into exact whole-stream moments at
    any time. A PCA over an endless embedding stream therefore never
    revisits old data and carries no per-row state — the 100 TB way
    to keep second-order statistics fresh. Idempotent on replay: a
    re-run batch overwrites its own directory with identical
    partials."""
    from zappy_spark.operators.linalg import moment_partials

    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        n, s, g = moment_partials(batch_df, vec_col)
        spark.createDataFrame(
            [(int(n), [float(x) for x in s], [float(x) for x in g])],
            "n bigint, s array<double>, g array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_path, f"batch={batch_id}")
        )

    return _start(stream, state_path, apply_batch)


def streaming_index_append(
    stream: DataFrame,
    centroids: "Any",
    index_path: str,
    vec_col: str = "embedding",
) -> "Any":
    """Online IVF index ingestion: new embeddings stream in, each
    micro-batch is assigned to the FIXED coarse centroids (literal
    expressions — the standard serving split: retrain the quantizer
    offline, assign online) and appended under
    ``batch=<id>/cluster=<c>`` — idempotent per batch, and the
    nested layout keeps ``cluster`` a partition column, so probes
    partition-prune exactly as on a batch-built index. Write the
    centroids once with ``write_centroids`` so probe helpers find
    them."""
    from zappy_spark.operators.similarity import kmeans_assign

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = kmeans_assign(batch_df, vec_col, centroids)
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(index_path, f"batch={batch_id}")
        )

    return _start(stream, index_path, apply_batch)


def write_centroids(spark: SparkSession, centroids: "Any", index_path: str) -> None:
    """Persist the coarse quantizer next to a (streamed or batch)
    index, in the layout the probe helpers read."""
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    spark.createDataFrame(
        rows, "cluster int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "_centroids")


def merged_moments(
    spark: SparkSession, state_path: str
) -> "tuple[int, Any, Any]":
    """(n, mean, cov) from the accumulated partial directories —
    a read of a few tiny rows, not of the stream's data."""
    import numpy as np

    from zappy_spark.operators.linalg import moments_from_partials

    rows = spark.read.parquet(state_path).collect()
    if not rows:
        raise ValueError(f"no moment state at {state_path}")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in rows], axis=0)
    return moments_from_partials(n, s, g)


# -- the one incremental-state protocol (MVCC-lite rev dirs) ----------


def _start(stream: DataFrame, state_path: str, apply: "Any") -> "Any":
    """Start ``apply(batch_df, batch_id)`` as the stream's
    ``foreachBatch`` sink, checkpointed at ``<state_path>_ckpt``.
    Returns the started StreamingQuery; the caller drains/stops it."""
    # The replay guard in _commit needs this durable checkpoint:
    # without one, a restarted query renumbers its batches from 0,
    # and the guard would then skip new data as already applied.
    return (
        stream.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", state_path + "_ckpt")
        .start()
    )


def _commit(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    step: "Any",
    tables: "tuple[str, ...] | None" = None,
) -> None:
    """Apply one micro-batch to the MVCC-lite state at ``state_path``.

    ``step(batch_df, cur)`` returns the new state from the batch and
    the committed revision ``cur``: a DataFrame (None before the
    first commit) or, when ``tables`` names sub-tables, a
    ``{table: DataFrame | None}`` dict. Empty batches are skipped, and
    so is any batch id at or below ``_LATEST``: a redelivery after
    the swap would otherwise double-apply an additive merge and
    overwrite the very revision its merge is lazily reading. The new
    state is written to ``rev=<batch_id>[/<table>]`` before the
    atomic pointer swap, so a failed batch leaves ``_LATEST`` on the
    last complete revision."""
    if batch_df.isEmpty():
        return
    last = applied_revision(state_path)
    if last is not None and last >= batch_id:
        return
    if last is not None:
        cur = _read_revision(batch_df.sparkSession, state_path, last, tables)
    else:
        cur = None if tables is None else dict.fromkeys(tables)
    new = step(batch_df, cur)
    rev_dir = os.path.join(state_path, f"rev={batch_id}")
    if tables is None:
        new.write.mode("overwrite").parquet(rev_dir)
    else:
        for t in tables:
            new[t].write.mode("overwrite").parquet(os.path.join(rev_dir, t))
    tmp = os.path.join(state_path, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(batch_id))
    os.replace(tmp, os.path.join(state_path, "_LATEST"))


def _merge(
    cur: "DataFrame | None", part: DataFrame, keys: list[str], *aggs: "Any"
) -> DataFrame:
    """The batch partial merged into the committed state: ``part``
    alone on the first batch, else both re-aggregated per ``keys``."""
    if cur is None:
        return part
    return cur.unionByName(part).groupBy(*keys).agg(*aggs)


def _sum_counts(
    cur: "DataFrame | None",
    part: DataFrame,
    keys: list[str],
    cols: "tuple[str, ...] | list[str]",
) -> DataFrame:
    """``_merge`` for exact counters: each of ``cols`` is a BIGINT
    sum per ``keys``."""
    return _merge(
        cur, part, keys, *[F.sum(c).cast("bigint").alias(c) for c in cols]
    )


def _read_revision(
    spark: SparkSession,
    state_path: str,
    rev: int,
    tables: "tuple[str, ...] | None" = None,
) -> "Any":
    """Revision ``rev`` of a snapshot: one DataFrame, or a
    ``{table: DataFrame}`` dict of its named sub-tables."""
    rev_dir = os.path.join(state_path, f"rev={rev}")
    if tables is None:
        return spark.read.parquet(rev_dir)
    return {t: spark.read.parquet(os.path.join(rev_dir, t)) for t in tables}


def _committed(
    spark: SparkSession,
    state_path: str,
    what: str,
    tables: "tuple[str, ...] | None" = None,
) -> "Any":
    """The committed revision, as ``_read_revision`` returns it;
    raises ValueError naming ``what`` before the first commit."""
    rev = applied_revision(state_path)
    if rev is None:
        raise ValueError(f"no {what} state at {state_path}")
    return _read_revision(spark, state_path, rev, tables)


def latest_snapshot(
    spark: SparkSession, snapshot_path: str
) -> "DataFrame | None":
    """Read the current revision of a ``_commit`` snapshot (None
    before the first batch commits)."""
    rev = applied_revision(snapshot_path)
    return None if rev is None else _read_revision(spark, snapshot_path, rev)


def applied_revision(snapshot_path: str) -> "int | None":
    """The committed ``_LATEST`` revision id of an MVCC snapshot
    (None before the first commit) — the at-least-once replay guard:
    ``_commit`` skips any batch_id <= this."""
    ptr = os.path.join(snapshot_path, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip())


def list_revisions(snapshot_path: str) -> list[int]:
    """All committed revision ids of a ``_commit`` snapshot, oldest
    first (each ``rev=<n>`` directory is immutable once the pointer
    moves past it — cheap time travel)."""
    if not os.path.isdir(snapshot_path):
        return []
    revs = [
        int(name.split("=", 1)[1])
        for name in os.listdir(snapshot_path)
        if name.startswith("rev=")
    ]
    return sorted(revs)


def read_snapshot(
    spark: SparkSession, snapshot_path: str, rev: int | None = None
) -> "DataFrame | None":
    """Time-travel read: the snapshot as of revision ``rev``
    (default: the current pointer). Readers never see partial
    writes — a revision directory is complete before the pointer
    swap, and old revisions are retained until vacuumed."""
    if rev is None:
        return latest_snapshot(spark, snapshot_path)
    return _read_revision(spark, snapshot_path, rev)


def windowed_topk(stream: DataFrame, out_path: str, k: int = 2) -> "Any":
    """S8 twin: top-k event types per tumbling hour. Window functions
    are not allowed on streaming frames, so the ranking runs inside
    ``foreachBatch``: the streaming side maintains only the tumbling
    counts aggregate (incremental state, same plan as S1), and each
    trigger re-ranks the updated counts — a |windows|×|types|-row
    input, tiny regardless of stream volume — and swaps the result
    table. The heavy, unbounded part stays incremental; the
    non-incrementalizable ranking runs only over the aggregate.

    Returns the started StreamingQuery; the caller drains/stops it.
    """
    counts = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").alias("w"), "event_type", "c")
    )

    def rank_and_swap(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("w").orderBy(F.desc("c"), "event_type")
        (
            batch_df.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rn") <= k)
            .write.mode("overwrite")
            .parquet(out_path)
        )

    return (
        counts.writeStream.foreachBatch(rank_and_swap)
        .outputMode("complete")
        .start()
    )


def hll_state_estimates(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the committed sketch state and estimate per day —
    frame (day, approx_distinct); the query side never touches the
    original stream."""
    return _committed(spark, state_path, "HLL").select(
        "day", F.hll_sketch_estimate("hll").alias("approx_distinct")
    )


_CONC_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("concurrency", LongType()),
        StructField("max_so_far", LongType()),
    ]
)
_CONC_STATE = StructType(
    [
        StructField("ends", ArrayType(LongType())),
        StructField("conc", LongType()),
        StructField("mx", LongType()),
    ]
)


def _concurrency_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Per-type active-interval ledger: each event opens
    [s, s + (⌊value⌋ mod 60 + 1) min); before applying a start, every
    pending end ≤ s retires first (half-open semantics — exactly the
    batch sweep's "-1 sorts before +1 at equal time"). Concurrency
    dips between starts can never raise the max, so the lazily
    applied ends leave the running max identical to the batch ±1
    marker sweep. State = sorted pending ends (bounded by peak
    concurrency, not stream length) + two counters."""
    import bisect
    import math

    if state.exists:
        ends, conc, mx = list(state.get[0]), state.get[1], state.get[2]
    else:
        ends, conc, mx = [], 0, 0
    out: dict[str, list] = {"event_id": [], "concurrency": [], "max_so_far": []}
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames).sort_values(["ts", "event_id"])
        us_col = rows["ts"].astype("int64") // 1000
        for s, eid, v in zip(us_col, rows["event_id"], rows["value"]):
            s = int(s)
            dur = (int(math.floor(float(v))) % 60 + 1) * 60_000_000
            while ends and ends[0] <= s:
                ends.pop(0)
                conc -= 1
            bisect.insort(ends, s + dur)
            conc += 1
            mx = max(mx, conc)
            out["event_id"].append(int(eid))
            out["concurrency"].append(conc)
            out["max_so_far"].append(mx)
    state.update((ends, conc, mx))
    yield pd.DataFrame(
        {
            "event_type": key[0],
            "event_id": pd.Series(out["event_id"], dtype="int64"),
            "concurrency": pd.Series(out["concurrency"], dtype="int64"),
            "max_so_far": pd.Series(out["max_so_far"], dtype="int64"),
        }
    )


def concurrency_stateful(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r83 interval-overlap sweep: peak
    concurrency per event_type maintained incrementally via
    applyInPandasWithState — the live capacity-monitor shape. The
    drained running max equals the batch ±1 marker sweep's
    max_concurrent per key (the equivalence test); state is the
    active-interval end-heap, bounded by peak concurrency."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("event_type").applyInPandasWithState(
        _concurrency_fn,
        outputStructType=_CONC_OUT,
        stateStructType=_CONC_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cumulative_users_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of the r84 cumulative-distinct growth curve:
    ``dropDuplicates("user_id")`` keeps each user's FIRST event
    (the ordered-replay contract), so the downstream per-day count
    is exactly the batch first-seen reduction — the live DAU-growth
    shape. State is one row per distinct user: the inherent minimum
    for exact lifetime-distinct (v07/v17 are the sketch/bitmap
    routes when even that is too much). Complete-mode daily
    n_new; the cumulative sum is a deterministic function of those
    rows (the equivalence test pins the pairs)."""
    return (
        stream.dropDuplicates(["user_id"])
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_new"))
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> "DataFrame":
    """Drain a streaming frame into an in-memory sink and return the
    result table (test harness helper)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.table(name)


def replay_documents_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Materialize ``documents`` as ``n_files`` doc_id-ordered
    parquet files — the crawl-order changelog replay for the t29
    novelty streaming twin (same mechanism as replay_orders_dir;
    doc_id IS the crawl order in the batch t29 semantics)."""
    _replay_dir(spark, sf_dir, out_dir, n_files, "documents", "doc_id")


def novelty_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_novelty_state`` micro-batch: maintain
    (a) gram → min(struct(doc_id, source)) — the corpus-wide
    first-appearance ledger, a MIN merge — and (b) source →
    n_grams, the distinct-(doc, gram) counter (additive). Both live
    in one revision (rev=<id>/grams + /totals) so readers never see
    them torn."""
    from zappy_spark.operators.dedup import word_shingles

    def step(batch_df: DataFrame, cur: "dict[str, Any]") -> "dict[str, Any]":
        dg = batch_df.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), 3))
            ).alias("gram"),
        )
        part_min = dg.groupBy("gram").agg(
            F.min(F.struct("doc_id", "source")).alias("_m")
        )
        part_tot = dg.groupBy("source").agg(F.count("*").alias("n_grams"))
        return {
            "grams": _merge(
                cur["grams"], part_min, ["gram"], F.min("_m").alias("_m")
            ),
            "totals": _merge(
                cur["totals"],
                part_tot,
                ["source"],
                F.sum("n_grams").alias("n_grams"),
            ),
        }

    _commit(batch_df, batch_id, state_path, step, ("grams", "totals"))


def incremental_novelty_state(stream: DataFrame, state_path: str) -> "Any":
    """Streaming twin of t29's per-source n-gram novelty: the
    first-appearance ledger is maintained as a mergeable MIN state
    per gram — a crawl feed drained in doc_id order converges to
    the exact batch answer because min(struct(doc_id, source)) is
    order-free, and the per-source totals are additive counters."""
    return _start(
        stream,
        state_path,
        lambda df, i: novelty_apply_batch(df, i, state_path),
    )


def novelty_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The t29 report over the streaming-maintained state — same
    output columns and exact-integer division, so drained state ⇒
    identical rows."""
    cur = _committed(spark, state_path, "novelty", ("grams", "totals"))
    novel = (
        cur["grams"]
        .select(F.col("_m.source").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        cur["totals"]
        .join(novel, "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .select(
            "source",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias(
                "novelty_rate"
            ),
        )
        .orderBy("source")
    )


def replay_embeddings_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Materialize ``embeddings`` as ``n_files`` vec_id-ordered
    parquet files — the snapshot changelog for the v25 centroid
    drift streaming twin."""
    _replay_dir(spark, sf_dir, out_dir, n_files, "embeddings", "vec_id")


def centroid_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_centroid_state`` micro-batch: per
    (label, half, pos) the sufficient statistics (sum_x, n) — the
    same build-partials-merge-forever algebra as incremental
    moments."""

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = (
            batch_df.select(
                F.col("label").alias("g"),
                (F.col("vec_id") % 2).alias("half"),
                F.posexplode(
                    F.transform("embedding", lambda v: v.cast("double"))
                ).alias("p", "x"),
            )
            .groupBy("g", "half", "p")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        )
        return _merge(
            cur,
            part,
            ["g", "half", "p"],
            F.sum("sx").alias("sx"),
            F.sum("n").alias("n"),
        )

    _commit(batch_df, batch_id, state_path, step)


def incremental_centroid_state(stream: DataFrame, state_path: str) -> "Any":
    """Streaming twin of v25's per-label centroid drift: maintain
    (label, half, pos) → (sum, count) from an embeddings changelog;
    the cosine report derives centroids at read time, so the drained
    state converges to the batch v25 up to summation-order ulps."""
    return _start(
        stream,
        state_path,
        lambda df, i: centroid_apply_batch(df, i, state_path),
    )


def centroid_drift_from_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """The v25 report over the streaming-maintained moments."""
    c = _committed(spark, state_path, "centroid").select(
        "g", "half", "p", (F.col("sx") / F.col("n")).alias("m")
    )
    a = c.filter(F.col("half") == 0).select("g", "p", F.col("m").alias("ma"))
    b = c.filter(F.col("half") == 1).select("g", "p", F.col("m").alias("mb"))
    dots = (
        a.join(b, ["g", "p"])
        .groupBy("g")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).alias("na"),
            F.sum(F.col("mb") * F.col("mb")).alias("nb"),
        )
    )
    return dots.select(
        F.col("g").alias("label"),
        F.round(
            F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6
        ).alias("centroid_cos"),
    ).orderBy("label")


def alignment_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_alignment_state`` micro-batch: maintain the
    DISTINCT (doc_id, lang, tok) bigram-membership table d41's
    alignment derives everything else from (global df ranks, rarest
    anchors, capped buckets, exploded Jaccard). Set-union-distinct
    is idempotent — a redelivered doc merges to the same rows — so
    drain order can never change the state. The table lives under
    rev=<id>/toks."""
    from zappy_spark.operators.dedup import word_shingles

    def step(batch_df: DataFrame, cur: "dict[str, Any]") -> "dict[str, Any]":
        part = batch_df.select(
            F.col("doc_id").alias("_id"),
            F.col("lang").alias("_lang"),
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), 2))
            ).alias("_tok"),
        ).distinct()
        if cur["toks"] is None:
            return {"toks": part}
        return {"toks": cur["toks"].unionByName(part).distinct()}

    _commit(batch_df, batch_id, state_path, step, ("toks",))


def incremental_alignment_state(stream: DataFrame, state_path: str) -> "Any":
    """Streaming twin of d41's cross-lingual alignment (round 8,
    VERDICT r7 item 8): the token-membership state is a mergeable
    distinct set (the same shape as incremental_novelty_state's MIN
    ledger — order-free by algebra), and the report replays the
    UNCHANGED batch scoring over it, so a drained crawl feed equals
    the batch answer exactly. Anchors/df ranks are NOT maintained
    incrementally on purpose: a token's global rarity keeps changing
    until the stream drains, so the minimal sufficient state is the
    membership table, and deriving anchors at read time is what
    makes drained-equals-batch exact rather than approximate."""
    return _start(
        stream,
        state_path,
        lambda df, i: alignment_apply_batch(df, i, state_path),
    )


def alignment_from_state(
    spark: SparkSession, state_path: str, limit: int = 100
) -> DataFrame:
    """The d41 report over the streaming-maintained membership state
    — same operator code (crosslingual_align_from_tokens with the
    d41 entry's parameters), same output columns."""
    from zappy_spark.operators.dedup import crosslingual_align_from_tokens

    toks = _committed(spark, state_path, "alignment", ("toks",))["toks"]
    return (
        crosslingual_align_from_tokens(
            toks, id_col="doc_id", lang_col="lang", n_anchor=1
        )
        .orderBy("doc_id")
        .limit(limit)
    )


_KAPPA_COUNT_COLS = ("n", "n_agree", "a0", "a1", "a2", "b0", "b1", "b2")


def kappa_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_kappa_state`` micro-batch: per lang, the
    additive sufficient statistics of the t35 agreement audit — n,
    n_agree, and both raters' class marginals (a0..a2 / b0..b2).
    All-integer addition, so merges are exact and drain-order-free.
    The rater expressions mirror the t35 builder spelling
    (queries/pipeline_ops.py) — the drained-equals-batch test pins
    the two against each other, so a drift fails loudly."""

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ca = (
            F.when(F.col("n_chars") < 216, 0)
            .when(F.col("n_chars") < 374, 1)
            .otherwise(2)
        )
        cb = (
            F.when(F.col("_nt") < 39, 0)
            .when(F.col("_nt") < 69, 1)
            .otherwise(2)
        )
        g = batch_df.select(
            "lang", "n_chars", F.size(toks).alias("_nt")
        ).select("lang", ca.alias("_a"), cb.alias("_b"))
        aggs = [
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                (F.col("_a") == F.col("_b")).cast("bigint")
            ).alias("n_agree"),
        ]
        for k in range(3):
            aggs.append(
                F.sum((F.col("_a") == k).cast("bigint")).alias(f"a{k}")
            )
            aggs.append(
                F.sum((F.col("_b") == k).cast("bigint")).alias(f"b{k}")
            )
        part = g.groupBy("lang").agg(*aggs)
        return _sum_counts(cur, part, ["lang"], _KAPPA_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_kappa_state(stream: DataFrame, state_path: str) -> "Any":
    """Streaming twin of t35's Cohen's-kappa label-QA audit: the
    agreement monitor a labeling pipeline runs CONTINUOUSLY as
    annotations arrive, instead of re-scanning the corpus — state is
    eight integer counters per lang, mergeable forever."""
    return _start(
        stream, state_path, lambda df, i: kappa_apply_batch(df, i, state_path)
    )


_STOPWORD_COUNT_COLS = (
    "n_docs",
    "n_tokens",
    "n_stop_tokens",
    "n_low_coverage_docs",
)


def stopword_apply_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One ``incremental_stopword_state`` micro-batch: per lang, the
    additive sufficient statistics of the t41 coverage audit —
    docs, tokens, stopword tokens, low-coverage docs (the per-doc
    flag is the same integer cross-multiplication, decided inside
    the batch, so partials are exactly additive). Reuses the t41
    operator itself (operators/text.py::stopword_coverage) for the
    partial, so batch and stream cannot drift in spelling."""
    from zappy_spark.operators.text import stopword_coverage

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = stopword_coverage(batch_df, "text", "lang")
        return _sum_counts(cur, part, ["lang"], _STOPWORD_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_stopword_state(
    stream: DataFrame, state_path: str
) -> "Any":
    """Streaming twin of t41's stopword-coverage audit: the
    language-quality monitor a crawl pipeline runs continuously as
    pages arrive — four integer counters per lang, mergeable
    forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: stopword_apply_batch(df, i, state_path),
    )


def stopword_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The t41 report over the streaming-maintained counters."""
    return (
        _committed(spark, state_path, "stopword")
        .select("lang", *_STOPWORD_COUNT_COLS)
        .orderBy("lang")
    )


def kappa_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The t35 report over the streaming-maintained counters: kappa
    as the same exact integer fraction (num = n*agree - sum rc,
    den = n^2 - sum rc)."""
    per = _committed(spark, state_path, "kappa")
    src = sum(F.col(f"a{k}") * F.col(f"b{k}") for k in range(3))
    return per.select(
        "lang",
        "n",
        "n_agree",
        (F.col("n") * F.col("n_agree") - src).alias("kappa_num"),
        (F.col("n") * F.col("n") - src).alias("kappa_den"),
    ).orderBy("lang")


# ---- streaming twin of v29's trained-quality-filter ledger ----

_FILTER_COUNT_COLS = (
    "n_docs",
    "n_keep",
    "chars_total",
    "chars_kept",
)


def filter_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    weights: "list[int]",
) -> None:
    """One ``incremental_filter_state`` micro-batch: per source, the
    additive sufficient statistics of v29's keep/drop ledger —
    docs, kept docs, chars, kept chars. The per-doc keep decision is
    the fixed-point hard-sigmoid threshold at the FIXED trained
    weights (the deployment split: train offline, score online), so
    it depends only on the document and the partials are exactly
    additive. The partial IS the v29 scoring operator
    (operators/training.py::logreg_score_ledger with weights), so
    batch and stream cannot drift in spelling."""
    from zappy_spark.operators.training import logreg_score_ledger

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = logreg_score_ledger(
            batch_df, "text", "source", "n_chars", weights=weights
        )
        return _sum_counts(cur, part, ["source"], _FILTER_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_filter_state(
    stream: DataFrame, state_path: str, weights: "list[int]"
) -> "Any":
    """Streaming twin of v29's trained-filter keep/drop ledger: the
    quality-filter DRIFT monitor a crawl pipeline runs continuously
    — if a source's keep fraction or kept-bytes share moves, the
    upstream distribution changed under the deployed classifier.
    Four integer counters per source, mergeable forever; the trained
    weights are fixed literals for the life of the deployment (a
    retrain is a NEW state path, never an in-place mutation — the
    counters are only additive under a fixed model)."""
    return _start(
        stream,
        state_path,
        lambda df, i: filter_ledger_apply_batch(df, i, state_path, weights),
    )


def filter_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The v29 ledger over the streaming-maintained counters."""
    return (
        _committed(spark, state_path, "filter-ledger")
        .select("source", *_FILTER_COUNT_COLS)
        .orderBy("source")
    )


# ---- streaming twin of t47's unigram piece-usage ledger ----


def piece_usage_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    costs: "dict[str, int]",
    max_piece_len: int = 3,
) -> None:
    """One ``incremental_piece_usage_state`` micro-batch: per
    (source, piece), the additive usage counts of the trained
    unigram tokenizer — the partial IS
    operators/text.py::unigram_usage_ledger at the FIXED piece
    table, so batch and stream cannot drift in spelling."""
    from zappy_spark.operators.text import unigram_usage_ledger

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = unigram_usage_ledger(
            batch_df, "text", "source", costs, max_piece_len
        )
        return _sum_counts(cur, part, ["source", "piece"], ["n_used"])

    _commit(batch_df, batch_id, state_path, step)


def incremental_piece_usage_state(
    stream: DataFrame,
    state_path: str,
    costs: "dict[str, int]",
    max_piece_len: int = 3,
) -> "Any":
    """Streaming twin of t47's apply side: the tokenizer-drift
    monitor a training pipeline runs against the deployed unigram
    piece table — if a source's piece-usage distribution moves
    (new dominant pieces, rising off-table chars), the upstream
    text shifted under the deployed tokenizer and a retrain is
    due. One exact BIGINT counter per (source, piece), mergeable
    forever; the trained piece table is FIXED for the life of the
    deployment (a retrain is a NEW state path — the counters are
    only additive under a fixed tokenizer)."""
    return _start(
        stream,
        state_path,
        lambda df, i: piece_usage_apply_batch(
            df, i, state_path, costs, max_piece_len
        ),
    )


def piece_usage_from_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """The t47 usage ledger over the streaming-maintained counters."""
    return (
        _committed(spark, state_path, "piece-usage")
        .select("source", "piece", "n_used")
        .orderBy("source", "piece")
    )


# ---- streaming twin of t46's fixed-model perplexity ledger ----

_PPL_COUNT_COLS = ("n_docs", "n_short", "n_keep", "n_drop")


def ppl_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 30.5,
) -> None:
    """One ``incremental_ppl_state`` micro-batch: per source, the
    additive keep/drop/short counters of the fixed-model perplexity
    filter. The model is the STORED bigram-count artifact
    (xcorpus_fit_model -> parquet at ``model_path``) — the
    deployment split again: the reference model is fixed for the
    life of the monitor (a retrain writes a NEW model + state
    path), so the per-document verdict depends only on the document
    and the counters are exactly additive. The partial IS
    operators/text.py::xcorpus_ledger_with_model, so batch/stream
    spelling drift is structurally impossible."""
    from zappy_spark.operators.text import xcorpus_ledger_with_model

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        model = batch_df.sparkSession.read.parquet(model_path)
        part = xcorpus_ledger_with_model(
            batch_df, "text", "doc_id", "source", model, ppl_cutoff
        )
        return _sum_counts(cur, part, ["source"], _PPL_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_ppl_state(
    stream: DataFrame,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 30.5,
) -> "Any":
    """Streaming twin of t46's deploy side: the perplexity-filter
    DRIFT monitor a crawl pipeline runs against the stored
    reference LM — if a source's keep fraction moves under the
    fixed model, the upstream text distribution changed and the
    reference slice is due a refresh. Four integer counters per
    source, mergeable forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: ppl_ledger_apply_batch(
            df, i, state_path, model_path, ppl_cutoff
        ),
    )


def ppl_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The fixed-model perplexity ledger over the streaming-
    maintained counters."""
    return (
        _committed(spark, state_path, "ppl-ledger")
        .select("source", *_PPL_COUNT_COLS)
        .orderBy("source")
    )


# ---- streaming twin of t48's fixed-model discounted ledger ----


def absdisc_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 28.5,
) -> None:
    """One ``incremental_absdisc_state`` micro-batch: per source,
    the additive keep/drop/short counters of the fixed-model
    ABSOLUTE-DISCOUNTING perplexity filter (round 12, VERDICT r11
    item 4 — the t46 deployment split applied to t48). The model is
    the STORED two-table artifact (absdisc_fit_model -> parquet at
    ``model_path``: one (kind, gram, c) table carrying both bigram
    and unigram counts) — fixed for the life of the monitor (a
    retrain writes a NEW model + state path), so the per-document
    verdict depends only on the document and the counters are
    exactly additive. The partial IS
    operators/text.py::absdisc_ledger_with_model, so batch/stream
    spelling drift is structurally impossible."""
    from zappy_spark.operators.text import absdisc_ledger_with_model

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        model = batch_df.sparkSession.read.parquet(model_path)
        part = absdisc_ledger_with_model(
            batch_df, "text", "doc_id", "source", model, ppl_cutoff
        )
        return _sum_counts(cur, part, ["source"], _PPL_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_absdisc_state(
    stream: DataFrame,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 28.5,
) -> "Any":
    """Streaming twin of t48's deploy side: the discounted-
    perplexity drift monitor at a FIXED stored two-table model —
    the estimator family production actually ships (t46's add-one
    twin is the baseline sibling). Four integer counters per
    source, mergeable forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: absdisc_ledger_apply_batch(
            df, i, state_path, model_path, ppl_cutoff
        ),
    )


def absdisc_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The fixed-model discounted-perplexity ledger over the
    streaming-maintained counters."""
    return (
        _committed(spark, state_path, "absdisc-ledger")
        .select("source", *_PPL_COUNT_COLS)
        .orderBy("source")
    )


# ---- streaming twin of t49's fixed-model Kneser–Ney ledger ----


def kn_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 45.5,
) -> None:
    """One ``incremental_kn_state`` micro-batch: per source, the
    additive keep/drop/short counters of the fixed-model
    INTERPOLATED-KN perplexity filter (round 12 — completing the
    deployment story for the whole perplexity ladder: t46 add-one,
    t48 absolute discounting, t49 KN all monitor from stored
    artifacts). The model is the SAME (kind, gram, c) parquet
    ``absdisc_fit_model`` writes — one artifact, two estimator
    families. The partial IS
    operators/text.py::kn_ledger_with_model, so batch/stream
    spelling drift is structurally impossible."""
    from zappy_spark.operators.text import kn_ledger_with_model

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        model = batch_df.sparkSession.read.parquet(model_path)
        part = kn_ledger_with_model(
            batch_df, "text", "doc_id", "source", model, ppl_cutoff
        )
        return _sum_counts(cur, part, ["source"], _PPL_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_kn_state(
    stream: DataFrame,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 45.5,
) -> "Any":
    """Streaming twin of t49's deploy side: the interpolated-KN
    perplexity drift monitor at the FIXED stored two-table model —
    the last rung of the ladder, sharing its artifact with the
    absdisc twin so 'which smoothing family' is a monitor config,
    not a retrain. Four integer counters per source, mergeable
    forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: kn_ledger_apply_batch(
            df, i, state_path, model_path, ppl_cutoff
        ),
    )


def kn_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The fixed-model interpolated-KN ledger over the streaming-
    maintained counters."""
    return (
        _committed(spark, state_path, "kn-ledger")
        .select("source", *_PPL_COUNT_COLS)
        .orderBy("source")
    )


# ---- streaming twin of d52's content-defined chunk dedup ----


def cdc_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    k: int = 16,
    mask: str = "0",
) -> None:
    """One ``incremental_cdc_state`` micro-batch: per (source,
    chunk_hash), the additive occurrence count + the chunk length —
    a streaming CHUNK INDEX, which is exactly the state a
    production CDC dedup system maintains. Chunking is per-document
    (no cross-doc dependency), so the counters are additive by
    construction; the partial IS operators/dedup.py::cdc_chunks, so
    batch/stream spelling drift is structurally impossible."""
    from zappy_spark.operators.dedup import cdc_chunks

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        part = (
            cdc_chunks(batch_df, "text", "doc_id", k=k, mask=mask)
            .join(
                batch_df.select(
                    F.col("doc_id").alias("_jid"), F.col("source")
                ),
                F.col("doc_id") == F.col("_jid"),
            )
            .groupBy("source", "chunk_hash")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.min("chunk_len").cast("bigint").alias("chunk_len"),
            )
        )
        return _merge(
            cur,
            part,
            ["source", "chunk_hash"],
            F.sum("n").cast("bigint").alias("n"),
            F.min("chunk_len").cast("bigint").alias("chunk_len"),
        )

    _commit(batch_df, batch_id, state_path, step)


def incremental_cdc_state(
    stream: DataFrame,
    state_path: str,
    k: int = 16,
    mask: str = "0",
) -> "Any":
    """Streaming twin of d52: the dedup-drift monitor a corpus
    pipeline runs as documents arrive — a rising duplicated-bytes
    share means the crawl is re-fetching content (or a mirror
    joined the feed) and the dedup stage ahead of training must
    tighten. State = the (source, chunk_hash) occurrence index with
    exact BIGINT counters, mergeable forever under the FIXED (k,
    mask) chunking config (a re-chunk is a NEW state path)."""
    return _start(
        stream,
        state_path,
        lambda df, i: cdc_apply_batch(df, i, state_path, k, mask),
    )


def cdc_ledger_from_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """d52's per-source dedup ledger REPRODUCED from the streaming
    chunk index: global occurrence = the cross-source sum per
    chunk_hash, an instance duplicated when that sum > 1 — the same
    definition the batch operator applies, so a drained changelog
    equals the batch ledger exactly."""
    per = _committed(spark, state_path, "cdc")
    occ = per.groupBy("chunk_hash").agg(F.sum("n").alias("_occ"))
    j = per.join(occ, "chunk_hash")
    dup = (F.col("_occ") > 1).cast("bigint")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_chunks"),
            F.sum(F.col("n") * F.col("chunk_len")).cast("bigint").alias(
                "n_bytes"
            ),
            F.sum(dup * F.col("n")).cast("bigint").alias("dup_chunks"),
            F.sum(dup * F.col("n") * F.col("chunk_len")).cast(
                "bigint"
            ).alias("dup_bytes"),
        )
        .orderBy("source")
    )


# ---- streaming twin of v35's fixed-model naive-Bayes ledger ----

_NB_COUNT_COLS = ("n_eval", "tp", "fp", "fn", "tn")


def nb_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    model_path: str,
    holdout_frac: float = 0.25,
) -> None:
    """One ``incremental_nb_state`` micro-batch: per source, the
    additive confusion counters of the fixed-model naive-Bayes
    filter (round 12 — the t46/t48 deployment split applied to
    v35). The model is the STORED one-table artifact
    (nb_fit_model → parquet at ``model_path``: word counts +
    priors in one (kind, w, k1, k0) frame) — fixed for the life of
    the monitor (a retrain writes a NEW model + state path), so
    the per-document verdict depends only on the document and the
    counters are exactly additive. The partial IS
    operators/training.py::nb_eval_with_model, so batch/stream
    spelling drift is structurally impossible."""
    from zappy_spark.operators.training import nb_eval_with_model

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        model = batch_df.sparkSession.read.parquet(model_path)
        part = nb_eval_with_model(
            batch_df, "text", "doc_id", "source", model, holdout_frac
        )
        return _sum_counts(cur, part, ["source"], _NB_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_nb_state(
    stream: DataFrame,
    state_path: str,
    model_path: str,
    holdout_frac: float = 0.25,
) -> "Any":
    """Streaming twin of v35's deploy side: the classifier-quality
    drift monitor at a FIXED stored naive-Bayes model — if a
    source's holdout confusion moves under the fixed model, the
    upstream text distribution changed and the model is due a
    retrain. Five integer counters per source, mergeable forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: nb_ledger_apply_batch(
            df, i, state_path, model_path, holdout_frac
        ),
    )


def nb_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The fixed-model naive-Bayes confusion ledger over the
    streaming-maintained counters."""
    return (
        _committed(spark, state_path, "nb")
        .select("source", *_NB_COUNT_COLS)
        .orderBy("source")
    )


# ---- streaming twin of v34's fixed-weight AUC evaluation ----


def auc_hist_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    weights_path: str,
    holdout_frac: float = 0.25,
) -> None:
    """One ``incremental_auc_state`` micro-batch: the per-(source,
    z) class histogram of the holdout slice under FIXED stored
    weights (round 12 — v34's deployment split). Per-doc scores
    depend only on the doc and the weights, so histograms from
    disjoint batches are exactly additive; the AUC pair counts are
    NOT additive and are therefore derived from state at read time
    (auc_from_hist — the same helper the batch evaluator uses).
    The partial IS operators/training.py::auc_score_hist, so
    batch/stream spelling drift is structurally impossible."""
    from zappy_spark.operators.training import auc_score_hist

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        wrow = batch_df.sparkSession.read.parquet(weights_path).collect()
        if len(wrow) != 1:
            raise ValueError(
                f"weights table must have exactly 1 row, got {len(wrow)}"
            )
        w = [wrow[0]["w0"], wrow[0]["w1"], wrow[0]["w2"], wrow[0]["w3"]]
        part = auc_score_hist(
            batch_df, "text", "doc_id", "source", w, holdout_frac
        )
        return _sum_counts(cur, part, ["source", "_z"], ["_n1", "_n0"])

    _commit(batch_df, batch_id, state_path, step)


def incremental_auc_state(
    stream: DataFrame,
    state_path: str,
    weights_path: str,
    holdout_frac: float = 0.25,
) -> "Any":
    """Streaming twin of v34's deploy side: the ranking-quality
    drift monitor at FIXED stored logreg weights — if a source's
    AUC moves under the fixed model, the upstream text distribution
    changed and the model is due a retrain. State is the additive
    (source, z) class histogram (score range ≅ dozens of rows, the
    clipped-feature bound), mergeable forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: auc_hist_apply_batch(
            df, i, state_path, weights_path, holdout_frac
        ),
    )


def auc_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The exact fixed-weight AUC ledger derived from the
    streaming-maintained histogram (auc_from_hist — the shared
    derivation, no spelling drift)."""
    from zappy_spark.operators.training import auc_from_hist

    per = _committed(spark, state_path, "auc")
    return auc_from_hist(per, "source").orderBy("source")


# ---- streaming twin of t53's fixed-model trigram-KN ledger ----


def kn3_ledger_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 39.048,
) -> None:
    """One ``incremental_kn3_state`` micro-batch: per source, the
    additive keep/drop/short counters of the fixed-model TRIGRAM
    interpolated-KN perplexity filter (round 12 — the deployment
    split for the order-3 rung, completing the whole ladder's
    monitor story: t46 add-one, t48 absolute discounting, t49
    bigram KN, t53 trigram KN all monitor from stored artifacts).
    The model is the STORED one-table artifact (kn3_fit_model →
    parquet: trigram counts + the vocab row) — fixed for the life
    of the monitor (a retrain writes a NEW model + state path), so
    the per-document verdict depends only on the document and the
    counters are exactly additive. The partial IS
    operators/text.py::kn3_ledger_with_model, so batch/stream
    spelling drift is structurally impossible."""
    from zappy_spark.operators.text import kn3_ledger_with_model

    def step(batch_df: DataFrame, cur: "DataFrame | None") -> DataFrame:
        model = batch_df.sparkSession.read.parquet(model_path)
        part = kn3_ledger_with_model(
            batch_df, "text", "doc_id", "source", model, ppl_cutoff
        )
        return _sum_counts(cur, part, ["source"], _PPL_COUNT_COLS)

    _commit(batch_df, batch_id, state_path, step)


def incremental_kn3_state(
    stream: DataFrame,
    state_path: str,
    model_path: str,
    ppl_cutoff: float = 39.048,
) -> "Any":
    """Streaming twin of t53's deploy side: the trigram-KN
    perplexity drift monitor at a FIXED stored model — four
    integer counters per source, mergeable forever."""
    return _start(
        stream,
        state_path,
        lambda df, i: kn3_ledger_apply_batch(
            df, i, state_path, model_path, ppl_cutoff
        ),
    )


def kn3_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The fixed-model trigram-KN ledger over the streaming-
    maintained counters."""
    return (
        _committed(spark, state_path, "kn3-ledger")
        .select("source", *_PPL_COUNT_COLS)
        .orderBy("source")
    )
